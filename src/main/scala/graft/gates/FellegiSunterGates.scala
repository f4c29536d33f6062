package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._
import graft.operators.Frames

/** Gates of the Fellegi-Sunter model and its comparators: unrolled-EM
  * weights and their faces (patterns, waterfalls, calibration,
  * persistence, term frequencies), supervised weights, and the
  * date, geo, array, acronym and decay comparators. */
private[graft] object FellegiSunterGates {

  private val fsGammas = Seq("g0", "g1", "g2")

  /** Comparison-vector frame for the Fellegi-Sunter gate: nationkey-blocked
    * customer pairs with three 0/1 agreement fields, then `extra`. */
  private def fsGammaPairs(s: SparkSession, dir: String,
      extra: Column*): DataFrame =
    fsCustomerPairs(s, dir).select(Seq(col("ka"), col("kb"),
      when(jaro_winkler_sim(col("na"), col("nb")) >= 0.95, 1L)
        .otherwise(0L).as("g0"),
      when(col("sa") === col("sb"), 1L).otherwise(0L).as("g1"),
      when(floor(col("aa") / 1000.0) === floor(col("ab") / 1000.0), 1L)
        .otherwise(0L).as("g2")) ++ extra: _*)

  /** SQL mirror of [[fsGammaPairs]]' gammas over customer rows `a`, `b`,
    * as select items. */
  private val fsGammaSql =
    """CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
      |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
      |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
      |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
      |         THEN 1 ELSE 0 END AS BIGINT) AS g1,
      |    CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
      |         THEN 1 ELSE 0 END AS BIGINT) AS g2""".stripMargin

  /** The nationkey-blocked customer pairs (ka < kb) the comparison
    * frames score: name `na`/`nb`, segment `sa`/`sb` and account balance
    * `aa`/`ab` of each side. */
  private def fsCustomerPairs(s: SparkSession, dir: String): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_mktsegment").as("sa"), col("c_acctbal").as("aa"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_mktsegment").as("sb"), col("c_acctbal").as("ab"),
      col("c_nationkey").as("nk"))
    a.join(b, "nk").where(col("ka") < col("kb"))
  }

  /** Labeled comparison-vector frame for the supervised-weights gates:
    * the [[fsGammaPairs]] gammas plus a 0/1 label t = last-3-characters
    * name-suffix equality (the same truth family the blocking gates
    * use). */
  private def supervisedPairs(s: SparkSession, dir: String): DataFrame =
    fsGammaPairs(s, dir,
      when(substring(col("na"), -3, 3) === substring(col("nb"), -3, 3), 1L)
        .otherwise(0L).as("t"))

  /** Multi-level comparison-vector frame for the FS-levels gate: two
    * 3-level gammas (name JW banded at 0.97/0.93; acctbal-bracket
    * distance 0/1/more) plus one binary gamma (segment equality —
    * exercising mixed arity) over nationkey-blocked customer pairs. */
  private def fsLevelPairs(s: SparkSession, dir: String): DataFrame = {
    val jw = jaro_winkler_sim(col("na"), col("nb"))
    val d = abs(floor(col("aa") / 1000.0) - floor(col("ab") / 1000.0))
    fsCustomerPairs(s, dir)
      .select(col("ka"), col("kb"),
        when(jw >= 0.97, 2L).when(jw >= 0.93, 1L).otherwise(0L).as("g0"),
        when(d === 0, 2L).when(d === 1, 1L).otherwise(0L).as("g1"),
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g2"))
  }

  /** Unrolled-EM oracle for the MULTI-LEVEL fit (3 fields, arities 3/3/2):
    * same pinned-fold discipline as [[fellegiSunterOracleSql]], with
    * per-level CASE products and per-(field, level) a/b folds; init =
    * m(j)(l) ∝ l+1, u(j)(l) ∝ L−l over CAST-to-DOUBLE rationals exactly
    * as [[graft.operators.FellegiSunter.fitLevels]] computes them. */
  private def fellegiSunterLevelsOracleSql(iters: Int): String = {
    val levels = Seq(3, 3, 2)
    val k = levels.size
    val gcols = (0 until k).map(j => s"g$j").mkString(", ")
    def fold(expr: String) =
      s"list_reduce(list($expr ORDER BY $gcols), (x, y) -> x + y)"
    def levelCase(j: Int, p: String, mu: String): String =
      s"(CASE g$j " + (0 until levels(j) - 1).map(l => s"WHEN $l THEN $p.${mu}${j}_$l ").mkString +
        s"ELSE $p.${mu}${j}_${levels(j) - 1} END)"
    def wv(p: String): (String, String) = {
      val w = s"$p.lam" + (0 until k).map(j => s" * ${levelCase(j, p, "m")}").mkString
      val v = s"(1.0 - $p.lam)" + (0 until k).map(j => s" * ${levelCase(j, p, "u")}").mkString
      (w, v)
    }
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""pairs AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
      |           ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.97 THEN 2
      |         WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
      |           ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.93 THEN 1
      |         ELSE 0 END AS BIGINT) AS g0,
      |    CAST(CASE WHEN abs(floor(a.c_acctbal / 1000.0) - floor(b.c_acctbal / 1000.0)) = 0 THEN 2
      |         WHEN abs(floor(a.c_acctbal / 1000.0) - floor(b.c_acctbal / 1000.0)) = 1 THEN 1
      |         ELSE 0 END AS BIGINT) AS g1,
      |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS BIGINT) AS g2
      |  $customerPairsSql)""".stripMargin
    ctes += s"pats AS (SELECT $gcols, CAST(count(*) AS DOUBLE) AS n FROM pairs GROUP BY $gcols)"
    ctes += s"tot AS (SELECT ${fold("n")} AS t FROM pats)"
    val init = (for (j <- 0 until k; l <- 0 until levels(j)) yield {
      val tot = levels(j) * (levels(j) + 1) / 2
      Seq(s"CAST(${l + 1} AS DOUBLE) / CAST($tot AS DOUBLE) AS m${j}_$l",
        s"CAST(${levels(j) - l} AS DOUBLE) / CAST($tot AS DOUBLE) AS u${j}_$l")
    }).flatten
    ctes += s"p0 AS (SELECT CAST(0.5 AS DOUBLE) AS lam, ${init.mkString(", ")})"
    for (i <- 1 to iters) {
      val (w, v) = wv("p")
      ctes += s"e$i AS (SELECT $gcols, n, $w AS w, $v AS v FROM pats CROSS JOIN p${i - 1} p)"
      val sums = scala.collection.mutable.ArrayBuffer(fold("n * (w / (w + v))") + " AS s")
      for (j <- 0 until k; l <- 0 until levels(j)) {
        sums += fold(s"CASE WHEN g$j = $l THEN n * (w / (w + v)) ELSE 0.0 END") + s" AS a${j}_$l"
        sums += fold(s"CASE WHEN g$j = $l THEN n * (1.0 - w / (w + v)) ELSE 0.0 END") + s" AS b${j}_$l"
      }
      ctes += s"s$i AS (SELECT ${sums.mkString(", ")} FROM e$i)"
      val upd = Seq("s / t AS lam") ++
        (for (j <- 0 until k; l <- 0 until levels(j)) yield Seq(
          s"a${j}_$l / s AS m${j}_$l", s"b${j}_$l / (t - s) AS u${j}_$l")).flatten
      ctes += s"p$i AS (SELECT ${upd.mkString(", ")} FROM s$i CROSS JOIN tot)"
    }
    val (w, v) = wv("p")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT ka, kb, $gcols, w / (w + v) AS posterior, w / v AS lr
       |FROM (SELECT ka, kb, $gcols, $w AS w, $v AS v
       |      FROM pairs CROSS JOIN p$iters p)""".stripMargin
  }

  /** Unrolled-GD oracle for [[graft.operators.SupervisedWeights]]: the
    * same (pattern, label) cells, `iters` chained 1-row weight CTEs, the
    * gradient sums as ordered list_reduce folds (ORDER BY γ₀..γₖ, t —
    * exactly the driver's pinned cell order), the softsign link with the
    * identical operand order. Every arithmetic op is rational, so the
    * weights — and the literal-folded scoring projection — reproduce the
    * Scala fit bit-for-bit. */
  private def supervisedOracleSql(iters: Int, eta: Double,
      weightsOnly: Boolean): String = {
    val k = fsGammas.size
    val gcols = fsGammas.mkString(", ")
    def fold(expr: String) =
      s"list_reduce(list($expr ORDER BY $gcols, t), (x, y) -> x + y)"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""pairs AS MATERIALIZED (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
      |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
      |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
      |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS BIGINT) AS g1,
      |    CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
      |         THEN 1 ELSE 0 END AS BIGINT) AS g2,
      |    CAST(CASE WHEN right(a.c_name, 3) = right(b.c_name, 3)
      |         THEN 1 ELSE 0 END AS BIGINT) AS t
      |  $customerPairsSql)""".stripMargin
    // MATERIALIZED + a strictly LINEAR CTE chain: GD's update needs the
    // previous weights, so a naive p(i) ← (p(i-1), sums(i)) graph gives
    // every p(i) two consumers and DuckDB's inliner expands the chain
    // exponentially (the EM oracle dodged this because its M-step is
    // closed-form from the sums alone). Instead each e(i) carries the
    // weights THROUGH the fold (min over identical values — exact), so
    // every CTE has exactly one consumer.
    ctes += s"cells AS MATERIALIZED (SELECT $gcols, t, " +
      s"CAST(count(*) AS DOUBLE) AS n FROM pairs GROUP BY $gcols, t)"
    ctes += s"tot AS MATERIALIZED (SELECT ${fold("n")} AS tot FROM cells)"
    ctes += "p0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, " +
      (0 until k).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ") + ")"
    val zExpr = "p.b" + (0 until k)
      .map(j => s" + (CASE WHEN g$j = 1 THEN p.w$j ELSE 0.0 END)").mkString
    val wcols = "b" +: (0 until k).map(j => s"w$j")
    for (i <- 1 to iters) {
      ctes += s"""e$i AS (
        |  SELECT $gcols, t, n, ${wcols.map(w => s"p.$w").mkString(", ")},
        |    0.5 + 0.5 * (($zExpr) / (1.0 + abs($zExpr))) AS pp
        |  FROM cells CROSS JOIN p${i - 1} p)""".stripMargin
      val sums = Seq(fold("n * (pp - CAST(t AS DOUBLE))") + " AS gb") ++
        (0 until k).map(j => fold(
          s"CASE WHEN g$j = 1 THEN n * (pp - CAST(t AS DOUBLE)) ELSE 0.0 END") +
          s" AS gr$j") ++
        wcols.map(w => s"min($w) AS $w") // constant per iteration — exact
      ctes += s"s$i AS (SELECT ${sums.mkString(", ")} FROM e$i)"
      val upd = Seq(s"s.b - CAST($eta AS DOUBLE) * (s.gb / tot.tot) AS b") ++
        (0 until k).map(j =>
          s"s.w$j - CAST($eta AS DOUBLE) * (s.gr$j / tot.tot) AS w$j")
      ctes += s"p$i AS (SELECT ${upd.mkString(", ")} " +
        s"FROM s$i s CROSS JOIN tot)"
    }
    if (weightsOnly)
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT b AS bias, ${(0 until k)
        .map(j => s"w$j AS w_${fsGammas(j)}").mkString(", ")}
         |FROM p$iters""".stripMargin
    else
      s"""WITH ${ctes.mkString(",\n")},
         |sc AS (SELECT ka, kb, $gcols, t, $zExpr AS z
         |       FROM pairs CROSS JOIN p$iters p),
         |sp AS (SELECT ka, kb, $gcols, t, z,
         |       0.5 + 0.5 * (z / (1.0 + abs(z))) AS p FROM sc)
         |SELECT ka, kb, $gcols, t, z, p,
         |  CASE WHEN p >= 0.5 THEN 'link' ELSE 'non_link' END AS decision
         |FROM sp""".stripMargin
  }

  /** The power-of-two bin of a likelihood ratio `lr`, ⌊log₂ lr⌋ clamped
    * to [minExp − 1, maxExp], as a CASE over exact power-of-2 literals
    * (decimal expansions of 2^e are finite, so CAST('…' AS DOUBLE) is the
    * exact double — no log(), no libm). */
  private def binExpSql(minExp: Int, maxExp: Int): String = {
    def p2lit(e: Int): String = {
      val bd = if (e >= 0) BigDecimal(2).pow(e)
        else BigDecimal(0.5).pow(-e)
      s"CAST('${bd.underlying.toPlainString}' AS DOUBLE)"
    }
    val chain = new StringBuilder(
      s"CASE WHEN lr >= ${p2lit(maxExp)} THEN $maxExp")
    for (e <- (minExp until maxExp).reverse)
      chain.append(s" WHEN lr >= ${p2lit(e)} THEN $e")
    chain.append(s" ELSE ${minExp - 1} END").toString
  }

  /** Unrolled-EM Fellegi-Sunter oracle: re-derives the comparison vectors
    * and pattern counts, runs `iters` EM iterations as chained CTEs whose
    * sums are ORDERED list_reduce left folds (IEEE addition order =
    * [[graft.operators.FellegiSunter.fit]]'s pattern-lexicographic
    * traversal), and projects the posterior/lr per pair. Every numeric
    * literal the EM touches is CAST to DOUBLE — bare SQL decimals would
    * run the arithmetic in DECIMAL and diverge from the driver fit in the
    * last ulp. */
  private def fellegiSunterOracleSql(iters: Int,
      withTf: Boolean = false,
      calibrate: Option[(Double, Double)] = None,
      uncertainK: Option[Int] = None,
      missingG2: Boolean = false,
      histogram: Option[(Int, Int)] = None,
      drift: Option[(Int, Int)] = None,
      waterfall: Boolean = false,
      patternTable: Boolean = false): String = {
    val k = fsGammas.size
    val gcols = fsGammas.mkString(", ")
    def fold(expr: String) =
      s"list_reduce(list($expr ORDER BY $gcols), (x, y) -> x + y)"
    def wv(p: String, nullAware: Boolean = false): (String, String) = {
      val w = new StringBuilder(s"$p.lam")
      val v = new StringBuilder(s"(1.0 - $p.lam)")
      // null-aware only in the missing-data SCORING projection: an
      // unobserved gamma contributes factor 1.0 to both likelihoods
      // (mirrors FellegiSunter.score); the EM folds run on complete
      // patterns and keep the two-branch CASE.
      val nul = if (nullAware) (j: Int) => s"WHEN g$j IS NULL THEN 1.0 " else (_: Int) => ""
      for (j <- 0 until k) {
        w.append(s" * (CASE ${nul(j)}WHEN g$j = 1 THEN $p.m$j ELSE 1.0 - $p.m$j END)")
        v.append(s" * (CASE ${nul(j)}WHEN g$j = 1 THEN $p.u$j ELSE 1.0 - $p.u$j END)")
      }
      (w.toString, v.toString)
    }
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    val segSel = if (withTf) ",\n    a.c_mktsegment AS seg_a" else ""
    ctes += s"""pairs AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
      |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
      |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
      |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS BIGINT) AS g1,
      |    ${if (missingG2)
             "CASE WHEN (a.c_custkey + b.c_custkey) % 7 = 0 THEN NULL ELSE " else ""}CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
      |         THEN 1 ELSE 0 END AS BIGINT)${if (missingG2) " END" else ""} AS g2$segSel
      |  $customerPairsSql)""".stripMargin
    ctes += s"pats AS (SELECT $gcols, CAST(count(*) AS DOUBLE) AS n FROM pairs${
      if (missingG2) " WHERE g2 IS NOT NULL" else ""} GROUP BY $gcols)"
    ctes += s"tot AS (SELECT ${fold("n")} AS t FROM pats)"
    ctes += "p0 AS (SELECT CAST(0.5 AS DOUBLE) AS lam, " +
      (0 until k).map(j => s"CAST(0.9 AS DOUBLE) AS m$j").mkString(", ") + ", " +
      (0 until k).map(j => s"CAST(0.1 AS DOUBLE) AS u$j").mkString(", ") + ")"
    for (i <- 1 to iters) {
      val (w, v) = wv("p")
      ctes += s"e$i AS (SELECT $gcols, n, $w AS w, $v AS v FROM pats CROSS JOIN p${i - 1} p)"
      val sums = new scala.collection.mutable.ArrayBuffer[String]()
      sums += fold("n * (w / (w + v))") + " AS s"
      for (j <- 0 until k) {
        sums += fold(s"CASE WHEN g$j = 1 THEN n * (w / (w + v)) ELSE 0.0 END") + s" AS a$j"
        sums += fold(s"CASE WHEN g$j = 1 THEN n * (1.0 - w / (w + v)) ELSE 0.0 END") + s" AS b$j"
      }
      ctes += s"s$i AS (SELECT ${sums.mkString(", ")} FROM e$i)"
      val upd = Seq("s / t AS lam") ++
        (0 until k).map(j => s"a$j / s AS m$j") ++
        (0 until k).map(j => s"b$j / (t - s) AS u$j")
      ctes += s"p$i AS (SELECT ${upd.mkString(", ")} FROM s$i CROSS JOIN tot)"
    }
    val (w, v) = wv("p", nullAware = missingG2)
    if (patternTable) {
      // pattern counts re-scored: the pats CTE already holds n as an
      // exact DOUBLE count; cast back to BIGINT and apply the same
      // scoring projection.
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT $gcols, CAST(n AS BIGINT) AS n_pairs,
         |  w / (w + v) AS posterior, w / v AS lr
         |FROM (SELECT $gcols, n, $w AS w, $v AS v
         |      FROM pats CROSS JOIN p$iters p)""".stripMargin
    } else if (waterfall) {
      // per-field Bayes factors + prior odds: ONE division per fitted
      // ratio over the EM-derived parameters — the identical IEEE
      // operation the Scala side folds on the driver.
      val bfs = (0 until k).map(j =>
        s"""CASE WHEN g$j IS NULL THEN 1.0
           |       WHEN g$j = 1 THEN p.m$j / p.u$j
           |       ELSE (1.0 - p.m$j) / (1.0 - p.u$j) END AS bf_g$j""".stripMargin)
        .mkString(",\n  ")
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT ka, kb, $gcols, p.lam / (1.0 - p.lam) AS prior_odds,
         |  $bfs
         |FROM pairs CROSS JOIN p$iters p""".stripMargin
    } else if (withTf) {
      // value frequencies + the Winkler adjustment: lr * (u1 / tf) on
      // g1-agreeing pairs; everything stays DOUBLE end-to-end
      ctes += """tf AS (
        |  SELECT c_mktsegment AS value,
        |         CAST(count(*) AS DOUBLE) /
        |         CAST((SELECT count(*) FROM customer) AS DOUBLE) AS tf
        |  FROM customer GROUP BY c_mktsegment)""".stripMargin
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT ka, kb, $gcols, w / (w + v) AS posterior, w / v AS lr,
         |  CASE WHEN g1 = 1 AND tf.tf IS NOT NULL
         |       THEN (w / v) * (u1 / tf.tf) ELSE w / v END AS lr_tf
         |FROM (SELECT ka, kb, $gcols, seg_a, $w AS w, $v AS v, p.u1 AS u1
         |      FROM pairs CROSS JOIN p$iters p) s
         |LEFT JOIN tf ON s.seg_a = tf.value""".stripMargin
    } else if (calibrate.isDefined) {
      // FS 1969 error-rate thresholds, re-derived from the fitted model:
      // all 2^k patterns, P(pattern|M) / P(pattern|U) products, ordered
      // error-mass accumulation via an EXACT sequential fold (rank
      // self-join + ordered list_reduce — a window cumsum may re-tree the
      // float adds), then min/max lr over the admissible prefix. Mirrors
      // FellegiSunter.calibrate fold-for-fold.
      val (mu, le) = calibrate.get
      val vals = "(VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)))"
      val allpats = (0 until k)
        .map(j => s"$vals t$j(g$j)").mkString(" CROSS JOIN ")
      val pm = (0 until k)
        .map(j => s"(CASE WHEN g$j = 1 THEN p.m$j ELSE 1.0 - p.m$j END)")
        .mkString(" * ")
      val pu = (0 until k)
        .map(j => s"(CASE WHEN g$j = 1 THEN p.u$j ELSE 1.0 - p.u$j END)")
        .mkString(" * ")
      ctes += s"allpats AS (SELECT * FROM $allpats)"
      ctes += s"""patprobs AS (
        |  SELECT $gcols, $pm AS pm, $pu AS pu,
        |    (p.lam * ($pm)) / ((1.0 - p.lam) * ($pu)) AS lr
        |  FROM allpats CROSS JOIN p$iters p)""".stripMargin
      ctes += s"rankedU AS (SELECT lr, pu, row_number() OVER (ORDER BY lr DESC, $gcols) AS rk FROM patprobs)"
      ctes += """cumU AS (
        |  SELECT a.rk, a.lr,
        |    list_reduce(list(b.pu ORDER BY b.rk), (x, y) -> x + y) AS cum
        |  FROM rankedU a JOIN rankedU b ON b.rk <= a.rk GROUP BY a.rk, a.lr)""".stripMargin
      ctes += s"upperT AS (SELECT COALESCE(min(lr), CAST('infinity' AS DOUBLE)) AS up FROM cumU WHERE cum <= CAST($mu AS DOUBLE))"
      ctes += s"rankedL AS (SELECT lr, pm, row_number() OVER (ORDER BY lr ASC, $gcols) AS rk FROM patprobs)"
      ctes += """cumL AS (
        |  SELECT a.rk, a.lr,
        |    list_reduce(list(b.pm ORDER BY b.rk), (x, y) -> x + y) AS cum
        |  FROM rankedL a JOIN rankedL b ON b.rk <= a.rk GROUP BY a.rk, a.lr)""".stripMargin
      ctes += s"lowerT AS (SELECT COALESCE(max(lr), CAST(0.0 AS DOUBLE)) AS lo FROM cumL WHERE cum <= CAST($le AS DOUBLE))"
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT ka, kb, $gcols, w / (w + v) AS posterior, w / v AS lr,
         |  CASE WHEN w / v >= up THEN 'link'
         |       WHEN w / v <= lo THEN 'non_link'
         |       ELSE 'possible' END AS decision
         |FROM (SELECT ka, kb, $gcols, $w AS w, $v AS v
         |      FROM pairs CROSS JOIN p$iters p)
         |CROSS JOIN upperT CROSS JOIN lowerT""".stripMargin
    } else if (uncertainK.isDefined)
      // uncertainty sampling: same scoring projection, margin ordering
      // with id tie-break, exact LIMIT — mirrors
      // FellegiSunter.uncertaintySample's TakeOrderedAndProject.
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT ka, kb, $gcols, w / (w + v) AS posterior, w / v AS lr,
         |  abs(w / (w + v) - 0.5) AS margin
         |FROM (SELECT ka, kb, $gcols, $w AS w, $v AS v
         |      FROM pairs CROSS JOIN p$iters p)
         |ORDER BY margin, ka, kb LIMIT ${uncertainK.get}""".stripMargin
    else if (histogram.isDefined) {
      // match-weight histogram: lr binned by exact power-of-2 literals
      // (decimal expansions of 2^e are finite, so CAST('…' AS DOUBLE) is
      // the exact double — no log(), no libm), zero bins included.
      val (minExp, maxExp) = histogram.get
      val chain = binExpSql(minExp, maxExp)
      s"""WITH ${ctes.mkString(",\n")},
         |sc AS (SELECT w / v AS lr
         |       FROM (SELECT $w AS w, $v AS v
         |             FROM pairs CROSS JOIN p$iters p)),
         |cnt AS (
         |  SELECT $chain AS bin_exp, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM sc WHERE lr IS NOT NULL GROUP BY 1
         |), bins AS (
         |  SELECT CAST(unnest(range(${minExp - 1}, ${maxExp + 1})) AS BIGINT)
         |    AS bin_exp
         |)
         |SELECT b.bin_exp,
         |  CASE WHEN b.bin_exp >= $minExp
         |       THEN power(2.0, CAST(b.bin_exp AS DOUBLE)) END AS lo,
         |  CASE WHEN b.bin_exp < $maxExp
         |       THEN power(2.0, CAST(b.bin_exp + 1 AS DOUBLE)) END AS hi,
         |  COALESCE(c.n_pairs, 0) AS n_pairs
         |FROM bins b LEFT JOIN cnt c USING (bin_exp)""".stripMargin
    } else if (drift.isDefined) {
      // score-drift table: the histogram bin chain applied to two
      // ka-parity subsets under ONE fitted model, then exact shares and
      // the pinned-order share ratio per bin.
      val (minExp, maxExp) = drift.get
      val chain = binExpSql(minExp, maxExp)
      s"""WITH ${ctes.mkString(",\n")},
         |sc AS (SELECT ka, w / v AS lr
         |       FROM (SELECT ka, $w AS w, $v AS v
         |             FROM pairs CROSS JOIN p$iters p)),
         |ca AS (SELECT $chain AS bin_exp, CAST(count(*) AS BIGINT) AS n_a
         |       FROM sc WHERE lr IS NOT NULL AND ka % 2 = 0 GROUP BY 1),
         |cb AS (SELECT $chain AS bin_exp, CAST(count(*) AS BIGINT) AS n_b
         |       FROM sc WHERE lr IS NOT NULL AND ka % 2 <> 0 GROUP BY 1),
         |ta AS (SELECT CAST(count(*) AS BIGINT) AS tot_a FROM sc
         |       WHERE lr IS NOT NULL AND ka % 2 = 0),
         |tb AS (SELECT CAST(count(*) AS BIGINT) AS tot_b FROM sc
         |       WHERE lr IS NOT NULL AND ka % 2 <> 0),
         |bins AS (
         |  SELECT CAST(unnest(range(${minExp - 1}, ${maxExp + 1})) AS BIGINT)
         |    AS bin_exp
         |), j AS (
         |  SELECT b.bin_exp,
         |    CASE WHEN b.bin_exp >= $minExp
         |         THEN power(2.0, CAST(b.bin_exp AS DOUBLE)) END AS lo,
         |    CASE WHEN b.bin_exp < $maxExp
         |         THEN power(2.0, CAST(b.bin_exp + 1 AS DOUBLE)) END AS hi,
         |    COALESCE(a.n_a, 0) AS n_a, COALESCE(c.n_b, 0) AS n_b,
         |    ta.tot_a, tb.tot_b
         |  FROM bins b
         |  LEFT JOIN ca a USING (bin_exp) LEFT JOIN cb c USING (bin_exp)
         |  CROSS JOIN ta CROSS JOIN tb
         |)
         |SELECT bin_exp, lo, hi, n_a, n_b,
         |  CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
         |  CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
         |  CASE WHEN n_a > 0 AND n_b > 0
         |       THEN (CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
         |            / (CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
         |       END AS share_ratio
         |FROM j""".stripMargin
    } else
      s"""WITH ${ctes.mkString(",\n")}
         |SELECT ka, kb, $gcols, w / (w + v) AS posterior, w / v AS lr,
         |  CASE WHEN w / v >= 0.5 THEN 'link'
         |       WHEN w / v <= 0.1 THEN 'non_link'
         |       ELSE 'possible' END AS decision
         |FROM (SELECT ka, kb, $gcols, $w AS w, $v AS v
         |      FROM pairs CROSS JOIN p$iters p)""".stripMargin
  }

  val all: Seq[Gate] = Seq(
    // acronym comparator sweep: per part, a probe string that is the
    // name's token-initials (key%3=0 -> level 1), the uppercased name
    // (%3=1 -> level 2), or the name plus a stray token (%3=2 -> level
    // 0) — all three branches and both asymmetric acronym directions are
    // load-bearing in the gamma distribution.
    Gate("q_acronym_levels", (s, dir) => {
      val p = spread(s.read.parquet(s"$dir/part.parquet"))
      val probe = when(pmod(col("p_partkey"), lit(3)) === 0,
        graft.operators.Comparators.acronym(col("p_name")))
        .when(pmod(col("p_partkey"), lit(3)) === 1, upper(col("p_name")))
        .otherwise(concat(col("p_name"), lit(" xq")))
      p.select(col("p_partkey").as("id"),
        graft.operators.Comparators.acronymLevels(col("p_name"), probe)
          .as("gamma"))
    },
      {
      def acr(x: String) =
        s"""array_to_string(list_transform(list_filter(
           |  string_split_regex(trim($x), '\\s+'), t -> len(t) > 0),
           |  t -> upper(substr(t, 1, 1))), '')""".stripMargin
      def ntok(x: String) =
        s"len(list_filter(string_split_regex(trim($x), '\\s+'), t -> len(t) > 0))"
      def compact(x: String) =
        s"upper(regexp_replace($x, '[^A-Za-z0-9]', '', 'g'))"
      s"""WITH probe AS (
         |  SELECT p_partkey AS id, p_name AS a,
         |    CASE WHEN p_partkey % 3 = 0 THEN ${acr("p_name")}
         |         WHEN p_partkey % 3 = 1 THEN upper(p_name)
         |         ELSE p_name || ' xq' END AS b
         |  FROM part
         |)
         |SELECT id,
         |  CAST(CASE WHEN a IS NULL OR b IS NULL THEN NULL
         |    WHEN upper(trim(a)) = upper(trim(b)) THEN 2
         |    WHEN (${ntok("a")} >= 2 AND ${ntok("b")} = 1
         |          AND len(${acr("a")}) >= 2 AND ${compact("b")} = ${acr("a")})
         |      OR (${ntok("b")} >= 2 AND ${ntok("a")} = 1
         |          AND len(${acr("b")}) >= 2 AND ${compact("a")} = ${acr("b")})
         |    THEN 1 ELSE 0 END AS BIGINT) AS gamma
         |FROM probe""".stripMargin
    }),

    // Fellegi-Sunter probabilistic linkage: EM fits per-field m/u and the
    // match prior λ from UNLABELED comparison-vector pattern counts
    // (γ = name-JW ≥ 0.95, segment equal, acctbal-bracket equal over the
    // nationkey-blocked customer pairs), then scores every pair with the
    // posterior + likelihood ratio. The oracle re-runs the ENTIRE EM — 15
    // unrolled iterations of ordered list_reduce folds over the same 2^3
    // pattern counts — so the fit is hash-grade, not just the scoring
    // projection.
    Gate("q_fellegi_sunter", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        upperLr = 0.5, lowerLr = 0.1)
    },
      fellegiSunterOracleSql(iters = 15)),

    // Pattern audit table: the whole pair corpus collapsed to its ≤ 2^k
    // comparison patterns, each with its count and fitted posterior/lr —
    // the model-sanity view read before trusting per-pair scores.
    Gate("q_fs_pattern_table", (s, dir) => {
      // the model fit and the pattern table both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.patternTable(pairs, fsGammas, model)
    },
      fellegiSunterOracleSql(iters = 15, patternTable = true)),

    // Incremental EM refit: pattern counts are ADDITIVE, so the stored
    // counts of the old corpus (persisted through a real parquet
    // write→read) unioned with a new batch's counts refit to the SAME
    // model as a from-scratch fit over all pairs — at per-batch cost.
    // The oracle is exactly q_fellegi_sunter's unrolled EM.
    Gate("q_fs_incremental", (s, dir) => {
      // the old and the batch split both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val old = pairs.where(pmod(col("ka") + col("kb"), lit(3)) =!= 0)
      val batch = pairs.where(pmod(col("ka") + col("kb"), lit(3)) === 0)
      val cDir = tempTree("graft_fs_counts")
      graft.operators.FellegiSunter.patternCounts(old, fsGammas)
        .write.mode("overwrite").parquet(cDir)
      val stored = s.read.parquet(cDir)
      val merged = stored.unionByName(
        graft.operators.FellegiSunter.patternCounts(batch, fsGammas))
      val model = graft.operators.FellegiSunter.fitFromCounts(
        merged, fsGammas, iters = 15)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        upperLr = 0.5, lowerLr = 0.1)
    },
      // incremental refit ≡ from-scratch fit (additive counts): same oracle
      fellegiSunterOracleSql(iters = 15)),

    // Comparison-viewer examples: per observed gamma pattern, the first
    // k pairs in pinned id order — the concrete-record view next to
    // q_fs_pattern_table's counts; the ≤ k filter sits directly above
    // row_number so InferWindowGroupLimit bounds each map task.
    Gate("q_fs_examples", (s, dir) => {
      val pairs = fsGammaPairs(s, dir) // single action — no mat needed
      graft.operators.FellegiSunter.patternExamples(pairs, fsGammas, k = 5)
    },
      // comparison-viewer examples: same gammas, per-pattern row_number in
      // pinned (ka, kb) order, top-5.
      s"""WITH pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |    $fsGammaSql
         |  $customerPairsSql)
         |SELECT g0, g1, g2, ka, kb, example_rank FROM (
         |  SELECT g0, g1, g2, ka, kb, row_number() OVER (
         |    PARTITION BY g0, g1, g2 ORDER BY ka, kb) AS example_rank
         |  FROM pairs) WHERE example_rank <= 5""".stripMargin),

    // Splink-style waterfall: per-pair, per-field Bayes-factor
    // decomposition of the fitted likelihood ratio (prior odds × one
    // factor per comparison — the explain-this-match chart). The oracle
    // re-runs the full 15-iteration EM and performs the SAME single
    // division per fitted ratio, so every factor is hash-grade.
    Gate("q_fs_waterfall", (s, dir) => {
      // the model fit and the waterfall both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.waterfall(pairs, fsGammas, model)
    },
      fellegiSunterOracleSql(iters = 15, waterfall = true)),

    // Direct u-estimation from hash-sampled RANDOM pairs (Splink's
    // estimate_u_using_random_sampling): u_j = agreement rate among
    // pairs drawn without blocking — blocked pairs over-represent
    // agreement, which is exactly what u must not measure. The sample is
    // the replayable sha256 fraction (rate 0.25, seed 11), the pair set
    // all C(s,2) sample pairs, and each u an integer-count ratio with
    // one final division, so the oracle reproduces it bit-for-bit.
    Gate("q_fs_estimate_u", (s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
      val rp = graft.operators.FellegiSunter.randomPairs(
        c.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal")),
        "c_custkey", rate = 0.25, seed = 11L)
      val pairs = rp.select(
        when(jaro_winkler_sim(col("c_name_a"), col("c_name_b")) >= 0.95, 1L)
          .otherwise(0L).as("g0"),
        when(col("c_mktsegment_a") === col("c_mktsegment_b"), 1L)
          .otherwise(0L).as("g1"),
        when(floor(col("c_acctbal_a") / 1000.0) ===
          floor(col("c_acctbal_b") / 1000.0), 1L).otherwise(0L).as("g2"))
      graft.operators.FellegiSunter.estimateUFrame(s, pairs, fsGammas)
    },
      // q_fs_estimate_u re-derivation: the sha256 sample fraction (rate
      // 0.25 = exact binary literal, seed 11), all C(s,2) sample pairs,
      // the three fsGamma comparisons, and per-field integer counts with
      // ONE final division each.
      {
        val nibbles = shaPrefix32()
        def uRow(g: String) =
          s"""SELECT '$g' AS field, count($g) AS n_obs,
             |  CAST(COALESCE(sum($g), 0) AS BIGINT) AS n_agree,
             |  CAST(sum($g) AS DOUBLE) / CAST(count($g) AS DOUBLE) AS u
             |FROM pairs""".stripMargin
        s"""WITH h AS (
           |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
           |         sha256(CAST(c_custkey AS VARCHAR) || ':11') AS hx
           |  FROM customer
           |), samp AS (
           |  SELECT * FROM h
           |  WHERE CAST($nibbles AS DOUBLE) / 4294967296.0 < CAST('0.25' AS DOUBLE)
           |), pairs AS (
           |  SELECT
           |    $fsGammaSql
           |  FROM samp a JOIN samp b ON a.c_custkey < b.c_custkey
           |)
           |${uRow("g0")} UNION ALL ${uRow("g1")} UNION ALL ${uRow("g2")}""".stripMargin
      }),

    // m from pairwise labels (estimateU's dual): agreement rates among
    // the t = 1 labeled matches of the supervised fixture — with
    // q_fs_estimate_u and q_fs_estimate_lambda this completes the
    // EM-free supervised Model(λ, m, u) path.
    Gate("q_fs_estimate_m", (s, dir) =>
      graft.operators.FellegiSunter.estimateMFrame(s,
        supervisedPairs(s, dir).where(col("t") === 1), fsGammas),
      // m from labeled matches: per-field integer agreement counts over
      // the t = 1 pairs, one final division each.
      {
      val sel = fsGammas.map { g =>
        s"""SELECT '$g' AS field, CAST(count(*) AS BIGINT) AS n_obs,
           |  CAST(sum($g) AS BIGINT) AS n_agree,
           |  CAST(sum($g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
           |FROM mt""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pairs AS (
         |  SELECT
         |    $fsGammaSql,
         |    CAST(CASE WHEN right(a.c_name, 3) = right(b.c_name, 3)
         |         THEN 1 ELSE 0 END AS BIGINT) AS t
         |  $customerPairsSql
         |), mt AS (SELECT g0, g1, g2 FROM pairs WHERE t = 1)
         |$sel""".stripMargin
    }),

    // Fit-once/score-many seam: fit, PERSIST the model (parquet), reload,
    // score+classify with the reloaded model — must hash-match the
    // in-memory q_fellegi_sunter path exactly (parquet doubles are IEEE
    // binary, so the round-trip is bit-exact by construction).
    // Match-weight histogram (the Splink diagnostic chart): EM-fitted
    // likelihood ratios binned by POWERS OF TWO via exact-literal
    // comparisons (bin e = ⌊log₂ lr⌋ without ever calling log), zero
    // bins included, open tails as sentinel bins.
    Gate("q_match_weight_hist", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.matchWeightHistogram(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        minExp = -10, maxExp = 10)
    },
      fellegiSunterOracleSql(iters = 15, histogram = Some((-10, 10)))),

    // Score-distribution drift between two "runs" (ka-parity halves of
    // the scored pairs under ONE fitted model): per bin, counts, exact
    // shares, and the pinned-order share ratio — the monitoring table a
    // PSI/KL alarm reads run-over-run.
    Gate("q_score_drift", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val scored = graft.operators.FellegiSunter.score(pairs, fsGammas, model)
      graft.operators.FellegiSunter.histogramDrift(
        graft.operators.FellegiSunter.matchWeightHistogram(
          scored.where(col("ka") % 2 === 0), minExp = -10, maxExp = 10),
        graft.operators.FellegiSunter.matchWeightHistogram(
          scored.where(col("ka") % 2 =!= 0), minExp = -10, maxExp = 10))
    },
      fellegiSunterOracleSql(iters = 15, drift = Some((-10, 10)))),

    // SUPERVISED match-weight learning (the labeled-data complement to
    // the EM fit): batch gradient descent over the ≤ 2^(k+1) (pattern,
    // label) sufficient cells with the RATIONAL softsign link — pure
    // field arithmetic, so the oracle re-runs the ENTIRE 15-step descent
    // in SQL (chained 1-row weight CTEs + ordered list_reduce gradient
    // folds) and both the weights and every scored pair are hash-grade.
    Gate("q_supervised_weights", (s, dir) => {
      val pairs = supervisedPairs(s, dir) // fit's cell agg is the only action
      val m = graft.operators.SupervisedWeights.fit(pairs,
        fsGammas, "t", eta = 0.5, iters = 15)
      graft.operators.SupervisedWeights.weightsFrame(s, fsGammas, m)
    },
      supervisedOracleSql(iters = 15, eta = 0.5, weightsOnly = true)),

    Gate("q_supervised_score", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(supervisedPairs(s, dir))
      val m = graft.operators.SupervisedWeights.fit(pairs,
        fsGammas, "t", eta = 0.5, iters = 15)
      graft.operators.SupervisedWeights.score(pairs, fsGammas, m)
    },
      supervisedOracleSql(iters = 15, eta = 0.5, weightsOnly = false)),

    Gate("q_fellegi_sunter_persisted", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val mDir = tempTree("graft_fs_model")
      graft.operators.FellegiSunter.saveModel(s, model, mDir)
      val reloaded = graft.operators.FellegiSunter.loadModel(s, mDir)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, reloaded),
        upperLr = 0.5, lowerLr = 0.1)
    },
      fellegiSunterOracleSql(iters = 15)),

    // FS 1969 error-rate-driven thresholds: upper/lower lr cut points
    // DERIVED from the fitted model for target false-match rate mu and
    // false-non-match rate lambda (not caller-guessed) — the oracle
    // re-derives the same thresholds from its own EM re-fit via ordered
    // error-mass folds over all 2^k patterns.
    Gate("q_fellegi_sunter_calibrated", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val (up, lo) = graft.operators.FellegiSunter.calibrate(model,
        mu = 0.08, lambdaErr = 0.25)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model), up, lo)
    },
      fellegiSunterOracleSql(iters = 15, calibrate = Some((0.08, 0.25)))),

    // Uncertainty sampling (active learning): the 100 pairs whose fitted
    // posterior sits closest to 1/2 — the review queue an interactive ER
    // trainer asks about next. Plans as TakeOrderedAndProject (bounded
    // per-partition top-k), and the oracle replays the same EM + margin
    // ordering with LIMIT.
    Gate("q_fs_uncertain", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.uncertaintySample(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model), k = 100)
    },
      fellegiSunterOracleSql(iters = 15, uncertainK = Some(100))),

    // Missing-data FS: every 7th pair's acctbal gamma is unobserved
    // (NULL). Fit is complete-case (EM over fully-observed pairs only);
    // scoring treats NULL as evidence-free — factor 1.0 in both
    // likelihoods (Splink's null level). The oracle replays the filtered
    // EM and the null-aware scoring projection.
    Gate("q_fs_missing", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir).withColumn("g2",
        when((col("ka") + col("kb")) % 7 === 0, lit(null).cast("long"))
          .otherwise(col("g2"))))
      val model = graft.operators.FellegiSunter.fit(
        pairs.where(col("g2").isNotNull), fsGammas, iters = 15)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        upperLr = 0.5, lowerLr = 0.1)
    },
      fellegiSunterOracleSql(iters = 15, missingG2 = true)),

    // Multi-level Fellegi-Sunter (Splink-style comparison levels): fields
    // grade agreement 0/1/2 (name JW banded at 0.97/0.93; acctbal-bracket
    // distance 0/1/more) instead of binary, with full per-level m/u
    // distributions — the richer evidence model production ER uses. The
    // oracle unrolls the multi-level EM (per-level CASE products +
    // per-(field, level) ordered folds).
    // Splink-style comparator levels (Comparators): the gamma-building
    // library in front of fitLevels — banded string/numeric/date/exact
    // comparisons with the null-as-missing guard. Every 97th left name is
    // nulled to prove the NULL gamma face (a bare when/otherwise chain
    // would score missing as disagreement). Dates are synthesized
    // deterministically from the keys.
    Gate("q_fs_comparators", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val a = c.select(col("c_custkey").as("ka"),
        when(col("c_custkey") % 97 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("na"),
        col("c_acctbal").as("aa"), col("c_mktsegment").as("sa"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
        col("c_acctbal").as("ab"), col("c_mktsegment").as("sb"),
        col("c_nationkey").as("nk"))
      val epoch = to_date(lit("1995-01-01"))
      val da = date_add(epoch, pmod(col("ka") * 7, lit(365)).cast("int"))
      val db = date_add(epoch, pmod(col("kb") * 7, lit(365)).cast("int"))
      a.join(b, "nk").where(col("ka") < col("kb"))
        .select(col("ka"), col("kb"),
          graft.operators.Comparators.stringLevels(col("na"), col("nb"), 0.95)
            .as("g_name"),
          graft.operators.Comparators.numericPctLevels(col("aa"), col("ab"),
            Seq(0.05, 0.25)).as("g_bal"),
          graft.operators.Comparators.exactLevels(col("sa"), col("sb"))
            .as("g_seg"),
          graft.operators.Comparators.dateLevels(da, db, Seq(7, 60))
            .as("g_date"))
    },
      // comparator levels: plain CASE replays — jaro_winkler_similarity is
      // gate-proven bit-identical on ASCII names; the pct bands replay the
      // pinned abs/greatest/product op order; dates collapse to integer
      // day-number arithmetic
      """WITH a AS (
        |  SELECT c_custkey AS ka,
        |    CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_name END AS na,
        |    c_acctbal AS aa, c_mktsegment AS sa, c_nationkey AS nk
        |  FROM customer
        |), b AS (
        |  SELECT c_custkey AS kb, c_name AS nb, c_acctbal AS ab,
        |         c_mktsegment AS sb, c_nationkey AS nk
        |  FROM customer
        |), p AS (
        |  SELECT ka, kb, na, nb, aa, ab, sa, sb,
        |         CAST(ka * 7 % 365 AS BIGINT) AS dda,
        |         CAST(kb * 7 % 365 AS BIGINT) AS ddb
        |  FROM a JOIN b USING (nk) WHERE ka < kb
        |)
        |SELECT ka, kb,
        |  CASE WHEN na IS NULL OR nb IS NULL THEN NULL
        |       WHEN na = nb THEN 2
        |       WHEN jaro_winkler_similarity(na, nb) >= 0.95 THEN 1
        |       ELSE 0 END AS g_name,
        |  CASE WHEN aa IS NULL OR ab IS NULL THEN NULL
        |       WHEN aa = ab THEN 3
        |       WHEN abs(aa - ab) <= 0.05 * greatest(abs(aa), abs(ab)) THEN 2
        |       WHEN abs(aa - ab) <= 0.25 * greatest(abs(aa), abs(ab)) THEN 1
        |       ELSE 0 END AS g_bal,
        |  CASE WHEN sa IS NULL OR sb IS NULL THEN NULL
        |       WHEN sa = sb THEN 1 ELSE 0 END AS g_seg,
        |  CASE WHEN dda = ddb THEN 3
        |       WHEN abs(dda - ddb) <= 7 THEN 2
        |       WHEN abs(dda - ddb) <= 60 THEN 1
        |       ELSE 0 END AS g_date
        |FROM p""".stripMargin),

    // Geographic comparison levels (Splink's distance-in-km shape):
    // deterministic synthetic coordinates from integer key arithmetic
    // plus binary-exact fractions (0.25/0.5 quarters — no decimal
    // rounding ambiguity), haversine-banded at 100 km / 2000 km. The
    // gate hashes LEVELS (integers), which are robust to sub-ULP libm
    // drift between engines everywhere except exactly AT a band
    // boundary — the synthetic coordinates keep distances far from both.
    Gate("q_comparator_geo", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      def lat(k: Column, nk: Column): Column =
        (nk * 11 % 120 - 60).cast("double") + (k % 5).cast("double") * 0.25
      def lon(k: Column, nk: Column): Column =
        (k * 13 % 300 - 150).cast("double") + (nk % 4).cast("double") * 0.5
      val a = c.select(col("c_custkey").as("ka"),
        lat(col("c_custkey"), col("c_nationkey")).as("lat_a"),
        lon(col("c_custkey"), col("c_nationkey")).as("lon_a"),
        (col("c_custkey") % 20).as("gk"))
      val b = c.select(col("c_custkey").as("kb"),
        lat(col("c_custkey"), col("c_nationkey")).as("lat_b"),
        lon(col("c_custkey"), col("c_nationkey")).as("lon_b"),
        (col("c_custkey") % 20).as("gk"))
      a.join(b, "gk").where(col("ka") < col("kb"))
        .select(col("ka"), col("kb"),
          graft.operators.Comparators.geoKmLevels(col("lat_a"), col("lon_a"),
            col("lat_b"), col("lon_b"), Seq(100.0, 2000.0)).as("g_geo"))
    },
      // Geo levels: identical integer-arithmetic coordinates, identical
      // haversine op order (Δ/2 before sin, R·2·asin(√h) with R inlined).
      // Only the integer LEVELS are hashed — sub-ULP libm drift between
      // engines cannot flip a band unless a distance sits exactly on
      // 100/2000 km, which the synthetic grid avoids.
      """WITH c AS (
        |  SELECT c_custkey AS k,
        |    CAST(c_nationkey * 11 % 120 - 60 AS DOUBLE)
        |      + CAST(c_custkey % 5 AS DOUBLE) * 0.25 AS lat,
        |    CAST(c_custkey * 13 % 300 - 150 AS DOUBLE)
        |      + CAST(c_nationkey % 4 AS DOUBLE) * 0.5 AS lon,
        |    c_custkey % 20 AS gk
        |  FROM customer
        |), p AS (
        |  SELECT a.k AS ka, b.k AS kb, a.lat AS la, a.lon AS loa,
        |         b.lat AS lb, b.lon AS lob
        |  FROM c a JOIN c b ON a.gk = b.gk AND a.k < b.k
        |), h AS (
        |  SELECT ka, kb, la, loa, lb, lob,
        |    CAST(6371.0088 AS DOUBLE) * (CAST(2.0 AS DOUBLE) * asin(sqrt(
        |      sin(radians(lb - la) / 2.0) * sin(radians(lb - la) / 2.0)
        |      + cos(radians(la)) * cos(radians(lb))
        |        * (sin(radians(lob - loa) / 2.0) * sin(radians(lob - loa) / 2.0))
        |    ))) AS d
        |  FROM p
        |)
        |SELECT ka, kb,
        |  CASE WHEN la = lb AND loa = lob THEN 3
        |       WHEN d <= 100.0 THEN 2
        |       WHEN d <= 2000.0 THEN 1
        |       ELSE 0 END AS g_geo
        |FROM h""".stripMargin),

    // Multi-value (array) comparison levels: part-name token arrays,
    // leveled by the count of DISTINCT shared tokens (Splink's
    // array-intersection shape for emails/aliases). The oracle counts
    // the same distinct-token intersection relationally.
    Gate("q_comparator_array", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        graft.operators.Comparators.arrayIntersectLevels(
          split(col("na"), " "), split(col("nb"), " "),
          Seq(1, 2, 3)).as("g_arr")),
      // Array-intersect levels: DuckDB list_intersect is distinct-by-spec,
      // mirroring array_distinct(array_intersect(...)).
      """SELECT a.p_partkey AS ka, b.p_partkey AS kb,
        |  CASE WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 3 THEN 3
        |       WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 2 THEN 2
        |       WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 1 THEN 1
        |       ELSE 0 END AS g_arr
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey""".stripMargin),

    // Temporal record linkage: same-user/same-type event pairs scored by
    // Jaro-Winkler over props, decayed RATIONALLY by timestamp distance
    // (sim / (1 + Δt/τ), τ = 7 days) — pure field arithmetic, so the
    // decayed score is bit-exact across engines where an exponential
    // decay would inherit libm exp() drift (the log-free rational-idf
    // lesson applied to time).
    Gate("q_temporal_decay", (s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      val a = e.select(col("event_id").as("ka"), col("props").as("pa"),
        col("ts").as("ta"), col("user_id").as("u"), col("event_type").as("t"))
      val b = e.select(col("event_id").as("kb"), col("props").as("pb"),
        col("ts").as("tb"), col("user_id").as("u"), col("event_type").as("t"))
      a.join(b, Seq("u", "t")).where(col("ka") < col("kb"))
        .select(col("ka"), col("kb"),
          graft.operators.Comparators.temporalDecay(
            jaro_winkler_sim(col("pa"), col("pb")), col("ta"), col("tb"),
            604800.0).as("decayed"))
    },
      // Temporal decay: epoch_us (exact long microseconds, matching
      // unix_micros), rational decay with the identical operand order; the
      // jw CASE wrapper pins the both-empty edge.
      """SELECT a.event_id AS ka, b.event_id AS kb,
        |  (CASE WHEN a.props = b.props THEN 1.0
        |        ELSE jaro_winkler_similarity(a.props, b.props) END)
        |  / (CAST(1.0 AS DOUBLE)
        |     + CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS DOUBLE)
        |       / CAST(604800000000.0 AS DOUBLE)) AS decayed
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        |     AND a.event_id < b.event_id""".stripMargin),

    // Deterministic decision-rule cascade: ordered named rules, first
    // match wins, with (rule, rule_rank) provenance — the rule-based
    // pre-pass a production linkage runs before probabilistic scoring.
    // One when-chain projection; the oracle replays the identical CASE.
    Gate("q_rule_cascade", (s, dir) => {
      val pairs = fsCustomerPairs(s, dir)
      val jw = jaro_winkler_sim(col("na"), col("nb"))
      graft.operators.Linkage.ruleCascade(pairs, Seq(
          "name_sfx3" -> (substring(col("na"), -3, 3) ===
            substring(col("nb"), -3, 3)),
          "jw_segment" -> (jw >= 0.97 && col("sa") === col("sb")),
          "jw_bal" -> (jw >= 0.95 &&
            floor(col("aa") / 1000.0) === floor(col("ab") / 1000.0))))
        .select(col("ka"), col("kb"), col("rule"), col("rule_rank"))
    },
      // Rule cascade: the identical first-match-wins CASE chain, names
      // derived from the rank.
      """WITH p AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb, a.c_name AS na,
        |         b.c_name AS nb, a.c_mktsegment AS sa, b.c_mktsegment AS sb,
        |         a.c_acctbal AS aa, b.c_acctbal AS ab
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |), r AS (
        |  SELECT ka, kb,
        |    CASE WHEN right(na, 3) = right(nb, 3) THEN 1
        |         WHEN jaro_winkler_similarity(na, nb) >= 0.97
        |              AND sa = sb THEN 2
        |         WHEN jaro_winkler_similarity(na, nb) >= 0.95
        |              AND floor(aa / 1000.0) = floor(ab / 1000.0) THEN 3
        |    END AS rule_rank
        |  FROM p
        |)
        |SELECT ka, kb,
        |  CASE rule_rank WHEN 1 THEN 'name_sfx3' WHEN 2 THEN 'jw_segment'
        |       WHEN 3 THEN 'jw_bal' END AS rule,
        |  rule_rank
        |FROM r WHERE rule_rank IS NOT NULL""".stripMargin),

    Gate("q_fellegi_sunter_levels", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsLevelPairs(s, dir))
      val model = graft.operators.FellegiSunter.fitLevels(pairs,
        Seq("g0", "g1", "g2"), Seq(3, 3, 2), iters = 15)
      graft.operators.FellegiSunter.scoreLevels(pairs,
        Seq("g0", "g1", "g2"), model)
    },
      fellegiSunterLevelsOracleSql(iters = 15)),

    // Term-frequency-adjusted Fellegi-Sunter (Winkler 1988 / Splink's
    // headline feature): agreeing on a RARE segment is stronger evidence
    // than on a common one — pairs agreeing on g1 get lr scaled by
    // u1 / tf(segment). The oracle replays the EM AND the tf join.
    Gate("q_fellegi_sunter_tf", (s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir, col("sa").as("seg_a")))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val tf = graft.operators.FellegiSunter.termFrequencies(
        s.read.parquet(s"$dir/customer.parquet"), "c_mktsegment")
      graft.operators.FellegiSunter.tfAdjustLr(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        model, fieldIndex = 1, gammaCol = "g1", valueCol = "seg_a", tf = tf)
        .drop("seg_a")
    },
      fellegiSunterOracleSql(iters = 15, withTf = true)),

    // Evidence-based prior: λ estimated from a deterministic
    // high-precision rule (name-suffix equality, assumed recall 0.8) —
    // rule pairs are COUNTED via one groupBy (Σ C(g,2), decimal-exact),
    // never materialized, then λ = pairs / (recall · C(n,2)) with
    // pinned division order.
    Gate("q_fs_estimate_lambda", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.FellegiSunter.estimateLambdaFrame(s, c,
        substring(col("c_name"), 16, 3), recall = 0.8)
    },
      // rule pair count Σ C(g,2) over the suffix key, then the pinned
      // λ division: pairs / (recall · (n·(n−1)/2)).
      """WITH g AS (
        |  SELECT substring(c_name, 16, 3) AS k, CAST(count(*) AS HUGEINT) AS n
        |  FROM customer WHERE substring(c_name, 16, 3) IS NOT NULL
        |  GROUP BY 1
        |), np AS (
        |  SELECT CAST(COALESCE(sum(n * (n - 1)), 0) // 2 AS BIGINT)
        |    AS n_rule_pairs FROM g
        |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM customer)
        |SELECT n_records, n_rule_pairs, CAST('0.8' AS DOUBLE) AS recall,
        |  CAST(n_rule_pairs AS DOUBLE) /
        |    (CAST('0.8' AS DOUBLE) *
        |     (CAST(n_records AS DOUBLE) * CAST(n_records - 1 AS DOUBLE) / 2.0))
        |    AS lambda_est
        |FROM nt, np""".stripMargin),

    // Date comparators over orders pairs blocked two ways: a same-month
    // family (exercises the ≤7 and ≤365 day bands) and a YEAR-FREE
    // {month,day}-multiset family (same-year members are exactly the
    // day↔month transposed pairs — the level a plain band comparator
    // would misscore as a months-apart disagreement — and cross-year
    // members land outside every band, exercising 0). gamma_date =
    // banded dateLevels, gamma_date_t = dateTransposedLevels with the
    // swap level between exact and the bands; both pure calendar
    // arithmetic the oracle replays verbatim.
    Gate("q_comparator_date", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 16 === 0)
        .select(col("o_orderkey").as("id"),
          col("o_orderdate").cast("date").as("d"))
      val keys = o.select(col("id"), concat(lit("t:"),
          least(month(col("d")), dayofmonth(col("d"))),
          lit(":"), greatest(month(col("d")), dayofmonth(col("d"))))
          .as("bk"))
        .unionAll(o.select(col("id"), concat(lit("m:"), year(col("d")),
          lit(":"), month(col("d"))).as("bk")))
      val pairs = keys.select(col("bk"), col("id").as("ka"))
        .join(keys.select(col("bk"), col("id").as("kb")), "bk")
        .where(col("ka") < col("kb"))
        .select(col("ka"), col("kb")).distinct()
      pairs
        .join(o.select(col("id").as("ka"), col("d").as("da")), "ka")
        .join(o.select(col("id").as("kb"), col("d").as("db")), "kb")
        .select(col("ka"), col("kb"),
          graft.operators.Comparators.dateLevels(col("da"), col("db"),
            Seq(7, 365)).as("gamma_date"),
          graft.operators.Comparators.dateTransposedLevels(col("da"),
            col("db"), Seq(7, 365)).as("gamma_date_t"))
    },
      // date comparators: identical blocking key construction (two
      // families), identical CASE ladders — exact, transposed
      // (year equal + month/day swapped), then the day bands.
      """WITH o AS (
        |  SELECT o_orderkey AS id, CAST(o_orderdate AS DATE) AS d
        |  FROM orders WHERE o_orderkey % 16 = 0
        |), k AS (
        |  SELECT id, 't:'
        |    || CAST(least(month(d), day(d)) AS VARCHAR) || ':'
        |    || CAST(greatest(month(d), day(d)) AS VARCHAR) AS bk
        |  FROM o
        |  UNION ALL
        |  SELECT id, 'm:' || CAST(year(d) AS VARCHAR) || ':'
        |    || CAST(month(d) AS VARCHAR) AS bk
        |  FROM o
        |), p AS (
        |  SELECT DISTINCT a.id AS ka, b.id AS kb
        |  FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id
        |)
        |SELECT p.ka, p.kb,
        |  CAST(CASE WHEN oa.d = ob.d THEN 3
        |       WHEN abs(date_diff('day', ob.d, oa.d)) <= 7 THEN 2
        |       WHEN abs(date_diff('day', ob.d, oa.d)) <= 365 THEN 1
        |       ELSE 0 END AS BIGINT) AS gamma_date,
        |  CAST(CASE WHEN oa.d = ob.d THEN 4
        |       WHEN year(oa.d) = year(ob.d) AND month(oa.d) = day(ob.d)
        |            AND day(oa.d) = month(ob.d) THEN 3
        |       WHEN abs(date_diff('day', ob.d, oa.d)) <= 7 THEN 2
        |       WHEN abs(date_diff('day', ob.d, oa.d)) <= 365 THEN 1
        |       ELSE 0 END AS BIGINT) AS gamma_date_t
        |FROM p JOIN o oa ON p.ka = oa.id JOIN o ob ON p.kb = ob.id""".stripMargin),
  )
}
