package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Frames

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry has a matching `oracleSql` entry (ANSI SQL runnable
  * by DuckDB over the same parquet tables) unless the semantics are not
  * SQL-expressible, in which case the driver records a rows-only check.
  *
  * Oracle notes (validated empirically against DuckDB 1.x in tools/):
  *  - DuckDB `levenshtein`/`damerau_levenshtein` are code-point edit
  *    distances matching our kernels on ASCII data (testdata is all-ASCII;
  *    DuckDB is byte-based on non-ASCII, our kernels are code-point —
  *    Unicode is covered by the sbt conformance suite instead).
  *  - DuckDB `jaro_similarity`/`jaro_winkler_similarity` match the
  *    reference's floored-transposition semantics exactly except both-empty
  *    (DuckDB 0.0, reference 1.0) — handled by the CASE WHEN a=b wrapper.
  *  - Multiset Jaccard/Dice have no DuckDB builtin; the oracle reimplements
  *    them relationally (unnest per-character counts → Σmin/Σmax).
  */
object SparkEntry {

  /** Scale-adaptive input parallelization (optimization guide §2.5 "input
    * skew: one huge unsplittable file … repartition immediately after the
    * read"): the gate tables are single-row-group parquet files, so a scan
    * can never split past ONE task — and every per-row kernel or pair
    * explosion ABOVE the scan (below the first shuffle) runs serially no
    * matter how many cores the session has. One tiny round-robin exchange
    * of the KB-sized base table buys full-cluster parallelism for the
    * compute above it. Derived from `defaultParallelism`, and a no-op
    * whenever the scan already carries at least that many splits — which
    * is exactly the 100 TB case, so production-scale inputs are never
    * re-shuffled. Only ever applied directly to a freshly-read scan
    * (getNumPartitions on a shuffle-free plan triggers no computation). */
  private def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Customer self-pairs blocked on nationkey (blocking key ≙ §7.2). */
  private def customerPairs(s: SparkSession, dir: String): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_nationkey").as("nk"))
    a.join(b, "nk").where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"), col("na"), col("nb"))
  }

  /** Redundant 3-family block collection for the meta-blocking gates:
    * segment:nation ∪ name-last-2-digits (a mid-hot family — ~25 buckets
    * under the %4 subsample, salted-tier-sized at sf0.1) ∪ a CONDITIONAL
    * nation key (only ids divisible by 3), so per-record block counts
    * vary (2 or 3) and the Jaccard weight actually exercises
    * blocks_a/blocks_b. Deterministic %4 subsample keeps the edge set
    * oracle-tractable at sf0.1. */
  private def metaKeys(s: SparkSession, dir: String): DataFrame = {
    val c = s.read.parquet(s"$dir/customer.parquet")
      .where(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nk"), col("c_name").as("nm"))
    val k1 = c.select(col("id"), concat(col("seg"), lit(":"), col("nk")).as("key"))
    val k2 = c.select(col("id"), concat(lit("d2:"), substring(col("nm"), -2, 2)).as("key"))
    val k3 = c.where(col("id") % 3 === 0)
      .select(col("id"), concat(lit("nk3:"), col("nk")).as("key"))
    k1.union(k2).union(k3)
  }

  /** Part self-pairs blocked on brand (spaces + repeated chars exercise the
    * multiset kernels). */
  private def partPairs(s: SparkSession, dir: String): DataFrame = {
    val p = spread(s.read.parquet(s"$dir/part.parquet"))
    val a = p.select(col("p_partkey").as("ka"), col("p_name").as("na"),
      col("p_brand").as("bk"))
    val b = p.select(col("p_partkey").as("kb"), col("p_name").as("nb"),
      col("p_brand").as("bk"))
    a.join(b, "bk").where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"), col("na"), col("nb"))
  }

  /** Scored two-corpus linkage pairs + suffix-equality truth for the ROC
    * gates (same derivation as q_threshold_sweep's inputs). */
  private def rocInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("bk"))
    val supp = s.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_nationkey").as("bk"))
    val scored = graft.operators.Linkage.linkTables(cust, supp, "id",
      "name", "bk", theta = 1.0, bucketPairCap = 1000000L)
    val labeled = cust
      .select(col("id").as("id_l"), substring(col("name"), -9, 9).as("__sfx"))
      .join(supp.select(col("id").as("id_r"),
        substring(col("name"), -9, 9).as("__sfx")), "__sfx")
      .select(col("id_l"), col("id_r"))
    (scored, labeled)
  }

  /** Comparison-vector frame for the Fellegi-Sunter gate: nationkey-blocked
    * customer pairs with three 0/1 agreement fields. */
  private val fsGammas = Seq("g0", "g1", "g2")
  private def fsGammaPairs(s: SparkSession, dir: String,
      withSeg: Boolean = false): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_mktsegment").as("sa"), col("c_acctbal").as("aa"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_mktsegment").as("sb"), col("c_acctbal").as("ab"),
      col("c_nationkey").as("nk"))
    val base = Seq(col("ka"), col("kb"),
      when(jaro_winkler_sim(col("na"), col("nb")) >= 0.95, 1L)
        .otherwise(0L).as("g0"),
      when(col("sa") === col("sb"), 1L).otherwise(0L).as("g1"),
      when(floor(col("aa") / 1000.0) === floor(col("ab") / 1000.0), 1L)
        .otherwise(0L).as("g2"))
    val cols = if (withSeg) base :+ col("sa").as("seg_a") else base
    a.join(b, "nk").where(col("ka") < col("kb")).select(cols: _*)
  }

  /** Labeled comparison-vector frame for the supervised-weights gates:
    * the [[fsGammaPairs]] gammas plus a 0/1 label t = last-3-characters
    * name-suffix equality (the same truth family the blocking gates
    * use). */
  private def supervisedPairs(s: SparkSession, dir: String): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_mktsegment").as("sa"), col("c_acctbal").as("aa"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_mktsegment").as("sb"), col("c_acctbal").as("ab"),
      col("c_nationkey").as("nk"))
    a.join(b, "nk").where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"),
        when(jaro_winkler_sim(col("na"), col("nb")) >= 0.95, 1L)
          .otherwise(0L).as("g0"),
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g1"),
        when(floor(col("aa") / 1000.0) === floor(col("ab") / 1000.0), 1L)
          .otherwise(0L).as("g2"),
        when(substring(col("na"), -3, 3) === substring(col("nb"), -3, 3), 1L)
          .otherwise(0L).as("t"))
  }

  /** Multi-level comparison-vector frame for the FS-levels gate: two
    * 3-level gammas (name JW banded at 0.97/0.93; acctbal-bracket
    * distance 0/1/more) plus one binary gamma (segment equality —
    * exercising mixed arity) over nationkey-blocked customer pairs. */
  private def fsLevelPairs(s: SparkSession, dir: String): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_acctbal").as("aa"), col("c_mktsegment").as("sa"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_acctbal").as("ab"), col("c_mktsegment").as("sb"),
      col("c_nationkey").as("nk"))
    val jw = jaro_winkler_sim(col("na"), col("nb"))
    val d = abs(floor(col("aa") / 1000.0) - floor(col("ab") / 1000.0))
    a.join(b, "nk").where(col("ka") < col("kb"))
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

  /** Unrolled-EM Fellegi-Sunter oracle: re-derives the comparison vectors
    * and pattern counts, runs `iters` EM iterations as chained CTEs whose
    * sums are ORDERED list_reduce left folds (IEEE addition order =
    * [[graft.operators.FellegiSunter.fit]]'s pattern-lexicographic
    * traversal), and projects the posterior/lr per pair. Every numeric
    * literal the EM touches is CAST to DOUBLE — bare SQL decimals would
    * run the arithmetic in DECIMAL and diverge from the driver fit in the
    * last ulp. */
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
      def p2lit(e: Int): String = {
        val bd = if (e >= 0) BigDecimal(2).pow(e)
          else BigDecimal(0.5).pow(-e)
        s"CAST('${bd.underlying.toPlainString}' AS DOUBLE)"
      }
      val chain = new StringBuilder(
        s"CASE WHEN lr >= ${p2lit(maxExp)} THEN $maxExp")
      for (e <- (minExp until maxExp).reverse)
        chain.append(s" WHEN lr >= ${p2lit(e)} THEN $e")
      chain.append(s" ELSE ${minExp - 1} END")
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
      def p2lit(e: Int): String = {
        val bd = if (e >= 0) BigDecimal(2).pow(e)
          else BigDecimal(0.5).pow(-e)
        s"CAST('${bd.underlying.toPlainString}' AS DOUBLE)"
      }
      val chain = new StringBuilder(
        s"CASE WHEN lr >= ${p2lit(maxExp)} THEN $maxExp")
      for (e <- (minExp until maxExp).reverse)
        chain.append(s" WHEN lr >= ${p2lit(e)} THEN $e")
      chain.append(s" ELSE ${minExp - 1} END")
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

  /** q_fs_estimate_u re-derivation: the sha256 sample fraction (rate
    * 0.25 = exact binary literal, seed 11), all C(s,2) sample pairs,
    * the three fsGamma comparisons, and per-field integer counts with
    * ONE final division each. */
  private def fsEstimateUOracle: String = {
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
       |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
       |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
       |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
       |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
       |         THEN 1 ELSE 0 END AS BIGINT) AS g1,
       |    CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
       |         THEN 1 ELSE 0 END AS BIGINT) AS g2
       |  FROM samp a JOIN samp b ON a.c_custkey < b.c_custkey
       |)
       |${uRow("g0")} UNION ALL ${uRow("g1")} UNION ALL ${uRow("g2")}""".stripMargin
  }

  /** Shared CTE chain of the two-corpus linkage oracle (customer vs
    * supplier blocked on nationkey, composite JW+Dice in `scored`) —
    * reused by q_link_tables and q_best_match. */
  /** Normalized-Levenshtein-similarity SQL fragment over two string
    * expressions, mirroring the kernel: byte-equal → 1.0 (also covers
    * ""/""), else 1 − lev/max(len) with one exact int→double division. */
  private def levSimSql(x: String, y: String): String =
    s"""CASE WHEN $x = $y THEN CAST(1.0 AS DOUBLE)
       |       ELSE CAST(1.0 AS DOUBLE) - CAST(levenshtein($x, $y) AS DOUBLE) /
       |            CAST(greatest(length($x), length($y)) AS DOUBLE) END""".stripMargin

  /** Shared blocking-graph CTEs for the meta-blocking oracles: the plain
    * (untiered) per-key pair join with multiplicity, grouped to CBS, plus
    * retained-block counts per record and the one-exact-division Jaccard
    * weight — mirroring MetaBlocking.blockingGraph relationally. */
  private val metaGraphCtes =
    """recs AS (
      |  SELECT c_custkey AS id, c_mktsegment AS seg, c_nationkey AS nk,
      |         c_name AS nm
      |  FROM customer WHERE c_custkey % 4 = 0
      |), mkeys AS (
      |  SELECT id, seg || ':' || CAST(nk AS VARCHAR) AS key FROM recs
      |  UNION ALL
      |  SELECT id, 'd2:' || right(nm, 2) FROM recs
      |  UNION ALL
      |  SELECT id, 'nk3:' || CAST(nk AS VARCHAR) FROM recs WHERE id % 3 = 0
      |), sized AS (
      |  SELECT key, count(*) AS n FROM mkeys GROUP BY key
      |), retained AS (
      |  SELECT k.id, k.key FROM mkeys k JOIN sized s ON k.key = s.key
      |  WHERE s.n <= 100000
      |), perkey AS (
      |  SELECT a.id AS url_a, b.id AS url_b
      |  FROM retained a JOIN retained b ON a.key = b.key AND a.id < b.id
      |), edges AS (
      |  SELECT url_a, url_b, count(*) AS cbs FROM perkey GROUP BY url_a, url_b
      |), ent AS (
      |  SELECT id, count(*) AS nb FROM retained GROUP BY id
      |), graph AS (
      |  SELECT e.url_a, e.url_b, CAST(e.cbs AS BIGINT) AS cbs,
      |         CAST(ea.nb AS BIGINT) AS blocks_a,
      |         CAST(eb.nb AS BIGINT) AS blocks_b,
      |         CAST(e.cbs AS DOUBLE) /
      |           CAST(ea.nb + eb.nb - e.cbs AS DOUBLE) AS js
      |  FROM edges e JOIN ent ea ON e.url_a = ea.id
      |       JOIN ent eb ON e.url_b = eb.id
      |)""".stripMargin

  private val linkTablesCtes =
    """lk AS (
      |  SELECT c_custkey AS id, c_nationkey AS key, c_name AS name FROM customer
      |), rk AS (
      |  SELECT s_suppkey AS id, s_nationkey AS key, s_name AS name FROM supplier
      |), nl AS (
      |  SELECT key, count(*) AS n FROM lk GROUP BY key
      |), nr AS (
      |  SELECT key, count(*) AS n FROM rk GROUP BY key
      |), good AS (
      |  SELECT nl.key FROM nl JOIN nr ON nl.key = nr.key
      |  WHERE nl.n * nr.n <= 1000000
      |), pairs AS (
      |  SELECT DISTINCT l.id AS id_l, r.id AS id_r,
      |         l.name AS name_l, r.name AS name_r
      |  FROM lk l JOIN good g ON l.key = g.key
      |       JOIN rk r ON r.key = l.key
      |), exploded AS (
      |  SELECT id_l, id_r, unnest(string_split(name_l, '')) AS ch,
      |         1 AS ac, 0 AS bc FROM pairs
      |  UNION ALL
      |  SELECT id_l, id_r, unnest(string_split(name_r, '')) AS ch,
      |         0 AS ac, 1 AS bc FROM pairs
      |), counts AS (
      |  SELECT id_l, id_r, ch, sum(ac) AS ca, sum(bc) AS cb
      |  FROM exploded GROUP BY id_l, id_r, ch
      |), sums AS (
      |  SELECT id_l, id_r, sum(least(ca, cb)) AS inter,
      |         sum(ca) + sum(cb) AS total
      |  FROM counts GROUP BY id_l, id_r
      |), scored AS (
      |  SELECT p.id_l, p.id_r,
      |    CASE WHEN p.name_l = p.name_r THEN 1.0
      |         ELSE jaro_winkler_similarity(p.name_l, p.name_r) END AS jw,
      |    CASE WHEN p.name_l = p.name_r THEN 1.0
      |         ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END AS dice
      |  FROM pairs p JOIN sums s ON p.id_l = s.id_l AND p.id_r = s.id_r
      |)""".stripMargin

  private val customerPairsSql =
    """FROM customer a JOIN customer b
      | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey""".stripMargin

  private val partPairsSql =
    """FROM part a JOIN part b
      | ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey""".stripMargin

  /** Zobel-Dart letter-group bitmask of an upper-cased char `ch` (bound by
    * the enclosing DuckDB lambda) — groups overlap, mirroring
    * [[graft.strsim.StrSimKernels]]'s editexMask bit-for-bit. */
  private val editexMaskSql =
    """((CASE WHEN ch IN ('A','E','I','O','U','Y') THEN 1 ELSE 0 END)
      | + (CASE WHEN ch IN ('B','P') THEN 2 ELSE 0 END)
      | + (CASE WHEN ch IN ('C','K','Q') THEN 4 ELSE 0 END)
      | + (CASE WHEN ch IN ('D','T') THEN 8 ELSE 0 END)
      | + (CASE WHEN ch IN ('L','R') THEN 16 ELSE 0 END)
      | + (CASE WHEN ch IN ('M','N') THEN 32 ELSE 0 END)
      | + (CASE WHEN ch IN ('G','J') THEN 64 ELSE 0 END)
      | + (CASE WHEN ch IN ('F','P','V') THEN 128 ELSE 0 END)
      | + (CASE WHEN ch IN ('S','X','Z') THEN 256 ELSE 0 END)
      | + (CASE WHEN ch IN ('C','S','Z') THEN 512 ELSE 0 END))""".stripMargin

  /** Multiset (bag-of-chars) similarity oracle: explode both strings to
    * per-char counts, then Σmin / Σmax (jaccard) or 2Σmin / (|a|+|b|)
    * (dice). Matches reference strsim.rs:286-344 semantics relationally. */
  private def bagSimSql(simExpr: String): String =
    s"""WITH pairs AS (
       |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
       |         a.p_name AS na, b.p_name AS nb
       |  $partPairsSql
       |), exploded AS (
       |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
       |  UNION ALL
       |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
       |), counts AS (
       |  SELECT ka, kb, ch, sum(ac) AS ca, sum(cb) AS cb
       |  FROM (SELECT ka, kb, ch, ac, bc AS cb FROM exploded) GROUP BY ka, kb, ch
       |), sums AS (
       |  SELECT ka, kb, sum(least(ca, cb)) AS inter,
       |         sum(greatest(ca, cb)) AS uni, sum(ca) + sum(cb) AS total
       |  FROM counts GROUP BY ka, kb
       |)
       |SELECT p.ka, p.kb,
       |       CASE WHEN p.na = p.nb THEN 1.0 ELSE $simExpr END AS sim
       |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin

  /** Register `dir` for RECURSIVE deletion at JVM exit. Gate/bench runs
    * must not accumulate corpus-sized checkpoint trees under /tmp, but the
    * result frame lazily reads the final stage's parquet — the tree has to
    * outlive the driver's consumption of the DataFrame, so JVM exit is the
    * first safe deletion point (File.deleteOnExit cannot remove non-empty
    * directories; this hook walks the tree children-first). */
  private def deleteTreeOnExit(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        if (java.nio.file.Files.exists(root))
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p =>
              try java.nio.file.Files.delete(p)
              catch { case _: Throwable => })
      } catch { case _: Throwable => }
    }))
  }

  /** Stage a single-file table into a fresh temp dir — file stream
    * sources require a directory — and mark it for JVM-exit cleanup. */
  private def stageStreamDir(file: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    val target = dir.resolve("data.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(file), target)
    target.toFile.deleteOnExit()
    dir.toFile.deleteOnExit()
    dir.toString
  }

  /** Drive a streaming frame to completion (AvailableNow) through a
    * uniquely-named memory sink and return the result table.
    *
    * HARNESS-ONLY tuning (results are partition-independent, both-SF
    * hash-gated): a stateful query pays a fixed per-micro-batch cost of
    * one state-store instance + commit PER shuffle partition (×4 stores
    * per partition for a stream-stream join) — at gate scale that fixed
    * cost IS the wall, and under host noise it doubles (the r3→r4
    * q_stream_join drift). Streaming queries capture the shuffle-
    * partition count at first start, so dropping it to 8 just for the
    * gate run cuts the state-commit constant 4× without touching
    * operator semantics or the production default. */
  private def runToMemorySink(s: SparkSession, df: DataFrame, prefix: String,
      mode: String): DataFrame = {
    val sink = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = df.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.table(sink)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * §7.2 minimum end-to-end slice: scan → blocked self-join → kernel
    * scoring in filter+project (blocking + scoring in miniature). */
  def entry(spark: SparkSession): DataFrame = {
    val pairs = customerPairs(spark, "/root/testdata/sf0.001")
    pairs.select(col("ka"), col("kb"),
        jaro_winkler_sim(col("na"), col("nb")).as("jw"),
        sorensen_dice_sim(col("na"), col("nb")).as("dice"))
      .where(col("jw") + col("dice") >= 1.8)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_levenshtein_sim" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), levenshtein_sim(col("na"), col("nb")).as("sim"))),
    "q_damerau_levenshtein_sim" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), damerau_levenshtein_sim(col("na"), col("nb")).as("sim"))),
    "q_hamming_sim" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), hamming_sim(col("na"), col("nb")).as("sim"))),
    "q_jaro_sim" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), jaro_sim(col("na"), col("nb")).as("sim"))),
    "q_jaro_winkler_sim" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), jaro_winkler_sim(col("na"), col("nb")).as("sim"))),
    "q_jaccard_sim" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), jaccard_sim(col("na"), col("nb")).as("sim"))),
    "q_sorensen_dice_sim" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), sorensen_dice_sim(col("na"), col("nb")).as("sim"))),

    // Bag similarity (Bartolini-Ciaccia-Patella bag distance as a
    // similarity): Σmin/max(|a|,|b|) over code-point bags — the CHEAPEST
    // edit pre-filter tier (bag distance lower-bounds Levenshtein, so
    // bag_sim ≥ θ soundly admits for levenshtein_sim ≥ θ with one scratch
    // sort-merge, below qgram_sim in the stack). Oracle reuses the
    // q_jaccard_sim relational bag with the max-length denominator.
    "q_bag_sim" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), bag_sim(col("na"), col("nb")).as("sim"))),

    // Ratcliff-Obershelp (gestalt / Python difflib.SequenceMatcher.ratio,
    // junk-free): 2·M/(|a|+|b|) with M from recursive longest-common-
    // substring splitting, ties earliest-in-a then earliest-in-b. The
    // oracle replays the RECURSION itself: a recursive CTE over segment
    // rows (path-id keyed so identical segment texts never merge), each
    // iteration finding every segment's best block via the q_lcsstr_sim
    // substring-enumeration technique + a (l DESC, i, j) row_number, then
    // emitting the left/right child segments plus a match-mass tombstone;
    // the editex-grade double-key subsample keeps the per-pair recursion
    // (~len² candidate rows × depth iterations) tractable at sf0.1.
    "q_ratcliff_sim" -> ((s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 13 === 0)
      .select(col("ka"), col("kb"),
        ratcliff_obershelp_sim(col("na"), col("nb")).as("sim"))),

    // Partial Ratcliff-Obershelp (thefuzz partial_ratio, exhaustive
    // best-window variant): max gestalt ratio of the shorter string vs
    // every same-length window of the longer. Oracle = the q_ratcliff_sim
    // recursion with one extra root dimension (the window offset) carried
    // through the CTE and a max over offsets at the end.
    "q_partial_ratcliff" -> ((s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 26 === 0)
      .select(col("ka"), col("kb"),
        partial_ratcliff_sim(col("na"), col("nb")).as("sim"))),

    // Bag distance + its boolean face at the q_lev_capped k=4: the TIER-0
    // admission filter of the edit pre-filter stack (bag distance
    // lower-bounds Levenshtein at one sorted-merge, no DP — rejections
    // are sound, so the banded DP only runs on bag survivors; wired into
    // Linkage.scoreWithPrefilter). Oracle reuses the relational bag with
    // the max-length-minus-intersection identity.
    "q_bag_within" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        bag_dist(col("na"), col("nb")).as("d"),
        bag_within(col("na"), col("nb"), 4).as("w4"))),

    // banded capped-Levenshtein pre-filter tier (O(k·n) Ukkonen DP, never
    // the full quadratic): exact distance when ≤ k, else k+1, plus the
    // boolean face. The 100 TB shape: levenshtein_within(…, k) prunes
    // candidates before full scoring. Cast to BIGINT only to match the
    // oracle's integer type.
    "q_lev_capped" -> ((s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"),
        levenshtein_capped(col("na"), col("nb"), 3).cast("long").as("dist_c"),
        levenshtein_within(col("na"), col("nb"), 3).as("within"))),

    // Monge-Elkan with Jaro-Winkler inner kernel over multi-token part
    // names: mean over a's tokens of the best-matching b token — the
    // hybrid token/char scorer that survives token reordering. The oracle
    // re-derives it with DuckDB's jaro_winkler_similarity (bit-equality
    // with our kernel is itself gate-proven by q_jaro_winkler_sim), a
    // zipped-unnest tokenization on the shared whitespace class, and an
    // ORDERED list_reduce left fold matching the kernel's IEEE sum order.
    "q_monge_elkan" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), monge_elkan_jw(col("na"), col("nb")).as("me"))),

    // Token-set family extras over the same brand-blocked part pairs:
    // overlap coefficient (containment), an ASYMMETRIC Tversky index
    // (α=0.25 a-only mass, β=0.75 b-only — distinct from both Jaccard and
    // Dice so the gate can't pass by accident), and bag-cosine over
    // per-code-point counts. The oracle extends the q_jaccard_sim
    // relational bag pattern with per-side totals, the count dot product,
    // and the two squared norms — all integer-exact, with only the final
    // div/sqrt/mul rounded, mirroring the kernels' pinned IEEE order.
    "q_token_set_sims" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        overlap_sim(col("na"), col("nb")).as("ov"),
        tversky_sim(col("na"), col("nb"), 0.25, 0.75).as("tv"),
        cosine_bag_sim(col("na"), col("nb")).as("cb"))),

    // OSA (restricted Damerau-Levenshtein): the linear-memory
    // transposition-aware edit similarity. DuckDB has no OSA builtin
    // (its damerau_levenshtein is the unrestricted Lowrance-Wagner
    // variant — the q_damerau_levenshtein_sim oracle), so the oracle
    // re-runs the full OSA DP as a recursive CTE: one cell per recursion
    // step in row-major order, a sliding window of the last 2m+4 cells
    // carried as a list (covering the i-1 row, the i,j-1 neighbor, and
    // the i-2,j-2 transposition lookback). Deterministically subsampled on
    // BOTH keys (ka % 17, kb % 5) to keep the per-cell recursion tractable
    // in the oracle at sf0.1 too — measured 206 s for the ka-only subsample
    // (265k pairs × ~361 cells) vs ~40 s and ~53k pairs with both.
    "q_osa_sim" -> ((s, dir) => customerPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"), osa_sim(col("na"), col("nb")).as("sim"))),

    // Alignment family (round 5): LCS, Needleman-Wunsch (+1/−1/−1 global),
    // and Smith-Waterman (local, floored) similarities — DuckDB has no
    // builtin for any of them, so each oracle replays its FULL DP as a
    // recursive CTE with the q_osa_sim cell-per-step sliding-window
    // technique (SW additionally threads the running max through the
    // recursion — the answer is max over ALL cells, not the corner).
    // Same double-key subsample as q_osa_sim keeps the oracles tractable.
    "q_lcs_sim" -> ((s, dir) => customerPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"), lcs_sim(col("na"), col("nb")).as("sim"))),

    "q_nw_sim" -> ((s, dir) => customerPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"),
        needleman_wunsch_sim(col("na"), col("nb")).as("sim"))),

    "q_sw_sim" -> ((s, dir) => customerPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"),
        smith_waterman_sim(col("na"), col("nb")).as("sim"))),

    // Affine-gap (Gotoh) alignment (round 5): three-state DP where a gap
    // of length L costs 1 + 0.5(L-1) — completes the alignment family
    // (NW unit-gap / SW local / LCS / LCSstr). The oracle replays the
    // full Gotoh recursion as a recursive CTE carrying THREE parallel
    // sliding windows (M/X/Y states), one cell-triple per step; all
    // arithmetic is the kernel's exact half-unit integers.
    "q_affine_gap_sim" -> ((s, dir) => customerPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"),
        affine_gap_sim(col("na"), col("nb")).as("sim"))),

    // Match Rating Approach (round 5): codex + its OWN published
    // comparison rule (rating 0..6, combined-length minimum, and the
    // "no comparison" NULL when codex lengths differ by >= 3). The
    // pinned positional-zip residual scan is fully relational, so the
    // oracle replays codex AND comparison end-to-end.
    "q_mra" -> ((s, dir) => partPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"),
        mra_codex(col("na")).as("ca"),
        mra_codex(col("nb")).as("cb"),
        mra_similarity(col("na"), col("nb")).as("rating"),
        mra_match(col("na"), col("nb")).as("is_match"))),

    // Token-order-robust ratios (the fuzzywuzzy pair), composed purely
    // from stock codegen expressions under levenshtein_sim — no bespoke
    // kernel. token_sort: Levenshtein over sorted-token strings;
    // token_set: max of the three Levenshteins over (intersection,
    // intersection+a-only, intersection+b-only). Oracle rebuilds the same
    // strings with DuckDB list ops (list_intersect dedups, matching
    // Spark's array_intersect) + its levenshtein builtin (ASCII inputs).
    "q_token_ratio" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        token_sort_ratio(col("na"), col("nb")).as("tsr"),
        token_set_ratio(col("na"), col("nb")).as("tstr"))),

    // Q-gram profile similarity (Ukkonen): 1 − Σ|Δcount|/(nA+nB) over
    // code-point bigrams — the cheap edit-distance lower-bound pre-filter
    // (lev ≥ d/(2q)). Oracle: relational gram bags via unnest(range) +
    // substr with ±1 weights, |Σw| summed per pair.
    "q_qgram_sim" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        qgram_sim(col("na"), col("nb"), 2).as("sim"))),

    // Token-LEVEL set scorers (vs the code-point bags of q_jaccard_sim):
    // distinct-whitespace-token Jaccard and overlap/containment, composed
    // from stock set-op expressions — the [""]-token split artifact gives
    // the pinned empty contract for free (""≡"" → 1.0, ""-vs-x → 0.0).
    "q_token_level_sims" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        token_jaccard_sim(col("na"), col("nb")).as("tj"),
        token_overlap_sim(col("na"), col("nb")).as("tov"))),

    // Editex (round 5): the phonetic-aware edit distance (Zobel-Dart
    // letter-group substitutions, H/W silent context, free tapering
    // doubles) — the edit-DISTANCE view of phonetic matching where
    // Soundex/NYSIIS give only the blocking-KEY view. The oracle replays
    // the FULL position-dependent-cost DP as a recursive CTE (q_osa_sim
    // sliding-window technique) with packed char-code·1024+group-mask
    // lists and both border-cost arrays precomputed per pair; a heavier
    // double-key subsample (%41/%13) keeps its ~1.2k-cell-per-pair
    // recursion tractable at sf0.1 (~15k pairs).
    "q_editex_sim" -> ((s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 13 === 0)
      .select(col("ka"), col("kb"), editex_sim(col("na"), col("nb")).as("sim"))),

    // Longest-common-SUBSTRING similarity (round 5): |longest contiguous
    // shared run|/max len — strict under proper containment where
    // smith_waterman_sim saturates at 1.0. Oracle is purely relational:
    // every substring of the shorter side (double unnest over start ×
    // length), position() containment in the longer, max length per pair.
    "q_lcsstr_sim" -> ((s, dir) => partPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"), lcsstr_sim(col("na"), col("nb")).as("sim"))),

    // Unicode similarity gate: the shared testdata is all-ASCII, so the
    // byte-vs-code-point divergence the kernels are built around never
    // met the DuckDB oracle (only the sbt conformance vectors). This
    // query synthesizes — identically in the oracle, like q_scrub_pii's
    // dirty column — a non-ASCII string pair per document from a palette
    // of Latin-1 (é), Greek (α), CJK (中) and a SUPPLEMENTARY-plane emoji
    // (one code point, two Java chars, four UTF-8 bytes), and scores the
    // hamming/jaccard/dice kernels on them. The oracle re-derives all
    // three code-point-relationally (per-cp unnest) — never through
    // DuckDB's byte-based string builtins — so a kernel that iterated
    // UTF-16 units or bytes instead of code points would hash-mismatch.
    "q_unicode_sims" -> ((s, dir) => {
      val pal = Seq(0x61, 0xE9, 0x3B1, 0x4E2D, 0x1F642, 0x7A)
        .map(cp => new String(Character.toChars(cp)))
      def uch(k: Column): Column =
        element_at(array(pal.map(lit): _*), (pmod(k, lit(6)) + 1).cast("int"))
      val id = col("doc_id")
      // na: 8 palette chars indexed by a per-position affine hash of the id
      val na = concat((0 until 8).map(i => uch(id * (i + 3) + i)): _*)
      // nb: same construction, palette-shifted at every third position
      // (guaranteed mismatches), truncated to 6..8 code points (length
      // asymmetry exercises the hamming suffix term and the bag sums);
      // every 7th doc keeps nb == na (the equality fast path)
      val shifted = concat((0 until 8).map { i =>
        uch(id * (i + 3) + i +
          when(pmod(id + i, lit(3)) === 0, lit(1)).otherwise(lit(0)))
      }: _*)
      val nb = when(pmod(id, lit(7)) === 0, na)
        .otherwise(shifted.substr(lit(1), (pmod(id, lit(3)) + 6).cast("int")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, na.as("na"), nb.as("nb"))
        .select(col("doc_id"), col("na"), col("nb"),
          hamming_sim(col("na"), col("nb")).as("ham_sim"),
          jaccard_sim(col("na"), col("nb")).as("jac_sim"),
          sorensen_dice_sim(col("na"), col("nb")).as("dice_sim"))
    }),

    // The EDIT-DISTANCE kernels (levenshtein / damerau / jaro / JW) on
    // the same mixed-plane fixture — closing the one oracle gap
    // q_unicode_sims left (those four rested on sbt conformance for
    // non-ASCII). Oracle trick: edit distances and Jaro depend only on
    // the symbol-EQUALITY pattern, so the oracle rebuilds the pair with
    // the palette mapped to distinct ASCII letters (same index
    // arithmetic) and runs DuckDB's builtins — byte==code-point on the
    // translated twin, and those builtins are already gate-proven
    // bit-identical to our kernels on ASCII (q_levenshtein_sim /
    // q_jaro_sim / q_jaro_winkler_sim / q_damerau_levenshtein_sim).
    // A byte- or UTF-16-iterating kernel would normalize by the wrong
    // length (🙂 is 4 UTF-8 bytes / 2 UTF-16 units) and hash-mismatch.
    "q_unicode_edit_sims" -> ((s, dir) => {
      val pal = Seq(0x61, 0xE9, 0x3B1, 0x4E2D, 0x1F642, 0x7A)
        .map(cp => new String(Character.toChars(cp)))
      def uch(k: Column): Column =
        element_at(array(pal.map(lit): _*), (pmod(k, lit(6)) + 1).cast("int"))
      val id = col("doc_id")
      val na = concat((0 until 8).map(i => uch(id * (i + 3) + i)): _*)
      val shifted = concat((0 until 8).map { i =>
        uch(id * (i + 3) + i +
          when(pmod(id + i, lit(3)) === 0, lit(1)).otherwise(lit(0)))
      }: _*)
      val nb = when(pmod(id, lit(7)) === 0, na)
        .otherwise(shifted.substr(lit(1), (pmod(id, lit(3)) + 6).cast("int")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, na.as("na"), nb.as("nb"))
        .select(col("doc_id"), col("na"), col("nb"),
          levenshtein_sim(col("na"), col("nb")).as("lev_sim"),
          damerau_levenshtein_sim(col("na"), col("nb")).as("dl_sim"),
          jaro_sim(col("na"), col("nb")).as("jaro_s"),
          jaro_winkler_sim(col("na"), col("nb")).as("jw_sim"))
    }),

    // ---- pipeline-stage operators (SURVEY.md §2.3) over driver tables ----

    // normalization → blocking key (stage: dedup/normalize)
    "q_block_keys" -> ((s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"),
        regexp_replace(lower(col("p_name")), "[^a-z]", "").as("block_key"))),

    // capped candidate-pair generation (stage: blocking self-join with
    // hot-bucket cap; exercises graft.operators.Linkage.candidatePairs)
    "q_candidate_pairs" -> ((s, dir) => {
      val keys = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("url"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      // bucketCap == hardCap: buckets over 15 are dropped (tier-3 path),
      // matching the oracle's HAVING-style cut
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 15, hardCap = 15)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    }),

    // salted grid self-join (tier-2 skew path): bucketCap=1 forces EVERY
    // bucket through the fragment-replicate join; result must equal the
    // plain uncapped self-join (the oracle) — proving salting loses and
    // invents nothing
    "q_salted_pairs" -> ((s, dir) => {
      val keys = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("url"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 1,
          hardCap = 1000000, saltGroups = 8)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    }),

    // b-bit MinHash (Li-König): pack the low 8 bits of each of 16
    // sha-family lanes into 2 longs (8× smaller signature — 8× less
    // shuffle IO at corpus scale), then score same-lang doc pairs with
    // the agreeing-lane count and the unbiased Jaccard estimate
    // (f − 2⁻⁸)/(1 − 2⁻⁸). Oracle re-derives every lane from sha hex,
    // takes the low byte from the last two hex chars, and replays the
    // estimator with the identical IEEE ops.
    "q_bbit_minhash" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 10 === 0)
      val base = d.select(col("doc_id").as("id"), col("lang"),
        sort_array(array_distinct(
          graft.operators.TextAnalysis.tokens(col("text")))).as("toks"))
        .where(size(col("toks")) > 0)
      val sigs = base.select(col("id"), col("lang"),
        bbit_sig(minhash_sig(col("toks"), 16, "sha256"), 8).as("pk"))
      sigs.as("a").join(sigs.as("b"),
          col("a.lang") === col("b.lang") && col("a.id") < col("b.id"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"),
          bbit_match_count(col("a.pk"), col("b.pk"), 8).as("m"),
          bbit_jaccard_est(col("a.pk"), col("b.pk"), 8).as("est"))
    }),

    // Token blocking (schema-agnostic baseline) → candidate pairs through
    // the full 3-tier skew policy: normalize_match standardizes the text,
    // every ≥3-char token becomes a block key, bucketCap=10 forces the
    // Zipfian color tokens through the SALTED grid (lossless — the oracle
    // is tier-blind), hardCap high enough that nothing drops at either SF.
    "q_token_blocking" -> ((s, dir) => {
      val recs = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("id"),
          normalize_match(col("p_name")).as("nm"))
      val keys = graft.operators.Linkage.tokenBlockKeys(recs, "id", "nm",
        minLen = 3)
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 10,
          hardCap = 100000, saltGroups = 8)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    }),

    // Blocking-scheme profile: the capacity-planning aggregate a 100 TB
    // job runs before committing to a key scheme — block counts, hottest
    // block, and the EXACT candidate-pair volume each skew tier would
    // generate at the given caps (decimal(38,0) pair sums). Runs over the
    // token-blocking keys so the Zipfian tiers are actually populated.
    "q_blocking_profile" -> ((s, dir) => {
      val recs = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          normalize_match(col("p_name")).as("nm"))
      val keys = graft.operators.Linkage.tokenBlockKeys(recs, "id", "nm",
        minLen = 3)
      graft.operators.Linkage.blockingProfile(keys, bucketCap = 100,
        hardCap = 1200)
    }),

    // Cluster repair from review decisions (the write-back half of the
    // uncertainty-sampling loop): deterministic 8-record clusters, must
    // edges merging adjacent clusters at every 40th key, cannot edges
    // evicting the larger side inside every 16th cluster; min-id relabel.
    "q_cluster_repair" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        (col("c_custkey") - pmod(col("c_custkey"), lit(8))).as("cluster_id"))
      val must = c.where(pmod(col("c_custkey"), lit(40)) === 0)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + 8).as("id_b"))
      val cannot = c.where(pmod(col("c_custkey"), lit(16)) === 0)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + 1).as("id_b"))
      graft.operators.Linkage.clusterRepair(asg, must, cannot)
    }),

    // Group linkage (On-Koudas-Srivastava ICDE'07): similarity between
    // GROUPS of records = normalized greedy 1:1 matched weight,
    // sim = Σ matched s / (|A| + |B| − |M|). Groups = nationkey over two
    // disjoint customer subsets; candidates = same-segment pairs at
    // JW ≥ 0.97. Oracle replays the greedy rounds with (ga, gb) carried
    // through every window and folds matched weights in (rl, rr) order.
    "q_group_linkage" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val left = c.where(col("c_custkey") % 4 === 0)
        .select(col("c_nationkey").cast("long").as("gid"),
          col("c_custkey").as("rid"))
      val right = c.where(col("c_custkey") % 4 === 1)
        .select(col("c_nationkey").cast("long").as("gid"),
          col("c_custkey").as("rid"))
      val a = c.where(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("id_l"), col("c_name").as("na"),
          col("c_mktsegment").as("seg"))
      val b = c.where(col("c_custkey") % 4 === 1)
        .select(col("c_custkey").as("id_r"), col("c_name").as("nb"),
          col("c_mktsegment").as("seg"))
      val scored = a.join(b, "seg")
        .select(col("id_l"), col("id_r"),
          jaro_winkler_sim(col("na"), col("nb")).as("score"))
        .where(col("score") >= 0.97)
      graft.operators.Linkage.groupLinkage(left, right, scored)
    }),

    // Center clustering (Hassanzadeh-Miller VLDB'09): similarity-ordered
    // star clustering — strongest pairs seed clusters, members attach to
    // CENTERS only (never chains). Parallel rounds ≡ the pinned
    // sequential scan (CenterClusteringSpec); the oracle replays the
    // rounds as a full-state recursive CTE with a 48-round cap
    // (prototyped ≥ 3× the observed fixed point at both SFs).
    "q_center_clusters" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 3 === 0)
      val a = c.select(col("c_custkey").as("ia"), col("c_name").as("na"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("ib"), col("c_name").as("nb"),
        col("c_nationkey").as("nk"))
      val edges = a.join(b, "nk").where(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          levenshtein_sim(col("na"), col("nb")).as("s"))
        .where(col("s") >= 0.88)
      graft.operators.CenterClustering.centers(edges, "ia", "ib", "s")
    }),

    // Merge-center over the same edge frame: clusters merge wherever any
    // record is θ-similar to another cluster's CENTER (pinned order-free
    // variant — deterministic under any partitioning; merges still need
    // direct evidence against a center, unlike full transitive closure).
    "q_merge_center" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 3 === 0)
      val a = c.select(col("c_custkey").as("ia"), col("c_name").as("na"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("ib"), col("c_name").as("nb"),
        col("c_nationkey").as("nk"))
      val edges = a.join(b, "nk").where(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          levenshtein_sim(col("na"), col("nb")).as("s"))
        .where(col("s") >= 0.88)
      graft.operators.CenterClustering.mergeCenters(edges, "ia", "ib", "s")
    }),

    // Meta-blocking (Papadakis TKDE'14): blocking graph over a redundant
    // 3-family block collection (segment:nation ∪ phone-prefix ∪ a
    // conditional nation key, so per-record block counts VARY), CBS +
    // Jaccard edge weights, then Weighted Edge Pruning by integer
    // cross-multiplication (w·n ≥ Σw — no divided mean anywhere). At
    // sf0.1 the phone-prefix buckets exceed bucketCap and route through
    // the salted grid, so the gate also proves tier-2 preserves per-key
    // multiplicity (the oracle is the plain per-key join).
    "q_meta_blocking" -> ((s, dir) =>
      graft.operators.MetaBlocking.wepPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50))),

    // Weighted Node Pruning over the same graph: keep an edge ≥ the mean
    // weight of either endpoint's incident edges (per-node integer
    // cross-multiplication; one both-directions groupBy + two joins).
    "q_meta_blocking_wnp" -> ((s, dir) =>
      graft.operators.MetaBlocking.wnpPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50))
        .select(col("url_a"), col("url_b"), col("cbs"), col("blocks_a"),
          col("blocks_b"), col("js"))),

    // Cardinality Node Pruning: either endpoint's top-k incident edges
    // (budgeted per-record comparisons; row_number window with its ≤ k
    // filter right above it → InferWindowGroupLimit caps rows per map
    // task before the shuffle; ties pinned by opposite id).
    "q_meta_blocking_cnp" -> ((s, dir) =>
      graft.operators.MetaBlocking.cnpPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50), k = 3)),

    // NYSIIS phonetic blocking key (the second classic next to Soundex;
    // pinned variant documented on TextKernels.nysiis). Oracle replays the
    // whole algorithm: prefix/suffix CASEs + a recursive CTE walking the
    // positions with the same first-match-wins transcode rules, dedup
    // append, and suffix cleanup.
    "q_nysiis_block" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          nysiis_key(col("p_name")).as("key"))),

    // Cologne phonetics (round 5): third phonetic family, variable-length
    // digit key. Oracle replays the pinned steps relationally: per-letter
    // codes with prev/next context, ordered string_agg, collapse by
    // lag-compare over the digit positions, strip non-leading 0s.
    "q_cologne_block" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          cologne_key(col("p_name")).as("key"))),

    // Metaphone (round 5): fifth phonetic family; the pinned variant is
    // deliberately POSITIONAL (each emission a function of prev/cur/
    // next/next2 + first/last flags), so the oracle is a flat per-
    // position CASE + ordered string_agg — no recursion.
    "q_metaphone_block" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          metaphone_key(col("p_name")).as("key"))),

    // Block filtering (Papadakis): drop each RECORD from its largest
    // blocks, keeping only its ⌈n/2⌉ smallest (size ASC, key ASC; the
    // per-record budget applied by integer cross-multiplication). Runs
    // UPSTREAM of the blocking graph — the block-collection-level cut
    // before any pair is enumerated.
    "q_block_filter" -> ((s, dir) =>
      graft.operators.MetaBlocking.blockFilter(metaKeys(s, dir),
        idCol = "id", keyCol = "key")),

    // Golden-record survivorship: collapse each entity cluster to ONE
    // canonical row with deterministic order-insensitive rules — text →
    // longest (ties: smallest), lang → mode (ties: smallest), source →
    // min, n_chars → max; canonical id = min member id. The final
    // pipeline stage a downstream consumer reads.
    "q_golden_records" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.goldenRecords(records, assignment, "id",
        rules = Seq("text" -> "longest", "lang" -> "mode",
          "source" -> "min", "n_chars" -> "max"))
    }),

    // Survivorship provenance: for each canonical field, the smallest
    // member id whose value equals the chosen one — the MDM lineage
    // audit a consumer asks of a golden record ("where did this name
    // come from?"). Per-attribute (cluster, value) argmin joins; the
    // oracle replays each as a grouped min + equality join.
    "q_golden_provenance" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      val golden = graft.operators.Canonicalize.goldenRecords(records,
        assignment, "id", rules = Seq("text" -> "longest", "lang" -> "mode",
          "source" -> "min", "n_chars" -> "max"))
      graft.operators.Canonicalize.goldenProvenance(records, assignment,
        golden, "id", cols = Seq("text", "lang", "source", "n_chars"))
    }),

    // Over-merge audit: single-valuedness violations per cluster over the
    // same %89 clustering as the golden gates — lang/source/n_chars are
    // all entity-unique by declaration, so nearly every cluster conflicts
    // (the audit runs on MEMBER records; survivorship would erase the
    // evidence). Values audited as strings (documented cast); one
    // map-explode + one map-side-combinable groupBy.
    "q_merge_conflicts" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.mergeConflicts(records, assignment, "id",
        Seq("lang", "source", "n_chars"))
    }),

    // Stable entity ids across runs: previous run's entity map at
    // doc_id % 97, this run's clustering at doc_id % 89 — heavy
    // merge/split churn with near-universal overlap ties, so both
    // deterministic tie-breaks (smallest entity, then smallest cluster)
    // and the one-carry-per-entity rule are all load-bearing. Windows
    // carry top-1 filters (InferWindowGroupLimit); everything else is
    // map-side-combinable groupBys + key joins.
    "q_entity_ids" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val prev = d.select(col("doc_id").as("id"),
        concat(lit("e"), (col("doc_id") % 97).cast("string")).as("entity_id"))
      val cur = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.EntityIds.stabilize(prev, cur, "id")
    }),

    // Leakage-safe split: hash over the CLUSTER id so near-duplicates
    // can never straddle train/test; doc_id % 4 == 0 rows are left
    // unassigned to exercise the disjoint singleton-key fallback.
    "q_split_cluster" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      val asg = d.where(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), (col("doc_id") % 89).as("component"))
      graft.operators.Sampling.splitByCluster(d, "doc_id", asg,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split_name"))
    }),

    // Greedy budgeted blocking-scheme selection: four candidate key
    // families over customer, labeled truth from the name-suffix join,
    // budget = n²/20 total pairs — sized so the seg family (n²/10) is
    // never affordable and the greedy order + budget eligibility are
    // both load-bearing at sf0.01 AND sf0.1. The oracle replays all
    // three greedy steps as unrolled argmax CTEs (the EM/GD pattern).
    "q_blocking_selection" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val id = col("c_custkey")
      val keyed = c.select(lit("seg").as("family"), id.as("id"),
          col("c_mktsegment").as("key"))
        .unionAll(c.select(lit("nat").as("family"), id.as("id"),
          col("c_nationkey").cast("string").as("key")))
        .unionAll(c.select(lit("segnat").as("family"), id.as("id"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key")))
        .unionAll(c.select(lit("bal").as("family"), id.as("id"),
          floor(col("c_acctbal") / 1000.0).cast("string").as("key")))
      val a = c.select(id.as("pa"), substring(col("c_name"), 16, 3).as("sfx"))
      val b = c.select(id.as("pb"), substring(col("c_name"), 16, 3).as("sfx"))
      val truth = a.join(b, "sfx").where(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
      val n = c.count()
      graft.operators.BlockingSelection.greedySelection(keyed, truth,
        BigDecimal(n * n / 20), maxSchemes = 3)
    }),

    // Supervised DNF blocking-scheme learning (Michelson-Knoblock /
    // Bilenko adaptive blocking): 3 base families + their 3 arity-2
    // conjunctions priced against labeled positives (name-suffix truth)
    // under a budget on DISTINCT co-blocked negatives (deterministic
    // hash-bucket sample, suffix-unequal). Budget totalNeg/8 admits one
    // base family and then only a CONJUNCTION (nat&seg at both SFs) —
    // the learner's signature move is live in the gated plan. The
    // oracle replays all three greedy steps (pos marginal DESC, neg
    // marginal ASC, name) with per-step anti-joins on BOTH sides.
    "q_learn_scheme" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val id = col("c_custkey")
      val keyed = c.select(lit("seg").as("family"), id.as("id"),
          col("c_mktsegment").as("key"))
        .unionAll(c.select(lit("nat").as("family"), id.as("id"),
          col("c_nationkey").cast("string").as("key")))
        .unionAll(c.select(lit("bal").as("family"), id.as("id"),
          floor(col("c_acctbal") / 1000.0).cast("string").as("key")))
      val a = c.select(id.as("pa"), substring(col("c_name"), 16, 3).as("sfx"))
      val b = c.select(id.as("pb"), substring(col("c_name"), 16, 3).as("sfx"))
      val pos = a.join(b, "sfx").where(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
      // negatives are PSEUDO-RANDOM (hash-bucket) non-matching pairs, not
      // same-nation pairs: a negative sample sharing a family's key by
      // construction would make every conjunction with that family cost
      // as much as its other half, silencing the learner's whole trade
      val cn = c.where(id % 4 === 0)
        .select(id.as("nid"), (id * 7919L % 211L).as("bk"),
          substring(col("c_name"), 16, 3).as("sfx"))
      // the negative join feeds the budget count AND learnScheme's
      // coverage passes
      val neg = Frames.shared(cn
        .select(col("nid").as("pa"), col("bk"), col("sfx").as("sa"))
        .join(cn.select(col("nid").as("pb"), col("bk"), col("sfx").as("sb")),
          "bk")
        .where(col("pa") < col("pb") && col("sa") =!= col("sb"))
        .select(col("pa"), col("pb")))
      val budget = neg.count() / 8
      graft.operators.BlockingSelection.learnScheme(keyed, pos, neg,
        budget, maxTerms = 3)
    }),

    // Pre-linkage column profiling (the Splink profile_columns step):
    // completeness / cardinality / dominant value per candidate field,
    // from one (value -> count) groupBy per column + a 1-row fold;
    // source is null-poisoned so the null accounting is load-bearing.
    "q_profile_columns" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select(
        col("lang"),
        when(col("source") === "src0", lit(null)).otherwise(col("source"))
          .as("source_n"),
        col("n_chars").cast("string").as("nc"))
      graft.operators.Profiling.profileColumns(d,
        Seq("lang", "source_n", "nc"))
    }),

    // Top-k value frequencies per column (ties -> smallest value);
    // the rank window is bounded map-side by InferWindowGroupLimit.
    "q_top_values" -> ((s, dir) => graft.operators.Profiling.topValues(
      s.read.parquet(s"$dir/documents.parquet"),
      Seq("lang", "source"), k = 4)),

    // acronym comparator sweep: per part, a probe string that is the
    // name's token-initials (key%3=0 -> level 1), the uppercased name
    // (%3=1 -> level 2), or the name plus a stray token (%3=2 -> level
    // 0) — all three branches and both asymmetric acronym directions are
    // load-bearing in the gamma distribution.
    "q_acronym_levels" -> ((s, dir) => {
      val p = spread(s.read.parquet(s"$dir/part.parquet"))
      val probe = when(pmod(col("p_partkey"), lit(3)) === 0,
        graft.operators.Comparators.acronym(col("p_name")))
        .when(pmod(col("p_partkey"), lit(3)) === 1, upper(col("p_name")))
        .otherwise(concat(col("p_name"), lit(" xq")))
      p.select(col("p_partkey").as("id"),
        graft.operators.Comparators.acronymLevels(col("p_name"), probe)
          .as("gamma"))
    }),

    // SCD-2 versioning of each customer's order-status history:
    // consecutive equal-status runs collapse to versions with
    // valid_from/valid_to chains (open-ended current version) — the
    // run-length-over-time shape (F->O->F = three versions), windows
    // partitioned per entity.
    // (gate face only: the open-ended NULL valid_to becomes a 9999-12-31
    // sentinel — datetime NaT defeats value comparators that only
    // special-case float NaN; the operator itself keeps NULL.)
    "q_scd2" -> ((s, dir) => graft.operators.Temporal.scd2Intervals(
      s.read.parquet(s"$dir/orders.parquet"),
      "o_custkey", "o_orderdate", Seq("o_orderstatus"))
      .withColumn("valid_to", coalesce(col("valid_to"),
        lit(java.sql.Date.valueOf("9999-12-31"))))),

    // Point-in-time (as-of) join: each probe fetches the customer's
    // order-status SCD-2 version current at the probe timestamp — the
    // union + ONE-entity-window formulation (no range join, one shuffle
    // keyed by entity). Probe timestamps are derived deterministically
    // from event_id to span BEFORE the first version (unmatched → NULL
    // payload), inside the history (mid-chain lookups), and exactly ON
    // version dates (the >= tie rule — a probe at valid_from sees that
    // version). Payload carries (version, o_orderstatus) with the
    // ordinal FIRST so same-day duplicate versions collapse to the
    // latest deterministically; oracle is DuckDB's NATIVE ASOF LEFT
    // JOIN over the identically-deduped version frame — independent
    // semantics, not a replay.
    // (gate face only: NULL matched valid_from → 1900-01-01 sentinel —
    // datetime NaT defeats value comparators; the operator keeps NULL.)
    "q_asof_join" -> ((s, dir) => {
      val versions = graft.operators.Temporal.scd2Intervals(
        s.read.parquet(s"$dir/orders.parquet"),
        "o_custkey", "o_orderdate", Seq("o_orderstatus"))
        .select(col("o_custkey"), col("version"), col("o_orderstatus"),
          col("valid_from").cast("timestamp").as("valid_from"))
      val probes = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          date_add(lit(java.sql.Date.valueOf("1993-01-01")),
            pmod(col("event_id") * 7919, lit(3650)).cast("int"))
            .cast("timestamp").as("ts"))
      graft.operators.Temporal.asOfJoin(probes, "user_id", "ts",
        versions, "o_custkey", "valid_from",
        Seq("version", "o_orderstatus"))
        .withColumn("valid_from", coalesce(col("valid_from"),
          lit(java.sql.Timestamp.valueOf("1900-01-01 00:00:00"))))
    }),

    // Instance-based schema matching customer vs supplier: value-set
    // overlap finds the comparable columns from the data alone —
    // nationkeys align at jaccard 1.0, entity keys show containment
    // without domain identity, names stay (near-)disjoint.
    "q_schema_match" -> ((s, dir) => graft.operators.Profiling
      .columnValueOverlap(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"),
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name"))),

    // Schema matching at the 100 TB shape: the same customer-vs-supplier
    // column pairs as q_schema_match, but from HLL REGISTERS only — the
    // gate face is the exact integer aggregates of each side and of the
    // bucket-wise-max union sketch (9 pairs x 6 integers); the
    // ln-corrected inclusion-exclusion estimates over them are
    // spec-pinned (ProfilingSpec) because ln is libm-dependent.
    "q_hll_overlap" -> ((s, dir) => graft.operators.Profiling.hllOverlapRaw(
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"), p = 12),
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name"), p = 12), p = 12)),

    // Functional-dependency audit over part: the key FD holds
    // (p_partkey -> p_brand), the two attribute FDs are violated —
    // group counts, rates, violating-row mass and the pinned smallest
    // violating lhs are all hash-checked.
    "q_fd_audit" -> ((s, dir) => graft.operators.Profiling.fdViolations(
      s.read.parquet(s"$dir/part.parquet"),
      Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
        ("p_type", "p_size")))),

    // Engine-pinned HyperLogLog register table (sha256 double-hash,
    // bucket = h1 mod 2^12, rho = 33 - bitlen(h2)) over the full-
    // cardinality doc_id column — every register value is hash-checked,
    // so a bucket-assignment or leading-zero-count slip anywhere
    // mismatches. This is the mergeable/persistable sketch artifact;
    // the estimate face is gated separately below.
    "q_hll_registers" -> ((s, dir) => graft.operators.Profiling.hllRegisters(
      s.read.parquet(s"$dir/documents.parquet"), Seq("doc_id"), p = 12)),

    // HLL raw-estimate face over four documents columns spanning three
    // cardinality regimes (5 langs / 20 sources / n_docs ids+texts):
    // n_seen, v_zero, the exact integer Sigma 2^(33-rho) scaling, the
    // one pinned IEEE raw-estimate expression, and the correction flag.
    // ln()-corrected estimates are deliberately NOT here (libm differs
    // across engines) — they are spec-pinned in ProfilingSpec.
    "q_hll_profile" -> ((s, dir) => graft.operators.Profiling.hllRawEstimate(
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "lang", "source", "text"), p = 12), p = 12)),

    // KMV sketch over the same four documents columns: the k-minimum-
    // values face next to HLL — k smallest distinct 60-bit sha hashes
    // per column, exact longs end to end (no unsigned wraparound, no
    // ln anywhere). lang/source land in the exact regime (n < k, the
    // sketch IS the value set); doc_id/text exercise the estimator
    // regime. InferWindowGroupLimit sends <= k rows per column out of
    // every map task.
    "q_kmv_sketch" -> ((s, dir) => graft.operators.Profiling.kmvSketch(
      s.read.parquet(s"$dir/documents.parquet"),
      Seq("doc_id", "lang", "source", "text"), k = 64)),

    // KMV merge + estimate: per-table custkey sketches built
    // INDEPENDENTLY over customer and orders, merged (k smallest of the
    // union — the associative dedup-invariant combine), then estimated:
    // n_seen / u_k exact integers, est_distinct = (k-1)*2^60/u_k as ONE
    // pinned IEEE expression ((k-1)*2^60 is exactly representable).
    // The documents sketches ride along so the exact regime (n < k,
    // est = n) is gated too. Oracle rebuilds the merged sketch from the
    // UNION of distinct values — equality IS the KMV merge property.
    "q_kmv_estimate" -> ((s, dir) => {
      val skC = graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("custkey")), Seq("custkey"), k = 128)
      val skO = graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_custkey").as("custkey")), Seq("custkey"), k = 128)
      graft.operators.Profiling.kmvEstimate(
          graft.operators.Profiling.kmvMerge(skC, skO, 128), 128)
        .unionAll(graft.operators.Profiling.kmvEstimate(
          graft.operators.Profiling.kmvSketch(
            s.read.parquet(s"$dir/documents.parquet"),
            Seq("lang", "source", "doc_id"), k = 64), 64))
    }),

    // KMV schema matching customer-vs-supplier (the q_schema_match /
    // q_hll_overlap column grid): per pair the union sketch is the k
    // smallest of the two sketches' union, n_common counts union-sketch
    // members present in BOTH sides — DIRECT intersection estimation
    // (no inclusion-exclusion, cannot go negative), every output an
    // exact integer or one pinned IEEE expression, fully hash-graded
    // (unlike HLL whose corrected overlap face is spec-pinned).
    "q_kmv_overlap" -> ((s, dir) => graft.operators.Profiling.kmvOverlap(
      graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"), k = 128),
      graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name"), k = 128),
      k = 128)),

    // Incremental golden-record maintenance: previous canonical frame
    // built WITHOUT the batch (doc_id % 64 == 0 held out), then
    // goldenRecordsIncremental folds the batch in by recomputing only
    // the 1-in-4 touched clusters (component = doc_id/16) and keeping
    // the other golden rows verbatim. Hash-checked against a FULL
    // re-derivation over the whole corpus: incremental is a cost
    // refactoring, not new semantics.
    "q_golden_incremental" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      def asgOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id").as("id"),
          floor(col("doc_id") / 16).cast("long").as("component"))
      val rules = Seq("text" -> "longest", "lang" -> "mode",
        "source" -> "min", "n_chars" -> "max")
      val oldDocs = d.where(pmod(col("doc_id"), lit(64)) =!= 0)
      val prev = graft.operators.Canonicalize.goldenRecords(
        records.where(pmod(col("id"), lit(64)) =!= 0), asgOf(oldDocs), "id",
        rules = rules)
      graft.operators.Canonicalize.goldenRecordsIncremental(prev,
        asgOf(oldDocs), asgOf(d), records, "id", rules = rules)
    }),

    // Source-trust survivorship: the prefer:<priorityCol> rule — each
    // cluster's canonical text comes from its smallest-priority record
    // (curated beats crawled), ties to the smallest value, null values
    // never shadowing populated lower-trust ones. One min-combinable
    // struct aggregate; the oracle replays it as an argmin window.
    "q_golden_priority" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        length(col("source")).as("prio"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.goldenRecords(records, assignment, "id",
        rules = Seq("text" -> "prefer:prio"))
    }),

    // Adjusted Rand Index (Hubert-Arabie): chance-corrected pair-counting
    // agreement between two partitions of the customers (nation vs
    // market segment) — integer sufficient statistics (decimal-folded
    // pair sums), ONE double division at the end.
    "q_adjusted_rand" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Linkage.adjustedRandStats(
        c.select(col("c_custkey").as("id"),
          col("c_nationkey").cast("string").as("cluster_id"),
          col("c_mktsegment").as("truth_id")))
    }),

    // sorted-neighborhood blocking (Hernández-Stolfo): every pair within
    // w consecutive positions of the (c_name, c_custkey) order — the
    // complement of hash blocking. Spark side: range-partitioned global
    // rank (per-partition row_number + broadcast offsets — no
    // single-partition window) + banded equi-join on rank div (w-1);
    // oracle: one row_number window + a rank-distance self-join.
    "q_sorted_neighborhood" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("sk"))
      graft.operators.Linkage.sortedNeighborhoodPairs(c, "id", "sk", window = 5)
    }),

    // two-corpus linkage (A vs B — crawl-vs-registry shape): customer and
    // supplier names blocked on nationkey, composite JW+Dice score ≥ θ;
    // per-key pair product capped (mirrored in the oracle's sized CTE)
    "q_link_tables" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("bk"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").as("bk"))
      graft.operators.Linkage.linkTables(cust, supp, "id", "name", "bk",
        theta = 1.0, bucketPairCap = 1000000L)
    }),

    // Decision-threshold sweep over the two-corpus linkage: P/R/F1 at ten
    // θ values against suffix-equality truth (Customer#…001 ↔
    // Supplier#…001), in ONE pass (explode over the θ literals, map-side
    // combined). Truth pairs blocked apart (different nationkey) never
    // reach the scorer and surface as irreducible fn — the recall ceiling
    // blocking imposes, which is exactly what the curve should show.
    "q_threshold_sweep" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("bk"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").as("bk"))
      val scored = graft.operators.Linkage.linkTables(cust, supp, "id",
        "name", "bk", theta = 1.0, bucketPairCap = 1000000L)
      val labeled = cust
        .select(col("id").as("id_l"), substring(col("name"), -9, 9).as("__sfx"))
        .join(supp.select(col("id").as("id_r"),
          substring(col("name"), -9, 9).as("__sfx")), "__sfx")
        .select(col("id_l"), col("id_r"))
      graft.operators.Linkage.thresholdSweep(scored, labeled,
        Seq(1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9))
    }),

    // ROC operating curve of the two-corpus linkage scorer vs
    // suffix-equality truth: one row per distinct score (cumulative
    // tp/fp, exact tpr/fpr divisions). The cumulative counts use the
    // distributed range-partition + broadcast-offset prefix sum — no
    // corpus-sized single-partition window (PipelinePlanSpec-checked
    // discipline), while the oracle can afford the plain window.
    "q_roc_curve" -> ((s, dir) => {
      val (scored, labeled) = rocInputs(s, dir)
      graft.operators.Evaluation.rocCurve(scored, labeled)
    }),

    // Exact Mann-Whitney AUC (half-credit ties) of the same scorer, in
    // all-integer decimal(38,0) arithmetic with ONE final division —
    // bit-reproducible by the oracle's HUGEINT fold.
    "q_roc_auc" -> ((s, dir) => {
      val (scored, labeled) = rocInputs(s, dir)
      graft.operators.Evaluation.auc(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    }),

    // Precision-recall curve of the same scorer — the operating view that
    // stays informative under the blocking-candidate class imbalance ROC
    // flatters (fp moves fpr microscopically but craters precision). Pure
    // projection over the rocCurve cell frame; precision's denominator is
    // the cumulative count at s (never 0), recall re-emits tpr.
    "q_pr_curve" -> ((s, dir) => {
      val (scored, labeled) = rocInputs(s, dir)
      graft.operators.Evaluation.prCurve(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    }),

    // Average precision (area under the step PR curve): the per-threshold
    // division is irreducible, so the scalar is a SEQUENTIAL IEEE fold
    // over the score-DESC cell frame — term order and op order pinned,
    // replayed by the oracle as an ordered list_reduce left fold.
    "q_avg_precision" -> ((s, dir) => {
      val (scored, labeled) = rocInputs(s, dir)
      graft.operators.Evaluation.averagePrecision(
        graft.operators.Evaluation.rocCurve(scored, labeled))
    }),

    // Pay-as-you-go (progressive) recall curve: sorted-neighborhood
    // pairs consumed in (window-distance, rank) order, recall banked at
    // four pair budgets — the curve that justifies early-stopping a
    // 10^12-pair progressive-ER job. Rank assignment is the distributed
    // globalRanked discipline; the per-budget counts are one exploded
    // map-side-combined pass (thresholdSweep-shaped).
    "q_progressive_recall" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("nk"))
      val pairs = graft.operators.Linkage.sortedNeighborhoodPairs(
        c, "id", "name", window = 4)
      val ranked = graft.operators.Evaluation.progressiveRank(pairs,
        col("rank_b") - col("rank_a"),
        col("rank_a") * 1048576L + col("rank_b"))
      val labeled = c.select(col("id").as("id_a"), col("nk"),
          substring(col("name"), -2, 2).as("__s2"))
        .join(c.select(col("id").as("id_b"), col("nk"),
          substring(col("name"), -2, 2).as("__s2")), Seq("nk", "__s2"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      graft.operators.Evaluation.progressiveCurve(
        ranked.select(col("id_a"), col("id_b"), col("rank")), labeled,
        Seq(500L, 2000L, 8000L, 50000L))
    }),

    // Symmetric best match over the two-corpus linkage: keep (l, r) only
    // when each is the other's top-scoring candidate (ties broken by the
    // opposite id) — the one-to-one post-filter for A-vs-B linkage.
    // InferWindowGroupLimit turns both argmax windows into per-group
    // top-1 limits before their shuffles.
    "q_best_match" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("bk"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").as("bk"))
      // symmetricBestMatches reads the scored frame twice (one argmax
      // window per side)
      val scored = Frames.shared(graft.operators.Linkage.linkTables(cust,
        supp, "id", "name", "bk", theta = 1.0, bucketPairCap = 1000000L))
      graft.operators.Linkage.symmetricBestMatches(scored)
    }),

    // Greedy one-to-one matching (unique-mapping decision rule): iterate
    // locally-dominant mutual-best rounds until the scored pair set
    // drains — exactly the sequential sort-by-score greedy matching,
    // computed in O(rounds) distributed passes. The oracle replays the
    // SAME rounds as a recursive CTE (layered windows over the working
    // table), so round count, tie-breaks, and the final matching are all
    // hash-grade.
    "q_greedy_matches" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_nationkey").as("bk"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          col("s_nationkey").as("bk"))
      val scored = graft.operators.Linkage.linkTables(cust, supp, "id",
        "name", "bk", theta = 1.0, bucketPairCap = 1000000L)
      graft.operators.Linkage.greedyMatches(scored)
    }),

    // B-cubed sufficient statistics (Bagga-Baldwin cluster-level metric):
    // per-cluster and per-truth-class (n_g, Σ ni²) over the contingency
    // counts of a predicted partition (the capped blocking key) vs a
    // reference partition (name suffix) — all-integer, hash-exact; the
    // scalar B³ P/R/F1 folds from these rows.
    "q_bcubed" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val assigned = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("cluster_id"),
        substring(col("c_name"), 16, 3).as("truth_id"))
      graft.operators.Linkage.bCubedStats(assigned)
    }),

    // Candidate-pair provenance across three key families (nation /
    // name-suffix-2 / conditional segment): each pair once, with the
    // SORTED family set that produced it and its co-occurrence count —
    // the keep-or-retire audit for a blocking scheme. The segment family
    // is sized to clear the cap at sf0.01 and blow it at sf0.1, so the
    // per-family cap rule is exercised both ways.
    "q_pair_provenance" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val f1 = c.select(lit("nk").as("family"),
        col("c_nationkey").cast("string").as("key"),
        col("c_custkey").as("url"))
      val f2 = c.select(lit("sfx2").as("family"),
        substring(col("c_name"), -2, 2).as("key"), col("c_custkey").as("url"))
      val f3 = c.where(col("c_custkey") % 2 === 0)
        .select(lit("seg").as("family"), col("c_mktsegment").as("key"),
          col("c_custkey").as("url"))
      graft.operators.Linkage.pairProvenance(f1.union(f2).union(f3),
        bucketCap = 1000)
    }),

    // Cluster-LEVEL metrics (Menestrina et al.): exact-match cluster
    // precision/recall/F1 plus unit-cost Generalized Merge Distance —
    // whole-cluster counts over the same contingency the pairwise/B³
    // gates weight by records. All-integer folds + exact divisions.
    "q_cluster_metrics" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Evaluation.clusterMetrics(
        c.select(col("c_custkey").as("id"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
            .as("cluster_id"),
          substring(col("c_name"), 16, 3).as("truth_id")))
    }),

    // Cluster-size histogram: the run-over-run dedup dashboard (fattening
    // tail = over-merge, singleton collapse = under-match). Two sizing
    // groupBys; fractions are exact divisions against the broadcast
    // total.
    "q_cluster_profile" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Evaluation.clusterSizeProfile(
        c.select(col("c_custkey").as("id"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
            .as("cluster_id")))
    }),

    // Pairs-completeness / reduction sweep over candidate caps: the
    // PC/RR curve read off BEFORE committing to a bucket cap — per cap,
    // exact pair slots (decimal(38,0)) and how many labeled true pairs
    // the cold tier would still cover (a truth pair survives iff its
    // SMALLEST shared block fits). No pair set is materialized.
    "q_blocking_sweep" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val keys = c.select(col("c_custkey").as("url"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      val a = c.select(col("c_custkey").as("url_a"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val b = c.select(col("c_custkey").as("url_b"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val truePairs = a.join(b, "sfx").where(col("url_a") < col("url_b"))
        .select(col("url_a"), col("url_b"))
      graft.operators.Linkage.blockingQualitySweep(keys, truePairs,
        Seq(5L, 15L, 60L, 1000L))
    }),

    // Fellegi-Sunter probabilistic linkage: EM fits per-field m/u and the
    // match prior λ from UNLABELED comparison-vector pattern counts
    // (γ = name-JW ≥ 0.95, segment equal, acctbal-bracket equal over the
    // nationkey-blocked customer pairs), then scores every pair with the
    // posterior + likelihood ratio. The oracle re-runs the ENTIRE EM — 15
    // unrolled iterations of ordered list_reduce folds over the same 2^3
    // pattern counts — so the fit is hash-grade, not just the scoring
    // projection.
    "q_fellegi_sunter" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        upperLr = 0.5, lowerLr = 0.1)
    }),

    // Pattern audit table: the whole pair corpus collapsed to its ≤ 2^k
    // comparison patterns, each with its count and fitted posterior/lr —
    // the model-sanity view read before trusting per-pair scores.
    "q_fs_pattern_table" -> ((s, dir) => {
      // the model fit and the pattern table both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.patternTable(pairs, fsGammas, model)
    }),

    // Incremental EM refit: pattern counts are ADDITIVE, so the stored
    // counts of the old corpus (persisted through a real parquet
    // write→read) unioned with a new batch's counts refit to the SAME
    // model as a from-scratch fit over all pairs — at per-batch cost.
    // The oracle is exactly q_fellegi_sunter's unrolled EM.
    "q_fs_incremental" -> ((s, dir) => {
      // the old and the batch split both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val old = pairs.where(pmod(col("ka") + col("kb"), lit(3)) =!= 0)
      val batch = pairs.where(pmod(col("ka") + col("kb"), lit(3)) === 0)
      val cDir = java.nio.file.Files
        .createTempDirectory("graft_fs_counts").toString
      deleteTreeOnExit(cDir)
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
    }),

    // Comparison-viewer examples: per observed gamma pattern, the first
    // k pairs in pinned id order — the concrete-record view next to
    // q_fs_pattern_table's counts; the ≤ k filter sits directly above
    // row_number so InferWindowGroupLimit bounds each map task.
    "q_fs_examples" -> ((s, dir) => {
      val pairs = fsGammaPairs(s, dir) // single action — no mat needed
      graft.operators.FellegiSunter.patternExamples(pairs, fsGammas, k = 5)
    }),

    // Splink-style waterfall: per-pair, per-field Bayes-factor
    // decomposition of the fitted likelihood ratio (prior odds × one
    // factor per comparison — the explain-this-match chart). The oracle
    // re-runs the full 15-iteration EM and performs the SAME single
    // division per fitted ratio, so every factor is hash-grade.
    "q_fs_waterfall" -> ((s, dir) => {
      // the model fit and the waterfall both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.waterfall(pairs, fsGammas, model)
    }),

    // Direct u-estimation from hash-sampled RANDOM pairs (Splink's
    // estimate_u_using_random_sampling): u_j = agreement rate among
    // pairs drawn without blocking — blocked pairs over-represent
    // agreement, which is exactly what u must not measure. The sample is
    // the replayable sha256 fraction (rate 0.25, seed 11), the pair set
    // all C(s,2) sample pairs, and each u an integer-count ratio with
    // one final division, so the oracle reproduces it bit-for-bit.
    "q_fs_estimate_u" -> ((s, dir) => {
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
    }),

    // m from pairwise labels (estimateU's dual): agreement rates among
    // the t = 1 labeled matches of the supervised fixture — with
    // q_fs_estimate_u and q_fs_estimate_lambda this completes the
    // EM-free supervised Model(λ, m, u) path.
    "q_fs_estimate_m" -> ((s, dir) =>
      graft.operators.FellegiSunter.estimateMFrame(s,
        supervisedPairs(s, dir).where(col("t") === 1), fsGammas)),

    // Fit-once/score-many seam: fit, PERSIST the model (parquet), reload,
    // score+classify with the reloaded model — must hash-match the
    // in-memory q_fellegi_sunter path exactly (parquet doubles are IEEE
    // binary, so the round-trip is bit-exact by construction).
    // Match-weight histogram (the Splink diagnostic chart): EM-fitted
    // likelihood ratios binned by POWERS OF TWO via exact-literal
    // comparisons (bin e = ⌊log₂ lr⌋ without ever calling log), zero
    // bins included, open tails as sentinel bins.
    "q_match_weight_hist" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.matchWeightHistogram(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        minExp = -10, maxExp = 10)
    }),

    // Score-distribution drift between two "runs" (ka-parity halves of
    // the scored pairs under ONE fitted model): per bin, counts, exact
    // shares, and the pinned-order share ratio — the monitoring table a
    // PSI/KL alarm reads run-over-run.
    "q_score_drift" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val scored = graft.operators.FellegiSunter.score(pairs, fsGammas, model)
      graft.operators.FellegiSunter.histogramDrift(
        graft.operators.FellegiSunter.matchWeightHistogram(
          scored.where(col("ka") % 2 === 0), minExp = -10, maxExp = 10),
        graft.operators.FellegiSunter.matchWeightHistogram(
          scored.where(col("ka") % 2 =!= 0), minExp = -10, maxExp = 10))
    }),

    // SUPERVISED match-weight learning (the labeled-data complement to
    // the EM fit): batch gradient descent over the ≤ 2^(k+1) (pattern,
    // label) sufficient cells with the RATIONAL softsign link — pure
    // field arithmetic, so the oracle re-runs the ENTIRE 15-step descent
    // in SQL (chained 1-row weight CTEs + ordered list_reduce gradient
    // folds) and both the weights and every scored pair are hash-grade.
    "q_supervised_weights" -> ((s, dir) => {
      val pairs = supervisedPairs(s, dir) // fit's cell agg is the only action
      val m = graft.operators.SupervisedWeights.fit(pairs,
        fsGammas, "t", eta = 0.5, iters = 15)
      graft.operators.SupervisedWeights.weightsFrame(s, fsGammas, m)
    }),

    "q_supervised_score" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(supervisedPairs(s, dir))
      val m = graft.operators.SupervisedWeights.fit(pairs,
        fsGammas, "t", eta = 0.5, iters = 15)
      graft.operators.SupervisedWeights.score(pairs, fsGammas, m)
    }),

    "q_fellegi_sunter_persisted" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val mDir = java.nio.file.Files
        .createTempDirectory("graft_fs_model").toString
      deleteTreeOnExit(mDir)
      graft.operators.FellegiSunter.saveModel(s, model, mDir)
      val reloaded = graft.operators.FellegiSunter.loadModel(s, mDir)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, reloaded),
        upperLr = 0.5, lowerLr = 0.1)
    }),

    // FS 1969 error-rate-driven thresholds: upper/lower lr cut points
    // DERIVED from the fitted model for target false-match rate mu and
    // false-non-match rate lambda (not caller-guessed) — the oracle
    // re-derives the same thresholds from its own EM re-fit via ordered
    // error-mass folds over all 2^k patterns.
    "q_fellegi_sunter_calibrated" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val (up, lo) = graft.operators.FellegiSunter.calibrate(model,
        mu = 0.08, lambdaErr = 0.25)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model), up, lo)
    }),

    // Uncertainty sampling (active learning): the 100 pairs whose fitted
    // posterior sits closest to 1/2 — the review queue an interactive ER
    // trainer asks about next. Plans as TakeOrderedAndProject (bounded
    // per-partition top-k), and the oracle replays the same EM + margin
    // ordering with LIMIT.
    "q_fs_uncertain" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      graft.operators.FellegiSunter.uncertaintySample(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model), k = 100)
    }),

    // Missing-data FS: every 7th pair's acctbal gamma is unobserved
    // (NULL). Fit is complete-case (EM over fully-observed pairs only);
    // scoring treats NULL as evidence-free — factor 1.0 in both
    // likelihoods (Splink's null level). The oracle replays the filtered
    // EM and the null-aware scoring projection.
    "q_fs_missing" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir).withColumn("g2",
        when((col("ka") + col("kb")) % 7 === 0, lit(null).cast("long"))
          .otherwise(col("g2"))))
      val model = graft.operators.FellegiSunter.fit(
        pairs.where(col("g2").isNotNull), fsGammas, iters = 15)
      graft.operators.FellegiSunter.classify(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        upperLr = 0.5, lowerLr = 0.1)
    }),

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
    "q_fs_comparators" -> ((s, dir) => {
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
    }),

    // Geographic comparison levels (Splink's distance-in-km shape):
    // deterministic synthetic coordinates from integer key arithmetic
    // plus binary-exact fractions (0.25/0.5 quarters — no decimal
    // rounding ambiguity), haversine-banded at 100 km / 2000 km. The
    // gate hashes LEVELS (integers), which are robust to sub-ULP libm
    // drift between engines everywhere except exactly AT a band
    // boundary — the synthetic coordinates keep distances far from both.
    "q_comparator_geo" -> ((s, dir) => {
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
    }),

    // Multi-value (array) comparison levels: part-name token arrays,
    // leveled by the count of DISTINCT shared tokens (Splink's
    // array-intersection shape for emails/aliases). The oracle counts
    // the same distinct-token intersection relationally.
    "q_comparator_array" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        graft.operators.Comparators.arrayIntersectLevels(
          split(col("na"), " "), split(col("nb"), " "),
          Seq(1, 2, 3)).as("g_arr"))),

    // Temporal record linkage: same-user/same-type event pairs scored by
    // Jaro-Winkler over props, decayed RATIONALLY by timestamp distance
    // (sim / (1 + Δt/τ), τ = 7 days) — pure field arithmetic, so the
    // decayed score is bit-exact across engines where an exponential
    // decay would inherit libm exp() drift (the log-free rational-idf
    // lesson applied to time).
    "q_temporal_decay" -> ((s, dir) => {
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
    }),

    // Deterministic decision-rule cascade: ordered named rules, first
    // match wins, with (rule, rule_rank) provenance — the rule-based
    // pre-pass a production linkage runs before probabilistic scoring.
    // One when-chain projection; the oracle replays the identical CASE.
    "q_rule_cascade" -> ((s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
      val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
        col("c_mktsegment").as("sa"), col("c_acctbal").as("aa"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
        col("c_mktsegment").as("sb"), col("c_acctbal").as("ab"),
        col("c_nationkey").as("nk"))
      val pairs = a.join(b, "nk").where(col("ka") < col("kb"))
      val jw = jaro_winkler_sim(col("na"), col("nb"))
      graft.operators.Linkage.ruleCascade(pairs, Seq(
          "name_sfx3" -> (substring(col("na"), -3, 3) ===
            substring(col("nb"), -3, 3)),
          "jw_segment" -> (jw >= 0.97 && col("sa") === col("sb")),
          "jw_bal" -> (jw >= 0.95 &&
            floor(col("aa") / 1000.0) === floor(col("ab") / 1000.0))))
        .select(col("ka"), col("kb"), col("rule"), col("rule_rank"))
    }),

    "q_fellegi_sunter_levels" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsLevelPairs(s, dir))
      val model = graft.operators.FellegiSunter.fitLevels(pairs,
        Seq("g0", "g1", "g2"), Seq(3, 3, 2), iters = 15)
      graft.operators.FellegiSunter.scoreLevels(pairs,
        Seq("g0", "g1", "g2"), model)
    }),

    // Term-frequency-adjusted Fellegi-Sunter (Winkler 1988 / Splink's
    // headline feature): agreeing on a RARE segment is stronger evidence
    // than on a common one — pairs agreeing on g1 get lr scaled by
    // u1 / tf(segment). The oracle replays the EM AND the tf join.
    "q_fellegi_sunter_tf" -> ((s, dir) => {
      // the model fit and the scoring pass both read the pairs
      val pairs = Frames.shared(fsGammaPairs(s, dir, withSeg = true))
      val model = graft.operators.FellegiSunter.fit(pairs, fsGammas, iters = 15)
      val tf = graft.operators.FellegiSunter.termFrequencies(
        s.read.parquet(s"$dir/customer.parquet"), "c_mktsegment")
      graft.operators.FellegiSunter.tfAdjustLr(
        graft.operators.FellegiSunter.score(pairs, fsGammas, model),
        model, fieldIndex = 1, gammaCol = "g1", valueCol = "seg_a", tf = tf)
        .drop("seg_a")
    }),

    // Phonetic (Soundex) blocking key over part names — the third blocking
    // family next to equi-key and sorted-neighborhood; pinned
    // H/W-transparent American Soundex from a translate/regexp_replace
    // chain the oracle replays verbatim (shared Java∩RE2 dialect, no
    // backreferences).
    "q_phonetic_block" -> ((s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.soundexKey(col("p_name")).as("sdx"))),

    // Refined Soundex (the Commons-Codec ten-class table): finer buckets
    // than classic Soundex — no length cap, vowel 0s kept as separators —
    // the precision-leaning member of the phonetic-key family (classic
    // Soundex's 4-char keys become scale-hostile hot blocks on large
    // corpora; refined keys split them). Oracle replays the identical
    // translate + per-digit run-collapse chain.
    "q_refined_soundex" -> ((s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.refinedSoundexKey(col("p_name")).as("rsdx"))),

    // Caverphone 2.0 blocking key — the published rewrite chain replayed
    // from ONE shared rule table on both engines (Spark foldLeft of
    // codegen regexp_replace; oracle = the same fold rendered as nested
    // DuckDB regexp_replace with 'g').
    "q_caverphone_block" -> ((s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.caverphoneKey(col("p_name")).as("cvp"))),

    // Suffix-array blocking (round 5, Aizawa-Oyama): every >= 8-char tail
    // of the part name is a key; blocks > 400 members removed (part of
    // the method — a suffix that common is signal-free — and the cap path
    // is exactly what the oracle's HAVING replays; it bites at sf0.1,
    // where the hottest tails reach ~958 members — the part vocabulary is
    // tiny, so block sizes scale with the corpus). Catches shared-tail
    // variation both equi-key and phonetic blocking miss.
    "q_suffix_block" -> ((s, dir) => graft.operators.Linkage.suffixBlockKeys(
      s.read.parquet(s"$dir/part.parquet"), "p_partkey", "p_name",
      minLen = 8, maxBlockSize = 400)),

    // Blocking quality metrics: reduction ratio + pairs completeness of
    // the capped mktsegment:nationkey blocking, with name-suffix equality
    // as the labeled true-pair set — the go/no-go numbers for a blocking
    // scheme before anything downstream runs at scale.
    "q_blocking_quality" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val keys = c.select(col("c_custkey").as("url"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      val cand = graft.operators.Linkage.candidatePairs(keys, bucketCap = 15,
        hardCap = 15)
      val a = c.select(col("c_custkey").as("url_a"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val b = c.select(col("c_custkey").as("url_b"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val truePairs = a.join(b, "sfx").where(col("url_a") < col("url_b"))
        .select(col("url_a"), col("url_b"))
      graft.operators.Linkage.blockingQuality(c, cand, truePairs)
    }),

    // label-free dual-system recall estimation: the SAME 0.94 matcher
    // run over two evidence-disjoint blockings (nation key vs a
    // name-substring key) — the overlap of the two accepted-pair sets
    // drives Lincoln-Petersen/Chapman population estimates; both
    // captures are real at both sf, and neither covers the other, so
    // every estimate column is load-bearing.
    // collective-linkage evidence: customer pairs sharing >= 3 distinct
    // parts across their orders (bipartite common-neighbor link
    // prediction) — raw counts plus degree-normalized neighborhood
    // Jaccard; parts bought by > 30 customers route through the salted
    // grid (lossless, tier-2-exercising at gate scale).
    "q_common_neighbors" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ent"), col("l_partkey").as("nb"))
      graft.operators.Linkage.commonNeighborPairs(edges, "ent", "nb",
        minCommon = 3, bucketCap = 30, saltGroups = 8)
    }),

    "q_capture_recapture" -> ((s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
      val capA = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      val a2 = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val b2 = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
        substring(col("c_name"), 16, 3).as("sfx"))
      val capB = a2.join(b2, "sfx")
        .where(col("ka") < col("kb") && col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Linkage.captureRecapture(capA, capB)
    }),

    // composite scoring + threshold (stage: pairwise scoring, JW + Dice)
    "q_match_pairs" -> ((s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        (jaro_winkler_sim(col("na"), col("nb")) +
          sorensen_dice_sim(col("na"), col("nb"))).as("score"))
      .where(col("score") >= 1.75)
      .select(col("ka"), col("kb"))),

    // levenshtein_within used for its stated purpose: a banded
    // O(k·len) admission filter BELOW the composite projection —
    // candidates beyond edit distance 8 never evaluate JW/Dice (the
    // plan order is spec-asserted). Runs through the real
    // Linkage.scoreWithPrefilter path; the oracle applies the identical
    // distance cut (part names are ASCII, so DuckDB's byte levenshtein
    // IS the kernel's code-point distance).
    "q_match_pairs_prefiltered" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      val extracted = p.select(col("p_partkey").as("url"),
        col("p_name").as("name_norm"))
      val prs = partPairs(s, dir)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Linkage.scoreWithPrefilter(prs, extracted, maxDist = 8)
        .where(col("score") >= 1.75)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    }),

    // transitive clustering (stage: large-star/small-star connected
    // components; exercises graft.operators.ConnectedComponents)
    "q_connected_components" -> ((s, dir) => {
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka"), col("kb"))
      graft.operators.ConnectedComponents.run(edges)
    }),

    // synchronous label propagation (3 pinned rounds, neighbor-majority,
    // min-label ties) over the SAME match graph as
    // q_connected_components — community structure instead of reach;
    // the oracle unrolls all 3 vote/argmax/carry rounds.
    "q_label_propagation" -> ((s, dir) => {
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka"), col("kb"))
      graft.operators.ConnectedComponents.labelPropagation(edges, rounds = 3)
    }),

    // Weakest-link review queue: for every cluster of the
    // q_connected_components world, the lowest-scoring intra-cluster
    // edge (argmin with pinned ties) plus the intra-edge count — the
    // first split a reviewer probes when transitive chaining is
    // suspected. Oracle: the same recursive-CTE CC plus an argmin
    // window over the scored edges.
    "q_weakest_links" -> ((s, dir) => {
      // scored feeds both CC and the weakest-link fold
      val scored = Frames.shared(customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka"), col("kb"),
          levenshtein_sim(col("na"), col("nb")).as("score")))
      val asg = graft.operators.ConnectedComponents.run(
        scored.select(col("ka"), col("kb")))
      graft.operators.Linkage.weakestLinks(scored, asg, "id",
        clusterCol = "component")
    }),

    // Near-miss review queue — the dual of q_weakest_links: scored pairs
    // just BELOW the 0.94 match threshold (2-edit name pairs, s ≈ 0.889)
    // whose endpoints landed in DIFFERENT clusters of the
    // q_connected_components world, top-3 per cluster pair with the
    // cross-edge count. The assignment is COMPLETED with singleton
    // clusters (id → own id for never-matched records — the EntityIds
    // convention the operator documents), so a near miss between two
    // unmatched records is in the queue too. The ≤ k filter sits
    // directly above row_number (InferWindowGroupLimit); ≥ 0.94 pairs
    // are intra-cluster by construction so only true near misses
    // survive.
    "q_near_misses" -> ((s, dir) => {
      // scored feeds CC AND the near-miss queue
      val scored = Frames.shared(customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.88)
        .select(col("ka"), col("kb"),
          levenshtein_sim(col("na"), col("nb")).as("score")))
      val cc = graft.operators.ConnectedComponents.run(
        scored.where(col("score") >= 0.94).select(col("ka"), col("kb")))
      val asg = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
        .join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id"))
          .as("component"))
      graft.operators.Linkage.nearMissPairs(scored, asg, "id",
        clusterCol = "component", k = 3)
    }),

    // Splink-style graph QA, node level: per-record degree in the
    // verified match graph. The assignment (segment:nation) is COARSER
    // than the edge generator's blocking (nation), so name-similarity
    // edges crossing segments are cross-cluster and must be excluded —
    // the intra-cluster filter is load-bearing, and edgeless records
    // surface with degree 0 rather than vanishing.
    "q_node_degrees" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.nodeDegrees(asg, edges)
    }),
    // Cluster level of the same graph: integer sufficient statistics
    // (n_nodes, n_edges, max_degree) + density and Freeman degree
    // centralisation as pinned-order double ratios (NULL below their
    // n-floors). Edgeless clusters are rows, not absences.
    "q_graph_metrics" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.graphMetrics(asg, edges)
    }),
    // Edge level of the same graph: is_bridge per normalized intra
    // edge (removal disconnects the cluster) — per-cluster iterative
    // Tarjan distributed over groups; the fixture graph has real cycles
    // at both sf, so both flag values are load-bearing.
    "q_bridge_edges" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.bridgeEdges(asg, edges)
    }),
    // Node level: articulation records (cut vertices) — a record whose
    // removal splits its cluster, flagged even when none of its edges
    // is a bridge (the shared-bad-row over-merge culprit); one shared
    // Tarjan pass with q_bridge_edges' operator.
    "q_articulation" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.articulationRecords(asg, edges)
    }),
    // Unlinkables curve (Splink's unlinkables_chart for a candidate-pair
    // world): per θ, the share of RECORDS with no incident scored pair
    // ≥ θ. The 0.86 candidate floor leaves many customers with no pair
    // at all (best = NULL), so the no-evidence path is live at both sf.
    "q_unlinkables" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val recs = c.select(col("c_custkey").as("url"))
      val scored = customerPairs(s, dir)
        .where(col("na") =!= col("nb"))
        .select(col("ka").as("url_a"), col("kb").as("url_b"),
          jaro_winkler_sim(col("na"), col("nb")).as("score"))
        .where(col("score") >= 0.86)
      graft.operators.Linkage.unlinkables(recs, scored,
        Seq(0.86, 0.90, 0.94, 0.97, 0.99))
    }),

    // Evidence-based prior: λ estimated from a deterministic
    // high-precision rule (name-suffix equality, assumed recall 0.8) —
    // rule pairs are COUNTED via one groupBy (Σ C(g,2), decimal-exact),
    // never materialized, then λ = pairs / (recall · C(n,2)) with
    // pinned division order.
    "q_fs_estimate_lambda" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.FellegiSunter.estimateLambdaFrame(s, c,
        substring(col("c_name"), 16, 3), recall = 0.8)
    }),

    // Dynamic blocking (hierarchical key extension): over-cap blocks
    // split by the next key part instead of being dropped/salted. cap=100
    // makes the settle depth DATA-DEPENDENT: at sf0.01 segment:nation
    // blocks fit (depth 1); at sf0.1 they are ~240 strong and descend to
    // the name-suffix depth 2 — the oracle replays all three sizing
    // levels and the coarsest-fitting-depth rule.
    "q_dynamic_block" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Linkage.dynamicBlockKeys(c, "c_custkey",
        Seq(col("c_mktsegment"), col("c_nationkey"),
          substring(col("c_name"), -1, 1)), cap = 100L)
    }),

    // Adaptive sorted neighborhood (Yan et al.): segment the name-sorted
    // order at every adjacency whose keys drop below JW 0.75, pair within
    // segments (via candidatePairs' 3-tier skew contract — lossless
    // tiers, so the oracle is tier-blind: rank, lag-join boundary flags,
    // running-sum segments, per-segment self-join).
    "q_adaptive_snm" -> ((s, dir) =>
      graft.operators.Linkage.adaptiveSortedNeighborhoodPairs(
        s.read.parquet(s"$dir/part.parquet")
          .where(col("p_partkey") % 2 === 0)
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        "id", "name", theta = 0.75)),

    // MUC link-edit metric over the SAME predicted/truth partitions as
    // q_bcubed — integer numerators/denominators, exact divisions.
    "q_muc" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val assigned = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("cluster_id"),
        substring(col("c_name"), 16, 3).as("truth_id"))
      graft.operators.Linkage.mucStats(assigned)
    }),

    // Cluster-generation diff: two deterministic clusterings of customer
    // engineered to produce all four cell kinds — stable singletons
    // (id % 11), a merge family (singleton olds absorbed into one new,
    // id % 13), a split family (one old carved into singleton news,
    // id % 7), and segment/nation reshuffle cells for the rest.
    "q_cluster_diff" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val oldA = c.select(col("c_custkey").as("id"),
        when(col("c_custkey") % 11 === 0, concat(lit("st:"), col("c_custkey")))
          .when(col("c_custkey") % 13 === 0, concat(lit("mg:"), col("c_custkey")))
          .when(col("c_custkey") % 7 === 0, lit("sp:grp"))
          .otherwise(concat(col("c_mktsegment"), lit(":"),
            col("c_nationkey") % 3)).as("cluster_id"))
      val newA = c.select(col("c_custkey").as("id"),
        when(col("c_custkey") % 11 === 0, concat(lit("st:"), col("c_custkey")))
          .when(col("c_custkey") % 13 === 0, lit("mg:all"))
          .when(col("c_custkey") % 7 === 0, concat(lit("sp:"), col("c_custkey")))
          .otherwise(concat(col("c_nationkey") % 3, lit(":"),
            when(col("c_acctbal") >= 0, lit("p")).otherwise(lit("n"))))
          .as("cluster_id"))
      graft.operators.Linkage.clusterDiff(oldA, newA, "id")
    }),

    // Partition-agreement metrics (Rand / Fowlkes-Mallows / Talburt-Wang
    // + raw pair confusion counts) over the SAME predicted/truth
    // partitions as q_muc/q_bcubed — integer contingency sums in
    // decimal(38,0), the only rounding the final IEEE division/sqrt.
    "q_partition_agreement" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val assigned = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("cluster_id"),
        substring(col("c_name"), 16, 3).as("truth_id"))
      graft.operators.Linkage.partitionAgreementStats(assigned)
    }),

    // Canopy clustering (McCallum-Nigam-Ungar) over the nationkey-blocked
    // customer pairs with normalized-Levenshtein as the cheap metric:
    // loose t1 = 0.88 (≤2 edits on the fixed-length names), tight
    // t2 = 0.94 (≤1 edit). Overlapping membership: centers = greedy MIS
    // of the tight graph in the LCG visit order; a record joins every
    // center picked while it was still on the candidate list. The oracle
    // replays the MIS rounds recursively plus the removal-rank joins.
    "q_canopies" -> ((s, dir) => {
      val pairs = customerPairs(s, dir)
        .select(col("ka").as("ia"), col("kb").as("ib"),
          levenshtein_sim(col("na"), col("nb")).as("sim"))
      graft.operators.Canopy.canopies(pairs, t1Loose = 0.88, t2Tight = 0.94)
    }),

    // Pivot correlation clustering (KwikCluster) over the SAME match
    // edges as q_connected_components — the chaining-resistant clustering
    // alternative: clusters are stars around deterministic-rank pivots,
    // so a~b~c with no a~c edge yields {a,b} {c} (or {b-pivot star}), not
    // one merged component. The oracle replays the parallel greedy-MIS
    // rounds (two window layers per round over the working table) and the
    // min-rank-pivot claim, using the identical LCG rank mix.
    "q_pivot_clusters" -> ((s, dir) => {
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka"), col("kb"))
      graft.operators.PivotClustering.run(edges)
    }),

    // MinHash band keys (stage: secondary blocking). Driven with the
    // sha256 hash family so DuckDB reproduces the ENTIRE signature+banding
    // pipeline bit-exactly (same operator code path as the xxhash64
    // production family — only the hash function is swapped).
    "q_minhash_band_keys" -> ((s, dir) => {
      val ex = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").cast("string").as("url"),
          regexp_replace(lower(col("p_name")), "[^a-z]", "").as("name_norm"))
      graft.operators.Linkage.minhashBandKeys(ex, hashFamily = "sha256")
    }),

    // One-permutation MinHash signature (16 bins, rotation-densified) over
    // the documents' sorted-distinct token 2-shingles: ONE digest per
    // shingle instead of 16 lane digests — the O(m) scale path. Driven
    // with the sha256 family so DuckDB replays the whole derivation
    // (nibble bins, per-bin minima, circular borrow with distance tag).
    "q_minhash_oph_sig" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val toks = array_sort(array_distinct(
        filter(split(col("text"), "\\s+"), t => length(t) > 0)))
      d.select(col("doc_id"), minhash_sig_oph(toks, "sha256").as("sig"))
        .where(col("sig").isNotNull)
        .select(col("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("bin"), col("col").as("h"))
    }),

    // OPH dedup end-to-end: the one-hash-per-shingle signature feeding
    // the SAME banded/capped/Jaccard-verified LSH tail as
    // q_dedup_minhash_lsh — the fingerprint-bound corpus's scale path.
    "q_dedup_minhash_oph" -> ((s, dir) => graft.operators.Dedup.minhashOphLshPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      tau = 0.5, bands = 4, bucketCap = 500, hashFamily = "sha256")),

    // CLK Bloom-filter PPRL encoding (Schnell-Bachteler-Reiher): 512-bit
    // filter, 4 double-hashed sha256 positions per padded bigram of the
    // normalized name. The oracle re-derives every bit from sha256 hex
    // with exact BIGINT nibble arithmetic.
    "q_clk_bits" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      c.select(col("c_custkey"),
          regexp_replace(lower(col("c_name")), "[^a-z0-9]", "").as("nn"))
        .select(col("c_custkey"), explode(clk_bits(col("nn"), 512, 4)).as("bit"))
    }),

    // CLK Dice comparison over nationkey-blocked pairs, computed on the
    // PACKED filters (clk_sig + bloom_dice popcount arithmetic) — the
    // oracle recomputes Dice from the exploded bit sets, so the gate
    // proves packed-bitset popcount ≡ set semantics.
    "q_clk_dice" -> ((s, dir) => {
      def sig(c: Column) = clk_sig(
        regexp_replace(lower(c), "[^a-z0-9]", ""), 512, 4)
      customerPairs(s, dir)
        .select(col("ka"), col("kb"),
          bloom_dice(sig(col("na")), sig(col("nb"))).as("clk_dice"))
    }),

    // End-to-end PPRL linkage: side B is side A's names with one
    // deterministic typo; both sides encode to packed CLKs, block by
    // Hamming-LSH bit sampling (8 bands × 16 sampled bits, the standard
    // CLK blocking), and candidates pay one popcount Dice each. The
    // linkage unit never sees an identifier. The oracle re-derives the
    // sampled-bit keys (positions inlined as literals) and Dice from
    // bit sets. bucketCap cannot bite at gate scale (≤ 375 rows/side vs
    // cap 10000); the spec covers cap observability.
    "q_pprl_link" -> ((s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 40 === 1))
        .select(col("c_custkey").as("id"),
          regexp_replace(lower(col("c_name")), "[^a-z0-9]", "").as("nn"))
      val a = c.select(col("id"), clk_sig(col("nn"), 512, 4, "k7").as("sig"))
      val b = c.select(col("id"), clk_sig(
        concat(substring(col("nn"), 1, 5), lit("x"), expr("substring(nn, 7)")),
        512, 4, "k7").as("sig"))
      graft.operators.Pprl.linkTables(a, b, "id", "sig",
        m = 512, theta = 0.5)
    }),

    // ---- training-data operators over documents/embeddings ----

    // deterministic train/val/test split: a pure hash projection (no
    // shuffle, no RNG — reproducible across reruns/partitionings, the
    // property randomSplit lacks). sha256-derived, so the oracle
    // re-derives the exact assignment from the digest hex.
    "q_split_assign" -> ((s, dir) => graft.operators.Sampling.splitAssign(
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split_name"))),

    // per-stratum quota sample in deterministic sha256 order (balance
    // the corpus per (lang, source)); WindowGroupLimit bounds the hot
    // stratum before the shuffle
    "q_sample_stratified" -> ((s, dir) => graft.operators.Sampling.stratifiedSample(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id",
      Seq("lang", "source"), quota = 20)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))),

    // PII scrub over text synthesized (identically in the oracle) to
    // carry a URL, an email, a phone run, and an IPv4 per row — the
    // shared documents table has no native PII, so the query builds a
    // deterministic PII-bearing column from table values first
    "q_scrub_pii" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id").cast("string")
      val dirty = concat(
        substring(col("text"), 1, 40),
        lit(" mail u"), k, lit("@ex-a.org via https://h"), k,
        lit(".example/p?q=1 tel +1 (555) 01"), k,
        lit(" host 10.0.0."), pmod(col("doc_id"), lit(200)).cast("string"))
      d.select(col("doc_id"), dirty.as("dirty"),
        graft.operators.TextAnalysis.scrubPii(dirty).as("scrubbed"))
    }),

    // token counting (whitespace + BPE-ish regex) + quality scoring +
    // language-ID heuristic
    "q_text_analysis" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.operators.TextAnalysis.langId(col("text")).as("lang_id"))
    }),

    // Gopher-style repetition quality signals over a deterministically
    // synthesized multi-line view of each document (the corpus text is
    // single-line, so line structure is constructed identically on both
    // sides, like q_scrub_pii's dirty column; line 3 == line 1 guarantees
    // every doc has genuine duplicate-line signal)
    "q_quality_repetition" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ml = mlView
      graft.operators.TextAnalysis.repetitionSignals(
        d.select(col("doc_id"), ml.as("ml")), "doc_id", "ml")
    }),

    // URL canonicalization over deterministically synthesized messy URLs
    // (uppercase scheme/host, www., default ports, tracking params,
    // fragments — both parities exercise different rewrite rules); the
    // oracle applies the IDENTICAL Java∩RE2 patterns in DuckDB
    "q_url_normalize" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id")
      val raw = when(pmod(k, lit(2)) === 0,
        concat(lit("HTTPS://WWW.Host"), pmod(k, lit(7)).cast("string"),
          lit(".EXAMPLE:443/P/"), k.cast("string"),
          lit("?utm_source=feed&gclid=g"), k.cast("string"),
          lit("&x="), pmod(k, lit(5)).cast("string"), lit("#sec")))
        .otherwise(
          concat(lit("http://host"), pmod(k, lit(7)).cast("string"),
            lit(".example:80/p/"), k.cast("string"),
            lit("?fbclid=f"), k.cast("string"), lit("#top")))
      d.select(k, raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          graft.operators.WebText.normalizeUrl(col("raw")).as("url_norm"))
        .select(col("doc_id"), col("raw"), col("url_norm"),
          graft.operators.WebText.hostOf(col("url_norm")).as("host"))
    }),

    // Unicode text standardization (the pre-blocking stage): NFC
    // canonicalization, accent strip, and the pinned match-normalization
    // chain, over a fixture mixing composed/decomposed forms, case,
    // accents, punctuation runs, and non-Latin code points. Oracle =
    // DuckDB's independent ICU twins (nfc_normalize / strip_accents) +
    // the identical lower/regexp/trim chain — cross-library agreement,
    // not self-replay.
    "q_normalize_text" -> ((s, dir) => {
      // frag(1) is DECOMPOSED (e + U+0301) — NFC must compose it
      val frag = Seq("José", "élise", "MÜLLER", "o'brien", "Ĉapek",
        "ñoño-中")
      val sep = Seq("  ", " … ", ", ")
      val suf = Seq(" (Gmbh)", "", " & SONS.", " ß")
      def pick(xs: Seq[String], k: Column): Column =
        element_at(array(xs.map(lit): _*),
          (pmod(k, lit(xs.size)) + 1).cast("int"))
      val id = col("doc_id")
      val raw = concat(lit("  "), pick(frag, id * 3 + 1), pick(sep, id),
        pick(frag, id * 5 + 2), pick(suf, id))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          unicode_norm(col("raw"), "NFC").as("nfc"),
          strip_accents(col("raw")).as("stripped"),
          normalize_match(col("raw")).as("norm"))
    }),

    // Dictionary token standardization (the nickname/abbreviation
    // stage): part names mapped token-by-token through a 5-entry
    // canonicalization dictionary folded into the plan as a map
    // literal — ONE codegen projection, zero shuffle at any corpus
    // size. Unmapped tokens pass through verbatim; exact match only.
    "q_standardize_tokens" -> ((s, dir) => {
      val dict = Map("red" -> "crimson", "blue" -> "azure",
        "small" -> "sm", "large" -> "lg", "hot" -> "heated")
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      graft.operators.Standardize.applyTokenDictionary(
        p, "name", "name_std", dict)
    }),

    // Fingerprint keys (OpenRefine's fingerprint + ngram-fingerprint
    // keyers): normalize → sorted distinct tokens (word order /
    // duplication collapse) and normalize → distinct sorted 2-grams
    // (within-token typos collapse), over the same composed/decomposed
    // accent fixture as q_normalize_text.
    "q_fingerprint_keys" -> ((s, dir) => {
      val frag = Seq("José", "élise", "MÜLLER", "o'brien", "Ĉapek",
        "ñoño-中")
      val sep = Seq("  ", " … ", ", ")
      val suf = Seq(" (Gmbh)", "", " & SONS.", " ß")
      def pick(xs: Seq[String], k: Column): Column =
        element_at(array(xs.map(lit): _*),
          (pmod(k, lit(xs.size)) + 1).cast("int"))
      val id = col("doc_id")
      val raw = concat(lit("  "), pick(frag, id * 3 + 1), pick(sep, id),
        pick(frag, id * 5 + 2), pick(suf, id))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          fingerprint_key(col("raw")).as("fp"),
          ngram_fingerprint_key(col("raw"), 2).as("fp2"))
    }),

    // host-level aggregate stats (domain-filtering inputs); all-integer
    // aggregates + one exact division keep it hash-grade
    "q_host_stats" -> ((s, dir) => graft.operators.WebText.hostStats(
      s.read.parquet(s"$dir/documents.parquet"), "source", "text")),

    // benchmark decontamination: every 17th document plays the benchmark
    // set; the rest are flagged when they share any word 8-gram with it
    // (the GPT-3/PaLM-style n-gram overlap rule). Bench grams broadcast.
    "q_decontaminate" -> ((s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Decontaminate.flaggedDocs(
        d.where(pmod(col("doc_id"), lit(17)) =!= 0),
        d.where(pmod(col("doc_id"), lit(17)) === 0),
        "doc_id", "text", n = 8)
    }),

    // per-document characteristic terms: top-3 by log-free tf·idf
    // (tf·(N+1)/(df+1) — one exact product, one exact division)
    "q_tfidf_terms" -> ((s, dir) => graft.operators.TextAnalysis.topTfidfTerms(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3)),

    // domain-reweighting mixture sample: per-source keep rates decided by
    // each row's own sha fraction — pure projection + filter, hash-grade
    "q_mixture_sample" -> ((s, dir) => graft.operators.Sampling.mixtureSample(
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("source")),
      "doc_id", "source",
      Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 0.5),
      defaultRate = 0.75, seed = 7L)),

    // sequence-packing layout: where each document lands when the corpus
    // is concatenated in sha order per shard and chopped into 256-token
    // training sequences; all-integer outputs → hash-grade
    "q_pack_assignments" -> ((s, dir) => graft.operators.Packing.packAssignments(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      seqLen = 256, shards = 8)),

    // document fingerprint + simhash signatures, sha256 family: the
    // fingerprint is the min sha digest over 16-char shingles (a true
    // min-k-gram fingerprint) and the simhash is the 60-bit sha variant —
    // both DuckDB-recomputable, so the driver hash-checks them. The
    // xxhash/FNV production kernels (min_kgram_hash, simhash64) share the
    // operator structure and are pinned in TextAnalysisSpec/FusedSigSpec.
    "q_doc_signatures" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        element_at(graft.functions.minhash_sig_chars(col("text"), 16, 1, "sha256"), 1)
          .as("fingerprint"),
        graft.functions.simhash60_sha(col("text")).as("simhash"))
    }),

    // exact dedup via content hash
    "q_dedup_exact" -> ((s, dir) => graft.operators.Dedup.exactGroups(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // MOSS winnowing fingerprints (k=8 char grams, w=4 windows, sha256
    // verification family): every selected (hash, position) is
    // hash-checked, so the sliding-min frame, the rightmost tie rule and
    // the full-window cutoff are all load-bearing.
    "q_winnow_fingerprints" -> ((s, dir) => graft.operators.Dedup
      .winnowFingerprints(spread(s.read.parquet(s"$dir/documents.parquet")),
        "doc_id", "text", k = 8, w = 4, hashFamily = "sha256")),

    // winnowing composes with common-neighbor: document pairs sharing
    // >= 30 distinct fingerprint hashes (the shared-span candidate
    // generator, hub-capped like every pair path).
    "q_winnow_pairs" -> ((s, dir) => graft.operators.Linkage
      .commonNeighborPairs(
        graft.operators.Dedup.winnowFingerprints(
          spread(s.read.parquet(s"$dir/documents.parquet")),
          "doc_id", "text", k = 8, w = 4, hashFamily = "sha256")
          .select(col("doc_id"), col("fp_hash")),
        "doc_id", "fp_hash", minCommon = 30)),

    // Content-defined chunking (LBFS/FastCDC family): boundaries decided
    // by the sha-u32 of the 16-char window ending at each position
    // (mod 32 = 0 → expected ~47-char chunks), document end always a
    // cut — an exact disjoint COVER whose chunk hashes survive
    // insertions/deletions elsewhere in the document
    // (shift-resistance). Position explode + boundary filter are
    // map-side; only CUTS shuffle; one per-doc window + one id join.
    "q_cdc_chunks" -> ((s, dir) => graft.operators.Dedup.cdcChunks(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      w = 16, maskBits = 5)),

    // Confusion-weighted edit distance (OCR/web-noise comparator):
    // each sliced customer name vs a deterministically OCR-noised
    // variant (digits -> confusable glyph letters via translate; odd
    // keys append one char to exercise the indel lane). Substitutions
    // between listed confusable pairs cost 1, other edits 2 —
    // all-integer DP, replayed cell-for-cell in SQL (the q_nw_sim
    // recursion) with the cost CASE folded from the SAME
    // StrSimKernels.ocrConfusions table, so the engines cannot drift.
    "q_confusion_lev" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 17 === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("a"),
          concat(translate(col("c_name"), "015", "OIS"),
            when(col("c_custkey") % 2 === 1, lit("x"))
              .otherwise(lit(""))).as("b"))
      c.select(col("id"),
        graft.functions.confusion_lev_dist(col("a"), col("b")).as("dist"),
        graft.functions.confusion_lev_sim(col("a"), col("b")).as("sim"))
    }),

    // OCR-aware comparator levels: four deterministic probe families
    // per sliced customer (identity / last-digit glyph swap / short
    // append / reversal) exercise all four gammas — level 2 is the
    // confusion-DP "same name through an OCR lens" band that plain
    // stringLevels cannot express. Oracle = the probe CASE + the
    // confusion DP recursion + DuckDB's bit-matching jaro_winkler.
    "q_confusion_levels" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 13 === 0)
      val lastSwapped = concat(
        expr("substring(c_name, 1, length(c_name) - 1)"),
        translate(expr("substring(c_name, length(c_name), 1)"),
          "0123456789", "OIZEASGTBg"))
      val probe = when(pmod(col("c_custkey"), lit(4)) === 0, col("c_name"))
        .when(pmod(col("c_custkey"), lit(4)) === 1, lastSwapped)
        .when(pmod(col("c_custkey"), lit(4)) === 2,
          concat(col("c_name"), lit("xyz")))
        .otherwise(reverse(col("c_name")))
      c.select(col("c_custkey").as("id"),
        graft.operators.Comparators.confusionLevels(col("c_name"), probe)
          .as("gamma"))
    }),

    // Char-trigram LM sufficient statistics (the CCNet-perplexity /
    // DSIR-importance pipeline shape with an engine-fitted trigram
    // table): every document scored against a TARGET model (fit on the
    // English slice) and the BACKGROUND model (fit on the whole corpus)
    // — n_tris, Σ model counts, OOV mass under each, all exact
    // integers. The ln-based importance log-ratio over these models is
    // spec-pinned (TextAnalysisSpec), where genuinely disjoint
    // distributions separate cleanly; NOTE the synthetic corpus draws
    // all lang labels from one character distribution, so here the gate
    // exercises exactness, not separation (oov_t is 0 across labels).
    "q_trigram_lm" -> ((s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.TextAnalysis.trigramLmFace(d, "doc_id", "text",
        graft.operators.TextAnalysis.charTrigramCounts(
          d.where(col("lang") === "en"), "doc_id", "text"),
        graft.operators.TextAnalysis.charTrigramCounts(d, "doc_id", "text"))
    }),

    // Bounded CDC (the production face): the same content cuts at
    // maskBits=4, then greedy minLen=24 acceptance (left fold — tiny
    // chunks merge forward, tail exempt) and fixed maxLen=96
    // subdivision. The oracle replays the sequential fold as a
    // recursive-CTE walk over rank-ordered candidates (the NYSIIS
    // full-replay technique; DuckDB 1.0's list_reduce mis-folds
    // growing-list accumulators, so the lambda route is closed).
    "q_cdc_bounded" -> ((s, dir) => graft.operators.Dedup.cdcChunksBounded(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      w = 16, maskBits = 4, minLen = 24, maxLen = 96)),

    // Sub-document duplication via shared CDC chunks, composed through
    // the SAME 3-tier common-neighbor machinery as q_winnow_pairs —
    // documents sharing >= 4 chunk hashes with neighborhood-Jaccard
    // normalization (chunk identity = content, so these are
    // copied/syndicated spans, not resemblance estimates).
    "q_cdc_pairs" -> ((s, dir) => graft.operators.Linkage
      .commonNeighborPairs(
        graft.operators.Dedup.cdcChunks(
          spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
          w = 16, maskBits = 5)
          .select(col("doc_id"), col("chunk_sha")),
        "doc_id", "chunk_sha", minCommon = 4)),

    // token-set Jaccard near-dup over (lang, source) blocks. bucketCap=8
    // routes every real block at sf0.01 (max 16) through the SALTED grid
    // tier — the result must equal the plain blocked-join oracle (tiers
    // 1+2 are lossless; hardCap stays at its lossless default here).
    "q_dedup_ngram_jaccard" -> ((s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 8, saltGroups = 8)),

    // Asymmetric containment dedup (Broder's second resemblance): both
    // |A∩B|/|A| and |A∩B|/|B| per candidate pair, kept when the LARGER
    // direction clears 0.8 — the quote/wrap duplicates Jaccard misses.
    // Same blocking, small bucketCap and salted grid as the ngram gate,
    // so the 3-tier path is exercised at gate scale.
    "q_dedup_containment" -> ((s, dir) => graft.operators.Dedup.containmentPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      Seq("lang", "source"), tau = 0.8, bucketCap = 8, saltGroups = 8)),

    // the lossy tier-3 cut, oracle-mirrored: blocks > hardCap=13 members
    // are dropped (their record is Dedup.droppedNgramBuckets — DedupSpec
    // pins the pairs-dropped <-> buckets-reported correspondence); the
    // oracle folds the same cut via a block-size CTE.
    "q_dedup_ngram_capped" -> ((s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 8, hardCap = 13,
      saltGroups = 8)),

    // TF-IDF cosine pair scoring (round 5, Cohen et al. 2003 hybrid
    // baseline): rational idf tf·(N+1)/(df+1) (exact int product, one
    // IEEE division — the q_tfidf_terms precedent), vectors are
    // token-sorted arrays, norms and dots are ORDERED folds, so the
    // oracle replays every double bit-for-bit with list_reduce.
    "q_tfidf_cosine" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ids = d.select(col("doc_id"))
      val pairs = ids.where(col("doc_id") % 13 === 0).select(col("doc_id").as("ia"))
        .crossJoin(ids.where(col("doc_id") % 17 === 0).select(col("doc_id").as("ib")))
        .where(col("ia") < col("ib"))
      graft.operators.Linkage.tfidfCosinePairs(d, "doc_id", "text", pairs)
    }),

    // SoftTFIDF (Cohen-Ravikumar-Fienberg): TF-IDF-weighted soft token
    // matching — each a-token's best Jaro-Winkler partner among b's
    // tokens contributes v_a·v_b·jw when jw >= 0.85. Shares the log-free
    // rational idf with q_tfidf_cosine; the oracle replays weighting,
    // norm, the per-token argmax (ties by partner token), and the
    // term-ordered contribution fold bit-for-bit on DuckDB's
    // jaro_winkler_similarity (kernel equality itself gate-proven by
    // q_jaro_winkler_sim / q_monge_elkan).
    "q_soft_tfidf" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val pairs = p.where(col("id") % 31 === 0).select(col("id").as("ia"))
        .crossJoin(p.where(col("id") % 37 === 0).select(col("id").as("ib")))
        .where(col("ia") < col("ib"))
      graft.operators.Linkage.softTfIdfPairs(p, "id", "name", pairs,
        theta = 0.85)
    }),

    // Ed-Join (round 5): EXACT edit-distance self-join via positional-
    // q-gram prefix filtering — each record joins on its q·k+1 rarest
    // (gram, occurrence) multiset elements (one edit destroys <= q
    // positional grams), length-filtered, verified by the banded
    // levenshtein_capped kernel. Customer names differ only in digit
    // positions, so ed <= 2 pairs are plentiful and every prefix is
    // digit-gram-keyed — the rarity ordering doing real work. The
    // oracle is tier-blind brute force over DuckDB's levenshtein
    // builtin (byte == code point on this ASCII corpus).
    "q_edjoin" -> ((s, dir) => graft.operators.SetSimJoin.edJoinPairs(
      s.read.parquet(s"$dir/customer.parquet").where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"), col("c_name")),
      "id", "c_name", k = 2, q = 2, bucketCap = 200, saltGroups = 8)),

    // Prefix-filtered set-similarity self-join (round 5): the EXACT
    // sub-quadratic Jaccard join (AllPairs/Vernica prefix filter over
    // rarest-first token orderings) — where MinHash-LSH trades recall for
    // speed, this misses nothing >= tau by construction. bucketCap=40
    // forces the salted tier to actually run in the gated plan (both
    // tiers are lossless, so the oracle is tier-blind brute force). The
    // %2 subsample keeps the oracle's all-pairs verification tractable at
    // sf0.1; the Spark side scales sub-quadratically and doesn't need it.
    "q_setsim_join" -> ((s, dir) => graft.operators.SetSimJoin.prefixJaccardPairs(
      s.read.parquet(s"$dir/documents.parquet").where(col("doc_id") % 2 === 0),
      "doc_id", "text", tau = 0.95, bucketCap = 40, saltGroups = 8)),

    // Exact CONTAINMENT self-join (block-free companion to
    // q_dedup_containment): probe-prefix × full-inverted-index — the
    // pair's overlap requirement is tau·min(|A|,|B|), so the smaller
    // side's tau-prefix must hit the larger side's full token list;
    // complete by the one-sided prefix lemma. bucketCap=40 exercises
    // the asymmetric salted index tier in the gated plan (lossless, so
    // the oracle stays tier-blind brute force over the %2 slice).
    "q_containment_join" -> ((s, dir) => graft.operators.SetSimJoin
      .prefixContainmentPairs(
        s.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") % 2 === 0),
        "doc_id", "text", tau = 0.8, bucketCap = 40, saltGroups = 8)),

    // MinHash-LSH near-dup (sub-quadratic path). sha256 family → the full
    // pipeline (signature, banding, bucket cap, candidate join, exact
    // verification) is hash-checked against a DuckDB re-derivation.
    "q_dedup_minhash_lsh" -> ((s, dir) => graft.operators.Dedup.minhashLshPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text", tau = 0.5,
      hashFamily = "sha256")),

    // C4-style corpus-wide span dedup over the same synthesized
    // multi-line view as q_quality_repetition: within-doc dups (line 3 ==
    // line 1) AND cross-doc dups (near-identical corpus texts share
    // 60-char prefixes) both collapse to their first occurrence
    "q_dedup_spans" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ml = mlView
      graft.operators.Dedup.dropRepeatedSpans(
        d.select(col("doc_id"), ml.as("ml")), "doc_id", "ml")
    }),

    // Lee-et-al-style exact-substring dedup (token-window formulation):
    // every 8-token window occurring >1× corpus-wide is marked at every
    // occurrence but its global (id, pos)-first; overlapping/touching
    // windows merge into maximal spans. k = 8 (not the paper's 50) so the
    // synthetic corpus's shared 60-char prefixes actually trip it.
    "q_dedup_substring_spans" -> ((s, dir) =>
      graft.operators.Dedup.duplicateTokenSpans(
        spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text", k = 8)),

    // the applied form: documents rebuilt with marked spans cut out
    // (whitespace-normalized rejoin; possibly empty)
    "q_dedup_substring_strip" -> ((s, dir) =>
      graft.operators.Dedup.stripDuplicateTokenSpans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 8)),

    // the WHOLE corpus-construction pipeline (CorpusPipeline.run:
    // signals → filter → scrub → exact dedup → near-dup CC dedup →
    // split/mixture/pack), checkpoint machinery included, hash-checked
    // end-to-end via the sha256 family; runs in a fresh temp workDir so
    // the gate always exercises the compute path, not a resume
    "q_corpus_pipeline" -> ((s, dir) => {
      val docs = spread(s.read.parquet(s"$dir/documents.parquet"))
      val work = java.nio.file.Files
        .createTempDirectory("graft_corpus_gate").toString
      deleteTreeOnExit(work)
      graft.plans.CorpusPipeline.run(s, docs, work,
        graft.plans.CorpusPipeline.Config(tau = 0.5, hashFamily = "sha256",
          seqLen = 256, packShards = 8)).corpus
    }),

    // near-dup groups: verified MinHash pairs transitively closed into
    // clusters; every doc maps to its cluster's min id (itself when
    // unique) — the final keep-one-per-group dedup decision
    "q_dedup_groups" -> ((s, dir) => graft.operators.Dedup.nearDupGroups(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      tau = 0.5, hashFamily = "sha256")),

    // incremental clustering: CC over the even-doc edges first (the
    // existing corpus), then ConnectedComponents.addEdges folds the
    // odd-touching edges in as a batch — contracted-graph CC ∝ batch,
    // relabel is a broadcast join. Must hash-match the FULL q_dedup_groups
    // oracle: incremental is a cost refactoring, not new semantics.
    "q_dedup_groups_incremental" -> ((s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      // the LSH pair frame feeds BOTH the base-corpus CC and the batch
      // addEdges
      val pairs = Frames.shared(graft.operators.Dedup.minhashLshPairs(d,
        "doc_id", "text", tau = 0.5, hashFamily = "sha256")
        .select(col("ia"), col("ib")))
      val baseEdges = pairs
        .where(pmod(col("ia"), lit(2)) === 0)
        .where(pmod(col("ib"), lit(2)) === 0)
      val batchEdges = pairs
        .where(pmod(col("ia"), lit(2)) === 1 || pmod(col("ib"), lit(2)) === 1)
      val asg = graft.operators.ConnectedComponents.run(baseEdges)
      val updated = graft.operators.ConnectedComponents.addEdges(asg, batchEdges)
      d.select(col("doc_id").as("id"))
        .join(updated, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("canonical_id"))
    }),

    // incremental dedup: the NEW half of the corpus (odd doc_id, the
    // "batch") near-dup-checked against the EXISTING half (even doc_id,
    // the "index") — candidates only cross sides, never corpus×corpus,
    // so incremental cost ∝ batch size. Same sha256 family ⇒ hash-grade.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Dedup.minhashLshIncremental(
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        d.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", tau = 0.5, hashFamily = "sha256")
    }),

    // incremental dedup via a PERSISTED band index — the recurring
    // continuous-crawl shape: Dedup.bandIndex(corpus) is built ONCE,
    // round-tripped through parquet (exactly what a daily-batch
    // production run stores), and the batch joins against the stored
    // index, so per-batch cost is ∝ batch with no corpus re-banding.
    // Hash-checked against the SAME oracle as q_dedup_incremental: the
    // index path is a cost refactoring, not new semantics.
    "q_dedup_incremental_indexed" -> ((s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      val corpus = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = d.where(pmod(col("doc_id"), lit(2)) === 1)
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_band_index").toString
      deleteTreeOnExit(idxDir)
      graft.operators.Dedup.bandIndex(corpus, "doc_id", "text",
        hashFamily = "sha256").write.mode("overwrite").parquet(idxDir)
      graft.operators.Dedup.minhashLshIncrementalIndexed(
        s.read.parquet(idxDir), corpus, batch, "doc_id", "text",
        tau = 0.5, hashFamily = "sha256")
    }),

    // Bloom-filter membership with the FULL production cycle: build the
    // set-bits frame over the even-custkey half, persist it to parquet,
    // read it back, probe ALL customers — no-false-negative and FP
    // accounting columns both derived (exact membership = key parity,
    // names being 1:1 with keys). Every verdict is hash-checked against
    // a DuckDB re-derivation of the same sha256 double-hash positions.
    "q_bloom_membership" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val corpus = c.where(pmod(col("c_custkey"), lit(2)) === 0)
      val bitsDir = java.nio.file.Files
        .createTempDirectory("graft_bloom_bits").toString
      deleteTreeOnExit(bitsDir)
      graft.operators.Dedup.bloomBits(corpus, "c_name", m = 65536, k = 4)
        .write.mode("overwrite").parquet(bitsDir)
      val probed = graft.operators.Dedup.bloomProbe(
        s.read.parquet(bitsDir), c, "c_custkey", "c_name", m = 65536, k = 4)
      probed
        .join(c.select(col("c_custkey").as("id"),
          (pmod(col("c_custkey"), lit(2)) === 0).as("exact_hit")), "id")
        .select(col("id"), col("bloom_hit"), col("exact_hit"),
          (col("bloom_hit") && !col("exact_hit")).as("is_fp"))
    }),

    // Filter-fill observability for the same build: bits_set / m /
    // fill_ratio (rational, hash-safe) — the gauge that says when the
    // next build needs a bigger m.
    "q_bloom_stats" -> ((s, dir) => graft.operators.Dedup.bloomStats(
      graft.operators.Dedup.bloomBits(
        s.read.parquet(s"$dir/customer.parquet")
          .where(pmod(col("c_custkey"), lit(2)) === 0),
        "c_name", m = 65536, k = 4), m = 65536)),

    // SimHash near-dup. sha256 family (60-bit signatures from sha256 token
    // hashes) → the whole pipeline (signature, 15-bit banding, 3-tier
    // bucket policy, Hamming verification) is hash-checked against a
    // DuckDB re-derivation (oracle cut = hardCap, the only lossy tier —
    // opt-in: the operator's default hardCap is Int.MaxValue/lossless, so
    // this gate passes the finite cap explicitly, oracle-mirrored).
    "q_dedup_simhash" -> ((s, dir) => graft.operators.Dedup.simhashPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      maxHamming = 8, hashFamily = "sha256", hardCap = 100000)),

    // SimHash salted tier losslessness proof: bucketCap=1 forces EVERY
    // multi-member band bucket through the salted grid self-join; the
    // result must equal the UNCAPPED oracle — the grid loses and invents
    // nothing (the simhash analogue of q_salted_pairs).
    "q_dedup_simhash_salted" -> ((s, dir) => graft.operators.Dedup.simhashPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      maxHamming = 8, hashFamily = "sha256",
      bucketCap = 1, hardCap = 1000000000, saltGroups = 8)),

    // brute-force cosine top-k (exact ANN baseline)
    "q_ann_bruteforce" -> ((s, dir) => graft.operators.Similarity.bruteForceTopK(
      spread(s.read.parquet(s"$dir/embeddings.parquet")), "vec_id", "embedding", k = 3)),

    // reciprocal top-k: pairs where EACH side ranks the other in its
    // top-3 — the hub-suppressing mutual-kNN dedup criterion, one
    // equi-join over the top-k frame (composes with any ANN tier).
    "q_ann_mutual" -> ((s, dir) => graft.operators.Similarity.mutualTopK(
      graft.operators.Similarity.bruteForceTopK(
        spread(s.read.parquet(s"$dir/embeddings.parquet")), "vec_id", "embedding", k = 3))),

    // banded hyperplane-LSH ANN (scale path). The hyperplanes are
    // plan-time constants, so the oracle re-derives the exact bucket
    // assignment in SQL with the planes inlined as literals — bucketing,
    // candidate join, cosine, and top-k window all hash-checked.
    "q_ann_lsh" -> ((s, dir) => graft.operators.Similarity.lshTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, dim = 64)),

    // LSH salted-tier losslessness proof: bucketCap=1 forces EVERY
    // multi-member band bucket through the salted grid self-join; the
    // result must equal the plain-tier oracle bit-for-bit — the grid
    // loses and invents nothing (ANN analogue of q_dedup_simhash_salted).
    "q_ann_lsh_salted" -> ((s, dir) => graft.operators.Similarity.lshTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, dim = 64, bucketCap = 1, saltGroups = 8)),

    // Multi-probe LSH (Lv et al. VLDB'07): vectors INDEX under their
    // true band signatures but PROBE every single-bit perturbation too,
    // recovering the one-plane-flip misses without extra bands. The
    // probe fan-out multiplies (id, band, sig) scalars only — vectors
    // re-attach by primary key AFTER the candidate distinct, so each
    // unique pair is scored once. Candidates are a strict superset of
    // q_ann_lsh's; oracle re-derives sig ints, xor-perturbed probe
    // keys, the probe-index join, and the top-k window.
    "q_ann_multiprobe" -> ((s, dir) => graft.operators.Similarity
      .lshMultiProbeTopK(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        k = 3, dim = 64)),

    // Reciprocal-rank fusion (Cormack et al. SIGIR'09): two directed
    // same-nation candidate rankings per customer — by the Jaro kernel
    // and by normalized-Levenshtein similarity — fused score-free as
    // Σ 1/(60 + rank), top-3 per query. Rank agreement between engines
    // rests on the kernels' bit-equality (q_jaro_sim /
    // q_levenshtein_sim gates); the fused score is ONE fixed-order
    // expression, ties by candidate id.
    "q_rrf_fuse" -> ((s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet"))
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          col("c_name").as("nm"))
      val pairs = c.select(col("nk"), col("id").as("qid"), col("nm").as("qn"))
        .join(c.select(col("nk"), col("id").as("cid"), col("nm").as("cn")),
          "nk")
        .where(col("qid") =!= col("cid"))
      def top10(sim: org.apache.spark.sql.Column) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
        pairs.select(col("qid"), col("cid"), sim.as("sim"))
          .withColumn("r", row_number().over(w)).where(col("r") <= 10)
          .select(col("qid"), col("cid"), col("r"))
      }
      graft.operators.Similarity.rrfFuse(Seq(
          top10(graft.functions.jaro_sim(col("qn"), col("cn"))),
          top10(graft.functions.levenshtein_sim(col("qn"), col("cn")))),
        "qid", "cid", "r", k = 3)
    }),

    // Recall@k of the LSH tier against the exact baseline — the ANN
    // acceptance metric, computed per query (missed queries appear with
    // recall 0.0, keeping the macro average honest). One equi-join over
    // the two (k·n)-row top-k frames; the oracle composes the LSH and
    // brute-force derivations and replays the same join.
    "q_ann_recall" -> ((s, dir) => {
      val emb = spread(s.read.parquet(s"$dir/embeddings.parquet"))
      graft.operators.Similarity.recallAtK(
        graft.operators.Similarity.lshTopK(emb, "vec_id", "embedding",
          k = 3, dim = 64),
        graft.operators.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          k = 3))
    }),

    // IVF coarse-quantizer ANN (second scale path). Driven with iters=0 +
    // sha256 sample order so the centroid set (first 16 sample vectors,
    // normalized) is SQL-derivable: index assignment, probe fan-out, and
    // top-k are all hash-checked. The Lloyd fit itself (iters>0) is pure
    // driver-side model fitting, covered by SimilaritySpec recall tests.
    "q_ann_ivf" -> ((s, dir) => graft.operators.Similarity.ivfTopK(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 3, nCentroids = 16, nProbe = 4, iters = 0, hashOrder = "sha256")),

    // fit-once/probe-many IVF: the fitted centroids AND the inverted
    // lists are persisted (index partitioned by cid — probe jobs prune to
    // the lists they fan out to), reloaded, and probed — must hash-match
    // q_ann_ivf exactly: the index round-trip is a cost refactoring, not
    // new semantics (floats are IEEE binary in parquet).
    "q_ann_ivf_indexed" -> ((s, dir) => {
      val sim = graft.operators.Similarity
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = sim.fitIvf(emb, "vec_id", "embedding",
        nCentroids = 16, iters = 0, hashOrder = "sha256")
      val ivfDir = java.nio.file.Files
        .createTempDirectory("graft_ivf_index").toString
      deleteTreeOnExit(ivfDir)
      sim.saveIvf(emb, "vec_id", "embedding", cents, ivfDir)
      sim.ivfProbe(sim.loadIvfIndex(s, ivfDir), emb, "vec_id", "embedding",
        sim.loadCentroids(s, ivfDir), k = 3, nProbe = 4)
    }),

    // embedding-cosine near-dup pairs blocked by label
    "q_dedup_embedding_cosine" -> ((s, dir) => graft.operators.Dedup.embeddingCosinePairs(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      "label", tau = 0.25)),

    // gap-based event sessionization (window functions over the events
    // log; one shuffle by user, single sort reused by both window passes)
    "q_sessionize" -> ((s, dir) => graft.operators.Sessionize.sessions(
      s.read.parquet(s"$dir/events.parquet"), "user_id", "ts")),

    // Temporal linkage: interval-overlap candidate pairs over event
    // validity windows [ts, ts + (⌊value⌋+1) minutes], keyed by user —
    // the bucketed equi-join formulation of the interval join Spark
    // lacks (10-minute grid cells, exact long micros, NO double
    // arithmetic), verified exact with closed-interval overlap. The
    // oracle is the tier-blind brute-force θ-join — candidate
    // completeness is exactly what equality proves.
    "q_interval_pairs" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").as("id"), col("user_id"),
          // .cast("timestamp") hop covers TIMESTAMP_NTZ (identity under
          // the pinned UTC session timezone — the Comparators convention)
          unix_micros(col("ts").cast("timestamp")).as("start_us"),
          (unix_micros(col("ts").cast("timestamp")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L)
            .as("end_us"))
      graft.operators.Temporal.intervalCandidates(e, "id", "start_us",
        "end_us", bucketWidth = 600000000L, partitionCols = Seq("user_id"))
    }),

    // spatial grid blocking: venue-style points minted from customer by
    // pure integer arithmetic (microdegree fixed-point — the operator's
    // coordinate contract), partitioned by nation; radius 30000 within
    // cell 50000 keeps the forward-half-neighborhood coverage guarantee
    // live; bucketCap 60 routes the denser nations through the salted
    // tier at sf0.1 (the grid is lossless, so the oracle is tier-blind
    // brute force per nation). %4 subsample keeps the oracle's all-pairs
    // verification tractable.
    "q_grid_pairs" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          (col("c_custkey") * 48271L % 200000L).as("lat"),
          (col("c_custkey") * 69621L % 200000L).as("lon"))
      graft.operators.Spatial.gridCandidates(c, "id", "lat", "lon",
        radius = 30000L, cellSize = 50000L, partitionCols = Seq("nk"),
        bucketCap = 60)
    }),

    // multimodal: typed metadata over a binary column (documents text
    // re-encoded as the opaque blob — testdata ships no native binary)
    "q_media_metadata" -> ((s, dir) => {
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      graft.operators.Multimodal.metadata(media, "doc_id", "blob")
    }),

    // streaming: stream-static match-against-index replayed over the
    // shared documents table through a real micro-batch query (file
    // stream source → equi-join + kernel scoring → memory sink). Append
    // mode over a stream-static join equals the static join over all
    // input, which is exactly what the DuckDB oracle computes.
    "q_stream_matches" -> ((s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      // block key includes the name's 2-char prefix: (lang, source) alone
      // makes blocks of ~n/8 docs — quadratic pair blowup with no extra
      // match signal (near-identical docs share their normalized prefix)
      val keyedOf = (df: DataFrame) => {
        val name = regexp_replace(lower(substring_index(col("text"), "\n", 1)),
          "[^a-z0-9]", "")
        df.select(
          col("doc_id").cast("string").as("url"),
          name.as("name_norm"),
          concat(col("lang"), lit(":"), col("source"), lit(":"),
            substring(name, 1, 2)).as("block_key"))
      }
      val stream = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
      val matches = graft.streaming.StreamingLinkage.matchKeyedAgainstIndex(
        keyedOf(stream), keyedOf(static), theta = 1.5)
      runToMemorySink(s, matches, "q_stream_matches", "append")
        .select(col("url_a"), col("url_b"), col("score"))
    }),

    // streaming: stream-STREAM windowed join — two live streams (the
    // documents table replayed twice through independent file sources)
    // joined on block_key within an event-time band of ±120 s, with
    // watermark-bounded join state on both sides. Inner-join append over
    // a bounded replay equals the static self-join with the same band,
    // which is exactly what the oracle computes (pairs canonicalized
    // url_a < url_b — each unordered pair meets once in that direction).
    "q_stream_join" -> ((s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      val name = regexp_replace(lower(substring_index(col("text"), "\n", 1)),
        "[^a-z0-9]", "")
      val keyedOf = (df: DataFrame) => df.select(
        col("doc_id").cast("string").as("url"),
        name.as("name_norm"),
        concat(col("lang"), lit(":"), col("source"), lit(":"),
          substring(name, 1, 2)).as("block_key"),
        // +1 day: event time at exactly epoch 0 equals the initial watermark
        (col("doc_id") + lit(86400L)).cast("timestamp").as("ts"))
      val sA = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
      val sB = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
      val m = graft.streaming.StreamingLinkage.streamStreamMatches(
        keyedOf(sA), keyedOf(sB), theta = 1.5, maxDelaySeconds = 120)
      runToMemorySink(s, m, "q_stream_join", "append")
        .where(col("url_a") < col("url_b"))
        .select(col("url_a"), col("url_b"), col("score"))
    }),

    // streaming: STATEFUL cross-batch incremental matching
    // (flatMapGroupsWithState). Replayed over the documents table with an
    // uncapped per-key state, every unordered pair scoring ≥ theta is
    // emitted exactly once (when its second member arrives), regardless of
    // batch boundaries — which is exactly the half-matrix static join the
    // oracle computes.
    "q_stream_incremental" -> ((s, dir) => {
      import s.implicits._
      val static = s.read.parquet(s"$dir/documents.parquet")
      val name = regexp_replace(lower(substring_index(col("text"), "\n", 1)),
        "[^a-z0-9]", "")
      val keyed = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
        .select(
          concat(col("lang"), lit(":"), col("source"), lit(":"),
            substring(name, 1, 2)).as("block_key"),
          col("doc_id").cast("string").as("url"),
          name.as("name_norm"))
        .as[graft.streaming.StreamingLinkage.Keyed]
      val matches = graft.streaming.StreamingLinkage
        .incrementalMatches(s, keyed, theta = 1.5, maxPerKey = 1000000)
      runToMemorySink(s, matches.toDF(), "q_stream_incremental", "append")
        .select(col("url_a"), col("url_b"), col("score"))
    }),

    // streaming: watermarked exact-dup suppression
    // (dropDuplicatesWithinWatermark). Event time synthesized
    // deterministically (doc_id seconds since epoch). Only the content
    // hash is emitted — WHICH duplicate row survives is
    // arrival-order-dependent, but the distinct hash set is exact.
    "q_stream_dedup" -> ((s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      // +1 day offset: an event time of exactly epoch 0 (doc_id 0) equals
      // the initial watermark and would be dropped as late
      val pagesLike = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
        .select(col("doc_id").cast("string").as("url"),
          (col("doc_id") + lit(86400L)).cast("timestamp").as("warc_ts"),
          encode(col("text"), "UTF-8").as("html"),
          col("lang"))
      val deduped = graft.streaming.StreamingLinkage.dedupStream(pagesLike)
        .select(col("content_hash"))
      runToMemorySink(s, deduped, "q_stream_dedup", "append")
    }),

    // streaming: stateless ingest quality-filter + scrub — append output
    // must equal the identical static filter row-for-row
    "q_stream_quality" -> ((s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      val stream = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
      val filtered = graft.streaming.StreamingLinkage
        .qualityFilterStream(stream, minQuality = 0.3)
        .select(col("doc_id"), col("quality"), col("text"))
      runToMemorySink(s, filtered, "q_stream_quality", "append")
    }),

    // streaming: windowed event-time throughput metrics (watermark +
    // tumbling window aggregate). Synthesized event time as above; the
    // (window_start, lang, pages) aggregate is fully deterministic.
    "q_stream_metrics" -> ((s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      val pagesLike = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
        .select(col("doc_id").cast("timestamp").as("warc_ts"), col("lang"))
      val metrics = graft.streaming.StreamingLinkage.throughputMetrics(pagesLike)
        .select(col("window.start").cast("long").as("window_start"),
          col("lang"), col("pages"))
      // complete mode: append would only emit windows the watermark has
      // passed, and the replayed event times all sit inside one horizon
      runToMemorySink(s, metrics, "q_stream_metrics", "complete")
    }),

    // multimodal: batched feature extraction (decode STUB; plumbing real).
    // Driven with the sha256 verification family: feature d is the 24-bit
    // integer from sha256(blob) bytes [3d, 3d+3) over 2^24 — exact in
    // float32 and re-derivable from the digest hex in DuckDB, so the whole
    // pipeline (projection → batched mapPartitions decode → fixed schema)
    // is hash-checked. The output re-scales each feature by 2^24 (an exact
    // float→double→long round trip) so the compared values are integers,
    // immune to float-formatting differences between engines. The
    // production FNV stub shares every line but the digest (MultimodalSpec
    // pins both).
    "q_media_features" -> ((s, dir) => {
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      graft.operators.Multimodal.decodeFeatures(s, media, "doc_id", "blob",
          dim = 8, hashFamily = "sha256")
        .toDF().select(col("id"), col("kind"),
          concat_ws(",", transform(col("features"),
            f => (f.cast("double") * lit(16777216.0)).cast("long").cast("string")))
            .as("features_q24"))
    }),

    // Febrl-style deterministic error injection: sha256(id:seed) nibble
    // ranges drive every choice (duplicate?, op, position, replacement
    // char), so the labeled-duplicate mint is a pure projection the
    // oracle replays digit-by-digit. All four ops land at both sf.
    "q_error_model" -> ((s, dir) =>
      graft.operators.ErrorModel.corruptedDuplicates(
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", dupRate = 0.3, seed = 7L)),

    // The corruptor's use case: per error family, which matcher recovers
    // the labeled pair — integer counts of within-1-edit and JW ≥ 0.9
    // survivors per op (sum-of-doubles means would be fold-order-
    // dependent; counts of threshold survivors are exact, and the JW
    // doubles themselves are bit-equal across engines, gate-proven by
    // q_jaro_winkler_sim). Deletions/substitutions stay within 1 edit by
    // construction; transposes cost 2 edits but survive JW — exactly the
    // stratification the op column exists for.
    "q_error_recall" -> ((s, dir) => {
      val dups = graft.operators.ErrorModel.corruptedDuplicates(
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", dupRate = 0.3, seed = 7L)
      dups.groupBy(col("op")).agg(
        count(lit(1)).as("n_pairs"),
        sum(when(levenshtein_within(col("c_name"), col("corrupted"), 1),
          1L).otherwise(0L)).as("n_within1"),
        sum(when(jaro_winkler_sim(col("c_name"), col("corrupted")) >= 0.9,
          1L).otherwise(0L)).as("n_jw90"))
    }),

    // LSH band planner: every (bands, rows) factoring of numHashes scored
    // by |b·t^r − 1| (the (1/b)^(1/r) = t balance point, in pinned
    // multiply-chain arithmetic — no pow/log, so the argmin cannot hang
    // on libm ulps), then the chosen plan's collision S-curve over a
    // similarity grid. The oracle re-derives choice AND curve with
    // recursive multiply accumulators in the same fold order.
    "q_lsh_plan" -> ((s, dir) =>
      graft.operators.Dedup.lshBandPlan(s, numHashes = 24, threshold = 0.7,
        grid = (1 to 19).map(_ * 0.05))),

    // Information-theoretic agreement family, gate face: count-of-counts
    // sufficient statistics (side × group_size → n_groups) over the SAME
    // predicted/truth partitions as q_muc/q_bcubed/q_partition_agreement.
    // Entropies depend on the partitions only through these size
    // multisets; the histogram is ALL-INTEGER (ln is libm-dependent
    // across engines, so the scalar fold is spec-pinned in sbt, not
    // hash-gated — the log-free house discipline).
    "q_info_stats" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val assigned = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("cluster_id"),
        substring(col("c_name"), 16, 3).as("truth_id"))
      graft.operators.Linkage.informationStats(assigned)
    }),

    // Per-cluster triangle census over the SAME verified graph as
    // q_graph_metrics/q_bridge_edges: degree-ordered wedge-check
    // triangle counting (Suri-Vassilvitskii orientation, O(E^1.5)
    // total), wedges as decimal-exact Σ d(d−1)/2, transitivity = 3T/W
    // one pinned double division (NULL when wedge-free). The 0.94
    // fixture graph carries real triangles at both sf, so the closed
    // and open wedge paths are both load-bearing.
    "q_transitivity" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.clusterTriangles(asg, edges)
    }),

    // k-core decomposition of the same graph via iterated h-index —
    // integer fixpoint identical to sequential peeling, so the oracle's
    // recursive-CTE replay of the SAME iteration (h₀ = degree, hₜ₊₁ =
    // H-operator over neighbor values) must agree hash-for-hash. The
    // 0.94 fixture graph carries chains, stars AND triangle cores at
    // both sf, so core 0 (edgeless), 1 (tails) and ≥2 (cycles) are all
    // load-bearing rows.
    "q_core_numbers" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.94)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.coreNumbers(asg, edges)
    }),

    // k-truss (k=3) of a denser name-similarity graph (0.92 threshold
    // so triangles exist at gate scale): iterative support peeling to
    // the FIXPOINT — every surviving edge closes >= 1 triangle with
    // other survivors, the edge-cohesion complement to q_core_numbers.
    // The oracle replays the peel as a recursive CTE (previous
    // iteration's edge set -> naive common-neighbor support -> filter),
    // emitting only rounds that removed something; peeling is monotone
    // so the last emitted round IS the fixpoint.
    "q_truss" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey"))
          .as("cluster_id"))
      val edges = customerPairs(s, dir)
        .where(col("na") =!= col("nb") &&
          levenshtein_sim(col("na"), col("nb")) >= 0.92)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Evaluation.trussEdges(asg, edges, k = 3)
    }),

    // Date comparators over orders pairs blocked two ways: a same-month
    // family (exercises the ≤7 and ≤365 day bands) and a YEAR-FREE
    // {month,day}-multiset family (same-year members are exactly the
    // day↔month transposed pairs — the level a plain band comparator
    // would misscore as a months-apart disagreement — and cross-year
    // members land outside every band, exercising 0). gamma_date =
    // banded dateLevels, gamma_date_t = dateTransposedLevels with the
    // swap level between exact and the bands; both pure calendar
    // arithmetic the oracle replays verbatim.
    "q_comparator_date" -> ((s, dir) => {
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
    }),
  )

  // ---------- oracle builders for the hash-family-upgraded operators ----------

  /** min-sha256 lane aggregates h0..h{k-1} over a shingle column `sh` —
    * DuckDB's exact mirror of MinHashKernels.shaLanes (hex strings are
    * byte-monotone, so lexicographic min == byte min). */
  private def shaLaneAggs(k: Int): String =
    (0 until k).map(i => s"min(sha256('$i:' || sh)) AS h$i").mkString(", ")

  /** DuckDB cosine over two 64-dim float list columns — the same strict
    * left folds as the fused CosineSim kernel (pattern proven bit-exact by
    * q_ann_bruteforce since round 1). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** CTE list (no WITH) deriving the exact-substring-dedup spans of
    * `documents` at k = 8: toks(id, tk) — whitespace tokens on the shared
    * explicit class (RE2's \s lacks \x0B; Java's has it) — wins (every
    * 8-token window with its 1-based start), marked (all-but-global-first
    * occurrences of duplicated windows as [s, e] intervals), and spans
    * (overlapping/touching intervals merged via the running-max island
    * scan). Shared by the spans gate and the strip gate so the span
    * derivation cannot de-sync between them. */
  private def substringSpanCtes: String =
    """toks AS (
      |  SELECT doc_id AS id,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |), wins AS (
      |  SELECT id, pos, array_to_string(tk[pos:pos+7], ' ') AS gram
      |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 6)) AS pos
      |        FROM toks WHERE len(tk) >= 8)
      |), marked AS (
      |  SELECT id, pos AS s, pos + 7 AS e FROM (
      |    SELECT id, pos,
      |      row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rnk
      |    FROM wins)
      |  WHERE rnk > 1
      |), flagged AS (
      |  SELECT id, s, e,
      |    CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp + 1
      |         THEN 1 ELSE 0 END AS new_island
      |  FROM marked
      |  WINDOW wp AS (PARTITION BY id ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), islanded AS (
      |  SELECT id, s, e, sum(new_island) OVER (PARTITION BY id ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged
      |), spans AS (
      |  SELECT id, min(s) AS span_start, max(e) AS span_end
      |  FROM islanded GROUP BY id, island
      |)""".stripMargin

  /** CTE list (no WITH) deriving the one-permutation MinHash signature of
    * `from`(doc_id, text) as rows: base(id, tk) — sorted distinct
    * whitespace tokens, the derivation every dedup oracle shares — and
    * dens(id, bin, h) — the 16 rotation-densified OPH bins (one sha256
    * per 2-shingle, first-hex-nibble bins, per-bin lexicographic minima,
    * circular right-borrow tagged with its distance; the j = 0 row of
    * the offset scan IS the filled bin, so one row_number window covers
    * filled and borrowed bins alike). Shared by the signature gate and
    * the OPH dedup gate so the derivation cannot de-sync. */
  private def ophDensCteList(from: String): String =
    s"""base AS (
       |  SELECT doc_id AS id,
       |    list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS tk
       |  FROM $from
       |), sh AS (
       |  SELECT id, unnest(CASE WHEN len(tk) >= 2
       |    THEN list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])
       |    ELSE tk END) AS sh
       |  FROM base WHERE len(tk) > 0
       |), filled AS (
       |  SELECT id, strpos('0123456789abcdef', substr(sha256(sh), 1, 1)) - 1 AS bin,
       |         min(sha256(sh)) AS h
       |  FROM sh GROUP BY id, bin
       |), scan AS (
       |  SELECT g.id, b.i AS bin, r.j AS j, f.h,
       |         row_number() OVER (PARTITION BY g.id, b.i ORDER BY r.j) AS rn
       |  FROM (SELECT DISTINCT id FROM filled) g
       |  CROSS JOIN range(0, 16) b(i)
       |  CROSS JOIN range(0, 16) r(j)
       |  JOIN filled f ON f.id = g.id AND f.bin = (b.i + r.j) % 16
       |), dens AS (
       |  SELECT id, bin,
       |    CASE WHEN j = 0 THEN h ELSE h || ':' || CAST(j AS VARCHAR) END AS h
       |  FROM scan WHERE rn = 1
       |)""".stripMargin

  /** Exact BIGINT parse of the 8 hex chars of `h` starting at 1-based
    * `from` — the big-endian unsigned 32-bit word the CLK kernel reads
    * from the sha256 digest. */
  private def hexU32Sql(h: String, from: Int): String =
    (0 until 8).map { k =>
      s"(strpos('0123456789abcdef', substr($h, ${from + k}, 1)) - 1) * ${1L << (4 * (7 - k))}"
    }.mkString("(", " + ", ")")

  /** CDC chunk CTEs over documents text (w=16, maskBits=5): produces
    * `ck(doc_id, chunk_idx, chunk_start, chunk_len, chunk_sha)` — the
    * [[graft.operators.Dedup.cdcChunks]] face replayed
    * position-for-position (window-sha boundary rule, forced end cut,
    * lag-window spans, chunk sha). */
  private def cdcChunkCtes: String =
    s"""b AS (
       |  SELECT doc_id, text AS t, length(text) AS n FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 1
       |), wpos AS (
       |  SELECT doc_id, t, n, unnest(range(16, n + 1)) AS pos
       |  FROM b WHERE n >= 16
       |), cuts AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, ${hexU32Sql("h", 1)} AS hv
       |    FROM (SELECT doc_id, pos, sha256(substr(t, pos - 15, 16)) AS h
       |          FROM wpos) z0) z1
       |  WHERE hv % 32 = 0
       |  UNION
       |  SELECT doc_id, n FROM b
       |), sp AS (
       |  SELECT doc_id, row_number() OVER w AS chunk_idx,
       |    coalesce(lag(pos) OVER w, 0) + 1 AS chunk_start,
       |    pos - coalesce(lag(pos) OVER w, 0) AS chunk_len
       |  FROM cuts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |), ck AS (
       |  SELECT sp.doc_id, CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(sp.chunk_start AS BIGINT) AS chunk_start,
       |    CAST(sp.chunk_len AS BIGINT) AS chunk_len,
       |    sha256(substr(b.t, CAST(sp.chunk_start AS INT),
       |      CAST(sp.chunk_len AS INT))) AS chunk_sha
       |  FROM sp JOIN b ON sp.doc_id = b.doc_id
       |)""".stripMargin

  /** First 15 sha256 hex chars as an exact 60-bit BIGINT — the KMV hash
    * (fits signed 64-bit on both engines, no wraparound to pin). */
  private def hexU60Sql(h: String): String =
    (0 until 15).map { k =>
      s"(strpos('0123456789abcdef', substr($h, ${1 + k}, 1)) - 1) * ${1L << (4 * (14 - k))}"
    }.mkString("(", " + ", ")")

  /** KMV sketch SELECT for one column: distinct values → sha → 60-bit
    * hash → k smallest with rank (the [[graft.operators.Profiling
    * .kmvSketch]] face, replayed value-for-value). */
  private def kmvSketchSql(table: String, colExpr: String, name: String,
      k: Int): String =
    s"""SELECT CAST('$name' AS VARCHAR) AS col_name,
       |  CAST(row_number() OVER (ORDER BY hv) AS BIGINT) AS rnk, hv
       |FROM (
       |  SELECT DISTINCT ${hexU60Sql("h")} AS hv
       |  FROM (SELECT sha256(v) AS h FROM (
       |    SELECT DISTINCT CAST($colExpr AS VARCHAR) AS v FROM $table
       |    WHERE $colExpr IS NOT NULL) z0) z1) z2
       |QUALIFY rnk <= $k""".stripMargin

  /** The pinned KMV estimator expression: (k−1)·2^60/u_k past the exact
    * regime. String literals so both engines strtod identical doubles. */
  private def kmvEstSql(k: Int): String =
    s"""CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |  ELSE CAST('${k - 1}' AS DOUBLE) *
       |    CAST('1152921504606846976' AS DOUBLE) /
       |    CAST(max(hv) AS DOUBLE) END""".stripMargin

  /** CLK bit-set CTEs from an arbitrary `(id, nn)` source CTE `src`,
    * prefixed `pre` (producing `${pre}bits(id, bit)`): padded bigrams,
    * one sha256 each, g = 4 double-hashed positions mod 512. The PPRL
    * linkage oracle instantiates this twice (sides a and b). */
  private def clkBitsFrom(src: String, pre: String, salt: String = ""): String =
    s"""${pre}pad AS (
       |  SELECT id, '_' || nn || '_' AS p FROM $src
       |), ${pre}bg AS (
       |  SELECT id, unnest(list_transform(range(1, len(p)), k -> substr(p, k, 2))) AS bg
       |  FROM ${pre}pad
       |), ${pre}hh AS (
       |  SELECT id, ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
       |  FROM (SELECT id, sha256('$salt' || bg) AS h FROM ${pre}bg) z
       |), ${pre}bits AS (
       |  SELECT DISTINCT id, CAST((h1 + r.i * h2) % 512 AS INTEGER) AS bit
       |  FROM ${pre}hh CROSS JOIN range(0, 4) r(i)
       |)""".stripMargin

  /** Per-band sampled-bit key SELECTs over a `${pre}bits` CTE, one
    * UNION ALL branch per band, positions inlined from
    * [[graft.operators.Pprl.samplePositions]] in sample order — exactly
    * the keys Pprl.blockKeys derives from the packed filter. */
  private def pprlKeysSql(pre: String): String = {
    val pos = graft.operators.Pprl.samplePositions(
      m = 512, bands = 8, bitsPerBand = 16, seed = 42L)
    pos.zipWithIndex.map { case (ps, b) =>
      val bitsExpr = ps.map(p =>
        s"CAST(max(CASE WHEN bit = $p THEN 1 ELSE 0 END) AS VARCHAR)")
        .mkString(" || ")
      s"SELECT id, '$b:' || $bitsExpr AS key FROM ${pre}bits GROUP BY id"
    }.mkString("\n  UNION ALL\n  ")
  }

  /** CTE list (no WITH) deriving the CLK Bloom bit sets of customer
    * names: cbase (normalized name), padded code-point bigrams, one
    * sha256 per bigram, and cbits — the 4 double-hashed positions
    * (h1 + i·h2) mod 512 per bigram, deduplicated. Shared by the bits
    * gate and the Dice gate so the encoding cannot de-sync. */
  private def clkBitsCteList: String =
    s"""cbase AS (
       |  SELECT c_custkey, c_nationkey,
       |         regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') AS nn
       |  FROM customer
       |), cpad AS (
       |  SELECT c_custkey, c_nationkey, '_' || nn || '_' AS p FROM cbase
       |), cbg AS (
       |  SELECT c_custkey, c_nationkey,
       |         unnest(list_transform(range(1, len(p)), k -> substr(p, k, 2))) AS bg
       |  FROM cpad
       |), chh AS (
       |  SELECT c_custkey, c_nationkey,
       |         ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
       |  FROM (SELECT c_custkey, c_nationkey, sha256(bg) AS h FROM cbg) z
       |), cbits AS (
       |  SELECT DISTINCT c_custkey, c_nationkey,
       |         CAST((h1 + r.i * h2) % 512 AS INTEGER) AS bit
       |  FROM chh CROSS JOIN range(0, 4) r(i)
       |)""".stripMargin

  private def minhashBandKeysOracle: String = {
    val bandKeys = (0 until 6).map { b =>
      s"'mh$b:' || sha256(h${2 * b} || '|' || h${2 * b + 1})"
    }.mkString(", ")
    s"""WITH base AS (
       |  SELECT CAST(p_partkey AS VARCHAR) AS url,
       |         regexp_replace(lower(p_name), '[^a-z]', '', 'g') AS nn
       |  FROM part
       |), sh AS (
       |  SELECT url, unnest(CASE WHEN length(nn) >= 3
       |    THEN list_transform(range(1, length(nn) - 1), i -> substr(nn, i, 3))
       |    ELSE [nn] END) AS sh
       |  FROM base
       |), mins AS (
       |  SELECT url, ${shaLaneAggs(12)} FROM sh GROUP BY url
       |)
       |SELECT url, unnest([$bandKeys]) AS key FROM mins""".stripMargin
  }

  /** Token-set Jaccard between CTE rows aliased x and y — the one
    * verification expression every MinHash oracle shares. */
  private def tokenJaccardSql: String =
    """CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(x.tk, y.tk))) AS DOUBLE)""".stripMargin

  /** Shared CTE prefix of the document MinHash-LSH oracles: token sets
    * (base), 2-shingles (sh), 16 sha lane minima (mins), and the 4-band
    * keys (banded, one `(id, key)` row per band). Both the pairwise and
    * the incremental oracle append only their own sizing/candidate/
    * verification tail, so the signature derivation can never de-sync. */
  private def minhashDocBandedCtes: String = minhashDocBandedCtes(false)

  /** `recursive = true` spells `WITH RECURSIVE` for oracles whose tail
    * adds a recursive CTE (DuckDB requires the keyword up front). */
  private def minhashDocBandedCtes(recursive: Boolean): String =
    s"WITH ${if (recursive) "RECURSIVE " else ""}" + minhashBandedCteList("documents")

  /** The CTE list alone (no WITH), parameterized by the source relation —
    * [[corpusPipelineOracle]] appends it after its own upstream CTEs so
    * the banding reads the pipeline's deduplicated/scrubbed docs. */
  private def minhashBandedCteList(from: String): String = {
    val bandKeys = (0 until 4).map { b =>
      val hs = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"'$b:' || sha256($hs)"
    }.mkString(", ")
    s"""base AS (
       |  SELECT doc_id AS id,
       |    list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS tk
       |  FROM $from
       |), sh AS (
       |  SELECT id, unnest(CASE WHEN len(tk) >= 2
       |    THEN list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])
       |    ELSE tk END) AS sh
       |  FROM base WHERE len(tk) > 0
       |), mins AS (
       |  SELECT id, ${shaLaneAggs(16)} FROM sh GROUP BY id
       |), banded AS (
       |  SELECT id, unnest([$bandKeys]) AS key FROM mins
       |)""".stripMargin
  }

  private def minhashLshOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes + "," + s"""
       | sized AS (
       |  SELECT key, count(*) AS n FROM banded GROUP BY key
       |), good AS (
       |  SELECT b.id, b.key FROM banded b JOIN sized s USING (key) WHERE s.n <= 500
       |), cand AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
       |)
       |SELECT c.ia, c.ib, $jac AS jaccard
       |FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
       |WHERE $jac >= 0.5""".stripMargin
  }

  /** toks0+sigq CTEs: per-doc quality score over `documents` — the exact
    * q_text_analysis formula, shared by corpusPipelineOracle and the
    * streaming quality-filter oracle. */
  private def qualitySigCtes: String = {
    val ws = """[ \t\n\x0b\f\r]+"""
    val punct = """[a-zA-Z0-9 \t\n\x0b\f\r]"""
    s"""toks0 AS (
       |  SELECT doc_id, text, lang, source,
       |    list_filter(string_split_regex(text, '$ws'), t -> len(t) > 0) AS tk
       |  FROM documents
       |), sigq AS (
       |  SELECT doc_id, text, lang, source,
       |    (CASE WHEN len(tk) > 0
       |          THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS DOUBLE)
       |               / CAST(len(tk) AS DOUBLE) ELSE 0.0 END) * 0.2
       |    + least(CAST(len(tk) AS DOUBLE) / 64.0, 1.0) * 0.5
       |    + (1.0 - CASE WHEN len(text) > 0
       |             THEN CAST(len(regexp_replace(text, '$punct', '', 'g')) AS DOUBLE)
       |                  / CAST(len(text) AS DOUBLE) ELSE 0.0 END) * 0.3 AS quality
       |  FROM toks0
       |)""".stripMargin
  }

  /** End-to-end re-derivation of [[graft.plans.CorpusPipeline]] (sha256
    * family, tau 0.5, seqLen 256, 8 shards, default splits, identity
    * mixture): quality/repetition filter → PII scrub → exact-hash
    * canonicalization → MinHash-LSH + recursive-CC near-dup
    * canonicalization → split assignment → pack layout. Every fragment
    * is a building block already proven by its own gate cell — composed
    * here so the WHOLE pipeline's output is hash-checked, checkpoint
    * machinery included. */
  private def corpusPipelineOracle: String = {
    val ws = """[ \t\n\x0b\f\r]+"""
    val punct = """[a-zA-Z0-9 \t\n\x0b\f\r]"""
    val weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    val cases = weights.init.zip(cuts.init).map { case ((name, _), cut) =>
      s"WHEN sfrac < CAST('$cut' AS DOUBLE) THEN '$name'"
    }.mkString(" ")
    val scrub = graft.operators.TextAnalysis.PiiPatterns
      .foldLeft("text") { case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
    val jac = tokenJaccardSql

    s"""WITH RECURSIVE ${qualitySigCtes}, ln0 AS (
       |  SELECT doc_id, trim(l, ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS line
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
       |), ln1 AS (
       |  SELECT doc_id, line, count(*) AS c FROM ln0 WHERE line <> '' GROUP BY doc_id, line
       |), ln2 AS (
       |  SELECT doc_id, sum(c) AS n_lines, sum(c - 1) AS dup_inst FROM ln1 GROUP BY doc_id
       |), fil AS (
       |  SELECT s.doc_id, s.text, s.lang, s.source
       |  FROM sigq s LEFT JOIN ln2 l ON s.doc_id = l.doc_id
       |  WHERE s.quality >= CAST('0.3' AS DOUBLE)
       |    AND (l.n_lines IS NULL OR l.n_lines = 0
       |         OR CAST(l.dup_inst AS DOUBLE) / CAST(l.n_lines AS DOUBLE) <= CAST('0.9' AS DOUBLE))
       |), scr AS (
       |  SELECT doc_id, $scrub AS text, lang, source FROM fil
       |), exm AS (
       |  SELECT min(doc_id) AS doc_id FROM scr GROUP BY sha256(text)
       |), ex AS (
       |  SELECT s.* FROM scr s JOIN exm USING (doc_id)
       |), ${minhashBandedCteList("ex")},
       | sized AS (
       |  SELECT key, count(*) AS n FROM banded GROUP BY key
       |), good AS (
       |  SELECT b.id, b.key FROM banded b JOIN sized s USING (key) WHERE s.n <= 500
       |), cand AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
       |), verified AS (
       |  SELECT c.ia, c.ib
       |  FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
       |  WHERE $jac >= CAST('0.5' AS DOUBLE)
       |), uedges AS (
       |  SELECT ia AS u, ib AS v FROM verified
       |  UNION ALL SELECT ib, ia FROM verified
       |), unodes AS (
       |  SELECT DISTINCT u AS id FROM uedges
       |), walk(id, r) AS (
       |  SELECT id, id FROM unodes
       |  UNION
       |  SELECT w.id, e.v FROM walk w JOIN uedges e ON w.r = e.u
       |), comp AS (
       |  SELECT id, min(r) AS component FROM walk GROUP BY id
       |), nd AS (
       |  SELECT e.* FROM ex e LEFT JOIN comp c ON e.doc_id = c.id
       |  WHERE COALESCE(c.component, e.doc_id) = e.doc_id
       |), sp AS (
       |  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':42') AS hx FROM nd
       |), spv AS (
       |  SELECT doc_id, CAST(${shaPrefix32()} AS DOUBLE) / 4294967296.0 AS sfrac FROM sp
       |), spl AS (
       |  SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split_name FROM spv
       |), pk0 AS (
       |  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':pack42') AS hx,
       |    CAST(len(list_filter(string_split_regex(text, '$ws'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
       |  FROM nd
       |), pk1 AS (
       |  SELECT doc_id, hx, n_tokens, CAST(${shaPrefix32()} AS BIGINT) % 8 AS shard FROM pk0
       |), pk AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY hx ASC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |  FROM pk1
       |)
       |SELECT n.doc_id, n.text, n.lang, n.source, s.split_name, p.shard, p.start_off,
       |  CAST(p.start_off // 256 AS BIGINT) AS first_seq,
       |  CAST((p.start_off + greatest(p.n_tokens, 1) - 1) // 256 AS BIGINT) AS last_seq
       |FROM nd n
       |JOIN spl s ON n.doc_id = s.doc_id
       |JOIN pk p ON n.doc_id = p.doc_id""".stripMargin
  }

  /** Near-dup group oracle: the minhash pair derivation (same tail as
    * [[minhashLshOracle]]) transitively closed by a recursive walk (same
    * pattern as the q_connected_components oracle), left-joined back over
    * all documents so singletons canonicalize to themselves. */
  private def nearDupGroupsOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes(recursive = true) + "," + s"""
       | sized AS (
       |  SELECT key, count(*) AS n FROM banded GROUP BY key
       |), good AS (
       |  SELECT b.id, b.key FROM banded b JOIN sized s USING (key) WHERE s.n <= 500
       |), cand AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
       |), verified AS (
       |  SELECT c.ia, c.ib
       |  FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
       |  WHERE $jac >= 0.5
       |), uedges AS (
       |  SELECT ia AS u, ib AS v FROM verified
       |  UNION ALL SELECT ib, ia FROM verified
       |), unodes AS (
       |  SELECT DISTINCT u AS id FROM uedges
       |), walk(id, r) AS (
       |  SELECT id, id FROM unodes
       |  UNION
       |  SELECT w.id, e.v FROM walk w JOIN uedges e ON w.r = e.u
       |), comp AS (
       |  SELECT id, min(r) AS component FROM walk GROUP BY id
       |)
       |SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS canonical_id
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin
  }

  /** Incremental variant of [[minhashLshOracle]]: the banded CTE splits by
    * doc_id parity (even = existing corpus, odd = new batch); the bucket
    * cap sizes CORPUS buckets only, and candidates only cross sides. */
  private def minhashIncrementalOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes + "," + s"""
       | cbanded AS (
       |  SELECT id, key FROM banded WHERE id % 2 = 0
       |), bbanded AS (
       |  SELECT id, key FROM banded WHERE id % 2 = 1
       |), sized AS (
       |  SELECT key, count(*) AS n FROM cbanded GROUP BY key
       |), goodc AS (
       |  SELECT c.id, c.key FROM cbanded c JOIN sized s USING (key) WHERE s.n <= 500
       |), cand AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bbanded b JOIN goodc c ON b.key = c.key
       |)
       |SELECT c.batch_id, c.corpus_id, $jac AS jaccard
       |FROM cand c JOIN base x ON c.batch_id = x.id JOIN base y ON c.corpus_id = y.id
       |WHERE $jac >= 0.5""".stripMargin
  }

  /** Exact cosine top-3 (the q_ann_bruteforce oracle, factored so
    * q_ann_recall can compose it with the LSH derivation). */
  private val oracleSqlBruteForce: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), ranked AS (
      |  SELECT vec_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM pairs
      |)
      |SELECT vec_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3""".stripMargin

  private def annLshOracle: String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 4, 6, 42L)
    // CAST('<shortest-roundtrip-repr>' AS DOUBLE): a bare decimal literal
    // would parse as DECIMAL and lose the exact binary64 value
    def dot(plane: Array[Double]): String = {
      val lits = plane.map(v => s"CAST('$v' AS DOUBLE)").mkString(",")
      s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ([$lits])[i]))"
    }
    val bandKeys = (0 until 4).map { b =>
      val bits = (0 until 6).map { p =>
        s"(CASE WHEN ${dot(planes(b)(p))} > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"'$b:' || CAST($bits AS VARCHAR)"
    }.mkString(", ")
    s"""WITH buckets AS (
       |  SELECT vec_id, unnest([$bandKeys]) AS key FROM embeddings
       |), sized AS (
       |  SELECT key, count(*) AS n FROM buckets GROUP BY key
       |), good AS (
       |  SELECT b.vec_id, b.key FROM buckets b JOIN sized s USING (key)
       |  WHERE s.n <= 2000
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
       |  FROM good a JOIN good b ON a.key = b.key AND a.vec_id <> b.vec_id
       |), scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c JOIN embeddings ea ON c.vec_id = ea.vec_id
       |              JOIN embeddings eb ON c.neighbor_id = eb.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT vec_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** Multi-probe LSH oracle: integer band signatures re-derived with the
    * planes inlined, probe keys = sig plus every single-bit xor, then
    * the probe-index join / pair distinct / cosine / top-k window —
    * the [[graft.operators.Similarity.lshMultiProbeTopK]] defaults
    * (bands=4, planesPerBand=6, probeBits=1, bucketCap=2000). */
  private def annMultiProbeOracle: String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 4, 6, 42L)
    def dot(plane: Array[Double]): String = {
      val lits = plane.map(v => s"CAST('$v' AS DOUBLE)").mkString(",")
      s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ([$lits])[i]))"
    }
    def sig(b: Int): String = (0 until 6).map { p =>
      s"(CASE WHEN ${dot(planes(b)(p))} > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val indexKeys = (0 until 4)
      .map(b => s"'$b:' || CAST(${sig(b)} AS VARCHAR)").mkString(", ")
    val probeKeys = (0 until 4).flatMap { b =>
      s"'$b:' || CAST(${sig(b)} AS VARCHAR)" +:
        (0 until 6).map(j =>
          s"'$b:' || CAST(xor(${sig(b)}, ${1 << j}) AS VARCHAR)")
    }.mkString(", ")
    s"""WITH buckets AS (
       |  SELECT vec_id, unnest([$indexKeys]) AS key FROM embeddings
       |), sized AS (
       |  SELECT key, count(*) AS n FROM buckets GROUP BY key
       |), good AS (
       |  SELECT b.vec_id, b.key FROM buckets b JOIN sized s USING (key)
       |  WHERE s.n <= 2000
       |), probes AS (
       |  SELECT vec_id AS qid, unnest([$probeKeys]) AS key FROM embeddings
       |), cand AS (
       |  SELECT DISTINCT p.qid AS vec_id, g.vec_id AS neighbor_id
       |  FROM probes p JOIN good g ON p.key = g.key AND p.qid <> g.vec_id
       |), scored AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand c JOIN embeddings ea ON c.vec_id = ea.vec_id
       |              JOIN embeddings eb ON c.neighbor_id = eb.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT vec_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3""".stripMargin
  }

  private def annIvfOracle: String =
    s"""WITH ordered AS (
       |  SELECT vec_id, embedding,
       |    row_number() OVER (ORDER BY sha256(CAST(vec_id AS VARCHAR) || ':42') ASC, vec_id ASC) AS rn
       |  FROM embeddings
       |), cents AS (
       |  SELECT rn - 1 AS cid,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
       |      / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS REAL)) AS cent
       |  FROM ordered WHERE rn <= 16
       |), vc AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cent")} AS cs
       |  FROM embeddings e CROSS JOIN cents c
       |), vcr AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rr
       |  FROM vc
       |), assigned AS (
       |  SELECT vec_id AS neighbor_id, cid FROM vcr WHERE rr = 1
       |), probes AS (
       |  SELECT vec_id, cid FROM vcr WHERE rr <= 4
       |), scored AS (
       |  SELECT p.vec_id, a.neighbor_id,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND p.vec_id <> a.neighbor_id
       |  JOIN embeddings ea ON ea.vec_id = p.vec_id
       |  JOIN embeddings eb ON eb.vec_id = a.neighbor_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT vec_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3""".stripMargin

  /** Per-doc 60-bit sha-family SimHash in SQL: per-token hash = integer
    * value of the first 15 hex chars of sha256(token); bit b of the
    * signature set iff the ±1 votes over tokens are positive. Mirrors
    * TextKernels.simhash60Sha bit for bit. */
  private val shaSimhashCtes: String =
    """toks AS (
      |  SELECT doc_id AS id,
      |    unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0)) AS tok
      |  FROM documents
      |), th AS (
      |  SELECT id, sha256(tok) AS h FROM toks
      |), bits AS (
      |  SELECT id, bb.b AS b,
      |    sum(CASE WHEN (((strpos('0123456789abcdef', substr(h, 15 - (bb.b // 4), 1)) - 1)
      |                    >> (bb.b % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
      |  GROUP BY id, bb.b
      |), sig AS (
      |  SELECT id,
      |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY id
      |)""".stripMargin

  /** @param hardCap the only lossy cut in the 3-tier ngram-Jaccard
    *   policy (tiers 1+2 — plain and salted — are lossless:
    *   q_dedup_ngram_jaccard forces blocks through the salted grid and
    *   must match this oracle WITHOUT a cut). */
  private def dedupNgramOracle(hardCap: Option[Int]): String = {
    val cut = hardCap match {
      case Some(cap) =>
        s""", sized AS (
           |  SELECT bk, count(*) AS n FROM base GROUP BY bk
           |), good AS (
           |  SELECT b.id, b.tk, b.bk FROM base b JOIN sized s USING (bk)
           |  WHERE s.n <= $cap
           |)""".stripMargin
      case None => ", good AS (SELECT id, tk, bk FROM base)"
    }
    s"""WITH base AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> len(t) > 0)) AS tk,
       |    lang || chr(1) || source AS bk
       |  FROM documents
       |)$cut, scored AS (
       |  SELECT a.id AS ia, b.id AS ib,
       |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE) AS jaccard
       |  FROM good a JOIN good b ON a.bk = b.bk AND a.id < b.id
       |)
       |SELECT ia, ib, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin
  }

  /** @param hardCap the only lossy cut in the 3-tier simhash policy
    *   (tiers 1+2 — plain and salted — are lossless, gate-proven by
    *   q_dedup_simhash_salted matching this oracle WITHOUT a cut). */
  private def dedupSimhashOracle(hardCap: Option[Int]): String = {
    val bandKeys = (0 until 4).map { b =>
      s"'$b:' || CAST((sig >> ${b * 15}) & 32767 AS VARCHAR)"
    }.mkString(", ")
    val cut = hardCap match {
      case Some(cap) =>
        s""", sized AS (
           |  SELECT key, count(*) AS n FROM banded GROUP BY key
           |), good AS (
           |  SELECT b.id, b.sig, b.key FROM banded b JOIN sized s USING (key)
           |  WHERE s.n <= $cap
           |)""".stripMargin
      case None => ", good AS (SELECT id, sig, key FROM banded)"
    }
    s"""WITH $shaSimhashCtes, banded AS (
       |  SELECT id, sig, unnest([$bandKeys]) AS key FROM sig
       |)$cut, pairs AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib,
       |    bit_count(xor(a.sig, b.sig)) AS hamming
       |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
       |)
       |SELECT ia, ib, hamming FROM pairs WHERE hamming <= 8""".stripMargin
  }

  private def docSignaturesOracle: String =
    s"""WITH $shaSimhashCtes, fp AS (
       |  SELECT id, min(sha256('0:' || sh)) AS fingerprint
       |  FROM (
       |    SELECT doc_id AS id, unnest(CASE WHEN length(text) >= 16
       |      THEN list_transform(range(1, length(text) - 14), i -> substr(text, i, 16))
       |      ELSE [text] END) AS sh
       |    FROM documents
       |  ) GROUP BY id
       |)
       |SELECT d.doc_id, f.fingerprint, coalesce(s.sig, 0) AS simhash
       |FROM documents d
       |JOIN fp f ON f.id = d.doc_id
       |LEFT JOIN sig s ON s.id = d.doc_id""".stripMargin

  /** Oracle for the streaming match queries: JW + multiset-Dice over
    * normalized first-line names within (lang, source, prefix) blocks.
    * `pairCond` is `<>` for stream-static (both directions emitted) and
    * `<` for stateful incremental / canonicalized stream-stream (each
    * unordered pair once); `bandSeconds` adds the stream-stream join's
    * event-time band (event time = doc_id seconds, so the band is a
    * doc_id-difference cut). */
  private def streamOracle(pairCond: String,
      bandSeconds: Option[Long] = None): String = {
    val band = bandSeconds
      .map(s => s" AND abs(a.doc_id - b.doc_id) <= $s").getOrElse("")
    s"""WITH k AS (
       |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS url,
       |    regexp_replace(lower(split_part(text, chr(10), 1)), '[^a-z0-9]', '', 'g') AS name,
       |    lang || ':' || source || ':' ||
       |      substr(regexp_replace(lower(split_part(text, chr(10), 1)), '[^a-z0-9]', '', 'g'), 1, 2) AS bk
       |  FROM documents
       |), pairs AS (
       |  SELECT a.url AS url_a, b.url AS url_b, a.name AS na, b.name AS nb
       |  FROM k a JOIN k b ON a.bk = b.bk AND a.url $pairCond b.url$band
       |), exploded AS (
       |  SELECT url_a, url_b, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
       |  UNION ALL
       |  SELECT url_a, url_b, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
       |), counts AS (
       |  SELECT url_a, url_b, ch, sum(ac) AS ca, sum(bc) AS cb
       |  FROM exploded GROUP BY url_a, url_b, ch
       |), sums AS (
       |  SELECT url_a, url_b, sum(least(ca, cb)) AS inter, sum(ca) + sum(cb) AS total
       |  FROM counts GROUP BY url_a, url_b
       |), scored AS (
       |  SELECT p.url_a, p.url_b,
       |    (CASE WHEN p.na = p.nb THEN 1.0
       |          ELSE jaro_winkler_similarity(p.na, p.nb) END
       |     + CASE WHEN p.na = p.nb THEN 1.0
       |            ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END) AS score
       |  FROM pairs p JOIN sums s ON p.url_a = s.url_a AND p.url_b = s.url_b
       |)
       |SELECT url_a, url_b, score FROM scored WHERE score >= 1.5""".stripMargin
  }

  /** sha-family media features: feature d = the 24-bit big-endian integer
    * spelled by hex chars [6d+1, 6d+6] of sha256(blob), over 2^24; the
    * query outputs the integers (×2^24), so the oracle re-derives them
    * straight from the digest nibbles. Kind = the same magic-byte CASE as
    * q_media_metadata (proven since round 1). */
  private def mediaFeaturesOracle: String = {
    val hexVal = (pos: String) => s"(strpos('0123456789abcdef', substr(h, $pos, 1)) - 1)"
    val nibbles = (0 until 6).map { j =>
      val w = 1L << (4 * (5 - j))
      s"${hexVal(s"6*d + ${j + 1}")} * $w"
    }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id, sha256(text) AS h,
       |    upper(substring(hex(CAST(text AS BLOB)), 1, 8)) AS magic
       |  FROM documents
       |)
       |SELECT id,
       |  CASE WHEN magic LIKE '89504E47%' THEN 'png'
       |       WHEN magic LIKE 'FFD8FF%' THEN 'jpeg'
       |       WHEN magic LIKE '474946%' THEN 'gif'
       |       WHEN magic LIKE '52494646%' THEN 'riff'
       |       WHEN magic LIKE '3C68746D%' OR magic LIKE '3C21444F%' THEN 'html'
       |       ELSE 'unknown' END AS kind,
       |  array_to_string(list_transform(range(0, 8), d ->
       |    CAST(CAST($nibbles AS BIGINT) AS VARCHAR)), ',') AS features_q24
       |FROM m""".stripMargin
  }

  /** Deterministic split oracle: frac = 32-bit value of the first 8 hex
    * chars of sha256(doc_id ':42') over 2^32; the interval cuts are
    * interpolated from the SAME Scala cumulative sum the operator uses
    * (0.8 + 0.1 in binary64 is 0.9000000000000001, not 0.9 — a hand-typed
    * '0.9' literal would misclassify a row landing in the gap). */
  /** DuckDB value of the first 8 hex chars of column `hx` as an integer —
    * the 32-bit sha prefix behind Sampling.hashFraction and
    * Packing.packAssignments' shard. Shared by every oracle that
    * re-derives a sha fraction/shard (split/mixture/pack). */
  private def shaPrefix32(hexCol: String = "hx"): String =
    (0 until 8).map { j =>
      val w = 1L << (4 * (7 - j))
      s"(strpos('0123456789abcdef', substr($hexCol, ${j + 1}, 1)) - 1) * $w"
    }.mkString(" + ")

  private def splitAssignOracle: String = {
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    val nibbles = shaPrefix32()
    val cases = weights.init.zip(cuts.init).map { case ((name, _), cut) =>
      s"WHEN frac < CAST('$cut' AS DOUBLE) THEN '$name'"
    }.mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':42') AS hx
       |  FROM documents
       |), v AS (
       |  SELECT doc_id, CAST($nibbles AS DOUBLE) / 4294967296.0 AS frac FROM h
       |)
       |SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split_name
       |FROM v""".stripMargin
  }

  /** Cluster-keyed split re-derivation: the splitAssign sha fraction over
    * the cluster key (or the "s:"-prefixed singleton fallback for rows
    * outside the assignment). */
  private def splitByClusterOracle: String = {
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    val nibbles = shaPrefix32()
    val cases = weights.init.zip(cuts.init).map { case ((name, _), cut) =>
      s"WHEN frac < CAST('$cut' AS DOUBLE) THEN '$name'"
    }.mkString(" ")
    s"""WITH k AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 <> 0 THEN CAST(doc_id % 89 AS VARCHAR)
       |         ELSE 's:' || CAST(doc_id AS VARCHAR) END AS key
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, sha256(key || ':42') AS hx FROM k
       |), v AS (
       |  SELECT doc_id, CAST($nibbles AS DOUBLE) / 4294967296.0 AS frac FROM h
       |)
       |SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split_name
       |FROM v""".stripMargin
  }

  /** Column-profile re-derivation: per column, the (value → count) table,
    * the integer stat fold over it, and the argmax-by-(count desc, value
    * asc) top value. */
  /** Winnowing fingerprint CTEs (k=8, w=4, sha256 family): per-position
    * gram hashes, full windows only, argmin with rightmost tie via
    * row_number — ends as a `fp(doc_id, fp_hash, fp_pos)` CTE so the
    * fingerprint gate and the pair-composition gate share one
    * derivation. */
  private def winnowCtes: String =
    s"""src AS (
       |  SELECT doc_id, text, length(text) - 7 AS ng FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 8
       |), gh AS (
       |  SELECT doc_id, ng, unnest(range(1, ng + 1)) AS pos, text
       |  FROM src
       |), g AS (
       |  SELECT doc_id, ng, pos, ${hexU32Sql("h", 1)} AS h
       |  FROM (SELECT doc_id, ng, pos,
       |          sha256(substr(text, CAST(pos AS INTEGER), 8)) AS h
       |        FROM gh) z
       |), starts AS (
       |  SELECT doc_id, pos AS s FROM g WHERE pos <= ng - 3
       |), cand AS (
       |  SELECT st.doc_id, st.s, g.h, g.pos
       |  FROM starts st JOIN g
       |    ON g.doc_id = st.doc_id AND g.pos BETWEEN st.s AND st.s + 3
       |), sel AS (
       |  SELECT doc_id, h, pos, row_number() OVER (
       |    PARTITION BY doc_id, s ORDER BY h ASC, pos DESC) AS rn
       |  FROM cand
       |), fp AS (
       |  SELECT DISTINCT doc_id, h AS fp_hash, CAST(pos AS INTEGER) AS fp_pos
       |  FROM sel WHERE rn = 1
       |)""".stripMargin

  /** HLL overlap oracle: per-column register CTEs (both tables), a
    * bucket-wise-max merge per column pair, and the exact integer
    * (n_seen, Σ 2^(33−rho)) aggregates of all three sketches. */
  private def hllOverlapOracle: String = {
    val p = 12; val m = 1 << p
    val aCols = Seq("c_custkey", "c_nationkey", "c_name")
    val bCols = Seq("s_suppkey", "s_nationkey", "s_name")
    def reg(t: String, c: String, pre: String) =
      s"${pre}_$c AS (SELECT bucket, max_rho FROM (\n${hllRegSql(t, c, c, p)}) q)"
    def agg(src: String) =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_seen,
         |  CAST(($m - count(*)) * 8589934592 +
         |    sum(CAST(1 AS BIGINT) << (33 - max_rho)) AS BIGINT) AS ts
         |FROM $src""".stripMargin
    val regs = aCols.map(c => reg("customer", c, "ra")) ++
      bCols.map(c => reg("supplier", c, "rb"))
    val merges = for (a <- aCols; b <- bCols) yield
      s"""m_${a}_$b AS (SELECT bucket, max(max_rho) AS max_rho FROM (
         |  SELECT * FROM ra_$a UNION ALL SELECT * FROM rb_$b) z
         |  GROUP BY 1)""".stripMargin
    val rows = for (a <- aCols; b <- bCols) yield
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  ea.n_seen AS n_seen_a, ea.ts AS total_scaled_a,
         |  eb.n_seen AS n_seen_b, eb.ts AS total_scaled_b,
         |  eu.n_seen AS n_seen_union, eu.ts AS total_scaled_union
         |FROM (${agg(s"ra_$a")}) ea, (${agg(s"rb_$b")}) eb,
         |  (${agg(s"m_${a}_$b")}) eu""".stripMargin
    s"WITH ${(regs ++ merges).mkString(",\n")}\n${rows.mkString("\nUNION ALL\n")}"
  }

  /** Unrolled synchronous label propagation: per round, a (dst, label)
    * vote count over the symmetric edge set joined to the PREVIOUS
    * round's labels, an argmax (count desc, label asc), and a
    * carry-forward left join — exactly the operator's three plan steps,
    * `rounds` times. Edge derivation = the q_connected_components match
    * graph (names are ASCII here, so DuckDB's byte levenshtein agrees
    * with the code-point kernel). */
  private def lpaOracle(rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT e.dst, l.label, count(*) AS cnt
         |  FROM edges e JOIN l${r - 1} l ON e.src = l.id GROUP BY 1, 2
         |), w$r AS (
         |  SELECT dst, label FROM (
         |    SELECT dst, label, row_number() OVER (
         |      PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
         |    FROM v$r) z WHERE rn = 1
         |), l$r AS (
         |  SELECT p.id, coalesce(w.label, p.label) AS label
         |  FROM l${r - 1} p LEFT JOIN w$r w ON p.id = w.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
       |  FROM customer a JOIN customer b
       |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       |  WHERE a.c_name <> b.c_name
       |    AND 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
       |        / greatest(length(a.c_name), length(b.c_name)) >= 0.94
       |), edges AS (
       |  SELECT ka AS src, kb AS dst FROM pairs
       |  UNION SELECT kb, ka FROM pairs
       |), l0 AS (
       |  SELECT DISTINCT dst AS id, dst AS label FROM edges
       |),
       |$iters
       |SELECT id, label FROM l$rounds""".stripMargin
  }

  /** HLL register SELECT for one column: sha256 double-hash, bucket =
    * h1 mod 2^p, rho = 33 − bitlength(h2) — over DISTINCT values
    * (registers are dedup-invariant, so the oracle may shrink its input),
    * mirroring [[graft.operators.Profiling.hllRegisters]] exactly. */
  private def hllRegSql(table: String, colExpr: String, name: String,
      p: Int): String =
    s"""SELECT CAST('$name' AS VARCHAR) AS col_name, h1 % ${1 << p} AS bucket,
       |  max(33 - length(ltrim(bin(CAST(h2 AS BIGINT)), '0'))) AS max_rho
       |FROM (
       |  SELECT ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
       |  FROM (SELECT sha256(v) AS h FROM (
       |    SELECT DISTINCT CAST($colExpr AS VARCHAR) AS v FROM $table
       |    WHERE $colExpr IS NOT NULL) z0) z1) z2
       |GROUP BY 2""".stripMargin

  /** Raw-estimate oracle: per column, the exact integer Σ 2^(33−rho)
    * scaling, then the ONE pinned IEEE raw-estimate expression and the
    * correction flag — double literals passed as strings so both engines
    * strtod the same value. */
  private def hllProfileOracle: String = {
    val p = 12; val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val cols = Seq("doc_id", "lang", "source", "text")
    val regs = cols.map(c =>
      s"reg_$c AS (\n${hllRegSql("documents", c, c, p)})").mkString(",\n")
    val ests = cols.map(c =>
      s"""SELECT CAST('$c' AS VARCHAR) AS col_name, $m AS m,
         |  CAST(count(*) AS BIGINT) AS n_seen,
         |  CAST($m - count(*) AS BIGINT) AS v_zero,
         |  CAST(($m - count(*)) * 8589934592 +
         |    sum(CAST(1 AS BIGINT) << (33 - max_rho)) AS BIGINT)
         |    AS total_scaled
         |FROM reg_$c""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH $regs,
       |est AS (
       |$ests
       |), raw AS (
       |  SELECT col_name, m, n_seen, v_zero, total_scaled,
       |    CAST('$alpha' AS DOUBLE) * CAST('${m.toDouble * m}' AS DOUBLE) /
       |      (CAST(total_scaled AS DOUBLE) / CAST('8589934592' AS DOUBLE))
       |      AS raw_estimate
       |  FROM est
       |)
       |SELECT *,
       |  CASE WHEN raw_estimate <= CAST('${2.5 * m}' AS DOUBLE)
       |        AND v_zero > 0 THEN 'linear'
       |       WHEN raw_estimate > CAST('${4294967296.0 / 30.0}' AS DOUBLE)
       |        THEN 'large'
       |       ELSE 'none' END AS correction
       |FROM raw""".stripMargin
  }

  private def profileColumnsOracle: String = {
    val cols = Seq("lang", "source_n", "nc")
    val per = cols.map { c =>
      s"""vc_$c AS (
         |  SELECT $c AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY $c
         |), st_$c AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         |         CAST(coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0)
         |           AS BIGINT) AS n_null,
         |         CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT)
         |           AS n_distinct
         |  FROM vc_$c
         |), tp_$c AS (
         |  SELECT v AS top_value, cnt AS top_count FROM (
         |    SELECT v, cnt, row_number() OVER (ORDER BY cnt DESC, v ASC) AS rn
         |    FROM vc_$c WHERE v IS NOT NULL) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val sel = cols.map { c =>
      s"""SELECT '$c' AS col_name, n_rows, n_null, n_distinct, top_value,
         |  CAST(coalesce(top_count, 0) AS BIGINT) AS top_count
         |FROM st_$c LEFT JOIN tp_$c ON TRUE""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
       |  SELECT lang,
       |    CASE WHEN source = 'src0' THEN NULL ELSE source END AS source_n,
       |    CAST(n_chars AS VARCHAR) AS nc
       |  FROM documents
       |),
       |$per
       |$sel""".stripMargin
  }

  /** Mixture-sample re-derivation: the same 32-bit sha fraction as
    * splitAssignOracle (seed 7) against exact-binary rate literals. */
  private def mixtureSampleOracle: String = {
    val nibbles = shaPrefix32()
    s"""WITH h AS (
       |  SELECT doc_id, source, sha256(CAST(doc_id AS VARCHAR) || ':7') AS hx
       |  FROM documents
       |), v AS (
       |  SELECT doc_id, source, CAST($nibbles AS DOUBLE) / 4294967296.0 AS frac
       |  FROM h
       |)
       |SELECT doc_id, source FROM v
       |WHERE frac < CASE source
       |  WHEN 'src0' THEN CAST('0.25' AS DOUBLE)
       |  WHEN 'src1' THEN CAST('0.0' AS DOUBLE)
       |  WHEN 'src2' THEN CAST('0.5' AS DOUBLE)
       |  ELSE CAST('0.75' AS DOUBLE) END""".stripMargin
  }

  /** Packing layout re-derivation: the shard is the first 8 sha hex chars
    * mod `shards`, the offset a window prefix sum in (sha, id) order, and
    * the sequence ids integer divisions — all exact. */
  private def packAssignmentsOracle: String = {
    val nibbles = shaPrefix32()
    s"""WITH h AS (
       |  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':pack42') AS hx,
       |    CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'),
       |      t -> len(t) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents
       |), v AS (
       |  SELECT doc_id, hx, n_tokens, CAST($nibbles AS BIGINT) % 8 AS shard
       |  FROM h
       |), o AS (
       |  SELECT doc_id AS id, shard, n_tokens,
       |    CAST(COALESCE(sum(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY hx ASC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM v
       |)
       |SELECT id, shard, n_tokens, start_off,
       |  CAST(start_off // 256 AS BIGINT) AS first_seq,
       |  CAST((start_off + greatest(n_tokens, 1) - 1) // 256 AS BIGINT) AS last_seq
       |FROM o""".stripMargin
  }

  /** Code-point-relational oracle for q_unicode_sims: the string pair is
    * rebuilt with chr() from the same palette/arithmetic, split into CODE
    * POINTS (DuckDB's string_split(s, '') is code-point based — verified
    * incl. supplementary-plane: chr(128578) splits as ONE element), and
    * all three similarities are computed from per-cp positions/bags —
    * DuckDB's byte-based levenshtein-family builtins are never touched. */
  private def unicodeSimsOracle: String = {
    val pal = "[chr(97), chr(233), chr(945), chr(20013), chr(128578), chr(122)]"
    def uch(k: String) = s"$pal[CAST(($k) % 6 AS BIGINT) + 1]"
    val na = (0 until 8).map(i => uch(s"doc_id * ${i + 3} + $i")).mkString(" || ")
    val shifted = (0 until 8).map { i =>
      uch(s"doc_id * ${i + 3} + $i + (CASE WHEN (doc_id + $i) % 3 = 0 THEN 1 ELSE 0 END)")
    }.mkString(" || ")
    s"""WITH strs AS (
       |  SELECT doc_id, $na AS na,
       |    CASE WHEN doc_id % 7 = 0 THEN $na
       |         ELSE substr($shifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS nb
       |  FROM documents
       |), cps AS (
       |  SELECT doc_id, na, nb,
       |    string_split(na, '') AS ca, string_split(nb, '') AS cb
       |  FROM strs
       |), m AS (
       |  SELECT doc_id, na, nb, len(ca) AS la, len(cb) AS lb,
       |    len(list_filter(range(1, least(len(ca), len(cb)) + 1),
       |      i -> ca[i] <> cb[i])) AS mm
       |  FROM cps
       |), exploded AS (
       |  SELECT doc_id, unnest(ca) AS ch, 1 AS ac, 0 AS bc FROM cps
       |  UNION ALL
       |  SELECT doc_id, unnest(cb) AS ch, 0 AS ac, 1 AS bc FROM cps
       |), counts AS (
       |  SELECT doc_id, ch, sum(ac) AS cca, sum(bc) AS ccb
       |  FROM exploded GROUP BY doc_id, ch
       |), sums AS (
       |  SELECT doc_id, sum(least(cca, ccb)) AS inter,
       |    sum(greatest(cca, ccb)) AS uni, sum(cca) + sum(ccb) AS total
       |  FROM counts GROUP BY doc_id
       |)
       |SELECT m.doc_id, m.na, m.nb,
       |  CASE WHEN m.na = m.nb THEN 1.0
       |       ELSE 1.0 - CAST(m.mm + abs(m.la - m.lb) AS DOUBLE)
       |            / greatest(m.la, m.lb) END AS ham_sim,
       |  CASE WHEN m.na = m.nb THEN 1.0
       |       ELSE CAST(s.inter AS DOUBLE) / s.uni END AS jac_sim,
       |  CASE WHEN m.na = m.nb THEN 1.0
       |       ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END AS dice_sim
       |FROM m JOIN sums s ON m.doc_id = s.doc_id""".stripMargin
  }

  /** Oracle for q_unicode_edit_sims. Edit distances and Jaro depend only
    * on the symbol-EQUALITY pattern, never on symbol identity, so the
    * oracle rebuilds the pair twice with the same index arithmetic: once
    * with the real mixed-plane palette (echoed as na/nb for the hash) and
    * once mapped to distinct ASCII letters (ta/tb). On the ASCII twin,
    * byte == code point, so DuckDB's builtin levenshtein /
    * damerau_levenshtein / jaro(_winkler)_similarity compute the exact
    * code-point values — and those builtins are bit-identical to our
    * kernels (proven by the 45k-pair ASCII gates). substr counts code
    * points in DuckDB, so the truncation is index-aligned across twins. */
  private def unicodeEditSimsOracle: String = {
    def mk(pal: String): (String, String) = {
      def uch(k: String) = s"$pal[CAST(($k) % 6 AS BIGINT) + 1]"
      val na = (0 until 8).map(i => uch(s"doc_id * ${i + 3} + $i")).mkString(" || ")
      val shifted = (0 until 8).map { i =>
        uch(s"doc_id * ${i + 3} + $i + (CASE WHEN (doc_id + $i) % 3 = 0 THEN 1 ELSE 0 END)")
      }.mkString(" || ")
      (na, shifted)
    }
    val (na, shifted) =
      mk("[chr(97), chr(233), chr(945), chr(20013), chr(128578), chr(122)]")
    val (ta, tshifted) = mk("['a', 'b', 'c', 'd', 'e', 'f']")
    s"""WITH strs AS (
       |  SELECT doc_id, $na AS na,
       |    CASE WHEN doc_id % 7 = 0 THEN $na
       |         ELSE substr($shifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS nb,
       |    $ta AS ta,
       |    CASE WHEN doc_id % 7 = 0 THEN $ta
       |         ELSE substr($tshifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS tb
       |  FROM documents
       |)
       |SELECT doc_id, na, nb,
       |  CASE WHEN na = nb THEN 1.0
       |       ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
       |            / greatest(length(ta), length(tb)) END AS lev_sim,
       |  CASE WHEN na = nb THEN 1.0
       |       ELSE 1.0 - CAST(damerau_levenshtein(ta, tb) AS DOUBLE)
       |            / greatest(length(ta), length(tb)) END AS dl_sim,
       |  CASE WHEN na = nb THEN 1.0 ELSE jaro_similarity(ta, tb) END AS jaro_s,
       |  CASE WHEN na = nb THEN 1.0 ELSE jaro_winkler_similarity(ta, tb) END
       |    AS jw_sim
       |FROM strs""".stripMargin
  }

  /** The scrub oracle applies the IDENTICAL Java∩RE2 pattern strings in
    * the identical order over the identically-constructed dirty text. */
  private def scrubPiiOracle: String = {
    // single line: the enclosing template's stripMargin must not see
    // continuation lines whose leading `|` belongs to a SQL `||`
    val dirty = "substring(text, 1, 40) || ' mail u' || CAST(doc_id AS VARCHAR)" +
      " || '@ex-a.org via https://h' || CAST(doc_id AS VARCHAR)" +
      " || '.example/p?q=1 tel +1 (555) 01' || CAST(doc_id AS VARCHAR)" +
      " || ' host 10.0.0.' || CAST(doc_id % 200 AS VARCHAR)"
    val scrub = graft.operators.TextAnalysis.PiiPatterns
      .foldLeft("dirty") { case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '$pat', '$repl', 'g')"
      }
    s"""WITH d AS (
       |  SELECT doc_id, $dirty AS dirty FROM documents
       |)
       |SELECT doc_id, dirty, $scrub AS scrubbed FROM d""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** The synthesized multi-line document view shared by
    * q_quality_repetition and q_dedup_spans. The Spark Column and the SQL
    * mirror live side by side HERE so they cannot drift: every oracle
    * containing the `__ML_SQL__` placeholder gets [[mlSql]] substituted
    * at map build time. */
  private def mlView: Column = concat(
    substring(col("text"), 1, 60), lit("\n"),
    substring(col("text"), 31, 90), lit("\n"),
    substring(col("text"), 1, 60), lit("\n"),
    substring(col("text"), 121, 100000))

  private val mlSql: String =
    "substr(text, 1, 60) || chr(10) || substr(text, 31, 90) || chr(10) " +
      "|| substr(text, 1, 60) || chr(10) || substr(text, 121, 100000)"

  def oracleSql: Map[String, String] = oracleSqlRaw.map { case (k, v) =>
    k -> v.replace("__ML_SQL__", mlSql)
  }

  /** Caverphone 2.0 as one nested-SQL expression, generated by folding the
    * SAME rule table the Spark Column folds over — the two engines cannot
    * drift because there is only one rule list. */
  private val caverphoneSqlExpr: String = {
    val base = "regexp_replace(lower(p_name), '[^a-z]', '', 'g')"
    val chained = graft.operators.Phonetic.caverphoneRules.foldLeft(base) {
      case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    s"substring($chained || '1111111111', 1, 10)"
  }

  /** Oracle for q_lsh_plan, generated from the same numHashes/threshold/
    * grid the Spark call uses. Doubles are emitted with an e0 suffix so
    * DuckDB's parser produces a DOUBLE directly (no DECIMAL intermediate);
    * every power is a recursive accumulator multiplying in the identical
    * left-fold order as Dedup.powChain. */
  private def lshPlanOracle: String = {
    val nh = 24
    val t = 0.7
    val grid = (1 to 19).map(_ * 0.05)
    def dbl(x: Double): String = {
      val s = x.toString
      if (s.contains("e") || s.contains("E")) s else s + "e0"
    }
    val pairVals = (1 to nh).filter(nh % _ == 0)
      .map(b => s"($b, ${nh / b})").mkString(", ")
    val gridVals = grid.map(s => s"(${dbl(s)})").mkString(", ")
    s"""WITH RECURSIVE pairs(b, r) AS (VALUES $pairVals),
       |grid(s) AS (VALUES $gridVals),
       |tp(b, r, i, acc) AS (
       |  SELECT b, r, 1, ${dbl(t)} FROM pairs
       |  UNION ALL SELECT b, r, i + 1, acc * ${dbl(t)} FROM tp WHERE i < r
       |), score AS (
       |  SELECT b, r, abs(acc * b - 1.0) AS sc FROM tp WHERE i = r
       |), chosen AS (
       |  SELECT b, r FROM score ORDER BY sc ASC, r DESC LIMIT 1
       |), sp(s, r, b, i, acc) AS (
       |  SELECT g.s, c.r, c.b, 1, g.s FROM grid g, chosen c
       |  UNION ALL SELECT s, r, b, i + 1, acc * s FROM sp WHERE i < r
       |), qb(s, r, b, q, j, acc) AS (
       |  SELECT s, r, b, 1.0 - acc, 1, 1.0 - acc FROM sp WHERE i = r
       |  UNION ALL SELECT s, r, b, q, j + 1, acc * q FROM qb WHERE j < b
       |)
       |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
       |  s, 1.0 - acc AS p_collide
       |FROM qb WHERE j = b""".stripMargin
  }

  /** Oracle for q_error_model: every corruption choice re-derived from
    * the sha256 hex digits (nibble 9 → op, 10-11 → position, 12-13 →
    * replacement char), the op degradations and 1-based substr surgery
    * replayed verbatim. */
  private def errorModelOracle: String =
    // plain concatenation: stripMargin on a string that INTERPOLATES the
    // already-stripped CTE block would eat the `||` concat operators at
    // continuation-line starts (strips one leading `|`)
    errorModelCtes + "\n" +
    """SELECT c_custkey AS orig_id,
      |  CAST(c_custkey AS VARCHAR) || '_dup' AS dup_id,
      |  c_name, corrupted,
      |  CASE op WHEN 0 THEN 'delete' WHEN 1 THEN 'substitute'
      |          WHEN 2 THEN 'transpose' ELSE 'insert' END AS op
      |FROM g""".stripMargin

  /** q_error_recall: per error family, integer counts of within-1-edit
    * and JW ≥ 0.9 survivors over the SAME minted duplicates. */
  private def errorRecallOracle: String =
    errorModelCtes + "\n" +
    """SELECT CASE op WHEN 0 THEN 'delete' WHEN 1 THEN 'substitute'
      |               WHEN 2 THEN 'transpose' ELSE 'insert' END AS op,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(sum(CASE WHEN levenshtein(c_name, corrupted) <= 1
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_within1,
      |  CAST(coalesce(sum(CASE WHEN (CASE WHEN c_name = corrupted
      |      THEN CAST(1.0 AS DOUBLE)
      |      ELSE jaro_winkler_similarity(c_name, corrupted) END) >= 0.9
      |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_jw90
      |FROM g GROUP BY 1""".stripMargin

  /** Shared corruption CTE chain (sha256 sample → op/pos/char nibbles →
    * substr surgery) ending in `g(c_custkey, c_name, corrupted, op)`. */
  private def errorModelCtes: String = {
    def nib(j: Int) = s"(strpos('0123456789abcdef', substr(hx, $j, 1)) - 1)"
    val frac32 = shaPrefix32()
    s"""WITH h AS (
       |  SELECT c_custkey, c_name,
       |         sha256(CAST(c_custkey AS VARCHAR) || ':7') AS hx
       |  FROM customer
       |), samp AS (
       |  SELECT * FROM h
       |  WHERE CAST($frac32 AS DOUBLE) / 4294967296.0 < CAST('0.3' AS DOUBLE)
       |), d AS (
       |  SELECT c_custkey, c_name, length(c_name) AS len,
       |         ${nib(9)} % 4 AS op_raw,
       |         ${nib(10)} * 16 + ${nib(11)} AS pos_raw,
       |         (${nib(12)} * 16 + ${nib(13)}) % 26 AS sub_idx
       |  FROM samp
       |), e AS (
       |  SELECT *, CASE WHEN len = 0 THEN 3
       |                 WHEN op_raw = 2 AND len < 2 THEN 1
       |                 ELSE op_raw END AS op
       |  FROM d
       |), f AS (
       |  SELECT *,
       |    pos_raw % (CASE WHEN op = 3 THEN len + 1
       |                    WHEN op = 2 THEN len - 1 ELSE len END) + 1 AS pos,
       |    substr('abcdefghijklmnopqrstuvwxyz',
       |           CAST(sub_idx + 1 AS INT), 1) AS pch
       |  FROM e
       |), g AS (
       |  SELECT c_custkey, c_name,
       |    CASE op
       |      WHEN 0 THEN substr(c_name, 1, pos - 1)
       |                  || substr(c_name, pos + 1, len)
       |      WHEN 1 THEN substr(c_name, 1, pos - 1) || pch
       |                  || substr(c_name, pos + 1, len)
       |      WHEN 2 THEN substr(c_name, 1, pos - 1)
       |                  || substr(c_name, pos + 1, 1)
       |                  || substr(c_name, pos, 1)
       |                  || substr(c_name, pos + 2, len)
       |      ELSE substr(c_name, 1, pos - 1) || pch
       |           || substr(c_name, pos, len)
       |    END AS corrupted,
       |    op
       |  FROM f
       |)""".stripMargin
  }

  private def oracleSqlRaw: Map[String, String] = Map(
    "q_media_features" -> mediaFeaturesOracle,
    "q_split_assign" -> splitAssignOracle,
    "q_pack_assignments" -> packAssignmentsOracle,
    "q_mixture_sample" -> mixtureSampleOracle,
    "q_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |      t -> len(t) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id AS id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |), scored AS (
        |  SELECT id, t.term, t.tf, d.df,
        |    CAST(t.tf * (n_docs + 1) AS DOUBLE) / CAST(d.df + 1 AS DOUBLE) AS tfidf
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN nd
        |), ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY id ORDER BY tfidf DESC, term ASC) AS term_rank
        |  FROM scored
        |)
        |SELECT term, id, tf, df, tfidf, term_rank
        |FROM ranked WHERE term_rank <= 3""".stripMargin,
    "q_sample_stratified" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':42') ASC, doc_id ASC)
        |      AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, lang, source, sample_rank FROM r
        |WHERE sample_rank <= 20""".stripMargin,
    "q_scrub_pii" -> scrubPiiOracle,
    "q_minhash_band_keys" -> minhashBandKeysOracle,
    // OPH: one sha256 per 2-shingle, first-hex-nibble bins, per-bin min,
    // then circular right-rotation densification — bin i takes the
    // nearest non-empty bin's minimum tagged with the borrow distance.
    // The j = 0 row of the offset scan IS the filled bin, so one
    // row_number window covers both cases.
    "q_minhash_oph_sig" ->
      s"""WITH ${ophDensCteList("documents")}
        |SELECT id AS doc_id, CAST(bin AS INTEGER) AS bin, h
        |FROM dens""".stripMargin,
    // OPH dedup end-to-end: the SAME dens CTEs, banded 4×4 in bin order
    // (string_agg ORDER BY bin == the Spark side's element_at order),
    // then the standard sized/good/cand/verify tail at tau = 0.5.
    "q_dedup_minhash_oph" ->
      s"""WITH ${ophDensCteList("documents")}, banded AS (
        |  SELECT id, CAST(bin // 4 AS VARCHAR) || ':' ||
        |         sha256(string_agg(h, '|' ORDER BY bin)) AS key
        |  FROM dens GROUP BY id, bin // 4
        |), sized AS (
        |  SELECT key, count(*) AS n FROM banded GROUP BY key
        |), good AS (
        |  SELECT b.id, b.key FROM banded b JOIN sized s USING (key) WHERE s.n <= 500
        |), cand AS (
        |  SELECT DISTINCT a.id AS ia, b.id AS ib
        |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
        |)
        |SELECT c.ia, c.ib, $tokenJaccardSql AS jaccard
        |FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
        |WHERE $tokenJaccardSql >= 0.5""".stripMargin,
    // CLK bits: padded bigrams, one sha256 each, exact BIGINT nibble
    // parse of the digest's two 32-bit words, 4 double-hashed positions.
    "q_clk_bits" ->
      s"""WITH $clkBitsCteList
        |SELECT c_custkey, bit FROM cbits""".stripMargin,
    // CLK Dice: recomputed from the exploded bit SETS — the Spark side
    // runs popcounts over the packed longs, so equality proves the
    // packed form implements exactly the set semantics.
    "q_clk_dice" ->
      s"""WITH $clkBitsCteList, sizes AS (
        |  SELECT c_custkey, CAST(count(*) AS BIGINT) AS nb
        |  FROM cbits GROUP BY c_custkey
        |), pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM cbase a JOIN cbase b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |), inter AS (
        |  SELECT x.c_custkey AS ka, y.c_custkey AS kb,
        |         CAST(count(*) AS BIGINT) AS ni
        |  FROM cbits x JOIN cbits y
        |    ON x.bit = y.bit AND x.c_nationkey = y.c_nationkey
        |   AND x.c_custkey < y.c_custkey
        |  GROUP BY 1, 2
        |)
        |SELECT p.ka, p.kb,
        |  CAST(2 * coalesce(i.ni, 0) AS DOUBLE)
        |    / CAST(sa.nb + sb.nb AS DOUBLE) AS clk_dice
        |FROM pairs p
        |LEFT JOIN inter i ON i.ka = p.ka AND i.kb = p.kb
        |JOIN sizes sa ON sa.c_custkey = p.ka
        |JOIN sizes sb ON sb.c_custkey = p.kb""".stripMargin,
    // PPRL linkage: both sides' bit sets, sampled-bit band keys with the
    // positions inlined (same splitmix sample as Pprl.samplePositions),
    // key-join candidates, set-based Dice >= theta. theta = 0.5 > 0
    // lets the intersection join be inner (a zero-overlap pair cannot
    // reach the threshold).
    "q_pprl_link" ->
      s"""WITH norm AS (
        |  SELECT c_custkey AS id,
        |         regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') AS nn
        |  FROM customer WHERE c_custkey % 40 = 1
        |), aside AS (
        |  SELECT id, nn FROM norm
        |), bside AS (
        |  SELECT id, substr(nn, 1, 5) || 'x' || substr(nn, 7) AS nn FROM norm
        |), ${clkBitsFrom("aside", "a", salt = "k7")},
        |${clkBitsFrom("bside", "b", salt = "k7")},
        |akeys AS (
        |  ${pprlKeysSql("a")}
        |), bkeys AS (
        |  ${pprlKeysSql("b")}
        |), cand AS (
        |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |  FROM akeys x JOIN bkeys y ON x.key = y.key
        |), sizesa AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS nb FROM abits GROUP BY id
        |), sizesb AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS nb FROM bbits GROUP BY id
        |), interc AS (
        |  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS ni
        |  FROM cand c
        |  JOIN abits x ON x.id = c.id_a
        |  JOIN bbits y ON y.id = c.id_b AND y.bit = x.bit
        |  GROUP BY 1, 2
        |)
        |SELECT i.id_a, i.id_b,
        |  CAST(2 * i.ni AS DOUBLE) / CAST(sa.nb + sb.nb AS DOUBLE) AS dice
        |FROM interc i
        |JOIN sizesa sa ON sa.id = i.id_a
        |JOIN sizesb sb ON sb.id = i.id_b
        |WHERE CAST(2 * i.ni AS DOUBLE) / CAST(sa.nb + sb.nb AS DOUBLE)
        |      >= CAST(0.5 AS DOUBLE)""".stripMargin,
    "q_dedup_minhash_lsh" -> minhashLshOracle,
    "q_dedup_incremental" -> minhashIncrementalOracle,
    // the indexed path must reproduce the direct path bit-for-bit: same
    // oracle, so any drift between bandIndex+indexed-join and the one-shot
    // operator fails the gate
    "q_dedup_incremental_indexed" -> minhashIncrementalOracle,
    // Bloom set-bits + probe verdicts rebuilt from scratch: sha256
    // double-hash, positions (h1 + i*h2) % 65536, hit ⇔ all distinct
    // positions present.
    "q_bloom_membership" ->
      s"""WITH ch AS (
        |  SELECT ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT sha256(c_name) AS h FROM customer
        |        WHERE c_custkey % 2 = 0) z
        |), bits AS (
        |  SELECT DISTINCT (h1 + r.i * h2) % 65536 AS bit
        |  FROM ch CROSS JOIN range(0, 4) r(i)
        |), ph AS (
        |  SELECT id, ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT c_custkey AS id, sha256(c_name) AS h FROM customer) z
        |), pos AS (
        |  SELECT DISTINCT id, (h1 + r.i * h2) % 65536 AS bit
        |  FROM ph CROSS JOIN range(0, 4) r(i)
        |)
        |SELECT p.id, count(*) = count(b.bit) AS bloom_hit,
        |  (p.id % 2 = 0) AS exact_hit,
        |  (count(*) = count(b.bit)) AND NOT (p.id % 2 = 0) AS is_fp
        |FROM pos p LEFT JOIN bits b ON p.bit = b.bit
        |GROUP BY p.id""".stripMargin,
    "q_bloom_stats" ->
      s"""WITH ch AS (
        |  SELECT ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT sha256(c_name) AS h FROM customer
        |        WHERE c_custkey % 2 = 0) z
        |), bits AS (
        |  SELECT DISTINCT (h1 + r.i * h2) % 65536 AS bit
        |  FROM ch CROSS JOIN range(0, 4) r(i)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS bits_set, 65536 AS m,
        |  CAST(count(*) AS DOUBLE) / CAST(65536 AS DOUBLE) AS fill_ratio
        |FROM bits""".stripMargin,
    "q_unicode_sims" -> unicodeSimsOracle,
    "q_unicode_edit_sims" -> unicodeEditSimsOracle,
    "q_dedup_groups" -> nearDupGroupsOracle,
    "q_dedup_groups_incremental" -> nearDupGroupsOracle,
    "q_corpus_pipeline" -> corpusPipelineOracle,
    "q_stream_quality" -> {
      val scrub = graft.operators.TextAnalysis.PiiPatterns
        .foldLeft("text") { case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '$pat', '$repl', 'g')"
        }
      s"""WITH $qualitySigCtes
         |SELECT doc_id, quality, $scrub AS text
         |FROM sigq WHERE quality >= CAST('0.3' AS DOUBLE)""".stripMargin
    },
    // span dedup: parallel unnests of equal length zip element-wise in
    // DuckDB, giving (line, 1-based pos); rank/rebuild mirror the window
    // and ordered string_agg exactly (pos only ever used for ORDERING,
    // so the 0- vs 1-based difference between engines cannot matter)
    "q_dedup_spans" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    __ML_SQL__ AS ml
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, line, pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split(ml, chr(10))) AS line,
        |      unnest(range(1, len(string_split(ml, chr(10))) + 1)) AS pos
        |    FROM d)
        |  WHERE len(line) > 0
        |), kept AS (
        |  SELECT doc_id, line, pos,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rnk
        |  FROM lines
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept WHERE rnk = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id AS id, COALESCE(r.clean_text, '') AS clean_text
        |FROM d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    // exact-substring dedup: full re-derivation — tokenize on the shared
    // whitespace class, mint every 8-token window, keep-first via
    // row_number over (id, pos) order (the hot-gram-safe groupBy+join on
    // the Spark side is semantically identical), then the same
    // running-max interval merge. Window start positions are 1-based on
    // both engines by construction.
    "q_dedup_substring_spans" ->
      s"""WITH $substringSpanCtes
        |SELECT id, span_start, span_end,
        |  span_end - span_start + 1 AS span_tokens
        |FROM spans""".stripMargin,
    // the applied form: anti-range-join the token positions against the
    // merged spans, rebuild in position order, empty string when nothing
    // survives (or the document had no tokens)
    "q_dedup_substring_strip" ->
      s"""WITH $substringSpanCtes, tokpos AS (
        |  SELECT id, unnest(tk) AS tok, unnest(range(1, len(tk) + 1)) AS pos
        |  FROM toks
        |), kept AS (
        |  SELECT t.id, t.tok, t.pos FROM tokpos t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.id = t.id AND t.pos BETWEEN sp.span_start AND sp.span_end)
        |), rebuilt AS (
        |  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY id
        |)
        |SELECT d.doc_id AS id, COALESCE(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN rebuilt r ON r.id = d.doc_id""".stripMargin,
    "q_ann_lsh" -> annLshOracle,
    "q_ann_multiprobe" -> annMultiProbeOracle,
    // two kernel-ranked top-10 lists, full-outer fused with the
    // fixed-order Σ 1/(60+rank) expression, top-3 window.
    "q_rrf_fuse" ->
      """WITH p AS (
        |  SELECT a.c_custkey AS qid, b.c_custkey AS cid,
        |         a.c_name AS qn, b.c_name AS cn
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
        |), la AS (
        |  SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS r
        |  FROM (SELECT qid, cid, CASE WHEN qn = cn THEN 1.0
        |          ELSE jaro_similarity(qn, cn) END AS sim FROM p) z
        |  QUALIFY r <= 10
        |), lb AS (
        |  SELECT qid, cid, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, cid ASC) AS r
        |  FROM (SELECT qid, cid, CASE WHEN qn = cn THEN 1.0
        |          ELSE 1.0 - CAST(levenshtein(qn, cn) AS DOUBLE)
        |               / greatest(length(qn), length(cn)) END AS sim
        |        FROM p) z
        |  QUALIFY r <= 10
        |), f AS (
        |  SELECT coalesce(la.qid, lb.qid) AS qid,
        |    coalesce(la.cid, lb.cid) AS cid,
        |    coalesce(CAST(1 AS DOUBLE)
        |        / (CAST(60 AS DOUBLE) + CAST(la.r AS DOUBLE)),
        |      CAST(0 AS DOUBLE))
        |    + coalesce(CAST(1 AS DOUBLE)
        |        / (CAST(60 AS DOUBLE) + CAST(lb.r AS DOUBLE)),
        |      CAST(0 AS DOUBLE)) AS rrf_score
        |  FROM la FULL JOIN lb ON la.qid = lb.qid AND la.cid = lb.cid
        |)
        |SELECT qid, cid, rrf_score,
        |  CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf_score DESC, cid ASC) AS BIGINT)
        |    AS rank
        |FROM f QUALIFY rank <= 3""".stripMargin,
    // the salted-tier run must reproduce the PLAIN-tier oracle exactly
    // (the 2000-bucket cut in annLshOracle never bites at gate SFs, so
    // the oracle is the uncapped candidate set either way)
    "q_ann_lsh_salted" -> annLshOracle,
    // recall@k: the LSH and brute-force derivations composed as derived
    // tables (nested CTEs), then the same per-query left-join fold.
    "q_ann_recall" ->
      s"""WITH lsh AS (SELECT * FROM ($annLshOracle) x),
        |exact AS (SELECT * FROM (${oracleSqlBruteForce}) y),
        |j AS (
        |  SELECT e.vec_id,
        |    CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM exact e LEFT JOIN lsh l
        |    ON e.vec_id = l.vec_id AND e.neighbor_id = l.neighbor_id
        |)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(hit) AS BIGINT) AS n_hit,
        |  CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
        |FROM j GROUP BY vec_id""".stripMargin,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_ivf_indexed" -> annIvfOracle,
    "q_stream_matches" -> streamOracle("<>"),
    "q_stream_incremental" -> streamOracle("<"),
    "q_stream_join" -> streamOracle("<", bandSeconds = Some(120L)),
    "q_stream_dedup" ->
      "SELECT DISTINCT sha256(text) AS content_hash FROM documents",
    "q_stream_metrics" ->
      """SELECT (doc_id // 600) * 600 AS window_start, lang,
        |  count(*) AS pages
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_dedup_simhash" -> dedupSimhashOracle(Some(100000)),
    "q_dedup_simhash_salted" -> dedupSimhashOracle(None),
    "q_doc_signatures" -> docSignaturesOracle,
    "q_levenshtein_sim" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
         |            / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin,
    "q_damerau_levenshtein_sim" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(damerau_levenshtein(a.c_name, b.c_name) AS DOUBLE)
         |            / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin,
    "q_hamming_sim" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(
         |         mismatches(substr(a.c_name, 1, least(length(a.c_name), length(b.c_name))),
         |                    substr(b.c_name, 1, least(length(a.c_name), length(b.c_name))))
         |         + abs(length(a.c_name) - length(b.c_name)) AS DOUBLE)
         |         / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin,
    "q_jaro_sim" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE jaro_similarity(a.c_name, b.c_name) END AS sim
         |$customerPairsSql""".stripMargin,
    "q_jaro_winkler_sim" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE jaro_winkler_similarity(a.c_name, b.c_name) END AS sim
         |$customerPairsSql""".stripMargin,
    "q_jaccard_sim" ->
      bagSimSql("CAST(s.inter AS DOUBLE) / s.uni"),
    "q_sorensen_dice_sim" ->
      bagSimSql("2.0 * CAST(s.inter AS DOUBLE) / s.total"),
    // bag similarity = Σmin / max(|a|,|b|) — same relational bag, the
    // max-length denominator (kernel: inter.toDouble / max(n,m).toDouble)
    "q_bag_sim" ->
      bagSimSql("CAST(s.inter AS DOUBLE) / " +
        "CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)"),
    // Ratcliff-Obershelp: replay the gestalt RECURSION itself. Each seg
    // row is one pending segment pair keyed by a base-3 path id (so two
    // segments with identical text inside one pair can never merge in the
    // window partition); one recursive step finds each segment's best
    // block — candidates = every substring of sa (start × length double
    // unnest, the q_lcsstr_sim technique) that occurs in sb, j =
    // position() (the FIRST occurrence), winner by (l DESC, i, j) — and
    // emits the left child, the right child, and a match-mass tombstone
    // (sa = sb = '', so it never recurses). M = sum of tombstone masses
    // per pair; sim = 2·M/(n+m) with the kernel's multiply-then-divide
    // IEEE order.
    "q_ratcliff_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |  AND a.p_partkey % 41 = 0 AND b.p_partkey % 13 = 0
         |), seg(ka, kb, sid, sa, sb, mlen) AS (
         |  SELECT ka, kb, CAST(1 AS BIGINT), na, nb, 0
         |  FROM pairs WHERE na <> nb AND length(na) > 0 AND length(nb) > 0
         |  UNION ALL
         |  SELECT ka, kb,
         |    sid * 3 + part,
         |    CASE part WHEN 0 THEN substr(sa, 1, i - 1)
         |              WHEN 1 THEN substr(sa, i + l) ELSE '' END,
         |    CASE part WHEN 0 THEN substr(sb, 1, j - 1)
         |              WHEN 1 THEN substr(sb, j + l) ELSE '' END,
         |    CASE part WHEN 2 THEN l ELSE 0 END
         |  FROM (
         |    SELECT ka, kb, sid, sa, sb, l, i, j,
         |      row_number() OVER (PARTITION BY ka, kb, sid
         |                         ORDER BY l DESC, i ASC, j ASC) AS rn
         |    FROM (
         |      SELECT ka, kb, sid, sa, sb, l, i,
         |        position(substr(sa, i, l) IN sb) AS j
         |      FROM (
         |        SELECT ka, kb, sid, sa, sb, i,
         |          CAST(unnest(range(1, length(sa) - i + 2)) AS INT) AS l
         |        FROM (
         |          SELECT ka, kb, sid, sa, sb,
         |            CAST(unnest(range(1, length(sa) + 1)) AS INT) AS i
         |          FROM seg WHERE length(sa) > 0 AND length(sb) > 0
         |        ) q1
         |      ) q2
         |    ) c
         |    WHERE j > 0
         |  ) best
         |  CROSS JOIN (VALUES (0), (1), (2)) p(part)
         |  WHERE rn = 1
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(2.0 AS DOUBLE) * CAST(coalesce(m.tot, 0) AS DOUBLE) /
         |            CAST(length(p.na) + length(p.nb) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, sum(mlen) AS tot FROM seg GROUP BY ka, kb) m
         |  ON p.ka = m.ka AND p.kb = m.kb""".stripMargin,
    // Partial Ratcliff-Obershelp: the same gestalt recursion with the
    // window OFFSET as an extra root dimension. sides picks the pattern
    // (shorter, ties → na) and text (longer); wins enumerates every
    // same-length window; seg replays the recursion per (pair, off);
    // offmass scores each window (pattern = window short-circuits to full
    // mass, mirroring the kernel's byte-equal early path inside
    // roMatchMass's caller); the final ratio is max(mass)/patlen — the
    // kernel's pinned best.toDouble / sLen.toDouble (IEEE-equal to the
    // per-window 2M/(S+S)).
    "q_partial_ratcliff" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |  AND a.p_partkey % 41 = 0 AND b.p_partkey % 26 = 0
         |), sides AS (
         |  SELECT ka, kb, na, nb,
         |    CASE WHEN length(na) <= length(nb) THEN na ELSE nb END AS pat,
         |    CASE WHEN length(na) <= length(nb) THEN nb ELSE na END AS txt
         |  FROM pairs
         |), wins AS (
         |  SELECT ka, kb, off, pat, substr(txt, off, length(pat)) AS win
         |  FROM (
         |    SELECT ka, kb, pat, txt,
         |      CAST(unnest(range(1, length(txt) - length(pat) + 2)) AS INT) AS off
         |    FROM sides WHERE length(pat) > 0
         |  ) q0
         |), seg(ka, kb, off, sid, sa, sb, mlen) AS (
         |  SELECT ka, kb, off, CAST(1 AS BIGINT), pat, win, 0
         |  FROM wins WHERE pat <> win
         |  UNION ALL
         |  SELECT ka, kb, off,
         |    sid * 3 + part,
         |    CASE part WHEN 0 THEN substr(sa, 1, i - 1)
         |              WHEN 1 THEN substr(sa, i + l) ELSE '' END,
         |    CASE part WHEN 0 THEN substr(sb, 1, j - 1)
         |              WHEN 1 THEN substr(sb, j + l) ELSE '' END,
         |    CASE part WHEN 2 THEN l ELSE 0 END
         |  FROM (
         |    SELECT ka, kb, off, sid, sa, sb, l, i, j,
         |      row_number() OVER (PARTITION BY ka, kb, off, sid
         |                         ORDER BY l DESC, i ASC, j ASC) AS rn
         |    FROM (
         |      SELECT ka, kb, off, sid, sa, sb, l, i,
         |        position(substr(sa, i, l) IN sb) AS j
         |      FROM (
         |        SELECT ka, kb, off, sid, sa, sb, i,
         |          CAST(unnest(range(1, length(sa) - i + 2)) AS INT) AS l
         |        FROM (
         |          SELECT ka, kb, off, sid, sa, sb,
         |            CAST(unnest(range(1, length(sa) + 1)) AS INT) AS i
         |          FROM seg WHERE length(sa) > 0 AND length(sb) > 0
         |        ) q1
         |      ) q2
         |    ) c
         |    WHERE j > 0
         |  ) best
         |  CROSS JOIN (VALUES (0), (1), (2)) p(part)
         |  WHERE rn = 1
         |), offmass AS (
         |  SELECT w.ka, w.kb, w.off, length(w.pat) AS plen,
         |    CASE WHEN w.pat = w.win THEN length(w.pat)
         |         ELSE coalesce(m.tot, 0) END AS mass
         |  FROM wins w
         |  LEFT JOIN (SELECT ka, kb, off, sum(mlen) AS tot
         |             FROM seg GROUP BY ka, kb, off) m
         |    ON w.ka = m.ka AND w.kb = m.kb AND w.off = m.off
         |), bestmass AS (
         |  SELECT ka, kb, max(mass) AS best, max(plen) AS plen
         |  FROM offmass GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(b.best AS DOUBLE) / CAST(b.plen AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |JOIN bestmass b ON p.ka = b.ka AND p.kb = b.kb""".stripMargin,
    // bag distance (integer face) + bag_within at k=4: same relational
    // bag; bagdist = max(|a|,|b|) − Σmin (the Bartolini collapse the
    // kernel uses), byte-equal pairs short-circuit to 0/true.
    "q_bag_within" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), exploded AS (
         |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
         |  UNION ALL
         |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
         |), counts AS (
         |  SELECT ka, kb, ch, sum(ac) AS ca, sum(cb) AS cb
         |  FROM (SELECT ka, kb, ch, ac, bc AS cb FROM exploded) GROUP BY ka, kb, ch
         |), sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CAST(CASE WHEN p.na = p.nb THEN 0
         |            ELSE greatest(length(p.na), length(p.nb)) - s.inter
         |       END AS INT) AS d,
         |  CASE WHEN p.na = p.nb THEN TRUE
         |       ELSE (greatest(length(p.na), length(p.nb)) - s.inter) <= 4
         |  END AS w4
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin,
    "q_lev_capped" ->
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  least(levenshtein(a.c_name, b.c_name), 4) AS dist_c,
         |  levenshtein(a.c_name, b.c_name) <= 3 AS within
         |$customerPairsSql""".stripMargin,
    // Monge-Elkan/JW: tokenize on the shared whitespace class (explicit
    // [ \t\n\x0b\f\r] — RE2's \s excludes \x0B), per-(pair, a-token) max
    // over b tokens, then an ORDERED list_reduce left fold over a's token
    // positions (IEEE addition is order-sensitive; the kernel sums in
    // a-token order), divided by a's token count last. Part names always
    // tokenize non-empty, so the tokenless edge rules (both → 1.0, one →
    // 0.0) are pinned in ConformanceSpec rather than here.
    // SoftTFIDF: the q_tfidf_cosine weighting CTEs over part names, then
    // the per-a-token best-JW-partner argmax (row_number ties by partner
    // token) and a term-ordered list_reduce of v_a·v_b·jw contributions.
    // Pairs with no token pair clearing theta emit no row on both sides.
    "q_soft_tfidf" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM part),
        |tok AS (
        |  SELECT p_partkey AS id, unnest(string_split(trim(p_name), ' ')) AS term
        |  FROM part WHERE length(trim(p_name)) > 0
        |), tf AS (
        |  SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), w AS (
        |  SELECT id, tf.term,
        |    CAST(tf * (n.n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |), nrm AS (
        |  SELECT id, sqrt(list_reduce(list_transform(list(w ORDER BY term),
        |    x -> x * x), (x, y) -> x + y)) AS nrm
        |  FROM w GROUP BY id
        |), unit AS (
        |  SELECT w.id, w.term, w.w / nrm.nrm AS v
        |  FROM w JOIN nrm ON w.id = nrm.id
        |), cand AS (
        |  SELECT a.p_partkey AS ia, b.p_partkey AS ib
        |  FROM part a JOIN part b
        |    ON a.p_partkey % 31 = 0 AND b.p_partkey % 37 = 0
        |   AND a.p_partkey < b.p_partkey
        |), close_t AS (
        |  SELECT c.ia, c.ib, ta.term AS ta, tb.term AS tb,
        |    ta.v AS va, tb.v AS vb,
        |    CASE WHEN ta.term = tb.term THEN CAST(1.0 AS DOUBLE)
        |         ELSE jaro_winkler_similarity(ta.term, tb.term) END AS jw
        |  FROM cand c JOIN unit ta ON c.ia = ta.id
        |              JOIN unit tb ON c.ib = tb.id
        |  WHERE (CASE WHEN ta.term = tb.term THEN CAST(1.0 AS DOUBLE)
        |         ELSE jaro_winkler_similarity(ta.term, tb.term) END)
        |        >= CAST(0.85 AS DOUBLE)
        |), best AS (
        |  SELECT ia, ib, ta, va * vb * jw AS c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ia, ib, ta
        |      ORDER BY jw DESC, tb) AS rn
        |    FROM close_t) WHERE rn = 1
        |)
        |SELECT ia, ib, list_reduce(list(c ORDER BY ta), (x, y) -> x + y)
        |  AS soft_tfidf
        |FROM best GROUP BY ia, ib""".stripMargin,
    "q_monge_elkan" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), strs AS (
         |  SELECT ka, kb,
         |    list_filter(string_split_regex(na, '[ \\t\\n\\x0b\\f\\r]+'),
         |      t -> len(t) > 0) AS toks_a,
         |    list_filter(string_split_regex(nb, '[ \\t\\n\\x0b\\f\\r]+'),
         |      t -> len(t) > 0) AS toks_b
         |  FROM pairs
         |), ta AS (
         |  SELECT ka, kb, unnest(range(1, len(toks_a) + 1)) AS i,
         |         unnest(toks_a) AS ta
         |  FROM strs
         |), tb AS (
         |  SELECT ka, kb, unnest(toks_b) AS tb FROM strs
         |), mx AS (
         |  SELECT ta.ka, ta.kb, ta.i,
         |    max(CASE WHEN ta.ta = tb.tb THEN 1.0
         |             ELSE jaro_winkler_similarity(ta.ta, tb.tb) END) AS m
         |  FROM ta JOIN tb ON ta.ka = tb.ka AND ta.kb = tb.kb
         |  GROUP BY ta.ka, ta.kb, ta.i
         |)
         |SELECT ka, kb,
         |  list_reduce(list(m ORDER BY i), (x, y) -> x + y) / count(*) AS me
         |FROM mx GROUP BY ka, kb""".stripMargin,
    // Token-set extras: the q_jaccard_sim bag pattern widened with per-side
    // totals (n, m), the count dot product, and squared norms — every sum
    // integer-exact; the final div/sqrt/mul chain mirrors the kernels'
    // pinned IEEE order (literals CAST to DOUBLE — bare decimals would run
    // the chain in DECIMAL arithmetic and drift an ulp).
    "q_token_set_sims" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), exploded AS (
         |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
         |  UNION ALL
         |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
         |), counts AS (
         |  SELECT ka, kb, ch, sum(ac) AS ca, sum(bc) AS cb
         |  FROM exploded GROUP BY ka, kb, ch
         |), sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter, sum(ca) AS n, sum(cb) AS m,
         |         sum(ca * cb) AS dot, sum(ca * ca) AS na2, sum(cb * cb) AS nb2
         |  FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(s.inter AS DOUBLE) / CAST(least(s.n, s.m) AS DOUBLE)
         |  END AS ov,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(s.inter AS DOUBLE) /
         |            (CAST(s.inter AS DOUBLE)
         |             + CAST(0.25 AS DOUBLE) * CAST(s.n - s.inter AS DOUBLE)
         |             + CAST(0.75 AS DOUBLE) * CAST(s.m - s.inter AS DOUBLE))
         |  END AS tv,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE least(CAST(1.0 AS DOUBLE),
         |            CAST(s.dot AS DOUBLE) /
         |            (sqrt(CAST(s.na2 AS DOUBLE)) * sqrt(CAST(s.nb2 AS DOUBLE))))
         |  END AS cb
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin,
    // OSA: no DuckDB builtin (damerau_levenshtein there is unrestricted),
    // so the oracle replays the FULL restricted DP as a recursive CTE —
    // one cell per recursion step in row-major order t = i*(m+1)+j, with a
    // sliding window `win` of the last 2m+4 cells carried as a list:
    // win[2m+4] = d[t-1] (insertion), win[m+4] = d[t-(m+1)] (deletion),
    // win[m+3] = d[t-(m+2)] (substitution diagonal), win[1] = d[t-(2m+4)]
    // (the i-2,j-2 transposition lookback). string_split(s,'') indexes by
    // CODE POINT in DuckDB, matching the kernel's decode loop.
    "q_osa_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |         a.c_name AS na, b.c_name AS nb
         |  $customerPairsSql
         |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
         |         length(na) AS n, length(nb) AS m
         |  FROM pairs WHERE na <> nb
         |), dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST((t+1) // (m+1) AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST((t+1) % (m+1) AS BIGINT)
         |      ELSE least(
         |        nw[m+4] + 1,
         |        nw[2*m+4] + 1,
         |        nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                        THEN 0 ELSE 1 END),
         |        CASE WHEN (t+1)//(m+1) > 1 AND (t+1)%(m+1) > 1
         |              AND xa[(t+1)//(m+1)] = xb[(t+1)%(m+1) - 1]
         |              AND xa[(t+1)//(m+1) - 1] = xb[(t+1)%(m+1)]
         |             THEN nw[1] + 1 ELSE NULL END)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
         |            CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // LCS: same cell-per-step recursion; borders 0, interior
    // diag+1 on match else max(up, left); sim = 2·L/(n+m).
    "q_lcs_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |         a.c_name AS na, b.c_name AS nb
         |  $customerPairsSql
         |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
         |         length(na) AS n, length(nb) AS m
         |  FROM pairs WHERE na <> nb
         |), dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0 THEN CAST(0 AS BIGINT)
         |      WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)] THEN nw[m+3] + 1
         |      ELSE greatest(nw[m+4], nw[2*m+4])
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(2.0 AS DOUBLE) * CAST(d.cell AS DOUBLE) /
         |            CAST(length(p.na) + length(p.nb) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // Needleman-Wunsch: borders −i/−j, interior max(diag±1, up−1,
    // left−1); sim = 0.5 + S/(2·max(n,m)).
    "q_nw_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |         a.c_name AS na, b.c_name AS nb
         |  $customerPairsSql
         |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
         |         length(na) AS n, length(nb) AS m
         |  FROM pairs WHERE na <> nb
         |), dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(-((t+1) // (m+1)) AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(-((t+1) % (m+1)) AS BIGINT)
         |      ELSE greatest(
         |        nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                        THEN 1 ELSE -1 END),
         |        nw[m+4] - 1,
         |        nw[2*m+4] - 1)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.5 AS DOUBLE) + CAST(d.cell AS DOUBLE) /
         |            (CAST(2.0 AS DOUBLE) *
         |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // Smith-Waterman: borders 0, interior floored at 0, and the RUNNING
    // MAX threaded through the recursion (the answer is max over all
    // cells, not the corner); sim = H*/min(n,m).
    "q_sw_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |         a.c_name AS na, b.c_name AS nb
         |  $customerPairsSql
         |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
         |         length(na) AS n, length(nb) AS m
         |  FROM pairs WHERE na <> nb
         |), dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         CAST(0 AS BIGINT) AS best,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t, ncell AS cell,
         |         greatest(best, ncell) AS best, nw AS win
         |  FROM (
         |    SELECT *,
         |      CASE
         |        WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0
         |          THEN CAST(0 AS BIGINT)
         |        ELSE greatest(
         |          CAST(0 AS BIGINT),
         |          nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                          THEN 1 ELSE -1 END),
         |          nw[m+4] - 1,
         |          nw[2*m+4] - 1)
         |      END AS ncell
         |    FROM (SELECT *, win[2:] || [cell] AS nw
         |          FROM dp WHERE t < (n+1)*(m+1) - 1) q0) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(d.best AS DOUBLE) /
         |            CAST(least(length(p.na), length(p.nb)) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, best FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // Affine gap (Gotoh): the full three-state recursion replayed with
    // THREE parallel sliding windows (wm/wx/wy for the M/X/Y matrices),
    // one (cm,cx,cy) triple per step. Borders: X(i,0) = -(i+1) (one gap
    // of length i in half-units), Y(0,j) = -(j+1), M off-origin = -inf
    // (-1e9 sentinel — never surfaces: best >= -2*max(n,m)). sim = 0.5 +
    // best/(4*max) in exact half-unit integers, matching the kernel.
    "q_affine_gap_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |         a.c_name AS na, b.c_name AS nb
         |  $customerPairsSql
         |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
         |         length(na) AS n, length(nb) AS m
         |  FROM pairs WHERE na <> nb
         |), dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t,
         |         CAST(0 AS BIGINT) AS cm,
         |         CAST(-1000000000 AS BIGINT) AS cx,
         |         CAST(-1000000000 AS BIGINT) AS cy,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wm,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wx,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wy
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0
         |        THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[m+3], nx[m+3], ny[m+3]) +
         |           (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                 THEN 2 ELSE -2 END)
         |    END AS cm,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(-((t+1)//(m+1)) - 1 AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[m+4] - 2, nx[m+4] - 1)
         |    END AS cx,
         |    CASE
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(-((t+1)%(m+1)) - 1 AS BIGINT)
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[2*m+4] - 2, ny[2*m+4] - 1)
         |    END AS cy,
         |    nm AS wm, nx AS wx, ny AS wy
         |  FROM (SELECT *, wm[2:] || [cm] AS nm, wx[2:] || [cx] AS nx,
         |               wy[2:] || [cy] AS ny
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.5 AS DOUBLE) +
         |            CAST(greatest(d.cm, d.cx, d.cy) AS DOUBLE) /
         |            (CAST(4.0 AS DOUBLE) *
         |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cm, cx, cy FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // Token ratios: rebuild the exact strings the Spark composition builds
    // (sorted tokens / sorted distinct-token set ops, space-joined,
    // trimmed concat) with DuckDB list ops — list_intersect dedups like
    // Spark's array_intersect; except is list_filter + list_contains —
    // then DuckDB's levenshtein (ASCII p_name). The equality CASE mirrors
    // the kernel's byte-equal → 1.0 shortcut (and covers ""/"").
    "q_token_ratio" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), tok AS (
         |  SELECT ka, kb,
         |    array_to_string(list_sort(string_split(trim(na), ' ')), ' ') AS sa,
         |    array_to_string(list_sort(string_split(trim(nb), ' ')), ' ') AS sb,
         |    list_sort(list_distinct(string_split(trim(na), ' '))) AS ta,
         |    list_sort(list_distinct(string_split(trim(nb), ' '))) AS tb
         |  FROM pairs
         |), setstr AS (
         |  SELECT ka, kb, sa, sb,
         |    array_to_string(list_sort(list_intersect(ta, tb)), ' ') AS s0,
         |    trim(concat_ws(' ',
         |      array_to_string(list_sort(list_intersect(ta, tb)), ' '),
         |      array_to_string(list_sort(
         |        list_filter(ta, x -> NOT list_contains(tb, x))), ' '))) AS s1,
         |    trim(concat_ws(' ',
         |      array_to_string(list_sort(list_intersect(ta, tb)), ' '),
         |      array_to_string(list_sort(
         |        list_filter(tb, x -> NOT list_contains(ta, x))), ' '))) AS s2
         |  FROM tok
         |)
         |SELECT ka, kb,
         |  ${levSimSql("sa", "sb")} AS tsr,
         |  greatest(${levSimSql("s0", "s1")}, ${levSimSql("s0", "s2")},
         |           ${levSimSql("s1", "s2")}) AS tstr
         |FROM setstr""".stripMargin,
    // Q-gram (q=2): gram bags as ±1-weighted rows, profile L1 distance =
    // Σ|Σw| per pair; sim normalization mirrors the kernel's order.
    "q_qgram_sim" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), gr AS (
         |  SELECT ka, kb, substr(na, CAST(i AS INT), 2) AS g, 1 AS w
         |  FROM (SELECT ka, kb, na,
         |        unnest(range(1, length(na))) AS i FROM pairs)
         |  UNION ALL
         |  SELECT ka, kb, substr(nb, CAST(i AS INT), 2), -1
         |  FROM (SELECT ka, kb, nb,
         |        unnest(range(1, length(nb))) AS i FROM pairs)
         |), cell AS (
         |  SELECT ka, kb, g, sum(w) AS s FROM gr GROUP BY ka, kb, g
         |), dd AS (
         |  SELECT ka, kb, sum(abs(s)) AS d FROM cell GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(dd.d AS DOUBLE) /
         |            CAST((length(p.na) - 1) + (length(p.nb) - 1) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN dd ON p.ka = dd.ka AND p.kb = dd.kb""".stripMargin,
    // Editex: full DP replay with position-dependent costs. Each char is
    // packed as code·1024 + Zobel-Dart group bitmask (groups OVERLAP, so
    // "same group" is a nonzero mask intersection, never an id compare);
    // both border-cost arrays (sentinel 2 at position 1, free doubles,
    // H/W silent context) are precomputed per pair, then the q_osa_sim
    // sliding-window recursion walks the (n+1)×(m+1) matrix one cell per
    // step. Case fold via upper() ≡ the kernel's ASCII fold on this
    // all-ASCII corpus.
    "q_editex_sim" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |  AND a.p_partkey % 41 = 0 AND b.p_partkey % 13 = 0
         |), prep0 AS (
         |  SELECT ka, kb,
         |    list_transform(string_split(upper(na), ''), ch ->
         |      unicode(ch) * 1024 + $editexMaskSql) AS ca,
         |    list_transform(string_split(upper(nb), ''), ch ->
         |      unicode(ch) * 1024 + $editexMaskSql) AS cb,
         |    length(na) AS n, length(nb) AS m
         |  FROM pairs
         |  WHERE upper(na) <> upper(nb) AND length(na) > 0 AND length(nb) > 0
         |), prep AS (
         |  SELECT ka, kb, ca, cb, n, m,
         |    list_transform(range(1, n + 1), i -> CASE
         |        WHEN i = 1 THEN 2
         |        WHEN ca[CAST(i AS INT) - 1] = ca[CAST(i AS INT)] THEN 0
         |        WHEN ca[CAST(i AS INT) - 1] // 1024 IN (72, 87) THEN 1
         |        WHEN (ca[CAST(i AS INT) - 1] % 1024)
         |             & (ca[CAST(i AS INT)] % 1024) <> 0 THEN 1
         |        ELSE 2 END) AS dca,
         |    list_transform(range(1, m + 1), j -> CASE
         |        WHEN j = 1 THEN 2
         |        WHEN cb[CAST(j AS INT) - 1] = cb[CAST(j AS INT)] THEN 0
         |        WHEN cb[CAST(j AS INT) - 1] // 1024 IN (72, 87) THEN 1
         |        WHEN (cb[CAST(j AS INT) - 1] % 1024)
         |             & (cb[CAST(j AS INT)] % 1024) <> 0 THEN 1
         |        ELSE 2 END) AS dcb
         |  FROM prep0
         |), dp AS (
         |  SELECT ka, kb, ca, cb, dca, dcb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, ca, cb, dca, dcb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN nw[m+4] + dca[(t+1)//(m+1)]
         |      WHEN (t+1) // (m+1) = 0 THEN nw[2*m+4] + dcb[(t+1)%(m+1)]
         |      ELSE least(
         |        nw[m+4] + dca[(t+1)//(m+1)],
         |        nw[2*m+4] + dcb[(t+1)%(m+1)],
         |        nw[m+3] + CASE
         |          WHEN ca[(t+1)//(m+1)] = cb[(t+1)%(m+1)] THEN 0
         |          WHEN (ca[(t+1)//(m+1)] % 1024)
         |               & (cb[(t+1)%(m+1)] % 1024) <> 0 THEN 1
         |          ELSE 2 END)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN upper(p.na) = upper(p.nb) THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
         |            (CAST(2.0 AS DOUBLE) *
         |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin,
    // Longest common substring: relational — every substring of the
    // SHORTER side (start × length double unnest), position() containment
    // in the longer, max length per pair; sim = best/max(n,m).
    "q_lcsstr_sim" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |  AND a.p_partkey % 17 = 0 AND b.p_partkey % 5 = 0
         |), prep AS (
         |  SELECT ka, kb,
         |         CASE WHEN length(na) <= length(nb) THEN na ELSE nb END AS s,
         |         CASE WHEN length(na) <= length(nb) THEN nb ELSE na END AS t
         |  FROM pairs WHERE na <> nb AND length(na) > 0 AND length(nb) > 0
         |), pos AS (
         |  SELECT ka, kb, s, t, unnest(range(1, length(s) + 1)) AS i FROM prep
         |), subs AS (
         |  SELECT ka, kb, t, CAST(i AS INT) AS i, s,
         |         unnest(range(1, length(s) - i + 2)) AS l
         |  FROM pos
         |), runs AS (
         |  SELECT ka, kb, max(l) AS best
         |  FROM subs
         |  WHERE position(substr(s, i, CAST(l AS INT)) IN t) > 0
         |  GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(coalesce(r.best, 0) AS DOUBLE) /
         |            CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN runs r ON p.ka = r.ka AND p.kb = r.kb""".stripMargin,
    // Token-level Jaccard / overlap: DuckDB list ops over distinct
    // space-split tokens (list_distinct(ta || tb) ≡ Spark array_union).
    "q_token_level_sims" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), tok AS (
         |  SELECT ka, kb,
         |    list_distinct(string_split(trim(na), ' ')) AS ta,
         |    list_distinct(string_split(trim(nb), ' ')) AS tb
         |  FROM pairs
         |)
         |SELECT ka, kb,
         |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    CAST(len(list_distinct(ta || tb)) AS DOUBLE) AS tj,
         |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    CAST(least(len(ta), len(tb)) AS DOUBLE) AS tov
         |FROM tok""".stripMargin,
    "q_sorted_neighborhood" ->
      """WITH ranked AS (
        |  SELECT c_custkey AS id,
        |         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |  FROM customer
        |)
        |SELECT a.id AS id_a, b.id AS id_b, a.rnk AS rank_a, b.rnk AS rank_b
        |FROM ranked a JOIN ranked b
        |  ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4""".stripMargin,
    "q_link_tables" ->
      s"""WITH $linkTablesCtes
        |SELECT id_l, id_r, jw, dice, jw + dice AS score
        |FROM scored WHERE jw + dice >= 1.0""".stripMargin,
    // Threshold sweep: per-θ confusion counts over the linkage scores vs
    // suffix-equality truth; counts are integer aggregates, P/R one exact
    // division each (NULL when the denominator is 0), f1 pinned to
    // (2·p)·r/(p+r) with 0.0 at tp=0. θ literals CAST to DOUBLE (DuckDB
    // parses bare decimals as DECIMAL).
    "q_threshold_sweep" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), labeled AS (
        |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
        |  FROM customer c JOIN supplier s
        |    ON right(c.c_name, 9) = right(s.s_name, 9)
        |), flag AS (
        |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM base b LEFT JOIN labeled l
        |    ON b.id_l = l.id_l AND b.id_r = l.id_r
        |), thetas AS (
        |  SELECT unnest([CAST(1.0 AS DOUBLE), CAST(1.1 AS DOUBLE),
        |    CAST(1.2 AS DOUBLE), CAST(1.3 AS DOUBLE), CAST(1.4 AS DOUBLE),
        |    CAST(1.5 AS DOUBLE), CAST(1.6 AS DOUBLE), CAST(1.7 AS DOUBLE),
        |    CAST(1.8 AS DOUBLE), CAST(1.9 AS DOUBLE)]) AS theta
        |), per AS (
        |  SELECT t.theta,
        |    CAST(sum(CASE WHEN f.score >= t.theta THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
        |    CAST(sum(CASE WHEN f.score >= t.theta THEN f.t ELSE 0 END) AS BIGINT) AS tp
        |  FROM thetas t CROSS JOIN flag f GROUP BY t.theta
        |), ntrue AS (SELECT count(*) AS n FROM labeled
        |), pr AS (
        |  SELECT p.theta, p.n_pred, p.tp, p.n_pred - p.tp AS fp,
        |    n.n - p.tp AS fn,
        |    CASE WHEN p.n_pred > 0 THEN
        |      CAST(p.tp AS DOUBLE) / CAST(p.n_pred AS DOUBLE) END AS "precision",
        |    CASE WHEN n.n > 0 THEN
        |      CAST(p.tp AS DOUBLE) / CAST(n.n AS DOUBLE) END AS recall
        |  FROM per p, ntrue n
        |)
        |SELECT theta, n_pred, tp, fp, fn, "precision", recall,
        |  CASE WHEN tp > 0 THEN
        |    CAST(2.0 AS DOUBLE) * "precision" * recall / ("precision" + recall)
        |  ELSE CAST(0.0 AS DOUBLE) END AS f1
        |FROM pr""".stripMargin,
    // ROC curve: same flagged-score derivation as q_threshold_sweep, one
    // cell per distinct score, cumulative tp/fp by a descending-score
    // window (the oracle can afford the single-partition window the
    // Spark side replaces with range partition + broadcast offsets).
    "q_roc_curve" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), labeled AS (
        |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
        |  FROM customer c JOIN supplier s
        |    ON right(c.c_name, 9) = right(s.s_name, 9)
        |), flag AS (
        |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM base b LEFT JOIN labeled l
        |    ON b.id_l = l.id_l AND b.id_r = l.id_r
        |), cells AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS t
        |  FROM flag GROUP BY score
        |), cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), tot AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS p,
        |         CAST(count(*) - sum(t) AS BIGINT) AS nn
        |  FROM flag
        |)
        |SELECT c.score, c.n, c.t, c.tp, c.fp,
        |  CASE WHEN tot.p > 0 THEN
        |    CAST(c.tp AS DOUBLE) / CAST(tot.p AS DOUBLE) END AS tpr,
        |  CASE WHEN tot.nn > 0 THEN
        |    CAST(c.fp AS DOUBLE) / CAST(tot.nn AS DOUBLE) END AS fpr
        |FROM cum c, tot""".stripMargin,
    // Exact AUC: the Mann-Whitney fold over the same score cells, all
    // integer (HUGEINT mirrors decimal(38,0)), one final division.
    "q_roc_auc" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), labeled AS (
        |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
        |  FROM customer c JOIN supplier s
        |    ON right(c.c_name, 9) = right(s.s_name, 9)
        |), flag AS (
        |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM base b LEFT JOIN labeled l
        |    ON b.id_l = l.id_l AND b.id_r = l.id_r
        |), cells AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS t
        |  FROM flag GROUP BY score
        |), cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(sum(t) AS BIGINT) AS n_pos,
        |    CAST(sum(n - t) AS BIGINT) AS n_neg,
        |    sum(CAST(t AS HUGEINT) * CAST(fp AS HUGEINT)) AS tfp,
        |    sum(CAST(t AS HUGEINT) * CAST(n - t AS HUGEINT)) AS ties
        |  FROM cum
        |)
        |SELECT n_scores, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(2 * (CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT) - tfp)
        |         + ties AS DOUBLE)
        |    / CAST(2 * CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT)
        |           AS DOUBLE) END AS auc
        |FROM agg""".stripMargin,
    // PR curve: the q_roc_curve cumulative cells projected to
    // precision = tp/(tp+fp) (cumulative n at s — never 0) and
    // recall = tpr (same exact division).
    "q_pr_curve" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), labeled AS (
        |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
        |  FROM customer c JOIN supplier s
        |    ON right(c.c_name, 9) = right(s.s_name, 9)
        |), flag AS (
        |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM base b LEFT JOIN labeled l
        |    ON b.id_l = l.id_l AND b.id_r = l.id_r
        |), cells AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS t
        |  FROM flag GROUP BY score
        |), cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT)
        |      - CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        |  FROM cells
        |), tot AS (SELECT CAST(sum(t) AS BIGINT) AS p FROM flag)
        |SELECT c.score, c.n, c.t, c.tp, c.fp,
        |  CAST(c.tp AS DOUBLE) / CAST(c.tp + c.fp AS DOUBLE) AS "precision",
        |  CASE WHEN tot.p > 0 THEN
        |    CAST(c.tp AS DOUBLE) / CAST(tot.p AS DOUBLE) END AS recall
        |FROM cum c, tot""".stripMargin,
    // Average precision: the same cells folded SEQUENTIALLY in score-DESC
    // order — each term (t/P)·(tp/(tp+fp)) in the operator's pinned op
    // order, summed by a list_reduce left fold seeded with 0.0 (the
    // prepended element), mirroring Spark's aggregate(arr, 0.0, ...).
    "q_avg_precision" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), labeled AS (
        |  SELECT DISTINCT c.c_custkey AS id_l, s.s_suppkey AS id_r
        |  FROM customer c JOIN supplier s
        |    ON right(c.c_name, 9) = right(s.s_name, 9)
        |), flag AS (
        |  SELECT b.score, CASE WHEN l.id_l IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM base b LEFT JOIN labeled l
        |    ON b.id_l = l.id_l AND b.id_r = l.id_r
        |), cells AS (
        |  SELECT score, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS t
        |  FROM flag GROUP BY score
        |), cum AS (
        |  SELECT score, n, t,
        |    CAST(sum(t) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cn
        |  FROM cells
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_scores,
        |    CAST(sum(t) AS BIGINT) AS n_pos,
        |    list(struct_pack(t := t, tp := tp, cn := cn)
        |         ORDER BY score DESC) AS cells_ord
        |  FROM cum
        |)
        |SELECT n_scores, n_pos,
        |  CASE WHEN n_pos > 0 THEN
        |    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(cells_ord,
        |      x -> (CAST(x.t AS DOUBLE) / CAST(n_pos AS DOUBLE))
        |         * (CAST(x.tp AS DOUBLE) / CAST(x.cn AS DOUBLE))),
        |      (x, y) -> x + y) END AS ap
        |FROM agg""".stripMargin,
    // Progressive recall: ranked sorted-neighborhood pairs consumed in
    // (window distance, left rank) order; per-budget counts replayed.
    "q_progressive_recall" ->
      """WITH ranked AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |  FROM customer
        |), prs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.rnk AS ra, b.rnk AS rb
        |  FROM ranked a JOIN ranked b
        |    ON b.rnk > a.rnk AND b.rnk - a.rnk <= 3
        |), ord AS (
        |  SELECT id_a, id_b, CAST(row_number() OVER (
        |    ORDER BY rb - ra, ra * 1048576 + rb) AS BIGINT) AS rnk
        |  FROM prs
        |), labeled AS (
        |  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |       AND right(a.c_name, 2) = right(b.c_name, 2)
        |       AND a.c_custkey < b.c_custkey
        |), flag AS (
        |  SELECT o.rnk, CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS t
        |  FROM ord o LEFT JOIN labeled l
        |    ON o.id_a = l.id_a AND o.id_b = l.id_b
        |), budgets AS (
        |  SELECT CAST(unnest([500, 2000, 8000, 50000]) AS BIGINT) AS budget
        |), per AS (
        |  SELECT bu.budget,
        |    CAST(count(f.rnk) AS BIGINT) AS n_consumed,
        |    CAST(COALESCE(sum(f.t), 0) AS BIGINT) AS tp
        |  FROM budgets bu LEFT JOIN flag f ON f.rnk <= bu.budget
        |  GROUP BY bu.budget
        |), ntrue AS (SELECT count(*) AS n FROM labeled)
        |SELECT p.budget, p.n_consumed, p.tp,
        |  CASE WHEN ntrue.n > 0 THEN
        |    CAST(p.tp AS DOUBLE) / CAST(ntrue.n AS DOUBLE) END AS recall
        |FROM per p, ntrue""".stripMargin,
    "q_best_match" ->
      s"""WITH $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw, dice, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), bl AS (
        |  SELECT id_l, id_r, jw, dice, score FROM (
        |    SELECT b.*, row_number() OVER (
        |      PARTITION BY id_l ORDER BY score DESC, id_r) AS rn
        |    FROM base b) WHERE rn = 1
        |), br AS (
        |  SELECT id_l, id_r FROM (
        |    SELECT id_l, id_r, row_number() OVER (
        |      PARTITION BY id_r ORDER BY score DESC, id_l) AS rn
        |    FROM base) WHERE rn = 1
        |)
        |SELECT bl.id_l, bl.id_r, bl.jw, bl.dice, bl.score
        |FROM bl JOIN br ON bl.id_l = br.id_l AND bl.id_r = br.id_r""".stripMargin,
    // Greedy 1:1 matching replayed round-by-round: each recursive step
    // sees the previous round's survivors, flags locally-dominant pairs
    // (top-1 for BOTH endpoints under (score DESC, opposite id)), then a
    // second window layer removes every survivor sharing an endpoint with
    // an accepted pair. Accepted rows (acc) accumulate; survivors carry
    // acc = false and are the only rows the next step reads.
    "q_greedy_matches" ->
      s"""WITH RECURSIVE $linkTablesCtes,
        |base AS (
        |  SELECT id_l, id_r, jw + dice AS score
        |  FROM scored WHERE jw + dice >= 1.0
        |), st(rnd, id_l, id_r, score, acc) AS (
        |  SELECT 0, id_l, id_r, score, FALSE FROM base
        |  UNION ALL
        |  SELECT rnd + 1, id_l, id_r, score, acc FROM (
        |    SELECT rnd, id_l, id_r, score, acc,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY id_l) AS dead_l,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY id_r) AS dead_r
        |    FROM (
        |      SELECT rnd, id_l, id_r, score,
        |        (row_number() OVER (PARTITION BY id_l
        |           ORDER BY score DESC, id_r) = 1
        |         AND row_number() OVER (PARTITION BY id_r
        |           ORDER BY score DESC, id_l) = 1) AS acc
        |      FROM st WHERE NOT acc
        |    ) s0
        |  ) s1
        |  WHERE acc OR (dead_l = 0 AND dead_r = 0)
        |)
        |SELECT id_l, id_r, score FROM st WHERE acc""".stripMargin,
    "q_bcubed" ->
      """WITH j AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS ni FROM j GROUP BY g, t
        |), sp AS (
        |  SELECT g, CAST(sum(ni) AS BIGINT) AS n_g,
        |         CAST(sum(ni * ni) AS BIGINT) AS sum_ni2
        |  FROM ni GROUP BY g
        |), st AS (
        |  SELECT t, CAST(sum(ni) AS BIGINT) AS n_g,
        |         CAST(sum(ni * ni) AS BIGINT) AS sum_ni2
        |  FROM ni GROUP BY t
        |)
        |SELECT 'cluster' AS side, g AS gid, n_g, sum_ni2 FROM sp
        |UNION ALL
        |SELECT 'truth' AS side, t AS gid, n_g, sum_ni2 FROM st""".stripMargin,
    // pair provenance: same three families, per-(family, key) cap, list
    // aggregation sorted to match sort_array(collect_set(...)).
    "q_pair_provenance" ->
      """WITH k AS (
        |  SELECT 'nk' AS family, CAST(c_nationkey AS VARCHAR) AS key,
        |         c_custkey AS url FROM customer
        |  UNION ALL
        |  SELECT 'sfx2', right(c_name, 2), c_custkey FROM customer
        |  UNION ALL
        |  SELECT 'seg', c_mktsegment, c_custkey FROM customer
        |  WHERE c_custkey % 2 = 0
        |), sized AS (
        |  SELECT family, key FROM (
        |    SELECT family, key, count(*) AS n FROM k GROUP BY family, key
        |  ) WHERE n <= 1000
        |), good AS (
        |  SELECT k.family, k.key, k.url FROM k JOIN sized USING (family, key)
        |)
        |SELECT a.url AS url_a, b.url AS url_b,
        |  array_to_string(list_sort(list(DISTINCT a.family)), ',') AS families,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM good a JOIN good b
        |  ON a.family = b.family AND a.key = b.key AND a.url < b.url
        |GROUP BY a.url, b.url""".stripMargin,
    // cluster-level metrics: the same contingency cells, whole-cluster
    // exact-match counts + unit-cost GMD (splits to the common
    // refinement, merges up to the truth).
    "q_cluster_metrics" ->
      """WITH j AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS n FROM j GROUP BY g, t
        |), sp AS (
        |  SELECT g, sum(n) AS np, count(*) AS kp FROM ni GROUP BY g
        |), st AS (
        |  SELECT t, sum(n) AS nt, count(*) AS kt FROM ni GROUP BY t
        |), ex AS (
        |  SELECT count(*) AS n_exact
        |  FROM ni JOIN sp USING (g) JOIN st USING (t)
        |  WHERE ni.n = sp.np AND ni.n = st.nt
        |), ap AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pred,
        |         CAST(sum(kp - 1) AS BIGINT) AS gmd_splits,
        |         CAST(sum(np) AS BIGINT) AS n_records
        |  FROM sp
        |), at2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |         CAST(sum(kt - 1) AS BIGINT) AS gmd_merges
        |  FROM st
        |), m AS (
        |  SELECT ap.n_records, ap.n_pred, at2.n_truth,
        |    CAST(ex.n_exact AS BIGINT) AS n_exact,
        |    CASE WHEN ap.n_pred > 0 THEN CAST(ex.n_exact AS DOUBLE)
        |         / CAST(ap.n_pred AS DOUBLE) END AS cluster_precision,
        |    CASE WHEN at2.n_truth > 0 THEN CAST(ex.n_exact AS DOUBLE)
        |         / CAST(at2.n_truth AS DOUBLE) END AS cluster_recall,
        |    ap.gmd_splits, at2.gmd_merges,
        |    ap.gmd_splits + at2.gmd_merges AS gmd
        |  FROM ap, at2, ex
        |)
        |SELECT n_records, n_pred, n_truth, n_exact, cluster_precision,
        |  cluster_recall,
        |  CASE WHEN n_exact > 0 THEN
        |    CAST(2.0 AS DOUBLE) * cluster_precision * cluster_recall
        |    / (cluster_precision + cluster_recall)
        |  ELSE CAST(0.0 AS DOUBLE) END AS cluster_f1,
        |  gmd_splits, gmd_merges, gmd
        |FROM m""".stripMargin,
    // cluster-size histogram: sizes -> histogram -> exact fractions.
    "q_cluster_profile" ->
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), sz AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS cluster_size FROM j GROUP BY g
        |), tot AS (
        |  SELECT CAST(sum(cluster_size) AS BIGINT) AS total FROM sz
        |)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_records,
        |  CAST(cluster_size * count(*) AS DOUBLE) / CAST(tot.total AS DOUBLE)
        |    AS frac_records
        |FROM sz, tot GROUP BY cluster_size, tot.total""".stripMargin,
    // PC/RR sweep: block sizes once, per-cap slot sums (DECIMAL(38,0)),
    // per-truth-pair min shared-block size, per-cap coverage counts.
    "q_blocking_sweep" ->
      """WITH keys AS (
        |  SELECT c_custkey AS url,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS key
        |  FROM customer
        |), sized AS (
        |  SELECT key, count(*) AS n FROM keys GROUP BY key
        |), tp AS (
        |  SELECT DISTINCT a.c_custkey AS url_a, b.c_custkey AS url_b
        |  FROM customer a JOIN customer b
        |    ON substring(a.c_name, 16, 3) = substring(b.c_name, 16, 3)
        |       AND a.c_custkey < b.c_custkey
        |), caps AS (
        |  SELECT CAST(unnest([5, 15, 60, 1000]) AS BIGINT) AS cap
        |), slots AS (
        |  SELECT c.cap, CAST(COALESCE(sum(CASE WHEN s.n <= c.cap
        |      THEN s.n * (s.n - 1) ELSE 0 END), 0) / 2 AS DECIMAL(38, 0))
        |    AS pair_slots
        |  FROM caps c, sized s GROUP BY c.cap
        |), minn AS (
        |  SELECT t.url_a, t.url_b, min(s.n) AS mn
        |  FROM tp t
        |  JOIN keys ka ON ka.url = t.url_a
        |  JOIN keys kb ON kb.url = t.url_b AND kb.key = ka.key
        |  JOIN sized s ON s.key = ka.key
        |  GROUP BY t.url_a, t.url_b
        |), cov AS (
        |  SELECT c.cap, CAST(sum(CASE WHEN m.mn IS NOT NULL AND m.mn <= c.cap
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_true_covered
        |  FROM caps c CROSS JOIN (
        |    SELECT t.url_a, t.url_b, m0.mn
        |    FROM tp t LEFT JOIN minn m0
        |      ON t.url_a = m0.url_a AND t.url_b = m0.url_b) m
        |  GROUP BY c.cap
        |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tp)
        |SELECT c.cap, COALESCE(s.pair_slots, CAST(0 AS DECIMAL(38, 0)))
        |    AS pair_slots,
        |  nt.n_true, COALESCE(v.n_true_covered, 0) AS n_true_covered,
        |  CASE WHEN nt.n_true > 0 THEN
        |    CAST(COALESCE(v.n_true_covered, 0) AS DOUBLE)
        |    / CAST(nt.n_true AS DOUBLE) END AS pairs_completeness
        |FROM caps c
        |LEFT JOIN slots s ON c.cap = s.cap
        |LEFT JOIN cov v ON c.cap = v.cap
        |CROSS JOIN nt""".stripMargin,
    "q_fellegi_sunter" -> fellegiSunterOracleSql(iters = 15),
    "q_fs_waterfall" -> fellegiSunterOracleSql(iters = 15, waterfall = true),
    "q_fs_pattern_table" ->
      fellegiSunterOracleSql(iters = 15, patternTable = true),
    // incremental refit ≡ from-scratch fit (additive counts): same oracle
    "q_fs_incremental" -> fellegiSunterOracleSql(iters = 15),
    // comparison-viewer examples: same gammas, per-pattern row_number in
    // pinned (ka, kb) order, top-5.
    "q_fs_examples" ->
      s"""WITH pairs AS (
         |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
         |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
         |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
         |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
         |         THEN 1 ELSE 0 END AS BIGINT) AS g1,
         |    CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
         |         THEN 1 ELSE 0 END AS BIGINT) AS g2
         |  $customerPairsSql)
         |SELECT g0, g1, g2, ka, kb, example_rank FROM (
         |  SELECT g0, g1, g2, ka, kb, row_number() OVER (
         |    PARTITION BY g0, g1, g2 ORDER BY ka, kb) AS example_rank
         |  FROM pairs) WHERE example_rank <= 5""".stripMargin,
    "q_fs_estimate_u" -> fsEstimateUOracle,
    // m from labeled matches: per-field integer agreement counts over
    // the t = 1 pairs, one final division each.
    "q_fs_estimate_m" -> {
      val sel = fsGammas.map { g =>
        s"""SELECT '$g' AS field, CAST(count(*) AS BIGINT) AS n_obs,
           |  CAST(sum($g) AS BIGINT) AS n_agree,
           |  CAST(sum($g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
           |FROM mt""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH pairs AS (
         |  SELECT
         |    CAST(CASE WHEN (CASE WHEN a.c_name = b.c_name THEN 1.0
         |         ELSE jaro_winkler_similarity(a.c_name, b.c_name) END) >= 0.95
         |         THEN 1 ELSE 0 END AS BIGINT) AS g0,
         |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
         |         THEN 1 ELSE 0 END AS BIGINT) AS g1,
         |    CAST(CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
         |         THEN 1 ELSE 0 END AS BIGINT) AS g2,
         |    CAST(CASE WHEN right(a.c_name, 3) = right(b.c_name, 3)
         |         THEN 1 ELSE 0 END AS BIGINT) AS t
         |  $customerPairsSql
         |), mt AS (SELECT g0, g1, g2 FROM pairs WHERE t = 1)
         |$sel""".stripMargin
    },
    "q_fs_uncertain" -> fellegiSunterOracleSql(iters = 15, uncertainK = Some(100)),
    "q_fs_missing" -> fellegiSunterOracleSql(iters = 15, missingG2 = true),
    "q_match_weight_hist" ->
      fellegiSunterOracleSql(iters = 15, histogram = Some((-10, 10))),
    "q_score_drift" ->
      fellegiSunterOracleSql(iters = 15, drift = Some((-10, 10))),
    "q_supervised_weights" ->
      supervisedOracleSql(iters = 15, eta = 0.5, weightsOnly = true),
    "q_supervised_score" ->
      supervisedOracleSql(iters = 15, eta = 0.5, weightsOnly = false),
    "q_fellegi_sunter_persisted" -> fellegiSunterOracleSql(iters = 15),
    "q_fellegi_sunter_calibrated" ->
      fellegiSunterOracleSql(iters = 15, calibrate = Some((0.08, 0.25))),
    "q_fellegi_sunter_tf" -> fellegiSunterOracleSql(iters = 15, withTf = true),
    "q_fellegi_sunter_levels" -> fellegiSunterLevelsOracleSql(iters = 15),
    // the validated Soundex chain (see Phonetic.soundexKey's pinned
    // semantics): letters -> digit codes (H/W -> marker 7) -> drop 7s ->
    // collapse 1-6 runs -> drop 0s -> drop the leading digit when the
    // first letter is a coded consonant -> letter + 3 digits rpad'd
    // Suffix blocking: unnest start positions 1..len-minLen+1 (whole key
    // when shorter), substr-to-end, HAVING replays the maxBlockSize cut.
    "q_suffix_block" ->
      """WITH base AS (
        |  SELECT p_partkey AS id, lower(trim(p_name)) AS k FROM part
        |  WHERE length(trim(p_name)) > 0
        |), sufs AS (
        |  SELECT id, substr(k, CAST(i AS INT)) AS suffix
        |  FROM (SELECT id, k,
        |          unnest(range(1, greatest(length(k) - 8 + 1, 1) + 1)) AS i
        |        FROM base)
        |), sized AS (
        |  SELECT suffix FROM sufs GROUP BY suffix HAVING count(*) <= 400
        |)
        |SELECT s.id, s.suffix FROM sufs s JOIN sized z USING (suffix)""".stripMargin,
    // Refined Soundex: translate to the ten-class table, collapse runs of
    // every digit 0-9 (nested regexp_replace — the same per-digit fold the
    // Spark chain runs), first letter + ALL digits, no pad, no cap.
    "q_refined_soundex" -> {
      val collapsed = (0 to 9).foldLeft("coded") { (acc, d) =>
        s"regexp_replace($acc, '$d{2,}', '$d', 'g')"
      }
      s"""WITH s1 AS (
         |  SELECT p_partkey AS id, p_name AS name,
         |         regexp_replace(upper(p_name), '[^A-Z]', '', 'g') AS letters
         |  FROM part
         |), s2 AS (
         |  SELECT id, name, letters,
         |    translate(letters, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
         |              '01360240043788015936020505') AS coded
         |  FROM s1
         |)
         |SELECT id, name,
         |  CASE WHEN letters = '' THEN ''
         |       ELSE substring(letters, 1, 1) || $collapsed
         |  END AS rsdx
         |FROM s2""".stripMargin
    },
    "q_phonetic_block" ->
      """WITH s1 AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |         regexp_replace(upper(p_name), '[^A-Z]', '', 'g') AS letters
        |  FROM part
        |), s2 AS (
        |  SELECT id, name, letters,
        |    translate(letters, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |              '01230127022455012623017202') AS coded
        |  FROM s1
        |), s3 AS (
        |  SELECT id, name, letters,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(
        |        regexp_replace(coded, '7', '', 'g'),
        |      '1{2,}', '1', 'g'), '2{2,}', '2', 'g'), '3{2,}', '3', 'g'),
        |      '4{2,}', '4', 'g'), '5{2,}', '5', 'g'), '6{2,}', '6', 'g')
        |      AS collapsed
        |  FROM s2
        |), s4 AS (
        |  SELECT id, name, letters,
        |    regexp_replace(collapsed, '0', '', 'g') AS digits
        |  FROM s3
        |), s5 AS (
        |  SELECT id, name, letters,
        |    CASE WHEN substring(letters, 1, 1) IN ('A','E','I','O','U','Y','H','W')
        |         THEN digits ELSE substring(digits, 2, 2147483647) END AS tail
        |  FROM s4
        |)
        |SELECT id, name,
        |  CASE WHEN letters = '' THEN ''
        |       ELSE substring(letters, 1, 1) || rpad(substring(tail, 1, 3), 3, '0')
        |  END AS sdx
        |FROM s5""".stripMargin,
    // Caverphone 2.0: the identical rewrite chain, rendered from the SAME
    // rule table the Spark key folds over (Phonetic.caverphoneRules) —
    // one source of truth, two engines.
    "q_caverphone_block" ->
      s"""SELECT p_partkey AS id, p_name AS name,
         |  $caverphoneSqlExpr AS cvp
         |FROM part""".stripMargin,
    "q_blocking_quality" ->
      """WITH keys AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS key
        |  FROM customer
        |), sized AS (
        |  SELECT key, count(*) AS n FROM keys GROUP BY key
        |), good AS (
        |  SELECT k.id, k.key FROM keys k JOIN sized s ON k.key = s.key
        |  WHERE s.n <= 15
        |), cand AS (
        |  SELECT DISTINCT a.id AS url_a, b.id AS url_b
        |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
        |), tp AS (
        |  SELECT a.c_custkey AS url_a, b.c_custkey AS url_b
        |  FROM customer a JOIN customer b
        |    ON substring(a.c_name, 16, 3) = substring(b.c_name, 16, 3)
        |   AND a.c_custkey < b.c_custkey
        |), agg AS (
        |  SELECT (SELECT count(*) FROM customer) AS n_records,
        |         (SELECT count(*) FROM cand) AS n_candidates,
        |         (SELECT count(*) FROM tp) AS n_true,
        |         (SELECT count(*) FROM tp
        |          WHERE EXISTS (SELECT 1 FROM cand c
        |                        WHERE c.url_a = tp.url_a AND c.url_b = tp.url_b))
        |           AS n_true_covered
        |)
        |SELECT n_records, n_candidates, n_true, n_true_covered,
        |  CAST(n_records * (n_records - 1) / 2 AS BIGINT) AS total_pairs,
        |  1.0 - CAST(n_candidates AS DOUBLE) /
        |        CAST(CAST(n_records * (n_records - 1) / 2 AS BIGINT) AS DOUBLE)
        |    AS reduction_ratio,
        |  CASE WHEN n_true > 0
        |       THEN CAST(n_true_covered AS DOUBLE) / CAST(n_true AS DOUBLE)
        |  END AS pairs_completeness
        |FROM agg""".stripMargin,
    // tier-blind brute force over the distinct bipartite edge set; the
    // jaccard denominator in long before the one double division.
    "q_common_neighbors" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS id, l.l_partkey AS nb
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), deg AS (
        |  SELECT id, count(*) AS d FROM e GROUP BY id
        |), pr AS (
        |  SELECT a.id AS url_a, b.id AS url_b,
        |         CAST(count(*) AS BIGINT) AS common_neighbors
        |  FROM e a JOIN e b ON a.nb = b.nb AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT p.url_a, p.url_b, p.common_neighbors,
        |  CAST(p.common_neighbors AS DOUBLE)
        |    / CAST(da.d + db.d - p.common_neighbors AS DOUBLE)
        |    AS neighborhood_jaccard
        |FROM pr p
        |JOIN deg da ON p.url_a = da.id
        |JOIN deg db ON p.url_b = db.id
        |WHERE p.common_neighbors >= 3""".stripMargin,
    // dual-system estimation: the two captures rebuilt verbatim, then
    // the Lincoln-Petersen / Chapman formulas in the Scala's exact
    // double-expression order.
    "q_capture_recapture" ->
      s"""WITH capa AS (
        |  SELECT DISTINCT a.c_custkey AS u, b.c_custkey AS v
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), capb AS (
        |  SELECT DISTINCT a.c_custkey AS u, b.c_custkey AS v
        |  FROM customer a JOIN customer b
        |    ON substring(a.c_name, 16, 3) = substring(b.c_name, 16, 3)
        |   AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), agg AS (
        |  SELECT
        |    (SELECT count(*) FROM capa) AS n_a,
        |    (SELECT count(*) FROM capb) AS n_b,
        |    (SELECT count(*) FROM capa JOIN capb USING (u, v)) AS n_both,
        |    (SELECT count(*) FROM (SELECT u, v FROM capa
        |                           UNION SELECT u, v FROM capb)) AS n_union
        |)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(n_union AS BIGINT) AS n_union,
        |  CASE WHEN n_both > 0 THEN
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_both AS DOUBLE)
        |  END AS lincoln_petersen,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(n_both AS DOUBLE) + 1.0) - 1.0 AS chapman,
        |  (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(n_both AS DOUBLE) + 1.0) - 1.0
        |    - CAST(n_union AS DOUBLE) AS est_missed,
        |  CASE WHEN n_b > 0 THEN
        |    CAST(n_both AS DOUBLE) / CAST(n_b AS DOUBLE)
        |  END AS coverage_a,
        |  CASE WHEN n_a > 0 THEN
        |    CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE)
        |  END AS coverage_b
        |FROM agg""".stripMargin,
    "q_block_keys" ->
      """SELECT p_partkey AS id,
        |  regexp_replace(lower(p_name), '[^a-z]', '', 'g') AS block_key
        |FROM part""".stripMargin,
    "q_candidate_pairs" ->
      """WITH keys AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS key
        |  FROM customer
        |), sized AS (
        |  SELECT key, count(*) AS n FROM keys GROUP BY key
        |), good AS (
        |  SELECT k.id, k.key FROM keys k JOIN sized s ON k.key = s.key
        |  WHERE s.n <= 15
        |)
        |SELECT DISTINCT a.id AS ka, b.id AS kb
        |FROM good a JOIN good b ON a.key = b.key AND a.id < b.id""".stripMargin,
    "q_salted_pairs" ->
      """WITH keys AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS key
        |  FROM customer
        |)
        |SELECT DISTINCT a.id AS ka, b.id AS kb
        |FROM keys a JOIN keys b ON a.key = b.key AND a.id < b.id""".stripMargin,
    // Meta-blocking WEP: integer cross-multiplied mean cut over the graph
    // CTEs (sum(cbs) is HUGEINT in DuckDB — the comparison promotes, so
    // the cut is exact on both sides).
    "q_meta_blocking" ->
      s"""WITH $metaGraphCtes,
         |tot AS (SELECT sum(cbs) AS wsum, count(*) AS wcnt FROM graph)
         |SELECT g.url_a, g.url_b, g.cbs, g.blocks_a, g.blocks_b, g.js
         |FROM graph g, tot t WHERE g.cbs * t.wcnt >= t.wsum""".stripMargin,
    // Meta-blocking WNP: per-node mean via both-directions node sums,
    // same integer cross-multiplication, OR over the two endpoints.
    "q_meta_blocking_wnp" ->
      s"""WITH $metaGraphCtes,
         |und AS (
         |  SELECT url_a AS u, cbs AS w FROM graph
         |  UNION ALL
         |  SELECT url_b AS u, cbs AS w FROM graph
         |), node AS (
         |  SELECT u, sum(w) AS nsum, count(*) AS ndeg FROM und GROUP BY u
         |)
         |SELECT g.url_a, g.url_b, g.cbs, g.blocks_a, g.blocks_b, g.js
         |FROM graph g JOIN node x ON g.url_a = x.u
         |     JOIN node y ON g.url_b = y.u
         |WHERE g.cbs * x.ndeg >= x.nsum OR g.cbs * y.ndeg >= y.nsum""".stripMargin,
    // Meta-blocking CNP: per-node top-k by (weight DESC, opposite id) over
    // both directions, folded back to canonical orientation, semi-joined.
    "q_meta_blocking_cnp" ->
      s"""WITH $metaGraphCtes,
         |und AS (
         |  SELECT url_a AS u, url_b AS v, cbs AS w FROM graph
         |  UNION ALL
         |  SELECT url_b AS u, url_a AS v, cbs AS w FROM graph
         |), ranked AS (
         |  SELECT u, v, row_number() OVER (
         |    PARTITION BY u ORDER BY w DESC, v) AS rn
         |  FROM und
         |), kept AS (
         |  SELECT DISTINCT least(u, v) AS url_a, greatest(u, v) AS url_b
         |  FROM ranked WHERE rn <= 3
         |)
         |SELECT g.url_a, g.url_b, g.cbs, g.blocks_a, g.blocks_b, g.js
         |FROM graph g JOIN kept k
         |  ON g.url_a = k.url_a AND g.url_b = k.url_b""".stripMargin,
    // NYSIIS: full independent replay of the pinned algorithm — letters-
    // only uppercase, prefix/suffix transforms, then a recursive CTE over
    // positions carrying the key built so far (first-match-wins transcode
    // CASE identical in order to the kernel, NULL = skip, dedup against
    // the key's last char), and the trailing-S/AY/A cleanup + 6-char
    // truncation.
    // Metaphone: initial-transform CASE, then one flat CASE per position
    // (first match wins, mirroring the kernel's rule order), ordered
    // string_agg. '' boundary chars behave like the kernel's \0 (never a
    // vowel, never equal to a letter).
    "q_metaphone_block" ->
      """WITH base AS (
        |  SELECT p_partkey AS id,
        |         upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS up
        |  FROM part
        |), pre AS (
        |  SELECT id, CASE
        |    WHEN substr(up, 1, 2) IN ('AE','GN','KN','PN','WR')
        |      THEN substr(up, 2)
        |    WHEN substr(up, 1, 1) = 'X' THEN 'S' || substr(up, 2)
        |    WHEN substr(up, 1, 2) = 'WH' THEN 'W' || substr(up, 3)
        |    ELSE up END AS nm
        |  FROM base
        |), ctx AS (
        |  SELECT id, i, length(nm) AS n,
        |    substr(nm, CAST(i AS INT), 1) AS cur,
        |    CASE WHEN i > 1 THEN substr(nm, CAST(i AS INT) - 1, 1)
        |         ELSE '' END AS prv,
        |    substr(nm, CAST(i AS INT) + 1, 1) AS nxt,
        |    substr(nm, CAST(i AS INT) + 2, 1) AS nx2
        |  FROM (SELECT id, nm, unnest(range(1, length(nm) + 1)) AS i
        |        FROM pre WHERE length(nm) > 0)
        |), coded AS (
        |  SELECT id, i, CASE
        |    WHEN cur = prv AND cur <> 'C' THEN ''
        |    WHEN cur IN ('A','E','I','O','U') THEN
        |      CASE WHEN i = 1 THEN cur ELSE '' END
        |    WHEN cur = 'B' THEN
        |      CASE WHEN i = n AND prv = 'M' THEN '' ELSE 'B' END
        |    WHEN cur = 'C' THEN CASE
        |      WHEN nxt = 'I' AND nx2 = 'A' THEN 'X'
        |      WHEN nxt = 'H' THEN CASE WHEN prv = 'S' THEN 'K' ELSE 'X' END
        |      WHEN nxt IN ('E','I','Y') THEN
        |        CASE WHEN prv = 'S' THEN '' ELSE 'S' END
        |      ELSE 'K' END
        |    WHEN cur = 'D' THEN
        |      CASE WHEN nxt = 'G' AND nx2 IN ('E','I','Y') THEN 'J'
        |           ELSE 'T' END
        |    WHEN cur = 'G' THEN CASE
        |      WHEN nxt = 'H' THEN
        |        CASE WHEN nx2 IN ('A','E','I','O','U') THEN 'K' ELSE '' END
        |      WHEN nxt = 'N' THEN ''
        |      WHEN prv = 'D' AND nxt IN ('E','I','Y') THEN ''
        |      WHEN nxt IN ('E','I','Y') THEN 'J'
        |      ELSE 'K' END
        |    WHEN cur = 'H' THEN CASE
        |      WHEN prv IN ('C','S','P','T','G') THEN ''
        |      WHEN prv IN ('A','E','I','O','U')
        |        AND nxt NOT IN ('A','E','I','O','U') THEN ''
        |      ELSE 'H' END
        |    WHEN cur = 'K' THEN CASE WHEN prv = 'C' THEN '' ELSE 'K' END
        |    WHEN cur = 'P' THEN CASE WHEN nxt = 'H' THEN 'F' ELSE 'P' END
        |    WHEN cur = 'Q' THEN 'K'
        |    WHEN cur = 'S' THEN CASE
        |      WHEN nxt = 'H' OR (nxt = 'I' AND nx2 IN ('O','A')) THEN 'X'
        |      ELSE 'S' END
        |    WHEN cur = 'T' THEN CASE
        |      WHEN nxt = 'C' AND nx2 = 'H' THEN ''
        |      WHEN nxt = 'H' THEN '0'
        |      WHEN nxt = 'I' AND nx2 IN ('O','A') THEN 'X'
        |      ELSE 'T' END
        |    WHEN cur = 'V' THEN 'F'
        |    WHEN cur = 'W' THEN
        |      CASE WHEN nxt IN ('A','E','I','O','U') THEN 'W' ELSE '' END
        |    WHEN cur = 'X' THEN 'KS'
        |    WHEN cur = 'Y' THEN
        |      CASE WHEN nxt IN ('A','E','I','O','U') THEN 'Y' ELSE '' END
        |    WHEN cur = 'Z' THEN 'S'
        |    ELSE cur
        |  END AS code FROM ctx
        |), agg AS (
        |  SELECT id, string_agg(code, '' ORDER BY i) AS key
        |  FROM coded GROUP BY id
        |)
        |SELECT b.id, coalesce(a.key, '') AS key
        |FROM base b LEFT JOIN agg a ON b.id = a.id""".stripMargin,
    // MRA: codex replayed relationally (strip, vowel-drop after the
    // first char, lag-compare collapse, first3+last3 truncation), then
    // the pinned positional-zip comparison: forward residuals by
    // same-position mismatch, backward pass on the reversed residuals,
    // rating = 6 - the longer backward residual; the length-gap >= 3
    // "no comparison" gate and the combined-length minimum both inline.
    "q_mra" ->
      s"""WITH base AS (
         |  SELECT p_partkey AS id,
         |         upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS nm
         |  FROM part
         |), kept AS (
         |  SELECT id, CASE WHEN length(nm) = 0 THEN ''
         |    ELSE substr(nm, 1, 1) ||
         |         regexp_replace(substr(nm, 2), '[AEIOU]', '', 'g') END AS ks
         |  FROM base
         |), chars AS (
         |  SELECT id, substr(ks, CAST(j AS INT), 1) AS d,
         |    CASE WHEN j > 1 THEN substr(ks, CAST(j AS INT) - 1, 1)
         |         ELSE '' END AS pd, j
         |  FROM (SELECT id, ks, unnest(range(1, length(ks) + 1)) AS j
         |        FROM kept)
         |), coll AS (
         |  SELECT id, string_agg(d, '' ORDER BY j) AS c
         |  FROM chars WHERE j = 1 OR d <> pd GROUP BY id
         |), codex AS (
         |  SELECT k.id, CASE WHEN c.c IS NULL THEN ''
         |    WHEN length(c.c) > 6 THEN substr(c.c, 1, 3) ||
         |         substr(c.c, length(c.c) - 2) ELSE c.c END AS cx
         |  FROM kept k LEFT JOIN coll c ON k.id = c.id
         |), pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb
         |  $partPairsSql
         |  AND a.p_partkey % 17 = 0 AND b.p_partkey % 5 = 0
         |), pc AS (
         |  SELECT p.ka, p.kb, x.cx AS c1, y.cx AS c2
         |  FROM pairs p JOIN codex x ON p.ka = x.id JOIN codex y ON p.kb = y.id
         |), resid AS (
         |  SELECT ka, kb, c1, c2,
         |    list_filter(list_transform(range(1, length(c1) + 1), i ->
         |      CASE WHEN i > length(c2)
         |                OR substr(c1, CAST(i AS INT), 1)
         |                   <> substr(c2, CAST(i AS INT), 1)
         |           THEN substr(c1, CAST(i AS INT), 1) END),
         |      x -> x IS NOT NULL) AS r1,
         |    list_filter(list_transform(range(1, length(c2) + 1), i ->
         |      CASE WHEN i > length(c1)
         |                OR substr(c2, CAST(i AS INT), 1)
         |                   <> substr(c1, CAST(i AS INT), 1)
         |           THEN substr(c2, CAST(i AS INT), 1) END),
         |      x -> x IS NOT NULL) AS r2
         |  FROM pc
         |), backr AS (
         |  SELECT ka, kb, c1, c2,
         |         list_reverse(r1) AS b1, list_reverse(r2) AS b2
         |  FROM resid
         |), unm AS (
         |  SELECT ka, kb, c1, c2, greatest(
         |    len(list_filter(list_transform(range(1, len(b1) + 1), i ->
         |      CASE WHEN i > len(b2) OR b1[i] <> b2[i] THEN 1 END),
         |      x -> x IS NOT NULL)),
         |    len(list_filter(list_transform(range(1, len(b2) + 1), i ->
         |      CASE WHEN i > len(b1) OR b2[i] <> b1[i] THEN 1 END),
         |      x -> x IS NOT NULL))) AS u
         |  FROM backr
         |)
         |SELECT ka, kb, c1 AS ca, c2 AS cb,
         |  CASE WHEN abs(length(c1) - length(c2)) >= 3 THEN NULL
         |       ELSE CAST(6 - u AS INT) END AS rating,
         |  CASE WHEN abs(length(c1) - length(c2)) >= 3 THEN NULL
         |       ELSE (6 - u) >= (CASE WHEN length(c1) + length(c2) <= 4 THEN 5
         |                             WHEN length(c1) + length(c2) <= 7 THEN 4
         |                             WHEN length(c1) + length(c2) <= 11 THEN 3
         |                             ELSE 2 END) END AS is_match
         |FROM unm""".stripMargin,
    // Cologne phonetics: full relational replay of the pinned variant.
    // Umlauts/ß folded by translate BEFORE upper (so the mapping never
    // depends on DuckDB's non-ASCII casing); letter codes computed with
    // prev/next context per position; X emits the two-code '48'; collapse
    // compares each digit to its RAW predecessor and drops non-leading 0s
    // in the same pass (identical to collapse-then-strip; the kernel doc
    // proves the equivalence).
    "q_cologne_block" ->
      """WITH base AS (
        |  SELECT p_partkey AS id,
        |         regexp_replace(upper(translate(p_name,
        |           'äöüßÄÖÜ', 'AOUSAOU')), '[^A-Z]', '', 'g') AS nm
        |  FROM part
        |), pos AS (
        |  SELECT id, nm, unnest(range(1, length(nm) + 1)) AS i
        |  FROM base WHERE length(nm) > 0
        |), ctx AS (
        |  SELECT id, i, substr(nm, CAST(i AS INT), 1) AS cur,
        |    CASE WHEN i > 1 THEN substr(nm, CAST(i AS INT) - 1, 1)
        |         ELSE '' END AS prv,
        |    substr(nm, CAST(i AS INT) + 1, 1) AS nxt
        |  FROM pos
        |), coded AS (
        |  SELECT id, i, CASE
        |    WHEN cur IN ('A','E','I','J','O','U','Y') THEN '0'
        |    WHEN cur = 'H' THEN ''
        |    WHEN cur = 'B' THEN '1'
        |    WHEN cur = 'P' THEN CASE WHEN nxt = 'H' THEN '3' ELSE '1' END
        |    WHEN cur IN ('D','T') THEN
        |      CASE WHEN nxt IN ('C','S','Z') THEN '8' ELSE '2' END
        |    WHEN cur IN ('F','V','W') THEN '3'
        |    WHEN cur IN ('G','K','Q') THEN '4'
        |    WHEN cur = 'C' THEN CASE
        |      WHEN i = 1 AND nxt IN ('A','H','K','L','O','Q','R','U','X')
        |        THEN '4'
        |      WHEN i > 1 AND prv NOT IN ('S','Z')
        |        AND nxt IN ('A','H','K','O','Q','U','X') THEN '4'
        |      ELSE '8' END
        |    WHEN cur = 'X' THEN
        |      CASE WHEN prv IN ('C','K','Q') THEN '8' ELSE '48' END
        |    WHEN cur = 'L' THEN '5'
        |    WHEN cur IN ('M','N') THEN '6'
        |    WHEN cur = 'R' THEN '7'
        |    ELSE '8'
        |  END AS code FROM ctx
        |), raw AS (
        |  SELECT id, string_agg(code, '' ORDER BY i) AS digits
        |  FROM coded GROUP BY id
        |), chars AS (
        |  SELECT id, substr(digits, CAST(j AS INT), 1) AS d,
        |    CASE WHEN j > 1 THEN substr(digits, CAST(j AS INT) - 1, 1)
        |         ELSE '' END AS pd,
        |    j
        |  FROM (SELECT id, digits, unnest(range(1, length(digits) + 1)) AS j
        |        FROM raw)
        |), collapsed AS (
        |  SELECT id, string_agg(d, '' ORDER BY j) AS key
        |  FROM chars WHERE j = 1 OR (d <> pd AND d <> '0')
        |  GROUP BY id
        |)
        |SELECT b.id, coalesce(c.key, '') AS key
        |FROM base b LEFT JOIN collapsed c ON b.id = c.id""".stripMargin,
    "q_nysiis_block" ->
      """WITH RECURSIVE base AS (
        |  SELECT p_partkey AS id,
        |         upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS nm0
        |  FROM part
        |), pre AS (
        |  SELECT id, CASE
        |    WHEN nm0 LIKE 'MAC%' THEN 'MCC' || substr(nm0, 4)
        |    WHEN nm0 LIKE 'KN%' THEN 'NN' || substr(nm0, 3)
        |    WHEN nm0 LIKE 'K%' THEN 'C' || substr(nm0, 2)
        |    WHEN nm0 LIKE 'PH%' OR nm0 LIKE 'PF%' THEN 'FF' || substr(nm0, 3)
        |    WHEN nm0 LIKE 'SCH%' THEN 'SSS' || substr(nm0, 4)
        |    ELSE nm0 END AS nm1
        |  FROM base WHERE length(nm0) > 0
        |), ab AS (
        |  SELECT id, CASE
        |    WHEN nm1 LIKE '%EE' OR nm1 LIKE '%IE'
        |      THEN substr(nm1, 1, length(nm1) - 2) || 'Y'
        |    WHEN nm1 LIKE '%DT' OR nm1 LIKE '%RT' OR nm1 LIKE '%RD'
        |      OR nm1 LIKE '%NT' OR nm1 LIKE '%ND'
        |      THEN substr(nm1, 1, length(nm1) - 2) || 'D'
        |    ELSE nm1 END AS nm
        |  FROM pre
        |), it AS (
        |  SELECT id, nm, 2 AS i, substr(nm, 1, 1) AS key FROM ab
        |  UNION ALL
        |  SELECT id, nm, i + 1,
        |    CASE WHEN tc IS NULL OR tc = substr(key, length(key), 1)
        |         THEN key ELSE key || tc END
        |  FROM (
        |    SELECT id, nm, i, key,
        |      CASE
        |        WHEN cur = 'S' AND nxt = 'C' AND nxt2 = 'H' THEN 'S'
        |        WHEN cur = 'C' AND prv = 'S' AND nxt = 'H' THEN 'S'
        |        WHEN cur = 'H' AND prv = 'C' AND prv2 = 'S' THEN 'S'
        |        WHEN cur = 'P' AND nxt = 'H' THEN 'F'
        |        WHEN cur = 'H' AND prv = 'P' THEN 'F'
        |        WHEN cur = 'V' AND prv = 'E' THEN 'F'
        |        WHEN cur IN ('A','E','I','O','U') THEN 'A'
        |        WHEN cur = 'Q' THEN 'G'
        |        WHEN cur = 'Z' THEN 'S'
        |        WHEN cur = 'M' THEN 'N'
        |        WHEN cur = 'K' THEN
        |          CASE WHEN nxt = 'N' THEN NULL ELSE 'C' END
        |        WHEN cur = 'H' THEN
        |          CASE WHEN prv IN ('A','E','I','O','U')
        |                AND nxt IN ('A','E','I','O','U')
        |               THEN 'H' ELSE NULL END
        |        WHEN cur = 'W' THEN
        |          CASE WHEN prv IN ('A','E','I','O','U') THEN NULL
        |               ELSE 'W' END
        |        ELSE cur
        |      END AS tc
        |    FROM (
        |      SELECT id, nm, i, key,
        |        substr(nm, i, 1) AS cur,
        |        substr(nm, i - 1, 1) AS prv,
        |        CASE WHEN i >= 3 THEN substr(nm, i - 2, 1) ELSE ' ' END AS prv2,
        |        substr(nm, i + 1, 1) AS nxt,
        |        substr(nm, i + 2, 1) AS nxt2
        |      FROM it WHERE i <= length(nm)) q0) q1
        |), fin AS (
        |  SELECT id, key FROM it WHERE i = length(nm) + 1
        |), clean AS (
        |  SELECT id,
        |    CASE WHEN length(key) > 1 AND key LIKE '%S'
        |         THEN substr(key, 1, length(key) - 1) ELSE key END AS k1
        |  FROM fin
        |), clean2 AS (
        |  SELECT id, CASE WHEN k1 LIKE '%AY'
        |    THEN substr(k1, 1, length(k1) - 2) || 'Y' ELSE k1 END AS k2
        |  FROM clean
        |), clean3 AS (
        |  SELECT id, CASE WHEN length(k2) > 1 AND k2 LIKE '%A'
        |    THEN substr(k2, 1, length(k2) - 1) ELSE k2 END AS k3
        |  FROM clean2
        |)
        |SELECT b.id, coalesce(substr(c.k3, 1, 6), '') AS key
        |FROM base b LEFT JOIN clean3 c ON b.id = c.id""".stripMargin,
    // Block filtering: per-record rank of blocks by (size ASC, key ASC),
    // budget ⌈n/2⌉ applied by the SAME integer cross-multiplication the
    // Scala uses (n·1 > (rank−1)·2) — no division on either side. Sizes
    // count ALL blocks (blockFilter has no hardCap tier; it runs before
    // capping).
    "q_block_filter" ->
      """WITH recs AS (
        |  SELECT c_custkey AS id, c_mktsegment AS seg, c_nationkey AS nk,
        |         c_name AS nm
        |  FROM customer WHERE c_custkey % 4 = 0
        |), mkeys AS (
        |  SELECT id, seg || ':' || CAST(nk AS VARCHAR) AS key FROM recs
        |  UNION ALL
        |  SELECT id, 'd2:' || right(nm, 2) FROM recs
        |  UNION ALL
        |  SELECT id, 'nk3:' || CAST(nk AS VARCHAR) FROM recs WHERE id % 3 = 0
        |), bsized AS (
        |  SELECT key, count(*) AS bn FROM mkeys GROUP BY key
        |), ranked AS (
        |  SELECT k.id, k.key,
        |    row_number() OVER (PARTITION BY k.id ORDER BY s.bn, k.key) AS rn,
        |    count(*) OVER (PARTITION BY k.id) AS nb
        |  FROM mkeys k JOIN bsized s ON k.key = s.key
        |)
        |SELECT id, key FROM ranked WHERE nb * 1 > (rn - 1) * 2""".stripMargin,
    // Golden records: canonical id = min(id); text → longest-then-
    // smallest (code-point length on BOTH sides: Spark length() counts
    // code points, DuckDB length() counts code points too); lang → mode
    // with smallest-value tie-break; source → min; n_chars → max.
    "q_golden_records" ->
      """WITH j AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component, text, lang,
        |         source, n_chars
        |  FROM documents
        |), base AS (
        |  SELECT component, min(id) AS id, count(*) AS n_members,
        |         min(source) AS source, max(n_chars) AS n_chars
        |  FROM j GROUP BY component
        |), longest AS (
        |  SELECT component, text FROM (
        |    SELECT component, text, row_number() OVER (
        |      PARTITION BY component
        |      ORDER BY length(text) DESC, text) AS rn
        |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
        |), langcnt AS (
        |  SELECT component, lang, count(*) AS cnt FROM j
        |  WHERE lang IS NOT NULL GROUP BY component, lang
        |), langmode AS (
        |  SELECT component, lang FROM (
        |    SELECT component, lang, row_number() OVER (
        |      PARTITION BY component ORDER BY cnt DESC, lang) AS rn
        |    FROM langcnt) WHERE rn = 1
        |)
        |SELECT b.component, b.id, b.n_members, l.text, m.lang, b.source,
        |       b.n_chars
        |FROM base b
        |LEFT JOIN longest l ON b.component = l.component
        |LEFT JOIN langmode m ON b.component = m.component""".stripMargin,
    // merge-conflict audit: long-format (field, value-as-string) union,
    // non-null only, grouped per (cluster, field), kept when >1 distinct
    "q_merge_conflicts" ->
      """WITH long AS (
        |  SELECT doc_id % 89 AS component, 'lang' AS field, lang AS value
        |  FROM documents WHERE lang IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id % 89, 'source', source
        |  FROM documents WHERE source IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id % 89, 'n_chars', CAST(n_chars AS VARCHAR)
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT component, field,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_values,
        |  CAST(count(*) AS BIGINT) AS n_nonnull,
        |  min(value) AS value_min, max(value) AS value_max
        |FROM long GROUP BY component, field
        |HAVING count(DISTINCT value) > 1""".stripMargin,
    // golden records + per-field (cluster, value) argmin source joins.
    "q_golden_provenance" ->
      """WITH j AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component, text, lang,
        |         source, n_chars
        |  FROM documents
        |), base AS (
        |  SELECT component, min(id) AS id, count(*) AS n_members,
        |         min(source) AS source, max(n_chars) AS n_chars
        |  FROM j GROUP BY component
        |), longest AS (
        |  SELECT component, text FROM (
        |    SELECT component, text, row_number() OVER (
        |      PARTITION BY component
        |      ORDER BY length(text) DESC, text) AS rn
        |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
        |), langcnt AS (
        |  SELECT component, lang, count(*) AS cnt FROM j
        |  WHERE lang IS NOT NULL GROUP BY component, lang
        |), langmode AS (
        |  SELECT component, lang FROM (
        |    SELECT component, lang, row_number() OVER (
        |      PARTITION BY component ORDER BY cnt DESC, lang) AS rn
        |    FROM langcnt) WHERE rn = 1
        |), g AS (
        |  SELECT b.component, b.id, b.n_members, l.text, m.lang, b.source,
        |         b.n_chars
        |  FROM base b
        |  LEFT JOIN longest l ON b.component = l.component
        |  LEFT JOIN langmode m ON b.component = m.component
        |), st AS (
        |  SELECT component, text AS v, min(id) AS text_src FROM j
        |  WHERE text IS NOT NULL GROUP BY component, text
        |), sl AS (
        |  SELECT component, lang AS v, min(id) AS lang_src FROM j
        |  WHERE lang IS NOT NULL GROUP BY component, lang
        |), ss AS (
        |  SELECT component, source AS v, min(id) AS source_src FROM j
        |  WHERE source IS NOT NULL GROUP BY component, source
        |), sn AS (
        |  SELECT component, n_chars AS v, min(id) AS n_chars_src FROM j
        |  WHERE n_chars IS NOT NULL GROUP BY component, n_chars
        |)
        |SELECT g.*, st.text_src, sl.lang_src, ss.source_src, sn.n_chars_src
        |FROM g
        |LEFT JOIN st ON g.component = st.component AND g.text = st.v
        |LEFT JOIN sl ON g.component = sl.component AND g.lang = sl.v
        |LEFT JOIN ss ON g.component = ss.component AND g.source = ss.v
        |LEFT JOIN sn ON g.component = sn.component AND g.n_chars = sn.v"""
        .stripMargin,
    // id-carry re-derivation: overlap counts → per-cluster argmax
    // (ties: entity asc) → per-entity winner (ties: cluster asc) →
    // carried / minted ids.
    "q_entity_ids" ->
      """WITH prev AS (
        |  SELECT doc_id AS id, 'e' || CAST(doc_id % 97 AS VARCHAR) AS prev_e
        |  FROM documents
        |), cur AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component FROM documents
        |), sizes AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
        |         min(id) AS min_id
        |  FROM cur GROUP BY component
        |), ov AS (
        |  SELECT component, prev_e, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM cur JOIN prev USING (id) GROUP BY 1, 2
        |), cand AS (
        |  SELECT component, prev_e, n_overlap FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY component ORDER BY n_overlap DESC, prev_e) AS rn
        |    FROM ov) WHERE rn = 1
        |), win AS (
        |  SELECT component, TRUE AS carried FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY prev_e ORDER BY n_overlap DESC, component) AS rn
        |    FROM cand) WHERE rn = 1
        |)
        |SELECT s.component,
        |  CASE WHEN w.carried THEN c.prev_e
        |       ELSE 'new:' || CAST(s.min_id AS VARCHAR) END AS entity_id,
        |  s.n_members,
        |  CAST(coalesce(c.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  coalesce(w.carried, FALSE) = FALSE AS is_new
        |FROM sizes s
        |LEFT JOIN cand c USING (component)
        |LEFT JOIN win w USING (component)""".stripMargin,
    "q_split_cluster" -> splitByClusterOracle,
    "q_profile_columns" -> profileColumnsOracle,
    "q_acronym_levels" -> {
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
    },
    // identical two-window run-length encoding: change flag vs lag,
    // running sum as version, min(ts) per run, lead for valid_to.
    "q_scd2" ->
      """WITH obs AS (
        |  SELECT o_custkey AS id, o_orderdate AS ts, o_orderstatus AS v
        |  FROM orders WHERE o_orderdate IS NOT NULL
        |), flagged AS (
        |  SELECT id, ts, v,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR NOT (v IS NOT DISTINCT FROM lag(v) OVER w)
        |         THEN 1 ELSE 0 END AS chg
        |  FROM obs WINDOW w AS (PARTITION BY id ORDER BY ts, v)
        |), versioned AS (
        |  SELECT id, v, ts, sum(chg) OVER (
        |    PARTITION BY id ORDER BY ts, v ROWS UNBOUNDED PRECEDING)
        |    AS version
        |  FROM flagged
        |), runs AS (
        |  SELECT id, version, v, min(ts) AS valid_from
        |  FROM versioned GROUP BY 1, 2, 3
        |)
        |SELECT id AS o_custkey, v AS o_orderstatus,
        |  CAST(version AS BIGINT) AS version, valid_from,
        |  coalesce(lead(valid_from) OVER (
        |    PARTITION BY id ORDER BY version), DATE '9999-12-31')
        |    AS valid_to
        |FROM runs""".stripMargin,
    // the same SCD-2 version derivation, then DuckDB's NATIVE ASOF LEFT
    // JOIN (independent as-of semantics) over the deduped version frame.
    "q_asof_join" ->
      """WITH obs AS (
        |  SELECT o_custkey AS id, o_orderdate AS ts, o_orderstatus AS v
        |  FROM orders WHERE o_orderdate IS NOT NULL
        |), flagged AS (
        |  SELECT id, ts, v,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR NOT (v IS NOT DISTINCT FROM lag(v) OVER w)
        |         THEN 1 ELSE 0 END AS chg
        |  FROM obs WINDOW w AS (PARTITION BY id ORDER BY ts, v)
        |), versioned AS (
        |  SELECT id, v, ts, sum(chg) OVER (
        |    PARTITION BY id ORDER BY ts, v ROWS UNBOUNDED PRECEDING)
        |    AS version
        |  FROM flagged
        |), runs AS (
        |  SELECT id, version, v, min(ts) AS valid_from
        |  FROM versioned GROUP BY 1, 2, 3
        |), vd AS (
        |  SELECT id, CAST(version AS BIGINT) AS version, v AS status,
        |    CAST(valid_from AS TIMESTAMP) AS vf
        |  FROM runs
        |  QUALIFY row_number() OVER (PARTITION BY id, valid_from
        |    ORDER BY version DESC) = 1
        |), p AS (
        |  SELECT event_id, user_id,
        |    CAST(DATE '1993-01-01'
        |      + to_days(CAST((event_id * 7919) % 3650 AS INT))
        |      AS TIMESTAMP) AS ts
        |  FROM events
        |)
        |SELECT p.event_id, p.user_id, p.ts, vd.version,
        |  vd.status AS o_orderstatus,
        |  coalesce(vd.vf, TIMESTAMP '1900-01-01') AS valid_from
        |FROM p ASOF LEFT JOIN vd
        |  ON p.user_id = vd.id AND p.ts >= vd.vf""".stripMargin,
    // distinct value sets per column both sides, value equi-join,
    // overlap fold — only pairs with n_common >= 1 appear.
    "q_schema_match" ->
      """WITH a AS (
        |  SELECT 'c_custkey' AS col_a, CAST(c_custkey AS VARCHAR) AS v
        |  FROM customer WHERE c_custkey IS NOT NULL
        |  UNION
        |  SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR)
        |  FROM customer WHERE c_nationkey IS NOT NULL
        |  UNION
        |  SELECT 'c_name', c_name FROM customer WHERE c_name IS NOT NULL
        |), b AS (
        |  SELECT 's_suppkey' AS col_b, CAST(s_suppkey AS VARCHAR) AS v
        |  FROM supplier WHERE s_suppkey IS NOT NULL
        |  UNION
        |  SELECT 's_nationkey', CAST(s_nationkey AS VARCHAR)
        |  FROM supplier WHERE s_nationkey IS NOT NULL
        |  UNION
        |  SELECT 's_name', s_name FROM supplier WHERE s_name IS NOT NULL
        |), sa AS (
        |  SELECT col_a, CAST(count(*) AS BIGINT) AS n_a FROM a GROUP BY 1
        |), sb AS (
        |  SELECT col_b, CAST(count(*) AS BIGINT) AS n_b FROM b GROUP BY 1
        |), ov AS (
        |  SELECT col_a, col_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM a JOIN b USING (v) GROUP BY 1, 2
        |)
        |SELECT o.col_a, o.col_b, sa.n_a, sb.n_b, o.n_common,
        |  CAST(o.n_common AS DOUBLE)
        |    / CAST(sa.n_a + sb.n_b - o.n_common AS DOUBLE) AS jaccard,
        |  CAST(o.n_common AS DOUBLE) / CAST(sa.n_a AS DOUBLE)
        |    AS containment_a,
        |  CAST(o.n_common AS DOUBLE) / CAST(sb.n_b AS DOUBLE)
        |    AS containment_b
        |FROM ov o JOIN sa USING (col_a) JOIN sb USING (col_b)""".stripMargin,
    "q_hll_overlap" -> hllOverlapOracle,
    "q_fd_audit" -> Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
      ("p_type", "p_size")).map { case (l, r) =>
      s"""SELECT '$l' AS lhs_col, '$r' AS rhs_col,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(coalesce(sum(CASE WHEN nr > 1 THEN 1 END), 0) AS BIGINT)
         |    AS n_violating,
         |  CASE WHEN count(*) > 0 THEN
         |    CAST(coalesce(sum(CASE WHEN nr > 1 THEN 1 END), 0) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS violation_rate,
         |  CAST(coalesce(sum(CASE WHEN nr > 1 THEN rws END), 0) AS BIGINT)
         |    AS n_rows_violating,
         |  min(CASE WHEN nr > 1 THEN lv END) AS example_lhs
         |FROM (
         |  SELECT lv, count(*) AS nr, sum(n) AS rws FROM (
         |    SELECT CAST($l AS VARCHAR) AS lv, CAST($r AS VARCHAR) AS rv,
         |           count(*) AS n
         |    FROM part WHERE $l IS NOT NULL AND $r IS NOT NULL
         |    GROUP BY 1, 2) p
         |  GROUP BY lv) g""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // HLL register table rebuilt from scratch: sha256 double-hash,
    // bucket = h1 % 4096, rho = 33 - bitlen(h2) — any slip in bucket
    // assignment or leading-zero counting mismatches a register.
    "q_hll_registers" -> hllRegSql("documents", "doc_id", "doc_id", 12),
    // KMV sketches replayed value-for-value: distinct values → sha256 →
    // exact 60-bit hash → rank window, per column.
    "q_kmv_sketch" ->
      Seq("doc_id", "lang", "source", "text")
        .map(c => kmvSketchSql("documents", c, c, 64))
        .mkString("", "\nUNION ALL\n", ""),
    // merged custkey sketch == sketch of the VALUE UNION (the KMV merge
    // property — the oracle never sees the per-table sketches), plus the
    // documents sketches in both regimes; the estimator is the single
    // pinned (k−1)·2^60/u_k expression.
    "q_kmv_estimate" -> {
      val uni =
        """(SELECT c_custkey AS x FROM customer WHERE c_custkey IS NOT NULL
          |   UNION ALL
          |   SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) uu""".stripMargin
      val parts = Seq(
        s"""SELECT col_name, CAST(count(*) AS BIGINT) AS n_seen,
           |  max(hv) AS u_k, count(*) < 128 AS exact,
           |  ${kmvEstSql(128)} AS est_distinct
           |FROM (${kmvSketchSql(uni, "x", "custkey", 128)}) s0
           |GROUP BY col_name""".stripMargin) ++
        Seq("lang", "source", "doc_id").map(c =>
          s"""SELECT col_name, CAST(count(*) AS BIGINT) AS n_seen,
             |  max(hv) AS u_k, count(*) < 64 AS exact,
             |  ${kmvEstSql(64)} AS est_distinct
             |FROM (${kmvSketchSql("documents", c, c, 64)}) s_$c
             |GROUP BY col_name""".stripMargin)
      parts.mkString("", "\nUNION ALL\n", "")
    },
    // per column pair: union sketch = rank window over the deduped
    // union of the two side sketches, n_common = members in BOTH —
    // the direct-intersection estimator, all-integer gate face plus
    // the two pinned IEEE expressions.
    "q_kmv_overlap" -> {
      val ska = Seq("c_custkey", "c_nationkey", "c_name")
        .map(c => kmvSketchSql("customer", c, c, 128))
        .mkString("(", "\nUNION ALL\n", ")")
      val skb = Seq("s_suppkey", "s_nationkey", "s_name")
        .map(c => kmvSketchSql("supplier", c, c, 128))
        .mkString("(", "\nUNION ALL\n", ")")
      s"""WITH ska AS $ska, skb AS $skb,
         |pairs AS (
         |  SELECT ska.col_name AS col_a, cb.col_b, ska.hv,
         |    1 AS in_a, 0 AS in_b
         |  FROM ska CROSS JOIN
         |    (SELECT DISTINCT col_name AS col_b FROM skb) cb
         |  UNION ALL
         |  SELECT ca.col_a, skb.col_name, skb.hv, 0, 1
         |  FROM skb CROSS JOIN
         |    (SELECT DISTINCT col_name AS col_a FROM ska) ca
         |), g AS (
         |  SELECT col_a, col_b, hv,
         |    max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM pairs GROUP BY 1, 2, 3
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY col_a, col_b ORDER BY hv) AS rnk
         |  FROM g QUALIFY rnk <= 128
         |), sz AS (
         |  SELECT col_a, col_b, CAST(count(*) AS BIGINT) AS n_union_seen,
         |    max(hv) AS u_k_union,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS n_common
         |  FROM rk GROUP BY 1, 2
         |), na AS (
         |  SELECT col_name AS col_a, CAST(count(*) AS BIGINT) AS n_seen_a
         |  FROM ska GROUP BY 1
         |), nb AS (
         |  SELECT col_name AS col_b, CAST(count(*) AS BIGINT) AS n_seen_b
         |  FROM skb GROUP BY 1
         |)
         |SELECT sz.col_a, sz.col_b, n_seen_a, n_seen_b, n_union_seen,
         |  u_k_union, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(n_union_seen AS DOUBLE)
         |    AS jaccard_est,
         |  CAST(n_common AS DOUBLE) / CAST(n_union_seen AS DOUBLE) *
         |    (CASE WHEN n_union_seen < 128 THEN CAST(n_union_seen AS DOUBLE)
         |      ELSE CAST('127' AS DOUBLE) *
         |        CAST('1152921504606846976' AS DOUBLE) /
         |        CAST(u_k_union AS DOUBLE) END) AS inter_est
         |FROM sz JOIN na USING (col_a) JOIN nb USING (col_b)""".stripMargin
    },
    "q_hll_profile" -> hllProfileOracle,
    // unrolled 3-step budgeted greedy: per step, argmax marginal
    // coverage (count desc, family asc) among families whose volume
    // still fits; an empty step NULL-propagates into later steps,
    // matching the operator's stop rule.
    "q_blocking_selection" ->
      """WITH keys AS (
        |  SELECT 'seg' AS family, c_custkey AS id, c_mktsegment AS key
        |  FROM customer
        |  UNION ALL SELECT 'nat', c_custkey, CAST(c_nationkey AS VARCHAR)
        |  FROM customer
        |  UNION ALL SELECT 'segnat', c_custkey,
        |    c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR)
        |  FROM customer
        |  UNION ALL SELECT 'bal', c_custkey,
        |    CAST(floor(c_acctbal / 1000.0) AS VARCHAR)
        |  FROM customer
        |), truth AS (
        |  SELECT DISTINCT a.c_custkey AS pa, b.c_custkey AS pb
        |  FROM customer a JOIN customer b
        |    ON substr(a.c_name, 16, 3) = substr(b.c_name, 16, 3)
        |   AND a.c_custkey < b.c_custkey
        |), tt AS (SELECT CAST(count(*) AS BIGINT) AS total_truth FROM truth),
        |bud AS (
        |  SELECT CAST(CAST(count(*) AS BIGINT) * count(*) / 20
        |    AS DECIMAL(38,0)) AS b FROM customer
        |), vol AS (
        |  SELECT family, CAST(sum(n * (n - 1)) / 2 AS DECIMAL(38,0)) AS volume
        |  FROM (SELECT family, key, CAST(count(*) AS BIGINT) AS n
        |        FROM keys GROUP BY 1, 2) GROUP BY family
        |), cov AS (
        |  SELECT DISTINCT k1.family, t.pa, t.pb
        |  FROM truth t
        |  JOIN keys k1 ON k1.id = t.pa
        |  JOIN keys k2 ON k2.family = k1.family AND k2.key = k1.key
        |              AND k2.id = t.pb
        |), m1 AS (
        |  SELECT family, CAST(count(*) AS BIGINT) AS cnt FROM cov GROUP BY family
        |), p1 AS (
        |  SELECT v.family, v.volume, m.cnt FROM vol v JOIN m1 m USING (family)
        |  CROSS JOIN bud WHERE v.volume <= bud.b
        |  ORDER BY m.cnt DESC, v.family LIMIT 1
        |), c1 AS (SELECT pa, pb FROM cov JOIN p1 USING (family)),
        |m2 AS (
        |  SELECT c.family, CAST(count(*) AS BIGINT) AS cnt FROM cov c
        |  LEFT JOIN c1 ON c.pa = c1.pa AND c.pb = c1.pb
        |  WHERE c1.pa IS NULL AND c.family <> (SELECT family FROM p1)
        |  GROUP BY c.family
        |), p2 AS (
        |  SELECT v.family, v.volume, m.cnt FROM vol v JOIN m2 m USING (family)
        |  CROSS JOIN bud WHERE v.volume + (SELECT volume FROM p1) <= bud.b
        |  ORDER BY m.cnt DESC, v.family LIMIT 1
        |), c2 AS (
        |  SELECT pa, pb FROM c1
        |  UNION SELECT pa, pb FROM cov JOIN p2 USING (family)
        |), m3 AS (
        |  SELECT c.family, CAST(count(*) AS BIGINT) AS cnt FROM cov c
        |  LEFT JOIN c2 ON c.pa = c2.pa AND c.pb = c2.pb
        |  WHERE c2.pa IS NULL
        |    AND c.family NOT IN (SELECT family FROM p1
        |                         UNION SELECT family FROM p2)
        |  GROUP BY c.family
        |), p3 AS (
        |  SELECT v.family, v.volume, m.cnt FROM vol v JOIN m3 m USING (family)
        |  CROSS JOIN bud
        |  WHERE v.volume + (SELECT volume FROM p1) + (SELECT volume FROM p2)
        |        <= bud.b
        |  ORDER BY m.cnt DESC, v.family LIMIT 1
        |)
        |SELECT 1 AS step, family, cnt AS marginal_covered,
        |  cnt AS cumulative_covered, volume,
        |  volume AS cumulative_volume,
        |  (SELECT total_truth FROM tt) AS total_truth FROM p1
        |UNION ALL
        |SELECT 2, family, cnt, cnt + (SELECT cnt FROM p1), volume,
        |  CAST(volume + (SELECT volume FROM p1) AS DECIMAL(38,0)),
        |  (SELECT total_truth FROM tt) FROM p2
        |UNION ALL
        |SELECT 3, family, cnt,
        |  cnt + (SELECT cnt FROM p1) + (SELECT cnt FROM p2), volume,
        |  CAST(volume + (SELECT volume FROM p1) + (SELECT volume FROM p2)
        |    AS DECIMAL(38,0)),
        |  (SELECT total_truth FROM tt) FROM p3""".stripMargin,
    // supervised DNF learner: full 3-step greedy replay — candidate pool
    // is the 3 base families + their 3 conjunctions (names sorted, keys
    // chr(1)-joined; key SPELLING may differ from the Spark side, only
    // per-family key EQUALITY matters and floor/CAST agree on that);
    // each step anti-joins covered pairs on BOTH label sides, then picks
    // by (pos marginal DESC, neg marginal ASC, family) under the
    // cumulative negative budget totalNeg // 8
    "q_learn_scheme" ->
      """WITH c AS (
        |  SELECT c_custkey AS id, c_mktsegment AS seg,
        |    CAST(c_nationkey AS VARCHAR) AS nat,
        |    CAST(floor(c_acctbal / 1000.0) AS VARCHAR) AS bal,
        |    substr(c_name, 16, 3) AS sfx, c_nationkey AS nk
        |  FROM customer
        |), keys AS (
        |  SELECT 'seg' AS family, id, seg AS key FROM c
        |  UNION ALL SELECT 'nat', id, nat FROM c
        |  UNION ALL SELECT 'bal', id, bal FROM c
        |  UNION ALL SELECT 'bal&nat', id, bal || chr(1) || nat FROM c
        |  UNION ALL SELECT 'bal&seg', id, bal || chr(1) || seg FROM c
        |  UNION ALL SELECT 'nat&seg', id, nat || chr(1) || seg FROM c
        |), pos AS (
        |  SELECT a.id AS pa, b.id AS pb
        |  FROM c a JOIN c b ON a.sfx = b.sfx AND a.id < b.id
        |), neg AS (
        |  SELECT a.id AS pa, b.id AS pb
        |  FROM c a JOIN c b ON (a.id * 7919) % 211 = (b.id * 7919) % 211
        |   AND a.id < b.id AND a.sfx <> b.sfx
        |  WHERE a.id % 4 = 0 AND b.id % 4 = 0
        |), tp AS (SELECT CAST(count(*) AS BIGINT) AS total_pos FROM pos),
        |tn AS (SELECT CAST(count(*) AS BIGINT) AS total_neg FROM neg),
        |bud AS (SELECT CAST(count(*) // 8 AS BIGINT) AS b FROM neg),
        |covp AS (
        |  SELECT DISTINCT k1.family, t.pa, t.pb FROM pos t
        |  JOIN keys k1 ON k1.id = t.pa
        |  JOIN keys k2 ON k2.family = k1.family AND k2.key = k1.key
        |              AND k2.id = t.pb
        |), covn AS (
        |  SELECT DISTINCT k1.family, t.pa, t.pb FROM neg t
        |  JOIN keys k1 ON k1.id = t.pa
        |  JOIN keys k2 ON k2.family = k1.family AND k2.key = k1.key
        |              AND k2.id = t.pb
        |), mp1 AS (
        |  SELECT family, CAST(count(*) AS BIGINT) AS p FROM covp GROUP BY family
        |), mn1 AS (
        |  SELECT family, CAST(count(*) AS BIGINT) AS n FROM covn GROUP BY family
        |), p1 AS (
        |  SELECT mp1.family, mp1.p, COALESCE(mn1.n, 0) AS n
        |  FROM mp1 LEFT JOIN mn1 USING (family) CROSS JOIN bud
        |  WHERE mp1.p > 0 AND COALESCE(mn1.n, 0) <= bud.b
        |  ORDER BY mp1.p DESC, COALESCE(mn1.n, 0) ASC, mp1.family LIMIT 1
        |), cp1 AS (SELECT t.pa, t.pb FROM covp t JOIN p1 USING (family)),
        |cn1 AS (SELECT t.pa, t.pb FROM covn t JOIN p1 USING (family)),
        |mp2 AS (
        |  SELECT t.family, CAST(count(*) AS BIGINT) AS p FROM covp t
        |  LEFT JOIN cp1 ON t.pa = cp1.pa AND t.pb = cp1.pb
        |  WHERE cp1.pa IS NULL AND t.family <> (SELECT family FROM p1)
        |  GROUP BY t.family
        |), mn2 AS (
        |  SELECT t.family, CAST(count(*) AS BIGINT) AS n FROM covn t
        |  LEFT JOIN cn1 ON t.pa = cn1.pa AND t.pb = cn1.pb
        |  WHERE cn1.pa IS NULL AND t.family <> (SELECT family FROM p1)
        |  GROUP BY t.family
        |), p2 AS (
        |  SELECT mp2.family, mp2.p, COALESCE(mn2.n, 0) AS n
        |  FROM mp2 LEFT JOIN mn2 USING (family) CROSS JOIN bud
        |  WHERE mp2.p > 0
        |    AND (SELECT n FROM p1) + COALESCE(mn2.n, 0) <= bud.b
        |  ORDER BY mp2.p DESC, COALESCE(mn2.n, 0) ASC, mp2.family LIMIT 1
        |), cp2 AS (
        |  SELECT pa, pb FROM cp1
        |  UNION SELECT t.pa, t.pb FROM covp t JOIN p2 USING (family)
        |), cn2 AS (
        |  SELECT pa, pb FROM cn1
        |  UNION SELECT t.pa, t.pb FROM covn t JOIN p2 USING (family)
        |), mp3 AS (
        |  SELECT t.family, CAST(count(*) AS BIGINT) AS p FROM covp t
        |  LEFT JOIN cp2 ON t.pa = cp2.pa AND t.pb = cp2.pb
        |  WHERE cp2.pa IS NULL
        |    AND t.family NOT IN (SELECT family FROM p1
        |                         UNION SELECT family FROM p2)
        |  GROUP BY t.family
        |), mn3 AS (
        |  SELECT t.family, CAST(count(*) AS BIGINT) AS n FROM covn t
        |  LEFT JOIN cn2 ON t.pa = cn2.pa AND t.pb = cn2.pb
        |  WHERE cn2.pa IS NULL
        |    AND t.family NOT IN (SELECT family FROM p1
        |                         UNION SELECT family FROM p2)
        |  GROUP BY t.family
        |), p3 AS (
        |  SELECT mp3.family, mp3.p, COALESCE(mn3.n, 0) AS n
        |  FROM mp3 LEFT JOIN mn3 USING (family) CROSS JOIN bud
        |  WHERE mp3.p > 0
        |    AND (SELECT n FROM p1) + (SELECT n FROM p2)
        |        + COALESCE(mn3.n, 0) <= bud.b
        |  ORDER BY mp3.p DESC, COALESCE(mn3.n, 0) ASC, mp3.family LIMIT 1
        |)
        |SELECT CAST(1 AS INT) AS step, family, p AS marginal_pos,
        |  p AS cumulative_pos, n AS marginal_neg, n AS cumulative_neg,
        |  (SELECT total_pos FROM tp) AS total_pos,
        |  (SELECT total_neg FROM tn) AS total_neg
        |FROM p1
        |UNION ALL
        |SELECT CAST(2 AS INT), family, p, p + (SELECT p FROM p1), n,
        |  n + (SELECT n FROM p1),
        |  (SELECT total_pos FROM tp), (SELECT total_neg FROM tn)
        |FROM p2
        |UNION ALL
        |SELECT CAST(3 AS INT), family, p,
        |  p + (SELECT p FROM p1) + (SELECT p FROM p2), n,
        |  n + (SELECT n FROM p1) + (SELECT n FROM p2),
        |  (SELECT total_pos FROM tp), (SELECT total_neg FROM tn)
        |FROM p3""".stripMargin,
    // top-k frequencies: per-column count desc / value asc rank ≤ 4.
    "q_top_values" ->
      """WITH vc AS (
        |  SELECT 'lang' AS col_name, lang AS value,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang
        |  UNION ALL
        |  SELECT 'source', source, CAST(count(*) AS BIGINT)
        |  FROM documents WHERE source IS NOT NULL GROUP BY source
        |)
        |SELECT col_name, value, cnt, rank FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS rank
        |  FROM vc) WHERE rank <= 4""".stripMargin,
    // incremental ≡ full: the oracle re-derives golden records over the
    // WHOLE corpus at component = doc_id // 16 — same CTE shape as
    // q_golden_records.
    "q_golden_incremental" ->
      """WITH j AS (
        |  SELECT doc_id AS id, doc_id // 16 AS component, text, lang,
        |         source, n_chars
        |  FROM documents
        |), base AS (
        |  SELECT component, min(id) AS id, count(*) AS n_members,
        |         min(source) AS source, max(n_chars) AS n_chars
        |  FROM j GROUP BY component
        |), longest AS (
        |  SELECT component, text FROM (
        |    SELECT component, text, row_number() OVER (
        |      PARTITION BY component
        |      ORDER BY length(text) DESC, text) AS rn
        |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
        |), langcnt AS (
        |  SELECT component, lang, count(*) AS cnt FROM j
        |  WHERE lang IS NOT NULL GROUP BY component, lang
        |), langmode AS (
        |  SELECT component, lang FROM (
        |    SELECT component, lang, row_number() OVER (
        |      PARTITION BY component ORDER BY cnt DESC, lang) AS rn
        |    FROM langcnt) WHERE rn = 1
        |)
        |SELECT b.component, b.id, b.n_members, l.text, m.lang, b.source,
        |       b.n_chars
        |FROM base b
        |LEFT JOIN longest l ON b.component = l.component
        |LEFT JOIN langmode m ON b.component = m.component""".stripMargin,
    // prefer: rule — argmin window over (priority, value), null values
    // excluded, mirroring min(struct(prio, v)) exactly.
    "q_golden_priority" ->
      """WITH j AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component, text,
        |         CAST(length(source) AS BIGINT) AS prio
        |  FROM documents
        |), base AS (
        |  SELECT component, min(id) AS id,
        |         CAST(count(*) AS BIGINT) AS n_members
        |  FROM j GROUP BY component
        |), pref AS (
        |  SELECT component, text FROM (
        |    SELECT component, text, row_number() OVER (
        |      PARTITION BY component ORDER BY prio, text) AS rn
        |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
        |)
        |SELECT b.component, b.id, b.n_members, p.text
        |FROM base b LEFT JOIN pref p ON b.component = p.component""".stripMargin,
    // Adjusted Rand Index: contingency pair sums in HUGEINT (the s2_*
    // terms carry 2·ΣC(·,2), all even → // 2 exact), the cleared-fraction
    // formula, one CASTed double division.
    "q_adjusted_rand" ->
      """WITH asg AS (
        |  SELECT c_custkey AS id, CAST(c_nationkey AS VARCHAR) AS a,
        |         c_mktsegment AS b
        |  FROM customer
        |), cell AS (
        |  SELECT a, b, count(*) AS nij FROM asg GROUP BY a, b
        |), sij AS (
        |  SELECT sum(nij * (nij - 1)) AS s2_ij, sum(nij) AS n FROM cell
        |), sa AS (
        |  SELECT sum(na * (na - 1)) AS s2_a FROM (
        |    SELECT a, sum(nij) AS na FROM cell GROUP BY a)
        |), sb AS (
        |  SELECT sum(nb * (nb - 1)) AS s2_b FROM (
        |    SELECT b, sum(nij) AS nb FROM cell GROUP BY b)
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(s2_ij // 2 AS BIGINT) AS s_ij,
        |  CAST(s2_a // 2 AS BIGINT) AS s_a,
        |  CAST(s2_b // 2 AS BIGINT) AS s_b,
        |  CASE WHEN n * (n - 1) * (s2_a + s2_b) - 2 * s2_a * s2_b <> 0 THEN
        |    CAST(2 * (n * (n - 1) * s2_ij - s2_a * s2_b) AS DOUBLE) /
        |    CAST(n * (n - 1) * (s2_a + s2_b) - 2 * s2_a * s2_b AS DOUBLE)
        |  END AS ari
        |FROM sij, sa, sb""".stripMargin,
    "q_match_pairs" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |), exploded AS (
         |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
         |  UNION ALL
         |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
         |), counts AS (
         |  SELECT ka, kb, ch, sum(ac) AS ca, sum(cb) AS cb
         |  FROM (SELECT ka, kb, ch, ac, bc AS cb FROM exploded) GROUP BY ka, kb, ch
         |), sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter, sum(ca) + sum(cb) AS total
         |  FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb
         |WHERE (CASE WHEN p.na = p.nb THEN 1.0
         |            ELSE jaro_winkler_similarity(p.na, p.nb) END
         |     + CASE WHEN p.na = p.nb THEN 1.0
         |            ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END) >= 1.75""".stripMargin,
    "q_match_pairs_prefiltered" ->
      s"""WITH pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
         |         a.p_name AS na, b.p_name AS nb
         |  $partPairsSql
         |  WHERE levenshtein(a.p_name, b.p_name) <= 8
         |), exploded AS (
         |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
         |  UNION ALL
         |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
         |), counts AS (
         |  SELECT ka, kb, ch, sum(ac) AS ca, sum(cb) AS cb
         |  FROM (SELECT ka, kb, ch, ac, bc AS cb FROM exploded) GROUP BY ka, kb, ch
         |), sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter, sum(ca) + sum(cb) AS total
         |  FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb
         |WHERE (CASE WHEN p.na = p.nb THEN 1.0
         |            ELSE jaro_winkler_similarity(p.na, p.nb) END
         |     + CASE WHEN p.na = p.nb THEN 1.0
         |            ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END) >= 1.75""".stripMargin,
    "q_label_propagation" -> lpaOracle(3),
    "q_winnow_fingerprints" ->
      s"WITH $winnowCtes SELECT doc_id, fp_hash, fp_pos FROM fp",
    // fingerprint-sharing pairs: distinct (doc, hash) edges, then the
    // same brute-force common-neighbor tail as q_common_neighbors.
    // the q_nw_sim DP recursion with min + the confusion cost CASE
    // generated from StrSimKernels.ocrConfusions (one rule list).
    "q_confusion_lev" -> {
      val confPairs = graft.strsim.StrSimKernels.ocrConfusions
        .flatMap { case (x, y) => Seq(s"'$x$y'", s"'$y$x'") }
        .mkString(", ")
      val cost = s"""CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)] THEN 0
                    |  WHEN (xa[(t+1)//(m+1)] || xb[(t+1)%(m+1)])
                    |    IN ($confPairs) THEN 1
                    |  ELSE 2 END""".stripMargin
      s"""WITH RECURSIVE pairs AS (
         |  SELECT c_custkey AS id, c_name AS a,
         |    translate(c_name, '015', 'OIS') ||
         |      (CASE WHEN c_custkey % 2 = 1 THEN 'x' ELSE '' END) AS b
         |  FROM customer WHERE c_custkey % 17 = 0
         |), prep AS (
         |  SELECT id, string_split(a, '') AS xa, string_split(b, '') AS xb,
         |         length(a) AS n, length(b) AS m
         |  FROM pairs WHERE a <> b
         |), dp AS (
         |  SELECT id, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5),
         |           k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT id, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(2*((t+1) // (m+1)) AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(2*((t+1) % (m+1)) AS BIGINT)
         |      ELSE least(
         |        nw[m+3] + ($cost),
         |        nw[m+4] + 2,
         |        nw[2*m+4] + 2)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.id,
         |  CAST(coalesce(d.cell, 0) AS BIGINT) AS dist,
         |  CASE WHEN p.a = p.b THEN CAST(1 AS DOUBLE)
         |       ELSE CAST(1 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
         |            (CAST(2 AS DOUBLE) *
         |             CAST(greatest(length(p.a), length(p.b)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT id, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.id = d.id""".stripMargin
    },
    // probe-family CASE + the same confusion-DP recursion + DuckDB's
    // bit-matching jaro_winkler for the fuzzy band.
    "q_confusion_levels" -> {
      val confPairs = graft.strsim.StrSimKernels.ocrConfusions
        .flatMap { case (x, y) => Seq(s"'$x$y'", s"'$y$x'") }
        .mkString(", ")
      val cost = s"""CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)] THEN 0
                    |  WHEN (xa[(t+1)//(m+1)] || xb[(t+1)%(m+1)])
                    |    IN ($confPairs) THEN 1
                    |  ELSE 2 END""".stripMargin
      s"""WITH RECURSIVE pairs AS (
         |  SELECT c_custkey AS id, c_name AS a,
         |    CASE
         |      WHEN c_custkey % 4 = 0 THEN c_name
         |      WHEN c_custkey % 4 = 1 THEN
         |        substr(c_name, 1, length(c_name) - 1) ||
         |        translate(substr(c_name, length(c_name), 1),
         |          '0123456789', 'OIZEASGTBg')
         |      WHEN c_custkey % 4 = 2 THEN c_name || 'xyz'
         |      ELSE reverse(c_name)
         |    END AS b
         |  FROM customer WHERE c_custkey % 13 = 0
         |), prep AS (
         |  SELECT id, string_split(a, '') AS xa, string_split(b, '') AS xb,
         |         length(a) AS n, length(b) AS m
         |  FROM pairs WHERE a <> b
         |), dp AS (
         |  SELECT id, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5),
         |           k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT id, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(2*((t+1) // (m+1)) AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(2*((t+1) % (m+1)) AS BIGINT)
         |      ELSE least(
         |        nw[m+3] + ($cost),
         |        nw[m+4] + 2,
         |        nw[2*m+4] + 2)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.id,
         |  CAST(CASE WHEN p.a = p.b THEN 3
         |    WHEN d.cell <= 2 THEN 2
         |    WHEN jaro_winkler_similarity(p.a, p.b) >= CAST(0.88 AS DOUBLE)
         |      THEN 1
         |    ELSE 0 END AS BIGINT) AS gamma
         |FROM pairs p
         |LEFT JOIN (SELECT id, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.id = d.id""".stripMargin
    },
    // per-doc trigram explode, two model left joins, one integer fold.
    "q_trigram_lm" ->
      """WITH tri AS (
        |  SELECT doc_id AS id, unnest(list_transform(
        |    range(1, greatest(length(text) - 2, 0) + 1),
        |    i -> substr(text, CAST(i AS INT), 3))) AS tri
        |  FROM documents WHERE text IS NOT NULL
        |), tgt AS (
        |  SELECT tri, CAST(count(*) AS BIGINT) AS ct FROM (
        |    SELECT unnest(list_transform(range(1, length(text) - 1),
        |      i -> substr(text, CAST(i AS INT), 3))) AS tri
        |    FROM documents
        |    WHERE text IS NOT NULL AND length(text) >= 3 AND lang = 'en'
        |  ) z GROUP BY 1
        |), bg AS (
        |  SELECT tri, CAST(count(*) AS BIGINT) AS ct FROM (
        |    SELECT unnest(list_transform(range(1, length(text) - 1),
        |      i -> substr(text, CAST(i AS INT), 3))) AS tri
        |    FROM documents WHERE text IS NOT NULL AND length(text) >= 3
        |  ) z GROUP BY 1
        |)
        |SELECT t.id, CAST(count(*) AS BIGINT) AS n_tris,
        |  CAST(sum(coalesce(tgt.ct, 0)) AS BIGINT) AS sum_cnt_t,
        |  CAST(sum(CASE WHEN tgt.ct IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_t,
        |  CAST(sum(coalesce(bg.ct, 0)) AS BIGINT) AS sum_cnt_b,
        |  CAST(sum(CASE WHEN bg.ct IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_b
        |FROM tri t
        |LEFT JOIN tgt ON t.tri = tgt.tri
        |LEFT JOIN bg ON t.tri = bg.tri
        |GROUP BY 1""".stripMargin,
    // CDC chunks replayed position-for-position: window-sha boundary
    // filter, forced end cut, lag-window spans, chunk sha.
    "q_cdc_chunks" ->
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_sha
         |FROM ck""".stripMargin,
    // bounded CDC: content cuts at maskBits=4, the greedy minLen fold
    // replayed as a recursive-CTE walk (rank-ordered candidates, one
    // recursion step per candidate), then fixed maxLen subdivision.
    "q_cdc_bounded" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, text AS t, length(text) AS n FROM documents
         |  WHERE text IS NOT NULL AND length(text) >= 1
         |), wpos AS (
         |  SELECT doc_id, t, n, unnest(range(16, n + 1)) AS pos
         |  FROM b WHERE n >= 16
         |), cuts0 AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, ${hexU32Sql("h", 1)} AS hv
         |    FROM (SELECT doc_id, pos, sha256(substr(t, pos - 15, 16)) AS h
         |          FROM wpos) z0) z1
         |  WHERE hv % 16 = 0
         |  UNION
         |  SELECT doc_id, n FROM b
         |), cand AS (
         |  SELECT doc_id, pos, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY pos) AS INT) AS rn
         |  FROM cuts0
         |), walk(doc_id, rn, last, emit) AS (
         |  SELECT doc_id, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT) FROM b
         |  UNION ALL
         |  SELECT c.doc_id, c.rn,
         |    CASE WHEN (c.pos - w.last >= 24 AND c.pos < d.n) OR c.pos = d.n
         |         THEN CAST(c.pos AS BIGINT) ELSE w.last END,
         |    CASE WHEN (c.pos - w.last >= 24 AND c.pos < d.n) OR c.pos = d.n
         |         THEN CAST(c.pos AS BIGINT) ELSE NULL END
         |  FROM walk w
         |  JOIN cand c ON c.doc_id = w.doc_id AND c.rn = w.rn + 1
         |  JOIN b d ON d.doc_id = w.doc_id
         |), acc AS (
         |  SELECT doc_id, emit AS cut FROM walk WHERE emit IS NOT NULL
         |), sp0 AS (
         |  SELECT doc_id, coalesce(lag(cut) OVER (
         |    PARTITION BY doc_id ORDER BY cut), 0) AS prev, cut
         |  FROM acc
         |), subs AS (
         |  SELECT DISTINCT doc_id, least(u.s, cut) AS pos
         |  FROM sp0, unnest(range(prev + 96, cut + 96, 96)) u(s)
         |), sp AS (
         |  SELECT doc_id, row_number() OVER w2 AS chunk_idx,
         |    coalesce(lag(pos) OVER w2, 0) + 1 AS chunk_start,
         |    pos - coalesce(lag(pos) OVER w2, 0) AS chunk_len
         |  FROM subs WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
         |)
         |SELECT sp.doc_id, CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(sp.chunk_start AS BIGINT) AS chunk_start,
         |  CAST(sp.chunk_len AS BIGINT) AS chunk_len,
         |  sha256(substr(b.t, CAST(sp.chunk_start AS INT),
         |    CAST(sp.chunk_len AS INT))) AS chunk_sha
         |FROM sp JOIN b ON sp.doc_id = b.doc_id""".stripMargin,
    // shared-chunk pair composition — the q_winnow_pairs fold over the
    // CDC chunk bipartite frame.
    "q_cdc_pairs" ->
      s"""WITH $cdcChunkCtes, e AS (
        |  SELECT DISTINCT doc_id AS id, chunk_sha AS nb FROM ck
        |), deg AS (
        |  SELECT id, count(*) AS d FROM e GROUP BY id
        |), pr AS (
        |  SELECT a.id AS url_a, b.id AS url_b,
        |         CAST(count(*) AS BIGINT) AS common_neighbors
        |  FROM e a JOIN e b ON a.nb = b.nb AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT p.url_a, p.url_b, p.common_neighbors,
        |  CAST(p.common_neighbors AS DOUBLE)
        |    / CAST(da.d + db.d - p.common_neighbors AS DOUBLE)
        |    AS neighborhood_jaccard
        |FROM pr p
        |JOIN deg da ON p.url_a = da.id
        |JOIN deg db ON p.url_b = db.id
        |WHERE p.common_neighbors >= 4""".stripMargin,
    "q_winnow_pairs" ->
      s"""WITH $winnowCtes, e AS (
        |  SELECT DISTINCT doc_id AS id, fp_hash AS nb FROM fp
        |), deg AS (
        |  SELECT id, count(*) AS d FROM e GROUP BY id
        |), pr AS (
        |  SELECT a.id AS url_a, b.id AS url_b,
        |         CAST(count(*) AS BIGINT) AS common_neighbors
        |  FROM e a JOIN e b ON a.nb = b.nb AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT p.url_a, p.url_b, p.common_neighbors,
        |  CAST(p.common_neighbors AS DOUBLE)
        |    / CAST(da.d + db.d - p.common_neighbors AS DOUBLE)
        |    AS neighborhood_jaccard
        |FROM pr p
        |JOIN deg da ON p.url_a = da.id
        |JOIN deg db ON p.url_b = db.id
        |WHERE p.common_neighbors >= 30""".stripMargin,
    "q_connected_components" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
        |        / greatest(length(a.c_name), length(b.c_name)) >= 0.94
        |), edges AS (
        |  SELECT ka AS u, kb AS v FROM pairs
        |  UNION ALL SELECT kb, ka FROM pairs
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM edges
        |), walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN edges e ON w.r = e.u
        |)
        |SELECT id, min(r) AS component FROM walk GROUP BY id""".stripMargin,
    // same recursive CC walk + an argmin window over the scored edges;
    // every scored edge is intra-cluster by construction (CC ran on
    // exactly these edges), which the join re-proves rather than assumes.
    "q_weakest_links" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), edges AS (
        |  SELECT ka AS u, kb AS v FROM pairs
        |  UNION ALL SELECT kb, ka FROM pairs
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM edges
        |), walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN edges e ON w.r = e.u
        |), comp AS (
        |  SELECT id, min(r) AS component FROM walk GROUP BY id
        |), intra AS (
        |  SELECT ca.component AS component, p.ka, p.kb, p.s
        |  FROM pairs p
        |  JOIN comp ca ON p.ka = ca.id
        |  JOIN comp cb ON p.kb = cb.id
        |  WHERE ca.component = cb.component
        |), agg AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS n_edges
        |  FROM intra GROUP BY component
        |), weak AS (
        |  SELECT component, ka AS weak_ia, kb AS weak_ib, s AS weak_score
        |  FROM (SELECT component, ka, kb, s, row_number() OVER (
        |          PARTITION BY component ORDER BY s, ka, kb) AS rn
        |        FROM intra) WHERE rn = 1
        |)
        |SELECT a.component, a.n_edges, w.weak_ia, w.weak_ib, w.weak_score
        |FROM agg a JOIN weak w ON a.component = w.component""".stripMargin,
    // near misses: the same CC walk over the >= 0.94 match edges, the
    // assignment completed with singleton clusters (coalesce to own id),
    // then the 0.88-floor scored pairs whose endpoints land in DIFFERENT
    // components, top-3 per unordered cluster pair + cross counts.
    "q_near_misses" ->
      s"""WITH RECURSIVE scored AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.88
        |), pairs AS (
        |  SELECT ka, kb FROM scored WHERE s >= 0.94
        |), edges AS (
        |  SELECT ka AS u, kb AS v FROM pairs
        |  UNION ALL SELECT kb, ka FROM pairs
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM edges
        |), walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN edges e ON w.r = e.u
        |), comp0 AS (
        |  SELECT id, min(r) AS component FROM walk GROUP BY id
        |), comp AS (
        |  SELECT c.c_custkey AS id,
        |         coalesce(c0.component, c.c_custkey) AS component
        |  FROM customer c LEFT JOIN comp0 c0 ON c.c_custkey = c0.id
        |), cross_e AS (
        |  SELECT least(ca.component, cb.component) AS cluster_a,
        |    greatest(ca.component, cb.component) AS cluster_b,
        |    p.ka AS ia, p.kb AS ib, p.s AS score
        |  FROM scored p
        |  JOIN comp ca ON p.ka = ca.id
        |  JOIN comp cb ON p.kb = cb.id
        |  WHERE ca.component <> cb.component
        |), counts AS (
        |  SELECT cluster_a, cluster_b, CAST(count(*) AS BIGINT) AS n_cross
        |  FROM cross_e GROUP BY cluster_a, cluster_b
        |), ranked AS (
        |  SELECT cluster_a, cluster_b, ia, ib, score,
        |    CAST(row_number() OVER (PARTITION BY cluster_a, cluster_b
        |      ORDER BY score DESC, ia, ib) AS INT) AS rank
        |  FROM cross_e
        |)
        |SELECT r.cluster_a, r.cluster_b, r.ia, r.ib, r.score, r.rank,
        |       c.n_cross
        |FROM ranked r JOIN counts c
        |  ON r.cluster_a = c.cluster_a AND r.cluster_b = c.cluster_b
        |WHERE r.rank <= 3""".stripMargin,
    // graph QA: normalize edges (least/greatest + distinct), keep only
    // same-cluster edges, degree = endpoint-exploded count, edgeless
    // records coalesce to 0.
    "q_node_degrees" ->
      s"""WITH pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |)
        |SELECT asg.id, asg.g AS cluster_id,
        |  CAST(coalesce(deg.d, 0) AS BIGINT) AS degree
        |FROM asg LEFT JOIN deg ON asg.id = deg.id""".stripMargin,
    // same graph, cluster level: Σdeg = 2E folds per cluster; density
    // and centralisation mirror the Scala's pinned all-double order.
    "q_graph_metrics" ->
      s"""WITH pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |), cm AS (
        |  SELECT asg.g, CAST(count(*) AS BIGINT) AS n_nodes,
        |         CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS gsum,
        |         CAST(max(coalesce(deg.d, 0)) AS BIGINT) AS max_degree
        |  FROM asg LEFT JOIN deg ON asg.id = deg.id
        |  GROUP BY asg.g
        |)
        |SELECT g AS cluster_id, n_nodes,
        |  CAST(gsum / 2 AS BIGINT) AS n_edges, max_degree,
        |  CASE WHEN n_nodes >= 2 THEN CAST(gsum AS DOUBLE) /
        |    (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE))
        |  END AS density,
        |  CASE WHEN n_nodes >= 3 THEN
        |    (CAST(n_nodes AS DOUBLE) * CAST(max_degree AS DOUBLE)
        |      - CAST(gsum AS DOUBLE)) /
        |    (CAST(n_nodes - 1 AS DOUBLE) * CAST(n_nodes - 2 AS DOUBLE))
        |  END AS centralisation
        |FROM cm""".stripMargin,
    // bridges: per excluded edge, a recursive reachability walk over the
    // remaining intra edges; the edge is a bridge iff its far endpoint
    // never appears in its own walk.
    "q_bridge_edges" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v, au.g FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), walk(xu, xv, node) AS (
        |  SELECT u, v, u FROM intra
        |  UNION
        |  SELECT w.xu, w.xv,
        |    CASE WHEN ee.u = w.node THEN ee.v ELSE ee.u END
        |  FROM walk w JOIN intra ee ON (ee.u = w.node OR ee.v = w.node)
        |  WHERE NOT (ee.u = w.xu AND ee.v = w.xv)
        |)
        |SELECT i.g AS cluster_id, i.u AS url_a, i.v AS url_b,
        |  (r.node IS NULL) AS is_bridge
        |FROM intra i LEFT JOIN walk r
        |  ON r.xu = i.u AND r.xv = i.v AND r.node = i.v""".stripMargin,
    // articulation: per edge-incident record x, walk from its smallest
    // neighbor avoiding x; x cuts iff some neighbor stays unreached.
    "q_articulation" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v, au.g FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), nbr AS (
        |  SELECT u AS x, v AS n FROM intra UNION SELECT v, u FROM intra
        |), seed AS (
        |  SELECT x, min(n) AS n0 FROM nbr GROUP BY x
        |), walkn(x, node) AS (
        |  SELECT x, n0 FROM seed
        |  UNION
        |  SELECT w.x, CASE WHEN ee.u = w.node THEN ee.v ELSE ee.u END
        |  FROM walkn w JOIN intra ee ON (ee.u = w.node OR ee.v = w.node)
        |  WHERE ee.u <> w.x AND ee.v <> w.x
        |), cnt AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS nn FROM nbr GROUP BY x
        |), rc AS (
        |  SELECT n.x, CAST(count(*) AS BIGINT) AS nr
        |  FROM nbr n JOIN walkn w ON w.x = n.x AND w.node = n.n
        |  GROUP BY n.x
        |)
        |SELECT a.g AS cluster_id, cnt.x AS id,
        |  (coalesce(rc.nr, 0) <> cnt.nn) AS is_articulation
        |FROM cnt LEFT JOIN rc ON cnt.x = rc.x
        |JOIN asg a ON cnt.x = a.id""".stripMargin,
    // unlinkables: per-record best incident score (NULL when no pair),
    // θ fan-out, strict < at the boundary, exact count division.
    "q_unlinkables" ->
      """WITH pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    jaro_winkler_similarity(a.c_name, b.c_name) AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND jaro_winkler_similarity(a.c_name, b.c_name) >= 0.86
        |), best AS (
        |  SELECT id, max(s) AS b
        |  FROM (SELECT ka AS id, s FROM pairs
        |        UNION ALL SELECT kb, s FROM pairs)
        |  GROUP BY id
        |), th AS (
        |  SELECT CAST(t AS DOUBLE) AS theta
        |  FROM (VALUES (0.86), (0.90), (0.94), (0.97), (0.99)) v(t)
        |), j AS (
        |  SELECT best.b, th.theta
        |  FROM customer c LEFT JOIN best ON c.c_custkey = best.id
        |  CROSS JOIN th
        |)
        |SELECT theta, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(count(CASE WHEN b IS NULL OR b < theta THEN 1 END)
        |    AS BIGINT) AS n_unlinkable,
        |  CAST(count(CASE WHEN b IS NULL OR b < theta THEN 1 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_unlinkable
        |FROM j GROUP BY theta""".stripMargin,
    // rule pair count Σ C(g,2) over the suffix key, then the pinned
    // λ division: pairs / (recall · (n·(n−1)/2)).
    "q_fs_estimate_lambda" ->
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
        |FROM nt, np""".stripMargin,
    // Dynamic blocking: three sizing CTEs (one per depth), coarsest
    // fitting depth wins, never-fitting records excluded.
    "q_dynamic_block" ->
      """WITH k AS (
        |  SELECT c_custkey AS id,
        |    c_mktsegment AS k0,
        |    c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS k1,
        |    c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR)
        |      || ':' || right(c_name, 1) AS k2
        |  FROM customer
        |), n0 AS (SELECT k0, count(*) AS n FROM k GROUP BY k0
        |), n1 AS (SELECT k1, count(*) AS n FROM k GROUP BY k1
        |), n2 AS (SELECT k2, count(*) AS n FROM k GROUP BY k2
        |)
        |SELECT id AS c_custkey,
        |  CASE WHEN n0.n <= 100 THEN k0
        |       WHEN n1.n <= 100 THEN k1
        |       WHEN n2.n <= 100 THEN k2 END AS block_key,
        |  CASE WHEN n0.n <= 100 THEN 0
        |       WHEN n1.n <= 100 THEN 1
        |       WHEN n2.n <= 100 THEN 2 END AS depth
        |FROM k JOIN n0 USING (k0) JOIN n1 USING (k1) JOIN n2 USING (k2)
        |WHERE n0.n <= 100 OR n1.n <= 100 OR n2.n <= 100""".stripMargin,
    // Adaptive SNM: rank over (name, id), boundary where the adjacent-key
    // JW drops below 0.75 (rank 1 opens segment 1), running-sum segment
    // ids, all-pairs within each segment. Spark's salted tier is lossless
    // and the drop tier never bites at this scale, so no tier logic here.
    "q_adaptive_snm" ->
      """WITH base AS (
        |  SELECT p_partkey AS id, p_name AS name
        |  FROM part WHERE p_partkey % 2 = 0
        |), ranked AS (
        |  SELECT id, name, row_number() OVER (ORDER BY name, id) AS rnk
        |  FROM base
        |), flagged AS (
        |  SELECT r.id, r.rnk,
        |    CASE WHEN p.name IS NULL THEN 1
        |         WHEN (CASE WHEN p.name = r.name THEN CAST(1.0 AS DOUBLE)
        |               ELSE jaro_winkler_similarity(p.name, r.name) END)
        |              < CAST(0.75 AS DOUBLE) THEN 1 ELSE 0 END AS b
        |  FROM ranked r LEFT JOIN ranked p ON p.rnk = r.rnk - 1
        |), seg AS (
        |  SELECT id, sum(b) OVER (ORDER BY rnk) AS sid FROM flagged
        |)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM seg a JOIN seg b ON a.sid = b.sid AND a.id < b.id""".stripMargin,
    // MUC: contingency counts, per-class scatter counts, exact integer
    // sums and divisions; f1 null iff either side is null.
    "q_muc" ->
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, count(*) AS ni FROM j GROUP BY g, t
        |), byt AS (
        |  SELECT CAST(sum(n - p) AS BIGINT) AS recall_num,
        |         CAST(sum(n - 1) AS BIGINT) AS recall_den
        |  FROM (SELECT t, sum(ni) AS n, count(*) AS p FROM ni GROUP BY t) z1
        |), byg AS (
        |  SELECT CAST(sum(n - q) AS BIGINT) AS precision_num,
        |         CAST(sum(n - 1) AS BIGINT) AS precision_den
        |  FROM (SELECT g, sum(ni) AS n, count(*) AS q FROM ni GROUP BY g) z2
        |), pr AS (
        |  SELECT precision_num, precision_den, recall_num, recall_den,
        |    CASE WHEN precision_den > 0 THEN
        |      CAST(precision_num AS DOUBLE) / CAST(precision_den AS DOUBLE)
        |    END AS muc_precision,
        |    CASE WHEN recall_den > 0 THEN
        |      CAST(recall_num AS DOUBLE) / CAST(recall_den AS DOUBLE)
        |    END AS muc_recall
        |  FROM byg, byt
        |)
        |SELECT precision_num, precision_den, recall_num, recall_den,
        |  muc_precision, muc_recall,
        |  CASE WHEN muc_precision IS NULL OR muc_recall IS NULL THEN NULL
        |       WHEN muc_precision + muc_recall > 0 THEN
        |         CAST(2.0 AS DOUBLE) * muc_precision * muc_recall
        |           / (muc_precision + muc_recall)
        |       ELSE CAST(0.0 AS DOUBLE) END AS muc_f1
        |FROM pr""".stripMargin,
    // Cluster diff: the same CASE cluster derivations, contingency
    // counts, cell-sized marginals, and the stable/merge/split/reshuffle
    // classification.
    "q_cluster_diff" ->
      """WITH o AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'st:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 13 = 0 THEN 'mg:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 7 = 0 THEN 'sp:grp'
        |         ELSE c_mktsegment || ':' || CAST(c_nationkey % 3 AS VARCHAR)
        |    END AS old_id
        |  FROM customer
        |), nw AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'st:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 13 = 0 THEN 'mg:all'
        |         WHEN c_custkey % 7 = 0 THEN 'sp:' || CAST(c_custkey AS VARCHAR)
        |         ELSE CAST(c_nationkey % 3 AS VARCHAR) || ':' ||
        |              CASE WHEN c_acctbal >= 0 THEN 'p' ELSE 'n' END
        |    END AS new_id
        |  FROM customer
        |), cells AS (
        |  SELECT old_id, new_id, count(*) AS n
        |  FROM o JOIN nw USING (id) GROUP BY old_id, new_id
        |), osz AS (
        |  SELECT old_id, sum(n) AS n_old FROM cells GROUP BY old_id
        |), nsz AS (
        |  SELECT new_id, sum(n) AS n_new FROM cells GROUP BY new_id
        |)
        |SELECT c.old_id, c.new_id, c.n,
        |  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |  CASE WHEN c.n = n_old AND c.n = n_new THEN 'stable'
        |       WHEN c.n = n_old THEN 'merge'
        |       WHEN c.n = n_new THEN 'split'
        |       ELSE 'reshuffle' END AS kind
        |FROM cells c JOIN osz USING (old_id) JOIN nsz USING (new_id)""".stripMargin,

    // Partition agreement: the same contingency/marginal sums as the
    // Spark side (2·C(x,2) = x·(x−1) kept integral in HUGEINT), pair
    // confusion counts by exact halving, then the identical double
    // division / sqrt expressions (sqrt is correctly rounded, so the
    // doubles match bit-exactly).
    "q_partition_agreement" ->
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, CAST(count(*) AS HUGEINT) AS ni FROM j GROUP BY g, t
        |), cells AS (
        |  SELECT sum(ni * (ni - 1)) AS s2_ij, sum(ni) AS n,
        |         CAST(count(*) AS BIGINT) AS v
        |  FROM ni
        |), sa AS (
        |  SELECT sum(na * (na - 1)) AS s2_a, CAST(count(*) AS BIGINT) AS ca
        |  FROM (SELECT g, sum(ni) AS na FROM ni GROUP BY g) z1
        |), sb AS (
        |  SELECT sum(nb * (nb - 1)) AS s2_b, CAST(count(*) AS BIGINT) AS cb
        |  FROM (SELECT t, sum(ni) AS nb FROM ni GROUP BY t) z2
        |)
        |SELECT CAST(n AS BIGINT) AS n, ca, cb, v,
        |  CAST(s2_ij // 2 AS BIGINT) AS tp,
        |  CAST((s2_a - s2_ij) // 2 AS BIGINT) AS fp,
        |  CAST((s2_b - s2_ij) // 2 AS BIGINT) AS fn,
        |  CAST((n * (n - 1) - s2_a - s2_b + s2_ij) // 2 AS BIGINT) AS tn,
        |  CASE WHEN n * (n - 1) > 0 THEN
        |    CAST(2 * s2_ij + n * (n - 1) - s2_a - s2_b AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) END AS rand_index,
        |  CASE WHEN s2_a > 0 AND s2_b > 0 THEN
        |    CAST(s2_ij // 2 AS DOUBLE)
        |      / sqrt(CAST(s2_a // 2 AS DOUBLE) * CAST(s2_b // 2 AS DOUBLE))
        |  END AS fowlkes_mallows,
        |  CASE WHEN v > 0 THEN
        |    sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) / CAST(v AS DOUBLE)
        |  END AS talburt_wang,
        |  v - ca AS gmd_splits, v - cb AS gmd_merges,
        |  2 * v - ca - cb AS gmd
        |FROM cells, sa, sb""".stripMargin,
    // Canopies: loose/tight pair CTEs, the SAME recursive greedy-MIS
    // rounds as q_pivot_clusters over the TIGHT graph, then removal-rank
    // (own rank for centers, min tight-center-neighbor rank otherwise)
    // and the loose-membership join with self-membership unioned.
    "q_canopies" ->
      s"""WITH RECURSIVE cpairs AS (
        |  SELECT a.c_custkey AS ia, b.c_custkey AS ib,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |), loose AS (
        |  SELECT ia, ib, s FROM cpairs WHERE s >= CAST(0.88 AS DOUBLE)
        |), sym AS (
        |  SELECT u, v, max(s) AS s FROM (
        |    SELECT ia AS u, ib AS v, s FROM loose
        |    UNION ALL SELECT ib, ia, s FROM loose) z
        |  GROUP BY u, v
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM sym
        |), keyed AS (
        |  SELECT id,
        |    ((id * 1103515245 + 12345) % 2147483648) * 2147483648 + id AS rk
        |  FROM nodes
        |), tight AS (
        |  SELECT u, v FROM sym WHERE s >= CAST(0.94 AS DOUBLE)
        |), st(id, rk, mis) AS (
        |  SELECT id, rk, FALSE FROM keyed
        |  UNION ALL
        |  SELECT id, rk, mis FROM (
        |    SELECT DISTINCT u AS id, rku AS rk, pivu AS mis, dom
        |    FROM (
        |      SELECT u, rku, pivu,
        |        max(CASE WHEN pivv THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY u) AS dom
        |      FROM (
        |        SELECT u, rku, v, rkv,
        |          rku < min(rkv) OVER (PARTITION BY u) AS pivu,
        |          rkv < min(rku) OVER (PARTITION BY v) AS pivv
        |        FROM (
        |          SELECT e.u, a.rk AS rku, e.v, b.rk AS rkv
        |          FROM tight e
        |          JOIN (SELECT id, rk FROM st WHERE NOT mis) a ON e.u = a.id
        |          JOIN (SELECT id, rk FROM st WHERE NOT mis) b ON e.v = b.id
        |        ) r
        |      ) f
        |    ) g
        |    WHERE pivu OR dom = 0
        |    UNION ALL
        |    SELECT a2.id, a2.rk, TRUE, 0
        |    FROM (SELECT id, rk FROM st WHERE NOT mis) a2
        |    WHERE a2.id NOT IN (
        |      SELECT e2.u FROM tight e2
        |      JOIN (SELECT id FROM st WHERE NOT mis) b2 ON e2.v = b2.id)
        |  ) z
        |), ctr AS (
        |  SELECT id, rk FROM st WHERE mis
        |), remn AS (
        |  SELECT t.u AS id, min(p.rk) AS rem
        |  FROM tight t JOIN ctr p ON t.v = p.id GROUP BY t.u
        |), rem AS (
        |  SELECT k.id, CASE WHEN c.id IS NOT NULL THEN k.rk ELSE r.rem END AS rem
        |  FROM keyed k LEFT JOIN ctr c ON k.id = c.id
        |               LEFT JOIN remn r ON k.id = r.id
        |)
        |SELECT s.u AS id, s.v AS canopy
        |FROM sym s JOIN ctr p ON s.v = p.id JOIN rem ON s.u = rem.id
        |WHERE p.rk <= rem.rem
        |UNION ALL
        |SELECT id, id AS canopy FROM ctr""".stripMargin,
    // Pivot clustering: parallel greedy-MIS rounds replayed in a recursive
    // CTE. Each step joins the ACTIVE working set to both edge ends; two
    // window layers compute (a) local-min pivot flags for both endpoints
    // of every surviving edge row and (b) per-node domination by a pivot
    // neighbor; actives with no active neighbor are pivots by the second
    // branch. rk packs the LCG mix and the id into one BIGINT (ids < 2^31
    // here), matching Spark's (k, id) struct order exactly.
    "q_pivot_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
        |        / greatest(length(a.c_name), length(b.c_name)) >= 0.94
        |), edges AS (
        |  SELECT ka AS u, kb AS v FROM pairs
        |  UNION ALL SELECT kb, ka FROM pairs
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM edges
        |), keyed AS (
        |  SELECT id,
        |    ((id * 1103515245 + 12345) % 2147483648) * 2147483648 + id AS rk
        |  FROM nodes
        |), st(id, rk, mis) AS (
        |  SELECT id, rk, FALSE FROM keyed
        |  UNION ALL
        |  SELECT id, rk, mis FROM (
        |    SELECT DISTINCT u AS id, rku AS rk, pivu AS mis, dom
        |    FROM (
        |      SELECT u, rku, pivu,
        |        max(CASE WHEN pivv THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY u) AS dom
        |      FROM (
        |        SELECT u, rku, v, rkv,
        |          rku < min(rkv) OVER (PARTITION BY u) AS pivu,
        |          rkv < min(rku) OVER (PARTITION BY v) AS pivv
        |        FROM (
        |          SELECT e.u, a.rk AS rku, e.v, b.rk AS rkv
        |          FROM edges e
        |          JOIN (SELECT id, rk FROM st WHERE NOT mis) a ON e.u = a.id
        |          JOIN (SELECT id, rk FROM st WHERE NOT mis) b ON e.v = b.id
        |        ) r
        |      ) f
        |    ) g
        |    WHERE pivu OR dom = 0
        |    UNION ALL
        |    SELECT a2.id, a2.rk, TRUE, 0
        |    FROM (SELECT id, rk FROM st WHERE NOT mis) a2
        |    WHERE a2.id NOT IN (
        |      SELECT e2.u FROM edges e2
        |      JOIN (SELECT id FROM st WHERE NOT mis) b2 ON e2.v = b2.id)
        |  ) z
        |), misq AS (
        |  SELECT id, rk FROM st WHERE mis
        |), claims AS (
        |  SELECT e.u AS id, arg_min(p.id, p.rk) AS claim
        |  FROM edges e JOIN misq p ON e.v = p.id
        |  GROUP BY e.u
        |)
        |SELECT n.id,
        |  CASE WHEN m.id IS NOT NULL THEN n.id ELSE c.claim END AS cluster
        |FROM nodes n LEFT JOIN misq m ON n.id = m.id
        |             LEFT JOIN claims c ON n.id = c.id""".stripMargin,
    "q_text_analysis" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, len(tk) AS n_tokens,
        |    len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','it'], t))) AS en_hits,
        |    len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS de_hits,
        |    len(list_filter(tk, t -> list_contains(['le','la','les','et','des','est','une'], t))) AS fr_hits,
        |    len(list_filter(tk, t -> list_contains(['el','los','las','y','es','una','por'], t))) AS es_hits,
        |    len(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0b\f\r]', '', 'g')) AS punct_n
        |  FROM toks
        |)
        |SELECT doc_id, n_tokens,
        |  len(regexp_extract_all(text, '''(s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0b\f\r\p{L}\p{N}]+')) AS n_bpe_tokens,
        |  (CASE WHEN n_tokens > 0 THEN CAST(en_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.2
        |  + least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
        |  + (1.0 - CASE WHEN len(text) > 0 THEN CAST(punct_n AS DOUBLE) / CAST(len(text) AS DOUBLE) ELSE 0.0 END) * 0.3 AS quality,
        |  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
        |       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
        |       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
        |       ELSE 'es' END AS lang_id
        |FROM m""".stripMargin,
    // cluster repair: walk-closure merge over star + must edges, CASE
    // eviction of the larger side of violated cannot pairs, min relabel.
    // Note: must/cannot endpoints may name keys absent from the
    // assignment (k+8 / k+1 past the max custkey) — absent ids can't
    // violate or merge anything that exists, matching the operator's
    // join semantics.
    "q_cluster_repair" ->
      """WITH RECURSIVE asg AS (
        |  SELECT c_custkey AS id, c_custkey - (c_custkey % 8) AS c
        |  FROM customer
        |), must AS (
        |  SELECT c_custkey AS la, c_custkey + 8 AS lb FROM customer
        |  WHERE c_custkey % 40 = 0
        |), cannot AS (
        |  SELECT c_custkey AS la, c_custkey + 1 AS lb FROM customer
        |  WHERE c_custkey % 16 = 0
        |), star AS (
        |  SELECT id AS la, c AS lb FROM asg WHERE id <> c
        |), gpairs AS (
        |  SELECT la, lb FROM star UNION SELECT la, lb FROM must
        |), gedges AS MATERIALIZED (
        |  SELECT la AS u, lb AS v FROM gpairs
        |  UNION SELECT lb, la FROM gpairs
        |), walk(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM gedges) g
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN gedges e ON w.r = e.u
        |), comp AS MATERIALIZED (
        |  SELECT id, min(r) AS m FROM walk GROUP BY id
        |), merged AS MATERIALIZED (
        |  SELECT a.id, COALESCE(c2.m, a.id) AS m
        |  FROM asg a LEFT JOIN comp c2 ON c2.id = a.id
        |), evicted AS MATERIALIZED (
        |  SELECT DISTINCT cn.lb AS id
        |  FROM cannot cn
        |  JOIN merged x ON x.id = cn.la
        |  JOIN merged y ON y.id = cn.lb
        |  WHERE x.m = y.m
        |), survivors AS (
        |  SELECT m2.id, m2.m FROM merged m2
        |  WHERE m2.id NOT IN (SELECT id FROM evicted)
        |), roots AS (
        |  SELECT m, min(id) AS r FROM survivors GROUP BY m
        |)
        |SELECT s2.id, r2.r AS cluster_id
        |FROM survivors s2 JOIN roots r2 ON s2.m = r2.m
        |UNION ALL
        |SELECT id, id AS cluster_id FROM evicted""".stripMargin,
    // group linkage: greedy rounds with the group-pair dimension carried
    // through every window (the q_greedy_matches recursion, scoped), then
    // ordered matched-weight folds and the normalization formula
    "q_group_linkage" ->
      """WITH RECURSIVE cand AS (
        |  SELECT CAST(a.c_nationkey AS BIGINT) AS ga,
        |         CAST(b.c_nationkey AS BIGINT) AS gb,
        |         a.c_custkey AS rl, b.c_custkey AS rr,
        |         jaro_winkler_similarity(a.c_name, b.c_name) AS s
        |  FROM customer a JOIN customer b ON a.c_mktsegment = b.c_mktsegment
        |  WHERE a.c_custkey % 4 = 0 AND b.c_custkey % 4 = 1
        |    AND jaro_winkler_similarity(a.c_name, b.c_name) >= CAST(0.97 AS DOUBLE)
        |), st(rnd, ga, gb, rl, rr, s, acc) AS (
        |  SELECT 0, ga, gb, rl, rr, s, FALSE FROM cand
        |  UNION ALL
        |  SELECT rnd + 1, ga, gb, rl, rr, s, acc FROM (
        |    SELECT rnd, ga, gb, rl, rr, s, acc,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY ga, gb, rl) AS dead_l,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY ga, gb, rr) AS dead_r
        |    FROM (
        |      SELECT rnd, ga, gb, rl, rr, s,
        |        (row_number() OVER (PARTITION BY ga, gb, rl
        |           ORDER BY s DESC, rr) = 1
        |         AND row_number() OVER (PARTITION BY ga, gb, rr
        |           ORDER BY s DESC, rl) = 1) AS acc
        |      FROM st WHERE NOT acc
        |    ) s0
        |  ) s1
        |  WHERE acc OR (dead_l = 0 AND dead_r = 0)
        |), m AS (
        |  SELECT ga, gb, count(*) AS n_matched,
        |    list_reduce(list(s ORDER BY rl, rr), (x, y) -> x + y) AS matched_sum
        |  FROM st WHERE acc GROUP BY ga, gb
        |), szl AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS ga, count(*) AS n_l
        |  FROM customer WHERE c_custkey % 4 = 0 GROUP BY 1
        |), szr AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS gb, count(*) AS n_r
        |  FROM customer WHERE c_custkey % 4 = 1 GROUP BY 1
        |)
        |SELECT m.ga, m.gb, szl.n_l, szr.n_r, m.n_matched, m.matched_sum,
        |  m.matched_sum / CAST(szl.n_l + szr.n_r - m.n_matched AS DOUBLE) AS sim
        |FROM m JOIN szl ON m.ga = szl.ga JOIN szr ON m.gb = szr.gb""".stripMargin,
    // blocking profile: direct aggregate replay with HUGEINT-exact pair
    // sums (cast to match the decimal(38,0) face)
    "q_blocking_profile" ->
      """WITH recs AS (
        |  SELECT p_partkey AS id,
        |    trim(regexp_replace(lower(strip_accents(nfc_normalize(p_name))),
        |         '[^\p{L}\p{Nd}]+', ' ', 'g')) AS nm
        |  FROM part
        |), toks AS (
        |  SELECT DISTINCT id, tok FROM (
        |    SELECT id, unnest(string_split(nm, ' ')) AS tok FROM recs
        |  ) WHERE length(tok) >= 3
        |), sized AS (
        |  SELECT tok, count(*) AS n FROM toks GROUP BY tok
        |)
        |SELECT count(*) AS n_blocks,
        |  CAST(sum(n) AS BIGINT) AS n_assignments,
        |  max(n) AS max_block,
        |  CAST(sum(CASE WHEN n <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_cold,
        |  CAST(sum(CASE WHEN n > 100 AND n <= 1200 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_salted,
        |  CAST(sum(CASE WHEN n > 1200 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_dropped,
        |  CAST(sum(CASE WHEN n <= 100 THEN n * (n - 1) ELSE 0 END) / 2
        |       AS DECIMAL(38, 0)) AS pairs_cold,
        |  CAST(sum(CASE WHEN n > 100 AND n <= 1200 THEN n * (n - 1) ELSE 0 END) / 2
        |       AS DECIMAL(38, 0)) AS pairs_salted,
        |  CAST(sum(CASE WHEN n > 1200 THEN n * (n - 1) ELSE 0 END) / 2
        |       AS DECIMAL(38, 0)) AS pairs_dropped
        |FROM sized""".stripMargin,
    // center clustering: full-state round replay — st carries every
    // node's (round, center-or-null) and each iteration recomputes alive
    // edges / per-node top edge / fires from the previous round's state;
    // 48 rounds ≥ 3× the observed fixed point at both SFs (state is
    // stable after the fixed point, so the cap only costs idle rounds)
    "q_center_clusters" ->
      """WITH RECURSIVE pr AS (
        |  SELECT a.c_custkey AS ia, b.c_custkey AS ib, CASE WHEN a.c_name = b.c_name THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(1.0 AS DOUBLE) - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE) /
        |            CAST(greatest(length(a.c_name), length(b.c_name)) AS DOUBLE) END AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
        |), edges AS MATERIALIZED (
        |  SELECT ia AS la, ib AS lb, s FROM pr WHERE s >= CAST(0.88 AS DOUBLE)
        |), nodes AS (
        |  SELECT DISTINCT id FROM (SELECT la AS id FROM edges UNION ALL SELECT lb FROM edges) q
        |), st(r, id, ctr) AS (
        |  SELECT 0, id, CAST(NULL AS BIGINT) FROM nodes
        |  UNION ALL
        |  SELECT z.r + 1, z.id, z.ctr FROM (
        |    SELECT a.r, a.id, a.ctr FROM st a WHERE a.ctr IS NOT NULL
        |    UNION ALL
        |    SELECT u.r, u.id, f.ctr
        |    FROM (SELECT r, id FROM st WHERE ctr IS NULL) u
        |    LEFT JOIN (SELECT x AS id, y AS ctr FROM (SELECT x, y, ycen, ela, elb,
        |       row_number() OVER (PARTITION BY x ORDER BY s DESC, ela, elb) AS rn
        |      FROM (SELECT al.la AS x, al.lb AS y, al.s, al.la AS ela, al.lb AS elb,
        |        (al.cb IS NOT NULL AND al.cb = al.lb) AS ycen
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.ca IS NULL
        |      UNION ALL
        |      SELECT al.lb, al.la, al.s, al.la, al.lb,
        |        (al.ca IS NOT NULL AND al.ca = al.la)
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.cb IS NULL) q0) t1 WHERE rn = 1 AND ycen
        |      UNION ALL
        |      SELECT CASE part WHEN 0 THEN ela ELSE elb END AS id, ela AS ctr
        |      FROM (
        |        SELECT ela, elb FROM (SELECT x, y, ycen, ela, elb,
        |       row_number() OVER (PARTITION BY x ORDER BY s DESC, ela, elb) AS rn
        |      FROM (SELECT al.la AS x, al.lb AS y, al.s, al.la AS ela, al.lb AS elb,
        |        (al.cb IS NOT NULL AND al.cb = al.lb) AS ycen
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.ca IS NULL
        |      UNION ALL
        |      SELECT al.lb, al.la, al.s, al.la, al.lb,
        |        (al.ca IS NOT NULL AND al.ca = al.la)
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.cb IS NULL) q0) t2 WHERE rn = 1 AND NOT ycen
        |        GROUP BY ela, elb HAVING count(*) = 2
        |      ) seeds CROSS JOIN (VALUES (0), (1)) p(part)) f ON f.id = u.id
        |  ) z
        |  WHERE z.r < 48
        |)
        |SELECT id, COALESCE(ctr, id) AS center_id FROM st WHERE r = 48""".stripMargin,
    // merge-center: the same round replay, then 32-round min-label
    // propagation over assignment edges + every edge touching a center
    // (measured merge-graph diameter 12 at sf0.1 — 32 is a 2.5× margin;
    // label state is stable after convergence, idle rounds are cheap)
    "q_merge_center" ->
      """WITH RECURSIVE pr AS (
        |  SELECT a.c_custkey AS ia, b.c_custkey AS ib, CASE WHEN a.c_name = b.c_name THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(1.0 AS DOUBLE) - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE) /
        |            CAST(greatest(length(a.c_name), length(b.c_name)) AS DOUBLE) END AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
        |), edges AS MATERIALIZED (
        |  SELECT ia AS la, ib AS lb, s FROM pr WHERE s >= CAST(0.88 AS DOUBLE)
        |), nodes AS (
        |  SELECT DISTINCT id FROM (SELECT la AS id FROM edges UNION ALL SELECT lb FROM edges) q
        |), st(r, id, ctr) AS (
        |  SELECT 0, id, CAST(NULL AS BIGINT) FROM nodes
        |  UNION ALL
        |  SELECT z.r + 1, z.id, z.ctr FROM (
        |    SELECT a.r, a.id, a.ctr FROM st a WHERE a.ctr IS NOT NULL
        |    UNION ALL
        |    SELECT u.r, u.id, f.ctr
        |    FROM (SELECT r, id FROM st WHERE ctr IS NULL) u
        |    LEFT JOIN (SELECT x AS id, y AS ctr FROM (SELECT x, y, ycen, ela, elb,
        |       row_number() OVER (PARTITION BY x ORDER BY s DESC, ela, elb) AS rn
        |      FROM (SELECT al.la AS x, al.lb AS y, al.s, al.la AS ela, al.lb AS elb,
        |        (al.cb IS NOT NULL AND al.cb = al.lb) AS ycen
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.ca IS NULL
        |      UNION ALL
        |      SELECT al.lb, al.la, al.s, al.la, al.lb,
        |        (al.ca IS NOT NULL AND al.ca = al.la)
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.cb IS NULL) q0) t1 WHERE rn = 1 AND ycen
        |      UNION ALL
        |      SELECT CASE part WHEN 0 THEN ela ELSE elb END AS id, ela AS ctr
        |      FROM (
        |        SELECT ela, elb FROM (SELECT x, y, ycen, ela, elb,
        |       row_number() OVER (PARTITION BY x ORDER BY s DESC, ela, elb) AS rn
        |      FROM (SELECT al.la AS x, al.lb AS y, al.s, al.la AS ela, al.lb AS elb,
        |        (al.cb IS NOT NULL AND al.cb = al.lb) AS ycen
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.ca IS NULL
        |      UNION ALL
        |      SELECT al.lb, al.la, al.s, al.la, al.lb,
        |        (al.ca IS NOT NULL AND al.ca = al.la)
        |      FROM (SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
        |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
        |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
        |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
        |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al WHERE al.cb IS NULL) q0) t2 WHERE rn = 1 AND NOT ycen
        |        GROUP BY ela, elb HAVING count(*) = 2
        |      ) seeds CROSS JOIN (VALUES (0), (1)) p(part)) f ON f.id = u.id
        |  ) z
        |  WHERE z.r < 48
        |), fin AS MATERIALIZED (
        |  SELECT id, COALESCE(ctr, id) AS c FROM st WHERE r = 48
        |), ctrs AS MATERIALIZED (
        |  SELECT id FROM fin WHERE id = c
        |), gpairs AS MATERIALIZED (
        |  SELECT id AS u, c AS v FROM fin WHERE id <> c
        |  UNION
        |  SELECT e.la, e.lb FROM edges e JOIN ctrs x ON e.la = x.id
        |  UNION
        |  SELECT e.la, e.lb FROM edges e JOIN ctrs x ON e.lb = x.id
        |), gedges AS MATERIALIZED (
        |  SELECT u, v FROM gpairs UNION SELECT v, u FROM gpairs
        |), lbl(rr, id, c) AS (
        |  SELECT 0, u, u FROM (SELECT DISTINCT u FROM gedges) g
        |  UNION ALL
        |  SELECT z.rr + 1, z.id, z.c FROM (
        |    SELECT rr, id, min(c) AS c FROM (
        |      SELECT l.rr, l.id, l.c FROM lbl l
        |      UNION ALL
        |      SELECT l.rr, e.u AS id, l.c FROM lbl l JOIN gedges e ON e.v = l.id
        |    ) q GROUP BY rr, id
        |  ) z WHERE z.rr < 32
        |), comp AS (
        |  SELECT id, min(c) AS cluster_id FROM lbl WHERE rr = 32 GROUP BY id
        |)
        |SELECT f.id, COALESCE(c2.cluster_id, f.id) AS cluster_id
        |FROM fin f LEFT JOIN comp c2 ON c2.id = f.id""".stripMargin,
    // comparator levels: plain CASE replays — jaro_winkler_similarity is
    // gate-proven bit-identical on ASCII names; the pct bands replay the
    // pinned abs/greatest/product op order; dates collapse to integer
    // day-number arithmetic
    "q_fs_comparators" ->
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
        |FROM p""".stripMargin,
    // Geo levels: identical integer-arithmetic coordinates, identical
    // haversine op order (Δ/2 before sin, R·2·asin(√h) with R inlined).
    // Only the integer LEVELS are hashed — sub-ULP libm drift between
    // engines cannot flip a band unless a distance sits exactly on
    // 100/2000 km, which the synthetic grid avoids.
    "q_comparator_geo" ->
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
        |FROM h""".stripMargin,
    // Array-intersect levels: DuckDB list_intersect is distinct-by-spec,
    // mirroring array_distinct(array_intersect(...)).
    "q_comparator_array" ->
      """SELECT a.p_partkey AS ka, b.p_partkey AS kb,
        |  CASE WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 3 THEN 3
        |       WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 2 THEN 2
        |       WHEN len(list_intersect(string_split(a.p_name, ' '),
        |                               string_split(b.p_name, ' '))) >= 1 THEN 1
        |       ELSE 0 END AS g_arr
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey""".stripMargin,
    // Temporal decay: epoch_us (exact long microseconds, matching
    // unix_micros), rational decay with the identical operand order; the
    // jw CASE wrapper pins the both-empty edge.
    "q_temporal_decay" ->
      """SELECT a.event_id AS ka, b.event_id AS kb,
        |  (CASE WHEN a.props = b.props THEN 1.0
        |        ELSE jaro_winkler_similarity(a.props, b.props) END)
        |  / (CAST(1.0 AS DOUBLE)
        |     + CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS DOUBLE)
        |       / CAST(604800000000.0 AS DOUBLE)) AS decayed
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = b.event_type
        |     AND a.event_id < b.event_id""".stripMargin,
    // Rule cascade: the identical first-match-wins CASE chain, names
    // derived from the rank.
    "q_rule_cascade" ->
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
        |FROM r WHERE rule_rank IS NOT NULL""".stripMargin,
    // b-bit minhash: lanes from sha hex (shaLaneAggs), low byte = last two
    // hex chars, match count via a list lambda, estimator replayed with
    // the same op order (m/16 first, then the corrected ratio)
    "q_bbit_minhash" ->
      s"""WITH base AS (
        |  SELECT doc_id AS id, lang,
        |    list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS tk
        |  FROM documents WHERE doc_id % 10 = 0
        |), fbase AS (
        |  SELECT * FROM base WHERE len(tk) > 0
        |), sh AS (
        |  SELECT id, unnest(CASE WHEN len(tk) >= 2
        |    THEN list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])
        |    ELSE tk END) AS sh
        |  FROM fbase
        |), mins AS (
        |  SELECT id, ${shaLaneAggs(16)} FROM sh GROUP BY id
        |), lanes AS (
        |  SELECT id, [((strpos('0123456789abcdef', substr(h0, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h0, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h1, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h1, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h2, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h2, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h3, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h3, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h4, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h4, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h5, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h5, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h6, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h6, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h7, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h7, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h8, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h8, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h9, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h9, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h10, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h10, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h11, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h11, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h12, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h12, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h13, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h13, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h14, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h14, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h15, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h15, 64, 1)) - 1))] AS lv
        |  FROM mins
        |), pairs AS (
        |  SELECT xa.id AS ia, xb.id AS ib, la.lv AS la, lb.lv AS lb
        |  FROM fbase xa JOIN fbase xb ON xa.lang = xb.lang AND xa.id < xb.id
        |  JOIN lanes la ON la.id = xa.id
        |  JOIN lanes lb ON lb.id = xb.id
        |)
        |SELECT ia, ib,
        |  CAST(len(list_filter(range(1, 17), i -> la[i] = lb[i])) AS INT) AS m,
        |  (CAST(len(list_filter(range(1, 17), i -> la[i] = lb[i])) AS DOUBLE) / CAST(16 AS DOUBLE)
        |     - 0.00390625) / (1.0 - 0.00390625) AS est
        |FROM pairs""".stripMargin,
    // token blocking: tier-blind oracle (the salted grid is lossless and
    // hardCap never bites at gate scale) — distinct pairs sharing any
    // >=3-char token of the normalized name
    "q_token_blocking" ->
      """WITH recs AS (
        |  SELECT p_partkey AS id,
        |    trim(regexp_replace(lower(strip_accents(nfc_normalize(p_name))),
        |         '[^\p{L}\p{Nd}]+', ' ', 'g')) AS nm
        |  FROM part WHERE p_partkey % 20 = 0
        |), toks AS (
        |  SELECT DISTINCT id, tok FROM (
        |    SELECT id, unnest(string_split(nm, ' ')) AS tok FROM recs
        |  ) WHERE length(tok) >= 3
        |)
        |SELECT DISTINCT a.id AS ka, b.id AS kb
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id""".stripMargin,
    // text standardization: DuckDB's ICU nfc_normalize / strip_accents are
    // INDEPENDENT implementations of the same pinned semantics (NFD → drop
    // marks → NFC ≡ ICU transliterator on this palette) — cross-library
    // agreement, not replay. frag[2] is decomposed e + U+0301.
    "q_normalize_text" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    '  ' || list_extract(['José', 'e' || chr(769) || 'lise', 'MÜLLER',
        |                          'o''brien', 'Ĉapek', 'ñoño-中'],
        |                         CAST((doc_id*3+1) % 6 AS INT) + 1)
        |        || list_extract(['  ', ' … ', ', '],
        |                        CAST(doc_id % 3 AS INT) + 1)
        |        || list_extract(['José', 'e' || chr(769) || 'lise', 'MÜLLER',
        |                         'o''brien', 'Ĉapek', 'ñoño-中'],
        |                        CAST((doc_id*5+2) % 6 AS INT) + 1)
        |        || list_extract([' (Gmbh)', '', ' & SONS.', ' ß'],
        |                        CAST(doc_id % 4 AS INT) + 1) AS raw
        |  FROM documents
        |)
        |SELECT doc_id, raw,
        |  nfc_normalize(raw) AS nfc,
        |  strip_accents(raw) AS stripped,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(raw))),
        |       '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm
        |FROM f""".stripMargin,
    // dictionary standardization: the same exact-match token map as a
    // list_transform CASE chain, rejoined on the literal separator
    "q_standardize_tokens" ->
      """SELECT p_partkey AS id, p_name AS name,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    t -> CASE WHEN t = 'red' THEN 'crimson'
        |              WHEN t = 'blue' THEN 'azure'
        |              WHEN t = 'small' THEN 'sm'
        |              WHEN t = 'large' THEN 'lg'
        |              WHEN t = 'hot' THEN 'heated'
        |              ELSE t END), ' ') AS name_std
        |FROM part""".stripMargin,
    // fingerprint keys: the normalize chain + list ops; the kernel's
    // whole-string short-circuit for len <= n replays as a CASE
    "q_fingerprint_keys" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    '  ' || list_extract(['José', 'e' || chr(769) || 'lise', 'MÜLLER',
        |                          'o''brien', 'Ĉapek', 'ñoño-中'],
        |                         CAST((doc_id*3+1) % 6 AS INT) + 1)
        |        || list_extract(['  ', ' … ', ', '],
        |                        CAST(doc_id % 3 AS INT) + 1)
        |        || list_extract(['José', 'e' || chr(769) || 'lise', 'MÜLLER',
        |                         'o''brien', 'Ĉapek', 'ñoño-中'],
        |                        CAST((doc_id*5+2) % 6 AS INT) + 1)
        |        || list_extract([' (Gmbh)', '', ' & SONS.', ' ß'],
        |                        CAST(doc_id % 4 AS INT) + 1) AS raw
        |  FROM documents
        |), nm AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(lower(strip_accents(nfc_normalize(raw))),
        |         '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm
        |  FROM f
        |), g AS (
        |  SELECT doc_id, raw, norm, replace(norm, ' ', '') AS squeezed
        |  FROM nm
        |)
        |SELECT doc_id, raw,
        |  array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ') AS fp,
        |  CASE WHEN length(squeezed) <= 2 THEN squeezed
        |       ELSE array_to_string(list_sort(list_distinct(
        |              list_transform(range(1, length(squeezed)),
        |                             i -> substr(squeezed, CAST(i AS INT), 2)))), '')
        |  END AS fp2
        |FROM g""".stripMargin,
    // url normalization: DuckDB re-applies the identical pattern strings
    // (regexp_replace needs the explicit 'g' flag — Spark's is global)
    "q_url_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN
        |    'HTTPS://WWW.Host' || CAST(doc_id % 7 AS VARCHAR) || '.EXAMPLE:443/P/'
        |      || CAST(doc_id AS VARCHAR) || '?utm_source=feed&gclid=g'
        |      || CAST(doc_id AS VARCHAR) || '&x=' || CAST(doc_id % 5 AS VARCHAR) || '#sec'
        |  ELSE
        |    'http://host' || CAST(doc_id % 7 AS VARCHAR) || '.example:80/p/'
        |      || CAST(doc_id AS VARCHAR) || '?fbclid=f' || CAST(doc_id AS VARCHAR) || '#top'
        |  END AS raw
        |  FROM documents
        |), s0 AS (
        |  SELECT doc_id, raw, regexp_replace(raw, '#.*', '', 'g') AS u1
        |  FROM raw
        |), s0b AS (
        |  SELECT doc_id, raw,
        |    CASE WHEN strpos(u1, '?') > 0
        |         THEN substr(u1, 1, strpos(u1, '?') - 1) ELSE u1 END AS pre,
        |    CASE WHEN strpos(u1, '?') > 0
        |         THEN substr(u1, strpos(u1, '?'), length(u1)) ELSE '' END AS qs
        |  FROM s0
        |), s1 AS (
        |  SELECT doc_id, raw,
        |    pre || regexp_replace(regexp_replace(regexp_replace(regexp_replace(qs,
        |      '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
        |      '^\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?', 'g'),
        |      '^\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', '', 'g'),
        |      '[?&]$', '', 'g') AS u3
        |  FROM s0b
        |), s2 AS (
        |  SELECT doc_id, raw, u3,
        |    regexp_extract(u3, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS head
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(lower(head), ':(80|443)$', '', 'g'),
        |      '://(www\.)+', '://', 'g')
        |      || substr(u3, length(head) + 1, length(u3)) AS url_norm
        |  FROM s2
        |)
        |SELECT doc_id, raw, url_norm,
        |  regexp_extract(url_norm, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host
        |FROM s3""".stripMargin,
    "q_host_stats" ->
      """WITH h AS (
        |  SELECT source AS host, sha256(text) AS ch, len(text) AS chars
        |  FROM documents
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct_texts,
        |  CAST(count(*) - count(DISTINCT ch) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS dup_page_frac,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(max(chars) AS BIGINT) AS max_chars
        |FROM h GROUP BY host""".stripMargin,
    // decontamination: word 8-grams re-derived with list slicing; the
    // id column is named `id` (the operator is table-agnostic)
    "q_decontaminate" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |), dg AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))) AS gram
        |    FROM dt WHERE doc_id % 17 <> 0 AND len(tk) >= 8)
        |), bg AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))) AS gram
        |    FROM dt WHERE doc_id % 17 = 0 AND len(tk) >= 8)
        |)
        |SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM dg JOIN bg USING (gram) GROUP BY doc_id""".stripMargin,
    // repetition signals: every fraction is one division of two integer
    // counters (sums/max of code-point lengths), so DOUBLE equality is
    // exact; bigram keys join words with chr(1), matching the kernel
    "q_quality_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    __ML_SQL__ AS ml
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, trim(l, ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS line
        |  FROM (SELECT doc_id, unnest(string_split(ml, chr(10))) AS l FROM d)
        |), nl AS (
        |  SELECT doc_id, line, count(*) AS c, len(line) AS ln
        |  FROM lines WHERE line <> '' GROUP BY doc_id, line
        |), lagg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(c - 1) AS BIGINT) AS dup_inst,
        |    CAST(sum((c - 1) * ln) AS BIGINT) AS dup_chars,
        |    CAST(sum(c * ln) AS BIGINT) AS tot_chars
        |  FROM nl GROUP BY doc_id
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(ml, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS tk
        |  FROM d
        |), wagg AS (
        |  SELECT doc_id, CAST(sum(len(t)) AS BIGINT) AS word_chars
        |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || chr(1) || tk[i + 1])) AS bg
        |  FROM toks WHERE len(tk) >= 2
        |), bgc AS (
        |  SELECT doc_id, bg, count(*) AS c, len(bg) - 1 AS bl FROM bg GROUP BY doc_id, bg
        |), bagg AS (
        |  SELECT doc_id, CAST(max(c * bl) AS BIGINT) AS top_cover FROM bgc GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(l.n_lines, 0) AS n_lines,
        |  CASE WHEN COALESCE(l.n_lines, 0) > 0
        |       THEN CAST(l.dup_inst AS DOUBLE) / CAST(l.n_lines AS DOUBLE)
        |       ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN COALESCE(l.tot_chars, 0) > 0
        |       THEN CAST(l.dup_chars AS DOUBLE) / CAST(l.tot_chars AS DOUBLE)
        |       ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN COALESCE(w.word_chars, 0) > 0
        |       THEN CAST(COALESCE(b.top_cover, 0) AS DOUBLE) / CAST(w.word_chars AS DOUBLE)
        |       ELSE 0.0 END AS top_bigram_cover_frac
        |FROM d
        |LEFT JOIN lagg l USING (doc_id)
        |LEFT JOIN wagg w USING (doc_id)
        |LEFT JOIN bagg b USING (doc_id)""".stripMargin,
    "q_dedup_exact" ->
      """WITH hashed AS (
        |  SELECT doc_id AS id, sha256(text) AS content_hash FROM documents
        |), canon AS (
        |  SELECT content_hash, min(id) AS canonical_id FROM hashed GROUP BY content_hash
        |)
        |SELECT h.id, c.canonical_id, h.content_hash
        |FROM hashed h JOIN canon c USING (content_hash)""".stripMargin,
    "q_dedup_ngram_jaccard" -> dedupNgramOracle(None),
    "q_dedup_ngram_capped" -> dedupNgramOracle(Some(13)),
    // containment both directions, zero-token docs excluded, max-side
    // threshold — tier-blind brute force over the same blocks.
    "q_dedup_containment" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0)) AS tk,
        |    lang || chr(1) || source AS bk
        |  FROM documents
        |), ne AS (
        |  SELECT id, tk, bk FROM base WHERE len(tk) > 0
        |), scored AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(a.tk) AS DOUBLE) AS containment_a,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(b.tk) AS DOUBLE) AS containment_b,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE)
        |      AS jaccard
        |  FROM ne a JOIN ne b ON a.bk = b.bk AND a.id < b.id
        |)
        |SELECT * FROM scored
        |WHERE greatest(containment_a, containment_b) >= 0.8""".stripMargin,
    // Ed-Join oracle: tier-blind brute force, DuckDB builtin levenshtein.
    "q_edjoin" ->
      """SELECT a.c_custkey AS ia, b.c_custkey AS ib,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // TF-IDF cosine: weights = CAST(tf*(N+1) AS DOUBLE)/CAST(df+1 AS
    // DOUBLE); vectors list(... ORDER BY term); norm and dot via
    // list_reduce left folds (Spark's aggregate seeds 0.0, and 0.0+x = x
    // exactly, so the bracketings agree); per-term lookup by list_filter.
    "q_tfidf_cosine" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |  FROM documents WHERE length(trim(text)) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), w AS (
        |  SELECT doc_id, tf.term,
        |    CAST(tf * (n.n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |), vec AS (
        |  SELECT doc_id,
        |    list(struct_pack(term := term, w := w) ORDER BY term) AS v,
        |    sqrt(list_reduce(list_transform(list(w ORDER BY term), x -> x * x),
        |         (x, y) -> x + y)) AS nrm
        |  FROM w GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM documents a JOIN documents b
        |    ON a.doc_id % 13 = 0 AND b.doc_id % 17 = 0 AND a.doc_id < b.doc_id
        |)
        |SELECT c.ia, c.ib,
        |  list_reduce(list_transform(a.v, s ->
        |    coalesce(list_filter(b.v, x -> x.term = s.term)[1].w,
        |             CAST(0.0 AS DOUBLE)) * s.w),
        |    (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        |FROM cand c JOIN vec a ON c.ia = a.doc_id JOIN vec b ON c.ib = b.doc_id""".stripMargin,
    // Prefix-filter join oracle: tier-blind brute force — ALL pairs of the
    // subsampled corpus, exact distinct-token Jaccard, threshold at a
    // DOUBLE-cast tau. The prefix/length/salt machinery is lossless below
    // hardCap (default: unbounded), so completeness of the filtered join
    // is exactly what equality against this proves.
    "q_setsim_join" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
        |), p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |)
        |SELECT ia, ib, jaccard FROM p
        |WHERE jaccard >= CAST(0.95 AS DOUBLE)""".stripMargin,
    // tier-blind brute-force max-containment truth over the %2 slice.
    "q_containment_join" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
        |), p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(a.toks) AS DOUBLE) AS containment_a,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(b.toks) AS DOUBLE) AS containment_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE)
        |      AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |)
        |SELECT ia, ib, containment_a, containment_b, jaccard FROM p
        |WHERE greatest(containment_a, containment_b)
        |  >= CAST(0.8 AS DOUBLE)""".stripMargin,
    "q_ann_bruteforce" -> oracleSqlBruteForce,
    // mutual kNN: the same ranked CTE joined to itself with the roles
    // swapped; cos is fold-order-identical in both directions so the
    // equi-join needs no tolerance.
    "q_ann_mutual" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT vec_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM pairs
        |)
        |SELECT a.vec_id AS ia, a.neighbor_id AS ib, a.cos,
        |       a.rank AS rank_ab, b.rank AS rank_ba
        |FROM ranked a JOIN ranked b
        |  ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
        |WHERE a.rank <= 3 AND b.rank <= 3 AND a.vec_id < a.neighbor_id""".stripMargin,
    "q_dedup_embedding_cosine" ->
      """WITH scored AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT ia, ib, cos FROM scored WHERE cos >= 0.25""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), ns AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM g
        |), sid AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM ns
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sid GROUP BY user_id, session_id""".stripMargin,
    // interval join: brute-force θ-join over the same validity windows
    // (epoch_us == unix_micros, floor(value) cast exact in both engines)
    "q_interval_pairs" ->
      """WITH e AS (
        |  SELECT event_id AS id, user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (CAST(floor(value) AS BIGINT) + 1) * 60000000
        |      AS e2
        |  FROM events
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  least(a.e2, b.e2) - greatest(a.s, b.s) AS overlap
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.id < b.id
        | AND a.s <= b.e2 AND b.s <= a.e2""".stripMargin,
    // spatial grid blocking: tier-blind brute-force Chebyshev θ-join per
    // nation over the same integer-minted points (grid is lossless by
    // the cellSize >= radius coverage guarantee)
    "q_grid_pairs" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id, c_nationkey AS nk,
        |    c_custkey * 48271 % 200000 AS lat,
        |    c_custkey * 69621 % 200000 AS lon
        |  FROM customer WHERE c_custkey % 4 = 0
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  greatest(abs(a.lat - b.lat), abs(a.lon - b.lon)) AS d_chebyshev
        |FROM pts a JOIN pts b ON a.nk = b.nk AND a.id < b.id
        |WHERE greatest(abs(a.lat - b.lat), abs(a.lon - b.lon)) <= 30000""".stripMargin,
    "q_media_metadata" ->
      """WITH m AS (
        |  SELECT doc_id AS id, strlen(text) AS n_bytes,
        |    upper(substring(hex(CAST(text AS BLOB)), 1, 8)) AS magic
        |  FROM documents
        |)
        |SELECT id, n_bytes,
        |  CASE WHEN magic LIKE '89504E47%' THEN 'png'
        |       WHEN magic LIKE 'FFD8FF%' THEN 'jpeg'
        |       WHEN magic LIKE '474946%' THEN 'gif'
        |       WHEN magic LIKE '52494646%' THEN 'riff'
        |       WHEN magic LIKE '3C68746D%' OR magic LIKE '3C21444F%' THEN 'html'
        |       ELSE 'unknown' END AS kind
        |FROM m""".stripMargin,
    // LSH planner: plan table + grid as VALUES generated from the SAME
    // Scala sequences (one-list discipline; grid doubles emitted in e0
    // notation so DuckDB parses them as DOUBLE directly — a 17-digit
    // DECIMAL intermediate could double-round); powers re-derived as
    // recursive multiply accumulators in the identical left-fold order.
    "q_lsh_plan" -> lshPlanOracle,
    "q_error_model" -> errorModelOracle,
    "q_error_recall" -> errorRecallOracle,
    // information stats: the same contingency/marginal groupBys, then one
    // count-of-counts groupBy per side — all integers, no logs anywhere.
    "q_info_stats" ->
      """WITH j AS (
        |  SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g,
        |         substring(c_name, 16, 3) AS t
        |  FROM customer
        |), ni AS (
        |  SELECT g, t, CAST(count(*) AS BIGINT) AS sz FROM j GROUP BY g, t
        |), na AS (
        |  SELECT g, CAST(sum(sz) AS BIGINT) AS sz FROM ni GROUP BY g
        |), nb AS (
        |  SELECT t, CAST(sum(sz) AS BIGINT) AS sz FROM ni GROUP BY t
        |)
        |SELECT 'cell' AS side, sz AS group_size,
        |       CAST(count(*) AS BIGINT) AS n_groups
        |FROM ni GROUP BY sz
        |UNION ALL
        |SELECT 'cluster', sz, CAST(count(*) AS BIGINT) FROM na GROUP BY sz
        |UNION ALL
        |SELECT 'truth', sz, CAST(count(*) AS BIGINT) FROM nb GROUP BY sz""".stripMargin,
    // triangles: u<v<w three-way self-join over the normalized intra
    // edges (each undirected triangle appears exactly once), wedges as
    // Σ d(d−1)/2 per cluster, the same pinned 3T/W division.
    "q_transitivity" ->
      s"""WITH pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v, au.g FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS id FROM intra UNION ALL SELECT v FROM intra)
        |  GROUP BY id
        |), nodes AS (
        |  SELECT DISTINCT id, g
        |  FROM (SELECT u AS id, g FROM intra UNION ALL SELECT v, g FROM intra)
        |), wed AS (
        |  SELECT n.g, CAST(sum(deg.d * (deg.d - 1)) // 2 AS BIGINT) AS w
        |  FROM nodes n JOIN deg ON n.id = deg.id
        |  GROUP BY n.g
        |), tri AS (
        |  SELECT i1.g, CAST(count(*) AS BIGINT) AS t
        |  FROM intra i1
        |  JOIN intra i2 ON i2.u = i1.v
        |  JOIN intra i3 ON i3.u = i1.u AND i3.v = i2.v
        |  GROUP BY i1.g
        |)
        |SELECT asg.g AS cluster_id,
        |  CAST(coalesce(tri.t, 0) AS BIGINT) AS n_triangles,
        |  CAST(coalesce(wed.w, 0) AS BIGINT) AS n_wedges,
        |  CASE WHEN coalesce(wed.w, 0) > 0 THEN
        |    (3.0 * CAST(coalesce(tri.t, 0) AS DOUBLE))
        |      / CAST(wed.w AS DOUBLE)
        |  END AS transitivity
        |FROM (SELECT DISTINCT g FROM asg) asg
        |LEFT JOIN wed ON asg.g = wed.g
        |LEFT JOIN tri ON asg.g = tri.g""".stripMargin,
    // coreness: the same intra-cluster graph, then the h-index iteration
    // as a recursive CTE — each level recomputes every node's H-operator
    // from the previous level's full value set and stops at the first
    // unchanged level; min(h) per id is the (monotone) fixpoint.
    // recursive peel: each iteration recomputes naive common-neighbor
    // support over the PREVIOUS round's edges and keeps support >= k-2;
    // rounds emit only when something was removed, so max(iter) is the
    // fixpoint (monotone peeling).
    "q_truss" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.92
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e0 AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e0.u, e0.v FROM e0
        |  JOIN asg au ON e0.u = au.id
        |  JOIN asg av ON e0.v = av.id
        |  WHERE au.g = av.g
        |), es(iter, u, v) AS (
        |  SELECT 0, u, v FROM intra
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH adj AS (
        |      SELECT u AS x, v AS w FROM es
        |      UNION ALL SELECT v, u FROM es
        |    ), sup AS (
        |      SELECT e.u, e.v, count(*) AS s
        |      FROM es e
        |      JOIN adj a ON a.x = e.u
        |      JOIN adj b ON b.x = e.v AND b.w = a.w
        |      GROUP BY 1, 2
        |    ), nxt AS (
        |      SELECT e.iter + 1 AS iter, e.u, e.v
        |      FROM es e LEFT JOIN sup ON sup.u = e.u AND sup.v = e.v
        |      WHERE coalesce(sup.s, 0) >= 1
        |    )
        |    SELECT iter, u, v FROM nxt
        |    WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM es)
        |  )
        |), truss AS (
        |  SELECT u, v FROM es WHERE iter = (SELECT max(iter) FROM es)
        |), tadj AS (
        |  SELECT u AS x, v AS w FROM truss
        |  UNION ALL SELECT v, u FROM truss
        |), tsup AS (
        |  SELECT t.u, t.v, CAST(count(*) AS BIGINT) AS s
        |  FROM truss t
        |  JOIN tadj a ON a.x = t.u
        |  JOIN tadj b ON b.x = t.v AND b.w = a.w
        |  GROUP BY 1, 2
        |)
        |SELECT au.g AS cluster_id, t.u AS url_a, t.v AS url_b,
        |  CAST(coalesce(tsup.s, 0) AS BIGINT) AS support
        |FROM truss t
        |JOIN asg au ON t.u = au.id
        |LEFT JOIN tsup ON tsup.u = t.u AND tsup.v = t.v""".stripMargin,
    "q_core_numbers" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |  WHERE a.c_name <> b.c_name
        |    AND ${levSimSql("a.c_name", "b.c_name")} >= 0.94
        |), asg AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS g
        |  FROM customer
        |), e AS (
        |  SELECT DISTINCT least(ka, kb) AS u, greatest(ka, kb) AS v
        |  FROM pairs WHERE ka <> kb
        |), intra AS (
        |  SELECT e.u, e.v FROM e
        |  JOIN asg au ON e.u = au.id
        |  JOIN asg av ON e.v = av.id
        |  WHERE au.g = av.g
        |), b AS (
        |  SELECT u, v FROM intra UNION ALL SELECT v, u FROM intra
        |), deg AS (
        |  SELECT u AS id, CAST(count(*) AS BIGINT) AS h FROM b GROUP BY u
        |), hs(iter, id, h) AS (
        |  SELECT 0, id, h FROM deg
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH nv AS (
        |      SELECT b.u AS id, hs.h AS hv FROM b JOIN hs ON b.v = hs.id
        |    ), ranked AS (
        |      SELECT id, hv, row_number() OVER (
        |        PARTITION BY id ORDER BY hv DESC) AS rn FROM nv
        |    ), hidx AS (
        |      SELECT id, CAST(max(least(rn, hv)) AS BIGINT) AS hh
        |      FROM ranked GROUP BY id
        |    ), nxt AS (
        |      SELECT hs.iter + 1 AS iter, hs.id,
        |             least(hs.h, coalesce(hidx.hh, 0)) AS h
        |      FROM hs LEFT JOIN hidx ON hs.id = hidx.id
        |    )
        |    SELECT iter, id, h FROM nxt
        |    WHERE EXISTS (SELECT 1 FROM nxt n JOIN hs o ON n.id = o.id
        |                  WHERE n.h <> o.h)
        |  )
        |), core AS (
        |  SELECT id, min(h) AS core FROM hs GROUP BY id
        |)
        |SELECT asg.id, asg.g AS cluster_id,
        |  CAST(coalesce(core.core, 0) AS BIGINT) AS core_number
        |FROM asg LEFT JOIN core ON asg.id = core.id""".stripMargin,
    // date comparators: identical blocking key construction (two
    // families), identical CASE ladders — exact, transposed
    // (year equal + month/day swapped), then the day bands.
    "q_comparator_date" ->
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
        |FROM p JOIN o oa ON p.ka = oa.id JOIN o ob ON p.kb = ob.id""".stripMargin,
  )
}
