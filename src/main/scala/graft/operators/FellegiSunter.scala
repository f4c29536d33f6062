package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fellegi-Sunter probabilistic record linkage: fit per-field match /
  * non-match agreement probabilities by EM over comparison-vector pattern
  * counts, then score candidate pairs with the fitted model.
  *
  * The model (Fellegi & Sunter 1969; the estimation shape popularized by
  * Splink/FEBRL): each candidate pair carries a comparison vector
  * γ = (γ_0 … γ_{k-1}) of 0/1 field-agreement indicators (e.g. "name JW
  * ≥ 0.95", "segment equal"). Under conditional independence,
  *
  *   P(γ | match)     = Π_j m_j^γ_j (1 − m_j)^{1−γ_j}
  *   P(γ | non-match) = Π_j u_j^γ_j (1 − u_j)^{1−γ_j}
  *
  * and EM estimates (λ, m, u) from the UNLABELED pattern counts alone —
  * the reason this is the canonical ER scoring model: no training labels
  * needed.
  *
  * Scale design (100 TB): the only distributed work is ONE partial-combined
  * `groupBy` collapsing the pair corpus to ≤ 2^k pattern-count rows; the
  * EM iterations run on the driver over that model-sized table (same
  * bounded-collect pattern as [[Similarity]]'s IVF centroid fit — the
  * collect is k-bounded by the `require`, never data-sized). Scoring is a
  * pure codegen projection with the fitted parameters folded in as
  * literals — zero shuffle, no UDF. Callers scoring the same gamma frame
  * they fit on should persist it (fit's aggregate and score's projection
  * otherwise each re-derive the comparison vectors).
  *
  * Determinism contract (the driver gate hash-checks this): every
  * floating-point operation is pinned — pattern traversal is lexicographic
  * in (γ_0 … γ_{k-1}), accumulations are left folds in that order, and the
  * update formulas are applied verbatim as written — so an oracle that
  * replays the same folds (SparkEntry's unrolled-EM DuckDB SQL) reproduces
  * the parameters, posteriors, and likelihood ratios bit-for-bit.
  */
object FellegiSunter {

  /** Fitted model: λ = P(match), m_j = P(γ_j = 1 | match),
    * u_j = P(γ_j = 1 | non-match). */
  final case class Model(lambda: Double, m: IndexedSeq[Double], u: IndexedSeq[Double])

  /** The model's sufficient statistics as a persistable frame: one row
    * per observed gamma pattern with its pair count (≤ 2^k rows —
    * model-sized however large the pair corpus). Pattern counts are
    * ADDITIVE: the counts of a merged corpus are the pattern-wise sum of
    * per-batch counts, so persisting this frame and unioning each new
    * batch's counts into it makes EM refits incremental —
    * [[fitFromCounts]] over (stored ∪ batch) is bit-identical to a
    * from-scratch [[fit]] over the merged pair corpus, at per-batch cost
    * (the same additivity [[Dedup.bandIndex]] exploits for LSH). */
  def patternCounts(pairs: DataFrame, gammaCols: Seq[String]): DataFrame =
    pairs.groupBy(gammaCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"))

  /** EM fit over the pattern counts of `gammaCols` (integer 0/1 columns of
    * `pairs`). `iters` full EM sweeps from (initLambda, initM, initU). */
  def fit(pairs: DataFrame, gammaCols: Seq[String], iters: Int = 15,
      initLambda: Double = 0.5, initM: Double = 0.9,
      initU: Double = 0.1): Model = {
    // arity/iteration validation must fire before any plan is built (a
    // bad gamma list would otherwise surface as an AnalysisException
    // from the groupBy instead of a clear argument error)
    require(gammaCols.size >= 1 && gammaCols.size <= 16,
      s"gammaCols must have 1..16 fields (driver EM holds 2^k pattern counts), got ${gammaCols.size}")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    fitFromCounts(patternCounts(pairs, gammaCols), gammaCols, "n_pairs",
      iters, initLambda, initM, initU)
  }

  /** [[fit]] from a [[patternCounts]]-shaped frame instead of the pair
    * corpus — the incremental-refit seam: union any number of per-batch
    * count frames (patterns MAY repeat across them; integer sums
    * re-collapse first, so the merge structure can't perturb a bit) and
    * refit without touching historical pairs. Same determinism contract
    * as [[fit]] — identical counts give identical parameters. */
  def fitFromCounts(counts: DataFrame, gammaCols: Seq[String],
      countCol: String = "n_pairs", iters: Int = 15,
      initLambda: Double = 0.5, initM: Double = 0.9,
      initU: Double = 0.1): Model = {
    val k = gammaCols.size
    require(k >= 1 && k <= 16,
      s"gammaCols must have 1..16 fields (driver EM holds 2^k pattern counts), got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the one distributed pass: count frame -> <= 2^k (pattern, count)
    // rows (collapsing repeated patterns from unioned increments with
    // integer-exact sums)
    val rows = counts.groupBy(gammaCols.map(col): _*)
      .agg(sum(col(countCol)).cast("long").as("__n")).collect()
    import scala.math.Ordering.Implicits._
    val pats: Array[(IndexedSeq[Long], Double)] = rows.map { r =>
      val g = gammaCols.indices.map { i =>
        require(!r.isNullAt(i),
          s"gamma column '${gammaCols(i)}' is NULL for some pairs — gamma " +
            "comparisons must be null-absorbing (wrap in when(...).otherwise(0))")
        r.getAs[Number](i).longValue
      }
      (g, r.getAs[Long]("__n").toDouble)
    }.sortBy(_._1)
    var t = 0.0
    pats.foreach { case (_, n) => t = t + n }

    var lam = initLambda
    val m = Array.fill(k)(initM)
    val u = Array.fill(k)(initU)
    for (_ <- 0 until iters) {
      var s = 0.0
      val a = Array.fill(k)(0.0)
      val b = Array.fill(k)(0.0)
      pats.foreach { case (g, n) =>
        var w = lam
        var v = 1.0 - lam
        var j = 0
        while (j < k) {
          w = w * (if (g(j) == 1L) m(j) else 1.0 - m(j))
          v = v * (if (g(j) == 1L) u(j) else 1.0 - u(j))
          j += 1
        }
        s = s + n * (w / (w + v))
        j = 0
        while (j < k) {
          a(j) = a(j) + (if (g(j) == 1L) n * (w / (w + v)) else 0.0)
          b(j) = b(j) + (if (g(j) == 1L) n * (1.0 - w / (w + v)) else 0.0)
          j += 1
        }
      }
      lam = s / t
      var j = 0
      while (j < k) {
        m(j) = a(j) / s
        u(j) = b(j) / (t - s)
        j += 1
      }
    }
    Model(lam, m.toIndexedSeq, u.toIndexedSeq)
  }

  /** Score pairs under a fitted model: appends `posterior` = P(match | γ)
    * and `lr` = P(γ|match)·λ over P(γ|non-match)·(1−λ) — the (prior-folded)
    * likelihood ratio whose log is the classic FS match weight (left as a
    * ratio: logs would cost bit-exactness across engines for nothing).
    * Pure projection; the model rides as literals.
    *
    * MISSING DATA: a NULL gamma contributes factor 1.0 to BOTH
    * likelihoods — an unobserved comparison carries no evidence either
    * way (the standard missing-at-random treatment; Splink's null level).
    * [[fit]] stays complete-case and rejects NULLs loudly — fit on
    * `pairs.where(gammas non-null)`, score everything. */
  def score(pairs: DataFrame, gammaCols: Seq[String], model: Model): DataFrame = {
    require(gammaCols.size == model.m.size,
      s"model has ${model.m.size} fields, gammaCols has ${gammaCols.size}")
    var w: Column = lit(model.lambda)
    var v: Column = lit(1.0 - model.lambda)
    for (j <- gammaCols.indices) {
      w = w * when(col(gammaCols(j)).isNull, lit(1.0))
        .when(col(gammaCols(j)) === 1, lit(model.m(j)))
        .otherwise(lit(1.0 - model.m(j)))
      v = v * when(col(gammaCols(j)).isNull, lit(1.0))
        .when(col(gammaCols(j)) === 1, lit(model.u(j)))
        .otherwise(lit(1.0 - model.u(j)))
    }
    pairs.withColumn("posterior", posteriorOf(w, v)).withColumn("lr", lrOf(w, v))
  }

  /** IEEE-honest guarded ratios (Spark's ANSI mode makes x/0 an ERROR, not
    * ±inf): on perfectly separating evidence EM legitimately drives some
    * u_j to exactly 0.0, making v = 0 for agreeing patterns — that pair is
    * a certain match, so lr = +∞ and posterior = 1; a pattern impossible
    * under BOTH classes (w = v = 0) scores NaN, loudly. The guards change
    * nothing when v > 0 (the branch is the plain division). */
  private def posteriorOf(w: Column, v: Column): Column =
    when(w + v === lit(0.0), lit(Double.NaN)).otherwise(w / (w + v))
  private def lrOf(w: Column, v: Column): Column =
    when(v === lit(0.0),
      when(w === lit(0.0), lit(Double.NaN)).otherwise(lit(Double.PositiveInfinity)))
      .otherwise(w / v)

  /** Per-pair, per-field match-weight decomposition — the data behind
    * Splink's "waterfall chart", the explain-this-match view a clerical
    * reviewer reads before trusting a link: `prior_odds` = λ/(1−λ)
    * plus, per gamma column, the Bayes factor `bf_<col>` that field
    * contributes to the likelihood ratio — m_j/u_j on agreement,
    * (1−m_j)/(1−u_j) on disagreement, and exactly 1.0 when the gamma is
    * NULL (an unobserved comparison carries no evidence, matching
    * [[score]]'s missing-data treatment). By construction
    * lr = prior_odds · Π_j bf_j, factor for factor.
    *
    * Every ratio is folded to a literal ONCE on the driver (a single
    * IEEE division over the fitted parameters — the same operands an
    * oracle that re-derives m/u divides, so the output is
    * hash-reproducible), making the stage a pure codegen projection:
    * zero per-row divisions, zero shuffle, scale cost = one pass over
    * the pairs. A u_j of exactly 0.0 (perfectly separating evidence)
    * folds to bf = +∞ on agreement, mirroring [[score]]'s lr semantics;
    * m_j = 1.0 symmetrically sends the disagreement factor to 0.0. */
  def waterfall(pairs: DataFrame, gammaCols: Seq[String],
      model: Model): DataFrame = {
    require(gammaCols.size == model.m.size,
      s"model has ${model.m.size} fields, gammaCols has ${gammaCols.size}")
    val bfCols = gammaCols.indices.map { j =>
      when(col(gammaCols(j)).isNull, lit(1.0))
        .when(col(gammaCols(j)) === 1, lit(model.m(j) / model.u(j)))
        .otherwise(lit((1.0 - model.m(j)) / (1.0 - model.u(j))))
        .as(s"bf_${gammaCols(j)}")
    }
    pairs.select(pairs.columns.map(col).toSeq ++
      (lit(model.lambda / (1.0 - model.lambda)).as("prior_odds") +: bfCols): _*)
  }

  /** Pattern summary table — the model-audit view a reviewer reads
    * BEFORE trusting per-pair scores: one row per observed comparison
    * pattern with its pair count and fitted posterior / likelihood
    * ratio. Every decision the model can make is visible in ≤ 2^k rows
    * (NULL gammas group like any other level and score evidence-free,
    * matching [[score]]). ONE map-side-combinable groupBy collapses the
    * pair corpus to the pattern counts; scoring them is the same
    * literal-folded projection as [[score]] over a model-sized frame —
    * auditing the model costs (amortized) nothing at any corpus size. */
  def patternTable(pairs: DataFrame, gammaCols: Seq[String],
      model: Model): DataFrame =
    score(pairs.groupBy(gammaCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs")), gammaCols, model)

  /** Example pairs per comparison pattern — the data behind Splink's
    * comparison-viewer dashboard: for each observed gamma pattern, the k
    * first pairs in pinned (idCols) order, ranked. [[patternTable]] says
    * how often each pattern occurs and what the model concludes from it;
    * THIS shows a reviewer concrete record pairs that look like it (the
    * step where "g0=1,g1=0" becomes "same name, different segment — yes,
    * those are duplicates"). Deterministic: the rank order is the id
    * columns themselves, so runs, partitionings, and the oracle agree.
    *
    * Scale shape: the ≤ k filter sits DIRECTLY above row_number, so
    * InferWindowGroupLimit inserts a per-pattern top-k limit before the
    * exchange — each map task forwards at most k rows per pattern it
    * sees, and the post-shuffle frame is ≤ k·2^|gammas| rows. No
    * pair-corpus-sized sort anywhere. */
  def patternExamples(pairs: DataFrame, gammaCols: Seq[String], k: Int,
      idCols: Seq[String] = Seq("ka", "kb")): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gammaCols.map(col): _*)
      .orderBy(idCols.map(col(_).asc): _*)
    pairs.select((gammaCols ++ idCols).map(col): _*)
      .withColumn("example_rank", row_number().over(w))
      .where(col("example_rank") <= k)
  }

  /** Multi-level model (Splink-style comparison levels): field j takes
    * γ_j ∈ {0 … L_j−1} (0 = disagreement, higher = stronger agreement by
    * convention) with full per-level distributions m(j)(l) = P(γ_j = l |
    * match), u(j)(l) = P(γ_j = l | non-match). The binary [[Model]] is the
    * L = 2 special case. */
  final case class LevelModel(lambda: Double,
      m: IndexedSeq[IndexedSeq[Double]], u: IndexedSeq[IndexedSeq[Double]])

  /** EM fit with multi-level gammas. `levels(j)` = number of levels of
    * `gammaCols(j)`. Init breaks symmetry deterministically: m(j)(l) ∝
    * l+1 (matches favor high agreement levels), u(j)(l) ∝ L−l. Same
    * pinned-fold determinism contract as [[fit]] — the unrolled-EM DuckDB
    * oracle reproduces it bit-for-bit. */
  def fitLevels(pairs: DataFrame, gammaCols: Seq[String], levels: Seq[Int],
      iters: Int = 15, initLambda: Double = 0.5): LevelModel = {
    val k = gammaCols.size
    require(k >= 1 && k == levels.size,
      s"gammaCols (${k}) and levels (${levels.size}) must align, nonempty")
    require(levels.forall(l => l >= 2 && l <= 16), s"levels must be 2..16: $levels")
    require(levels.map(_.toLong).product <= 65536L,
      s"pattern space ${levels.mkString("x")} exceeds the 2^16 driver bound")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val rows = pairs.groupBy(gammaCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).collect()
    import scala.math.Ordering.Implicits._
    val pats: Array[(IndexedSeq[Long], Double)] = rows.map { r =>
      val g = gammaCols.indices.map { i =>
        require(!r.isNullAt(i),
          s"gamma column '${gammaCols(i)}' is NULL for some pairs — gamma " +
            "comparisons must be null-absorbing (wrap in when(...).otherwise(0))")
        r.getAs[Number](i).longValue
      }
      (g, r.getAs[Long]("__n").toDouble)
    }.sortBy(_._1)
    var t = 0.0
    pats.foreach { case (_, n) => t = t + n }

    var lam = initLambda
    val m = Array.tabulate(k) { j =>
      val lv = levels(j); val tot = (lv * (lv + 1) / 2).toDouble
      Array.tabulate(lv)(l => (l + 1).toDouble / tot)
    }
    val u = Array.tabulate(k) { j =>
      val lv = levels(j); val tot = (lv * (lv + 1) / 2).toDouble
      Array.tabulate(lv)(l => (lv - l).toDouble / tot)
    }
    for (_ <- 0 until iters) {
      var s = 0.0
      val a = Array.tabulate(k)(j => Array.fill(levels(j))(0.0))
      val b = Array.tabulate(k)(j => Array.fill(levels(j))(0.0))
      pats.foreach { case (g, n) =>
        var w = lam
        var v = 1.0 - lam
        var j = 0
        while (j < k) {
          // out-of-range gammas take the top level (the scoreLevels
          // CASE's otherwise-branch) — callers should not rely on it
          val l = math.min(math.max(g(j), 0L), (levels(j) - 1).toLong).toInt
          w = w * m(j)(l)
          v = v * u(j)(l)
          j += 1
        }
        s = s + n * (w / (w + v))
        j = 0
        while (j < k) {
          val l = math.min(math.max(g(j), 0L), (levels(j) - 1).toLong).toInt
          a(j)(l) = a(j)(l) + n * (w / (w + v))
          b(j)(l) = b(j)(l) + n * (1.0 - w / (w + v))
          j += 1
        }
      }
      lam = s / t
      var j = 0
      while (j < k) {
        var l = 0
        while (l < levels(j)) {
          m(j)(l) = a(j)(l) / s
          u(j)(l) = b(j)(l) / (t - s)
          l += 1
        }
        j += 1
      }
    }
    LevelModel(lam, m.map(_.toIndexedSeq).toIndexedSeq,
      u.map(_.toIndexedSeq).toIndexedSeq)
  }

  /** Score pairs under a multi-level model: appends `posterior` and `lr`
    * like [[score]]; per field the probability is a level-indexed CASE
    * (γ beyond the last level falls into the top level's branch). */
  def scoreLevels(pairs: DataFrame, gammaCols: Seq[String],
      model: LevelModel): DataFrame = {
    require(gammaCols.size == model.m.size,
      s"model has ${model.m.size} fields, gammaCols has ${gammaCols.size}")
    def levelCase(g: String, probs: IndexedSeq[Double]): Column = {
      val init: Column = when(col(g) === 0, lit(probs(0)))
      (1 until probs.size - 1).foldLeft(init) { (acc, l) =>
        acc.when(col(g) === l, lit(probs(l)))
      }.otherwise(lit(probs.last))
    }
    var w: Column = lit(model.lambda)
    var v: Column = lit(1.0 - model.lambda)
    for (j <- gammaCols.indices) {
      w = w * levelCase(gammaCols(j), model.m(j))
      v = v * levelCase(gammaCols(j), model.u(j))
    }
    pairs.withColumn("posterior", posteriorOf(w, v)).withColumn("lr", lrOf(w, v))
  }

  /** Relative value frequencies of `valueCol` among `records`:
    * (value, tf) with tf = count(value) / count(*). The input to
    * [[tfAdjustLr]]; persist it once per field, reuse across runs. */
  def termFrequencies(records: DataFrame, valueCol: String): DataFrame =
    records.groupBy(col(valueCol).as("value"))
      .agg(count(lit(1)).as("__cnt"))
      .crossJoin(broadcast(records.agg(count(lit(1)).as("__tot"))))
      .select(col("value"),
        (col("__cnt").cast("double") / col("__tot").cast("double")).as("tf"))

  /** Term-frequency adjustment (Winkler 1988; the shape popularized by
    * Splink's `term_frequency_adjustments`) for an EXACT-agreement field:
    * agreeing on a rare value is stronger evidence than agreeing on a
    * common one, so for pairs where `gammaCol` = 1 the pair's likelihood
    * ratio is multiplied by `u_j / tf(value)` — replacing the field's
    * AVERAGE agreement-by-chance rate with the agreed value's own
    * frequency. Disagreements, and values missing from `tf`, keep the
    * unadjusted ratio. Appends `lr_tf`.
    *
    * Only meaningful for equality-style gammas (the two sides share one
    * value, carried in `valueCol`); threshold/fuzzy gammas have no single
    * agreed value to look up. `tf` is vocabulary-sized and always
    * broadcast. */
  def tfAdjustLr(scored: DataFrame, model: Model, fieldIndex: Int,
      gammaCol: String, valueCol: String, tf: DataFrame,
      lrCol: String = "lr"): DataFrame = {
    require(fieldIndex >= 0 && fieldIndex < model.u.size,
      s"fieldIndex $fieldIndex out of range for a ${model.u.size}-field model")
    val u = model.u(fieldIndex)
    val tfSide = tf.select(col("value").as("__tf_value"), col("tf").as("__tf"))
    scored.join(broadcast(tfSide), scored(valueCol) === col("__tf_value"), "left")
      .withColumn("lr_tf",
        when(col(gammaCol) === 1 && col("__tf").isNotNull,
          col(lrCol) * (lit(u) / col("__tf")))
          .otherwise(col(lrCol)))
      .drop("__tf_value", "__tf")
  }

  /** Error-rate-driven threshold selection — the half of the 1969 decision
    * rule [[classify]] leaves to the caller. Given target error rates
    *
    *  - `mu`        = P(link | non-match)  (false-match rate), and
    *  - `lambdaErr` = P(non_link | match)  (false-non-match rate),
    *
    * enumerate all 2^k comparison patterns under the fitted model, order
    * by likelihood ratio, and take the widest link region whose
    * accumulated P(γ|U) stays ≤ mu (resp. non-link region with
    * accumulated P(γ|M) ≤ lambdaErr). Returns (upperLr, lowerLr) in the
    * same prior-folded lr units [[score]] emits, ready for [[classify]].
    *
    * Driver-side over the 2^k pattern table (model-sized, k ≤ 16 — the
    * same bound as [[fit]]); nothing distributed. Determinism contract:
    * patterns enumerate lexicographically (γ_0 the most significant),
    * both sorts are STABLE on the pinned lr key (ties keep lex order —
    * SQL mirror: ORDER BY lr DESC/ASC, γ_0, …, γ_{k-1}), and the error
    * mass accumulates as an ordered left fold, so the DuckDB oracle
    * reproduces the thresholds bit-for-bit. No pattern admissible → the
    * band is empty (upper = +∞ / lower = 0.0; lr is always > 0 for an
    * interior-fitted model). If mu + lambdaErr is generous enough that
    * the regions overlap (upperLr ≤ lowerLr), the possible band is empty
    * and [[classify]]'s CASE order resolves the overlap toward `link` —
    * identically in Spark and the SQL mirror. */
  def calibrate(model: Model, mu: Double, lambdaErr: Double): (Double, Double) = {
    require(mu > 0.0 && mu < 1.0, s"mu must be in (0,1), got $mu")
    require(lambdaErr > 0.0 && lambdaErr < 1.0,
      s"lambdaErr must be in (0,1), got $lambdaErr")
    val k = model.m.size
    require(k >= 1 && k <= 16, s"model must have 1..16 fields, got $k")
    // lex enumeration: γ_0 is the most significant bit
    val pats = (0 until (1 << k)).map { bits =>
      var pM = 1.0
      var pU = 1.0
      var j = 0
      while (j < k) {
        val g = (bits >> (k - 1 - j)) & 1
        pM = pM * (if (g == 1) model.m(j) else 1.0 - model.m(j))
        pU = pU * (if (g == 1) model.u(j) else 1.0 - model.u(j))
        j += 1
      }
      val lr = (model.lambda * pM) / ((1.0 - model.lambda) * pU)
      (pM, pU, lr)
    }
    var upper = Double.PositiveInfinity
    var acc = 0.0
    for ((_, pU, lr) <- pats.sortBy(_._3)(Ordering[Double].reverse)) {
      acc = acc + pU
      if (acc <= mu) upper = lr
    }
    var lower = 0.0
    acc = 0.0
    for ((pM, _, lr) <- pats.sortBy(_._3)) {
      acc = acc + pM
      if (acc <= lambdaErr) lower = lr
    }
    (upper, lower)
  }

  // -------------------------------------------------- model persistence

  /** Flatten a fitted model to its persistable (param, field, level,
    * value) frame — the fit-once/score-many seam (the [[Dedup.bandIndex]]
    * precedent applied to models): fit on a sample job, `save`, and every
    * scoring job `load`s instead of re-running EM. Parquet doubles are
    * IEEE-754 binary, so the round-trip is bit-exact by construction —
    * a reloaded model scores hash-identically to the in-memory one (the
    * q_fellegi_sunter_persisted gate and FellegiSunterSpec pin this).
    * `field`/`level` are -1 where not applicable (λ; binary models have
    * no level axis). */
  def modelFrame(spark: org.apache.spark.sql.SparkSession,
      model: Model): DataFrame = {
    import spark.implicits._
    (("lambda", -1, -1, model.lambda) +:
      model.m.indices.map(j => ("m", j, -1, model.m(j))) ++:
      model.u.indices.map(j => ("u", j, -1, model.u(j))))
      .toDF("param", "field", "level", "value")
  }

  def levelModelFrame(spark: org.apache.spark.sql.SparkSession,
      model: LevelModel): DataFrame = {
    import spark.implicits._
    (("lambda", -1, -1, model.lambda) +:
      (for (j <- model.m.indices; l <- model.m(j).indices)
        yield ("m", j, l, model.m(j)(l))) ++:
      (for (j <- model.u.indices; l <- model.u(j).indices)
        yield ("u", j, l, model.u(j)(l))))
      .toDF("param", "field", "level", "value")
  }

  /** Persist a fitted binary model (one tiny parquet — any Spark-reachable
    * path: local, HDFS, object store). */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model,
      path: String): Unit =
    modelFrame(spark, model).coalesce(1).write.mode("overwrite").parquet(path)

  def saveLevelModel(spark: org.apache.spark.sql.SparkSession,
      model: LevelModel, path: String): Unit =
    levelModelFrame(spark, model).coalesce(1).write.mode("overwrite").parquet(path)

  private def collectParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Double, Map[(String, Int, Int), Double]) = {
    val rows = spark.read.parquet(path).collect()
    val byKey = rows.map(r => (r.getAs[String]("param"), r.getAs[Int]("field"),
      r.getAs[Int]("level")) -> r.getAs[Double]("value")).toMap
    require(byKey.size == rows.length, s"duplicate model rows at $path")
    val lambda = byKey.getOrElse(("lambda", -1, -1),
      throw new IllegalArgumentException(s"no lambda row in model at $path"))
    (lambda, byKey)
  }

  /** Load a binary [[Model]] persisted by [[saveModel]] — bit-exact. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Model = {
    val (lambda, byKey) = collectParams(spark, path)
    val fields = byKey.keys.collect { case ("m", j, -1) => j }.toSeq.sorted
    require(fields.nonEmpty && fields == (0 until fields.size),
      s"model at $path has gappy/missing m fields: $fields (is it a LevelModel?)")
    Model(lambda,
      fields.map(j => byKey(("m", j, -1))).toIndexedSeq,
      fields.map(j => byKey(("u", j, -1))).toIndexedSeq)
  }

  /** Load a [[LevelModel]] persisted by [[saveLevelModel]] — bit-exact.
    * Library surface: the score-only job's half of the multi-level model
    * round trip; no pipeline stage persists a LevelModel. */
  def loadLevelModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LevelModel = {
    val (lambda, byKey) = collectParams(spark, path)
    val levelsOf = byKey.keys.collect { case ("m", j, l) if l >= 0 => (j, l) }
      .groupBy(_._1).map { case (j, ls) => j -> (ls.map(_._2).max + 1) }
    val fields = levelsOf.keys.toSeq.sorted
    require(fields.nonEmpty && fields == (0 until fields.size),
      s"model at $path has gappy/missing m fields: $fields (is it a binary Model?)")
    def grid(p: String) = fields.map { j =>
      (0 until levelsOf(j)).map(l => byKey((p, j, l))).toIndexedSeq
    }.toIndexedSeq
    LevelModel(lambda, grid("m"), grid("u"))
  }

  /** Match-weight histogram — the Splink-style diagnostic view of a
    * scored pair population: likelihood ratios binned by POWERS OF TWO
    * (bin e covers [2ᵉ, 2ᵉ⁺¹); Splink's "match weight" axis is log₂(lr),
    * so bin e IS match weight ⌊w⌋ = e). Binning is a when-chain of exact
    * comparisons against 2ᵉ literals — every power of two is an exact
    * double, so no log() enters the plan (a log-based floor would
    * inherit libm rounding at bin boundaries) and the histogram is
    * hash-reproducible. Sentinel bins catch the tails: minExp−1 = below
    * 2^minExp (including lr = 0), maxExp = at or above 2^maxExp. Every
    * bin emits a row (zero counts included — a gap in the weight
    * distribution is exactly what the chart must show). One
    * map-side-combinable groupBy over the scored frame; the bin chain is
    * a codegen projection. Output: (bin_exp, lo, hi, n_pairs) with
    * NULL lo/hi on the open tails. */
  def matchWeightHistogram(scored: DataFrame, lrCol: String = "lr",
      minExp: Int = -10, maxExp: Int = 10): DataFrame = {
    require(minExp < maxExp, s"need minExp < maxExp, got $minExp/$maxExp")
    require(minExp >= -1000 && maxExp <= 1000, "exponents must be sane")
    def p2(e: Int): Double = math.pow(2.0, e) // exact for |e| <= 1022
    // descending chain: first matching lower bound wins
    val bin = (minExp until maxExp).reverse
      .foldLeft(when(col(lrCol) >= p2(maxExp), lit(maxExp.toLong))) {
        (acc, e) => acc.when(col(lrCol) >= p2(e), lit(e.toLong))
      }
      .otherwise(lit((minExp - 1).toLong))
    val counts = scored.where(col(lrCol).isNotNull)
      .select(bin.as("bin_exp"))
      .groupBy(col("bin_exp")).agg(count(lit(1)).as("n_pairs"))
    val allBins = scored.sparkSession
      .range(minExp - 1L, maxExp + 1L).select(col("id").as("bin_exp"))
    allBins.join(counts, Seq("bin_exp"), "left")
      .select(col("bin_exp"),
        when(col("bin_exp") >= minExp,
          pow(lit(2.0), col("bin_exp").cast("double"))).as("lo"),
        when(col("bin_exp") < maxExp,
          pow(lit(2.0), (col("bin_exp") + 1).cast("double"))).as("hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** Run-over-run score-distribution drift: two [[matchWeightHistogram]]
    * frames (built with the SAME exponent range) joined bin-by-bin, with
    * counts, exact shares (count / total, ONE division each), and the
    * per-bin share ratio (one more division; NULL when either bin is
    * empty — no evidence, not infinity) — the monitoring table a PSI/KL
    * alarm reads between yesterday's and today's linkage run. A shifted
    * ratio on the high-lr bins means the match population moved (new
    * corpus slice, degraded comparator, changed blocking); the log-free
    * power-of-two bins make the comparison bit-stable across engines and
    * runs. Model-sized throughout (one row per bin); the distributed
    * work already happened inside the two histograms. */
  def histogramDrift(histA: DataFrame, histB: DataFrame): DataFrame = {
    val a = histA.select(col("bin_exp"), col("lo"), col("hi"),
      col("n_pairs").as("n_a"))
    val b = histB.select(col("bin_exp"), col("n_pairs").as("n_b"))
    val ta = histA.agg(sum(col("n_pairs")).as("tot_a"))
    val tb = histB.agg(sum(col("n_pairs")).as("tot_b"))
    val shareA = col("n_a").cast("double") / col("tot_a").cast("double")
    val shareB = col("n_b").cast("double") / col("tot_b").cast("double")
    a.join(b, Seq("bin_exp"))
      .crossJoin(ta).crossJoin(tb)
      .select(col("bin_exp"), col("lo"), col("hi"), col("n_a"), col("n_b"),
        shareA.as("share_a"), shareB.as("share_b"),
        when(col("n_a") > 0 && col("n_b") > 0, shareA / shareB)
          .as("share_ratio"))
  }

  /** The Fellegi-Sunter decision rule (the other half of the 1969 paper):
    * band the likelihood ratio into `link` (lr ≥ upperLr) / `possible`
    * (the clerical-review band) / `non_link` (lr ≤ lowerLr). In production
    * the thresholds are chosen from target false-match/false-non-match
    * rates; here they are caller-supplied. Pure projection. */
  def classify(scored: DataFrame, upperLr: Double, lowerLr: Double,
      lrCol: String = "lr"): DataFrame = {
    require(lowerLr <= upperLr,
      s"lowerLr ($lowerLr) must be <= upperLr ($upperLr)")
    scored.withColumn("decision",
      when(col(lrCol) >= upperLr, lit("link"))
        .when(col(lrCol) <= lowerLr, lit("non_link"))
        .otherwise(lit("possible")))
  }

  /** Active-learning pair selection (uncertainty sampling): the k scored
    * pairs whose match posterior sits closest to 1/2 — the pairs a human
    * label shrinks the model fastest on, i.e. the review queue an
    * interactive ER trainer asks about next. Appends the selection
    * `margin` = |posterior − 1/2|; ties break on the id columns, so the
    * sample is deterministic.
    *
    * Scale shape: orderBy + limit plans as TakeOrderedAndProject — a
    * per-partition bounded top-k followed by a k-row driver merge. No
    * global sort, no single-partition window, no full-result shuffle. */
  def uncertaintySample(scored: DataFrame, k: Int,
      posteriorCol: String = "posterior",
      tieCols: Seq[String] = Seq("ka", "kb")): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    scored
      .withColumn("margin", abs(col(posteriorCol) - lit(0.5)))
      .orderBy(col("margin").asc +: tieCols.map(col(_).asc): _*)
      .limit(k)
  }

  /** Deterministic random-pair sampler for [[estimateU]] (the shape of
    * Splink's `estimate_u_using_random_sampling`): hash-sample records
    * at `rate` by the corpus-wide sha256 fraction ([[Sampling]]'s
    * partition-independent, replayable family — adding data later never
    * changes which existing records are sampled), then form all C(s,2)
    * unordered pairs of the sample. Every input column comes back
    * twice, suffixed `_a`/`_b`, with `idCol_a < idCol_b`.
    *
    * Quadratic IN THE SAMPLE by construction — that is the point: size
    * `rate` so the sample is model-sized regardless of corpus size
    * (10^12 records × rate 10⁻⁸ → 10⁴ records → ≤ 10⁸ pairs, constant
    * as the corpus grows). The self-join is a cartesian over two
    * sample-sized scans; the corpus is touched exactly once, by the
    * sampling filter, which is a pure projection predicate. */
  def randomPairs(records: DataFrame, idCol: String, rate: Double,
      seed: Long = 0L): DataFrame = {
    require(rate > 0.0 && rate <= 1.0, s"rate must be in (0,1], got $rate")
    require(records.columns.contains(idCol), s"no column $idCol")
    val s = records.where(Sampling.hashFraction(col(idCol), seed) < rate)
    val a = s.toDF(s.columns.map(_ + "_a").toIndexedSeq: _*)
    val b = s.toDF(s.columns.map(_ + "_b").toIndexedSeq: _*)
    a.crossJoin(b).where(col(idCol + "_a") < col(idCol + "_b"))
  }

  /** Shared aggregate of [[estimateU]]/[[estimateUFrame]]: per gamma
    * column, (non-null observations, agreement count, agreement rate).
    * ONE map-side-combinable pass collapsing the pair frame to a single
    * row — the collect is 2k values, model-sized. Each u_j is an
    * integer count over an integer count with ONE final division, so
    * the double is bit-reproducible by any engine replaying the same
    * counts (the driver oracle does). */
  private def uCounts(pairs: DataFrame,
      gammaCols: Seq[String]): IndexedSeq[(String, Long, Long, Double)] = {
    require(gammaCols.nonEmpty, "need at least one gamma column")
    val aggs = gammaCols.flatMap { g =>
      Seq(count(when(col(g).isNotNull, lit(1))).as(s"__n_$g"),
        sum(when(col(g) === 1, lit(1L)).otherwise(lit(0L))).as(s"__a_$g"))
    }
    val r = pairs.agg(aggs.head, aggs.tail: _*).collect()(0)
    gammaCols.indices.map { j =>
      val n = r.getAs[Number](2 * j).longValue()
      require(n > 0, s"no non-null observations for ${gammaCols(j)} — " +
        "raise the sampling rate")
      val a = if (r.isNullAt(2 * j + 1)) 0L
        else r.getAs[Number](2 * j + 1).longValue()
      (gammaCols(j), n, a, a.toDouble / n.toDouble)
    }.toIndexedSeq
  }

  /** Direct u-probability estimation (Splink's
    * `estimate_u_using_random_sampling`): over effectively-random record
    * pairs the match prevalence is ≈ |matches|/C(n,2) → 0 at corpus
    * scale, so the per-field agreement rate among sampled pairs IS
    * u_j = P(γ_j = 1 | non-match) to within sampling error — no EM, no
    * labels, no blocking bias (blocked pairs over-represent agreement,
    * which is exactly what u must not measure). Complements [[fit]]:
    * estimate u here cheaply on [[randomPairs]] output, then let EM (or
    * labeled data) pin down m and λ on the blocked pairs. NULL gammas
    * are excluded per-column (missing comparisons carry no evidence),
    * matching [[score]]'s null treatment. */
  def estimateU(pairs: DataFrame, gammaCols: Seq[String]): IndexedSeq[Double] =
    uCounts(pairs, gammaCols).map(_._4)

  /** [[estimateU]] rendered as one row per field
    * (field, n_obs, n_agree, u) — the report/persistence surface the
    * driver gate hash-checks. */
  def estimateUFrame(spark: org.apache.spark.sql.SparkSession,
      pairs: DataFrame, gammaCols: Seq[String]): DataFrame = {
    import spark.implicits._
    uCounts(pairs, gammaCols).toDF("field", "n_obs", "n_agree", "u")
  }

  /** Direct m-probability estimation (Splink's
    * `estimate_m_from_pairwise_labels`): among pairs LABELED as true
    * matches — from a clerical review queue, a gold set, or a
    * high-precision deterministic rule — the per-field agreement rate IS
    * m_j = P(γ_j = 1 | match). The dual of [[estimateU]] (u from
    * unlabeled random pairs ≈ all non-matches); with
    * [[estimateLambdaFrame]] the three estimators yield a complete
    * EM-free supervised [[Model]](λ, m, u) — the production path when
    * labels exist, with [[fit]]'s EM reserved for the unlabeled case.
    * Same ONE map-side-combinable pass and integer-count ratios as
    * [[estimateU]] (one final division each), so the doubles are
    * bit-reproducible by a replaying oracle. NULL gammas are excluded
    * per-column, matching [[score]]'s null treatment. */
  def estimateM(labeledMatches: DataFrame,
      gammaCols: Seq[String]): IndexedSeq[Double] =
    uCounts(labeledMatches, gammaCols).map(_._4)

  /** [[estimateM]] rendered as one row per field
    * (field, n_obs, n_agree, m) — the report/persistence surface. */
  def estimateMFrame(spark: org.apache.spark.sql.SparkSession,
      labeledMatches: DataFrame, gammaCols: Seq[String]): DataFrame = {
    import spark.implicits._
    uCounts(labeledMatches, gammaCols).toDF("field", "n_obs", "n_agree", "m")
  }

  /** Prior (λ) estimation from a deterministic rule (the shape of
    * Splink's `estimate_probability_two_random_records_match`): a
    * high-precision rule key links n_rule_pairs = Σ_g C(|g|, 2) pairs
    * (records sharing a non-null key value); if the rule catches
    * `recall` of all true matches, λ ≈ n_rule_pairs / (recall · C(n,2)).
    * EM can then start from (or hold fixed) an evidence-based prior
    * instead of the symmetric 0.5 — on corpora where matches are
    * ~10⁻⁹ of pairs, the difference decides whether EM converges to the
    * match/non-match split at all.
    *
    * The rule pair count comes from ONE map-side-combinable groupBy over
    * the key — the pairs are COUNTED (decimal-exact, overflow-safe past
    * 3e9-record groups), never materialized, so the estimate costs two
    * aggregate passes regardless of how hot the rule key is. Output is
    * one row (n_records, n_rule_pairs, recall, lambda_est) with the
    * division-order pinned (count / (recall · (n·(n−1)/2))) so a
    * replaying oracle reproduces the double bit-for-bit. */
  def estimateLambdaFrame(spark: org.apache.spark.sql.SparkSession,
      records: DataFrame, ruleKey: Column, recall: Double): DataFrame = {
    require(recall > 0.0 && recall <= 1.0,
      s"recall must be in (0,1], got $recall")
    val dec = "decimal(38,0)"
    val n = records.count()
    require(n >= 2, s"need at least 2 records, got $n")
    val np = records.select(ruleKey.as("__k")).where(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__g"))
      .agg(coalesce(sum(col("__g").cast(dec) * (col("__g").cast(dec) - 1)),
        lit(0).cast(dec)).as("__p2"))
      .select((col("__p2") / 2).cast("long"))
      .collect()(0).getLong(0)
    val lambda = np.toDouble /
      (recall * (n.toDouble * (n - 1).toDouble / 2.0))
    import spark.implicits._
    Seq((n, np, recall, lambda))
      .toDF("n_records", "n_rule_pairs", "recall", "lambda_est")
  }
}
