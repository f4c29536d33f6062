package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pre-linkage data profiling (the Splink `profile_columns` step): before
  * choosing comparison fields and blocking keys, measure each candidate
  * column's completeness, cardinality, and skew. The reading:
  *
  *  - high null rate → the field needs missing-data scoring
  *    ([[FellegiSunter]] gamma = -1), or isn't worth a comparison;
  *  - cardinality near n_rows → great blocking key, useless m/u field;
  *  - a dominant top value (top_count ≫ n_rows / n_distinct) → a hot
  *    block that the cap/salt tiers will hit, and a term-frequency
  *    adjustment candidate for scoring.
  *
  * Scale shape: one map-side-combinable (value → count) groupBy per
  * column, then a 1-row fold over that distinct-value table — the
  * distinct count is the TABLE'S row count, so no countDistinct
  * expansion; the top value is a min(struct(-count, value)) fold (ties →
  * smallest value, partitioning-independent). `approxDistinct` swaps the
  * exact distinct-value table for approx_count_distinct when even the
  * distinct table is too large to fold (corpus-scale free-text columns).
  */
object Profiling {

  /** One row per profiled column:
    * (col_name, n_rows, n_null, n_distinct, top_value, top_count).
    * Values are profiled AS STRINGS (cast) so mixed-type frames profile
    * uniformly; top_value is NULL iff the column is entirely NULL. */
  def profileColumns(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    if (approxDistinct) {
      // corpus-scale path: no distinct-value table at all — one combined
      // fold per column over the raw frame (HLL++ sketch for cardinality;
      // top_value is not derivable without the value table and is NULL).
      return cols.map { c =>
        df.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_null"),
          approx_count_distinct(col(c).cast("string")).as("n_distinct"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), lit(null).cast("string").as("top_value"),
            lit(0L).as("top_count"))
      }.reduce(_ unionAll _)
    }
    cols.map { c =>
      val vc = df.groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__cnt"))
      val top = min(when(col("__v").isNotNull,
        struct((-col("__cnt")).as("nc"), col("__v").as("v"))))
      vc.agg(
        sum(col("__cnt")).as("n_rows"),
        coalesce(sum(when(col("__v").isNull, col("__cnt"))), lit(0L))
          .as("n_null"),
        count(when(col("__v").isNotNull, lit(1))).as("n_distinct"),
        top.getField("v").as("top_value"),
        (-top.getField("nc")).as("top_count"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("top_value"),
          coalesce(col("top_count"), lit(0L)).as("top_count"))
    }.reduce(_ unionAll _)
  }

  /** Top-k most frequent non-null values per column (ties → smallest
    * value): (col_name, value, cnt, rank). The rank window partitions by
    * col_name over the DISTINCT-value table, so InferWindowGroupLimit
    * bounds a high-cardinality column to k rows per map task before the
    * exchange. */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 5): DataFrame = {
    require(cols.nonEmpty && k > 0)
    val counted = cols.map { c =>
      df.where(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(c).as("col_name"), col("value"), col("cnt"))
    }.reduce(_ unionAll _)
    val w = Window.partitionBy("col_name")
      .orderBy(col("cnt").desc, col("value").asc)
    counted.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Functional-dependency violation audit — the standardization QA step:
    * a dependency lhs → rhs that SHOULD hold (postcode → city, entity_id
    * → canonical name after survivorship, brand → manufacturer) is
    * violated wherever one lhs value maps to >1 distinct rhs value, and
    * each violating group is either a data error or an un-merged
    * duplicate. One row per audited FD:
    * (lhs_col, rhs_col, n_groups, n_violating, violation_rate,
    * n_rows_violating, example_lhs) — example_lhs is the SMALLEST
    * violating lhs value (pinned, a deterministic reviewer entry point),
    * NULL when the FD holds. Null semantics: rows with a null lhs are
    * out of scope (no group), null rhs values don't contradict (missing
    * ≠ different) — both pinned.
    *
    * Scale shape per FD: one (lhs, rhs) map-side-combinable count, one
    * (lhs) fold over that distinct-pair table, one 1-row fold — no
    * countDistinct expansion, no window; rates are one double division
    * over exact longs. */
  def fdViolations(df: DataFrame, fds: Seq[(String, String)]): DataFrame = {
    require(fds.nonEmpty, "need at least one dependency to audit")
    fds.map { case (l, r) =>
      val pairs = df.where(col(l).isNotNull && col(r).isNotNull)
        .groupBy(col(l).cast("string").as("__l"),
          col(r).cast("string").as("__r"))
        .agg(count(lit(1)).as("__n"))
      val per = pairs.groupBy(col("__l"))
        .agg(count(lit(1)).as("__nr"), sum(col("__n")).as("__rows"))
      per.agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("__nr") > 1, lit(1L))), lit(0L))
          .as("n_violating"),
        coalesce(sum(when(col("__nr") > 1, col("__rows"))), lit(0L))
          .as("n_rows_violating"),
        min(when(col("__nr") > 1, col("__l"))).as("example_lhs"))
        .select(lit(l).as("lhs_col"), lit(r).as("rhs_col"),
          col("n_groups"), col("n_violating"),
          when(col("n_groups") > 0,
            col("n_violating").cast("double") /
              col("n_groups").cast("double")).as("violation_rate"),
          col("n_rows_violating"), col("example_lhs"))
    }.reduce(_ unionAll _)
  }

  /** Instance-based schema matching (the Rahm-Bernstein "instance-level
    * matcher"): BEFORE two sources can be linked, someone must decide
    * which column of A compares against which column of B — and value
    * overlap answers it from the data when names/types don't. For every
    * (colA, colB) pair with at least one shared value:
    * (col_a, col_b, n_a, n_b, n_common, jaccard, containment_a,
    * containment_b) over the columns' DISTINCT non-null string-cast value
    * sets — high jaccard ⇒ same domain (a join/blocking key candidate);
    * high containment_a with low jaccard ⇒ A's column is a subset code
    * list of B's. Pairs with zero overlap are omitted (the candidate
    * matrix stays sparse; absent = disjoint).
    *
    * Scale shape: each side is one distinct per column (map-side
    * combinable), the cross-side equi-join is on the VALUE (the only
    * shuffle; a value shared by every column still fans out to at most
    * |colsA|·|colsB| rows), and the overlap fold is one groupBy over
    * column-name pairs — model-sized output by construction. */
  def columnValueOverlap(dfA: DataFrame, colsA: Seq[String],
      dfB: DataFrame, colsB: Seq[String]): DataFrame = {
    require(colsA.nonEmpty && colsB.nonEmpty, "need columns on both sides")
    def side(df: DataFrame, cols: Seq[String], name: String): DataFrame =
      cols.map { c =>
        df.where(col(c).isNotNull)
          .select(lit(c).as(name), col(c).cast("string").as("__v"))
          .distinct()
      }.reduce(_ unionAll _)
    val a = side(dfA, colsA, "col_a")
    val b = side(dfB, colsB, "col_b")
    val sizeA = a.groupBy(col("col_a")).agg(count(lit(1)).as("n_a"))
    val sizeB = b.groupBy(col("col_b")).agg(count(lit(1)).as("n_b"))
    a.join(b, "__v")
      .groupBy(col("col_a"), col("col_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizeA, "col_a")
      .join(sizeB, "col_b")
      .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"),
        (col("n_common").cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (col("n_common").cast("double") / col("n_b").cast("double"))
          .as("containment_b"))
  }

  // ---------------------------------------------------------------------
  // Engine-pinned HyperLogLog (Flajolet-Fuchs-Gandouet-Meunier 2007) —
  // the 100 TB answer to "how many distinct blocking keys does this
  // column have": [[profileColumns]]'s exact path shuffles a
  // distinct-value table (corpus-scale for free text), and Spark's
  // approx_count_distinct is an opaque HLL++ whose registers another
  // engine cannot reproduce. This one is pinned to sha256 double-hashing
  // (the house CLK/PPRL technique), so an independent engine rebuilds
  // the register table AND the raw estimate bit-for-bit — and the
  // register table itself is the persistable, mergeable artifact
  // (profile per day/partition, [[hllMergeRegisters]] later; merge is a
  // max-fold, so it never re-reads data).
  //
  // Hash: h = sha256(utf8(value)); h1 = first 8 hex digits as u32,
  // h2 = next 8 (independent words of the digest). bucket = h1 mod 2^p;
  // rho = leading-zero count of h2 in 32 bits + 1 = 33 - bitlength(h2)
  // (h2 = 0 → 33). Register = max rho per bucket — duplicate values hash
  // identically, so registers are dedup-invariant by construction.
  //
  // Determinism discipline: the raw estimate keeps ALL floating math in
  // exactly-representable territory — Σ 2^-rho is accumulated as the
  // INTEGER Σ 2^(33-rho) (each term ≤ 2^32, ≤ 2^p terms, fits a long
  // exactly) and scaled by 2^-33 in one exact power-of-two division, so
  // summation order cannot matter; alpha_m is one pinned literal. The
  // ln()-based small/large-range corrections are libm-dependent across
  // engines, so [[hllRawEstimate]] (hash-gate-faced) emits the raw
  // estimate plus a `correction` FLAG, and [[hllEstimate]] (spec-pinned
  // in sbt, production-faced) applies them.
  // ---------------------------------------------------------------------

  private def hllScale = 8589934592L // 2^33

  /** HLL register table for each column: (col_name, bucket, max_rho),
    * ≤ 2^p rows per column (absent buckets mean rho 0). One map-side-
    * combinable groupBy per column over the raw frame — no distinct-value
    * table, no countDistinct expansion; the only shuffle is 2^p rows. */
  def hllRegisters(df: DataFrame, cols: Seq[String], p: Int = 12): DataFrame = {
    require(cols.nonEmpty, "need at least one column to sketch")
    require(p >= 4 && p <= 18, s"p must be in [4,18], got $p")
    val m = 1 << p
    cols.map { c =>
      val h = sha2(col(c).cast("string"), 256)
      df.where(col(c).isNotNull)
        .select(
          (conv(substring(h, 1, 8), 16, 10).cast("long") % m).as("bucket"),
          (lit(33) - length(ltrim(bin(
            conv(substring(h, 9, 8), 16, 10).cast("long")), "0"))).as("rho"))
        .groupBy(col("bucket"))
        .agg(max(col("rho")).as("max_rho"))
        .select(lit(c).as("col_name"), col("bucket"), col("max_rho"))
    }.reduce(_ unionAll _)
  }

  /** Merge two register tables (same p): per-(col, bucket) max — the
    * sketch-union property that makes per-partition/per-day profiling
    * additive without re-reading data. */
  def hllMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy(col("col_name"), col("bucket"))
      .agg(max(col("max_rho")).as("max_rho"))

  /** alpha_m of the 2007 paper for m = 2^p >= 128 (p >= 7 — the only
    * sizes this module admits for estimation). */
  private def alphaM(m: Int): Double = 0.7213 / (1.0 + 1.079 / m)

  /** Engine-exact estimate face: per column
    * (col_name, m, n_seen, v_zero, total_scaled, raw_estimate,
    * correction) where total_scaled = Σ_buckets 2^(33 - max_rho) over all
    * m registers (absent → rho 0 → 2^33) — an exact long; raw_estimate =
    * alpha_m · m² / (total_scaled · 2^-33); and correction ∈
    * {linear, large, none} says which 2007 correction [[hllEstimate]]
    * would apply (raw ≤ 2.5m with empty registers → linear counting;
    * raw > 2^32/30 → large-range). Every double here is exact or a
    * single pinned IEEE expression — safe for cross-engine hash gates. */
  def hllRawEstimate(regs: DataFrame, p: Int): DataFrame =
    rawAgg(regs, Seq("col_name"), p)

  /** The raw-estimate fold over any grouping (single columns, or
    * (col_a, col_b) merged pairs): exact integers + the pinned IEEE raw
    * expression + the correction flag. */
  private def rawAgg(regs: DataFrame, gcols: Seq[String], p: Int): DataFrame = {
    require(p >= 7 && p <= 18, s"p must be in [7,18] for estimation, got $p")
    val m = 1 << p
    val alpha = alphaM(m)
    val largeBar = 4294967296.0 / 30.0
    regs.groupBy(gcols.map(col): _*)
      .agg(count(lit(1)).as("n_seen"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 33 - max_rho)")).as("__sumw"))
      .select(gcols.map(col) ++ Seq(lit(m).as("m"), col("n_seen"),
        (lit(m.toLong) - col("n_seen")).as("v_zero"),
        ((lit(m.toLong) - col("n_seen")) * lit(hllScale) + col("__sumw"))
          .as("total_scaled")): _*)
      .withColumn("raw_estimate",
        lit(alpha) * lit(m.toDouble * m) /
          (col("total_scaled").cast("double") / lit(hllScale.toDouble)))
      .withColumn("correction",
        when(col("raw_estimate") <= lit(2.5 * m) && col("v_zero") > 0,
          lit("linear"))
          .when(col("raw_estimate") > lit(largeBar), lit("large"))
          .otherwise(lit("none")))
  }

  /** The 2007 corrected `estimate` column over a [[rawAgg]] output —
    * ln-based, libm-dependent, never hash-gate-faced. */
  private def withCorrected(raw: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    raw.withColumn("estimate",
      when(col("correction") === "linear",
        lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
        .when(col("correction") === "large",
          -lit(4294967296.0) *
            log(lit(1.0) - col("raw_estimate") / lit(4294967296.0)))
        .otherwise(col("raw_estimate")))
  }

  /** Bucket-wise-max merged registers for every (col_a, col_b) pair —
    * the union sketches. Model-sized: registers × |otherSide| columns. */
  private def mergedPairRegisters(regsA: DataFrame,
      regsB: DataFrame): DataFrame = {
    val colsA = regsA.select(col("col_name").as("col_a")).distinct()
    val colsB = regsB.select(col("col_name").as("col_b")).distinct()
    val a = regsA.select(col("col_name").as("col_a"), col("bucket"),
      col("max_rho"))
    val b = regsB.select(col("col_name").as("col_b"), col("bucket"),
      col("max_rho"))
    a.crossJoin(colsB).unionByName(b.crossJoin(colsA))
      .groupBy(col("col_a"), col("col_b"), col("bucket"))
      .agg(max(col("max_rho")).as("max_rho"))
  }

  /** Engine-exact overlap face (hash-gate-safe): per (col_a, col_b), the
    * EXACT integer register aggregates of both sides and of the
    * bucket-wise-max union sketch — n_seen and the Σ 2^(33−rho) scaling,
    * nothing floating. This is the artifact another engine must
    * reproduce bit-for-bit; the estimates derived from it live in
    * [[hllOverlapEstimate]] (ln-corrected, spec-pinned — RAW estimates
    * are biased ≈ alpha·m at small n, so inclusion-exclusion over them
    * is meaningless; the corrected form is the only honest one). */
  def hllOverlapRaw(regsA: DataFrame, regsB: DataFrame, p: Int): DataFrame = {
    require(p >= 7 && p <= 18, s"p must be in [7,18], got $p")
    val u = rawAgg(mergedPairRegisters(regsA, regsB), Seq("col_a", "col_b"), p)
      .select(col("col_a"), col("col_b"),
        col("n_seen").as("n_seen_union"),
        col("total_scaled").as("total_scaled_union"))
    u.join(rawAgg(regsA, Seq("col_name"), p)
        .select(col("col_name").as("col_a"), col("n_seen").as("n_seen_a"),
          col("total_scaled").as("total_scaled_a")), "col_a")
      .join(rawAgg(regsB, Seq("col_name"), p)
        .select(col("col_name").as("col_b"), col("n_seen").as("n_seen_b"),
          col("total_scaled").as("total_scaled_b")), "col_b")
      .select(col("col_a"), col("col_b"), col("n_seen_a"),
        col("total_scaled_a"), col("n_seen_b"), col("total_scaled_b"),
        col("n_seen_union"), col("total_scaled_union"))
  }

  /** HLL OVERLAP estimation — [[columnValueOverlap]]'s 100 TB shape:
    * exact schema matching joins the distinct value sets (a corpus-scale
    * shuffle per column pair); this face needs only the ≤ 2^p-row
    * register tables. Per (col_a, col_b): CORRECTED cardinality
    * estimates of A, B and the merged-union sketch, inclusion-exclusion
    * `inter_est` = est_a + est_b − est_union (reported raw — it can go
    * slightly negative on near-disjoint sets), and `jaccard_est` =
    * max(0, inter) / est_union. ln-corrected (the raw estimate is biased
    * ≈ alpha·m at small n, which would make inclusion-exclusion
    * meaningless), hence spec-pinned in sbt, not hash-gate-faced — gate
    * on [[hllOverlapRaw]]'s integers instead. Accuracy is the standard
    * 1.04/√m per term, compounded across the three estimates. */
  def hllOverlapEstimate(regsA: DataFrame, regsB: DataFrame,
      p: Int): DataFrame = {
    require(p >= 7 && p <= 18, s"p must be in [7,18], got $p")
    def est(raw: DataFrame) = withCorrected(raw, p)
    val u = est(rawAgg(mergedPairRegisters(regsA, regsB),
      Seq("col_a", "col_b"), p))
      .select(col("col_a"), col("col_b"), col("estimate").as("est_union"))
    u.join(est(rawAgg(regsA, Seq("col_name"), p))
        .select(col("col_name").as("col_a"), col("estimate").as("est_a")),
        "col_a")
      .join(est(rawAgg(regsB, Seq("col_name"), p))
        .select(col("col_name").as("col_b"), col("estimate").as("est_b")),
        "col_b")
      .select(col("col_a"), col("col_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("inter_est"))
      .withColumn("jaccard_est",
        when(col("est_union") > 0,
          greatest(col("inter_est"), lit(0.0)) / col("est_union")))
  }

  /** Production estimate: [[hllRawEstimate]] plus the corrected
    * `estimate` — linear counting m·ln(m/V) in the small range,
    * −2^32·ln(1 − E/2^32) in the large range, raw otherwise. ln() is
    * libm-dependent across engines, so this face is spec-pinned in sbt
    * (vs exact distinct counts), never hash-gate-faced. */
  def hllEstimate(regs: DataFrame, p: Int): DataFrame =
    withCorrected(hllRawEstimate(regs, p), p)

  // ------------------------------------------------------------ KMV sketch

  /** 2^60 — the KMV hash-space size. Hashes are the first 15 hex chars of
    * the house sha256 (60 bits), so they are EXACT nonnegative longs on
    * both engines (no unsigned-64 wraparound to pin). */
  private def kmvSpace: Double = 1152921504606846976.0d // 2^60, dyadic-exact

  private def kmvHash(c: Column): Column =
    conv(substring(sha2(c.cast("string"), 256), 1, 15), 16, 10).cast("long")

  /** KMV (k-minimum-values) distinct-value sketch — Bar-Yossef et al.
    * RANDOM'02; Beyer et al. SIGMOD'07: per column, the k SMALLEST
    * distinct 60-bit value hashes with their 1-based rank,
    * (col_name, rnk, hv). The third sketch face next to exact
    * [[columnValueOverlap]] and [[hllRegisters]]: unlike HLL it supports
    * DIRECT intersection estimation ([[kmvOverlap]] — the union sketch's
    * members are checked against both sides, no inclusion-exclusion over
    * corrected estimates), and every statistic it yields is an exact
    * integer or a single pinned IEEE division — fully hash-gate-safe,
    * nothing ln-corrected.
    *
    * Mergeable ([[kmvMerge]]: k smallest of the union — associative,
    * dedup-invariant) and persistable (≤ k rows per column, write the
    * frame anywhere). Estimation: with n_seen < k the sketch IS the
    * distinct value set (exact regime); at n_seen = k the kth-smallest
    * hash U_k estimates the cardinality as (k−1)·2^60/U_k (the standard
    * unbiased KMV estimator), relative error ~1/√(k−2).
    *
    * 100 TB shape: one map-side-combinable distinct over (col, hash),
    * then ONE rank-k window per column whose `rn <= k` filter Spark's
    * InferWindowGroupLimit pushes below the exchange — every map task
    * forwards at most k rows per column, so the reducer ranks
    * tasks·k rows, never the corpus's distinct values. NULLs carry no
    * identity and are excluded (profileColumns counts them). */
  def kmvSketch(df: DataFrame, cols: Seq[String], k: Int = 256): DataFrame = {
    require(cols.nonEmpty, "need at least one column to sketch")
    require(k >= 16 && k <= 65536, s"k must be in [16, 65536], got $k")
    val hashes = cols.map { c =>
      df.where(col(c).isNotNull)
        .select(lit(c).as("col_name"), kmvHash(col(c)).as("hv"))
    }.reduce(_ unionAll _).distinct()
    rankK(hashes, k)
  }

  /** Rank the k smallest distinct hashes per column — shared by sketch
    * construction and merge. Input must already be distinct. */
  private def rankK(distinctHashes: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_name")).orderBy(col("hv").asc)
    distinctHashes
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("col_name"), col("rnk").cast("long").as("rnk"), col("hv"))
  }

  /** Merge two KMV sketch frames: per column, the k smallest of the
    * union (columns present in only one side pass through). Associative
    * and dedup-invariant — merge order can never change the result, so
    * per-shard sketches built independently (per day, per source, per
    * batch) combine into the corpus sketch without re-reading anything. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    rankK(a.select(col("col_name"), col("hv"))
      .unionAll(b.select(col("col_name"), col("hv"))).distinct(), k)

  /** Cardinality estimate per column — every output either an exact
    * integer or ONE pinned IEEE division over exact operands
    * (hash-gate-safe): n_seen, the kth-smallest hash u_k (= max over the
    * sketch; NULL never appears — n_seen >= 1 rows exist per listed
    * column), `exact` = whether the sketch holds the whole distinct set
    * (n_seen < k), and est_distinct = n_seen when exact else
    * (k−1)·2^60/u_k. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_seen"), max(col("hv")).as("u_k"))
      .select(col("col_name"), col("n_seen"), col("u_k"),
        (col("n_seen") < k).as("exact"),
        when(col("n_seen") < k, col("n_seen").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
            col("u_k").cast("double")).as("est_distinct"))

  /** KMV overlap / sketch schema matching — the DIRECT-intersection
    * alternative to [[hllOverlapEstimate]]: for every (col_a, col_b)
    * pair, build the union sketch K = k smallest distinct hashes of
    * A ∪ B (bit-exactly [[kmvMerge]] of the two sketches), then COUNT
    * which members of K appear in both input sketches — n_common/|K| is
    * the standard KMV Jaccard estimator (Beyer et al.), and
    * jaccard_est · est_union estimates the intersection size without
    * inclusion-exclusion over corrected estimates (so it cannot go
    * negative, unlike HLL's inter_est). Outputs per pair: n_seen_a/b,
    * n_union_seen, u_k_union, n_common (all exact integers) +
    * jaccard_est and inter_est (each one pinned IEEE expression) —
    * fully hash-gate-safe.
    *
    * Shapes: sketches fan out |otherSide| times (model-sized — k rows,
    * not data), one groupBy merge per pair frame, one rank window, one
    * fold; the corpus is never touched after the sketch build. */
  def kmvOverlap(skA: DataFrame, skB: DataFrame, k: Int): DataFrame = {
    val colsA = skA.select(col("col_name").as("col_a")).distinct()
    val colsB = skB.select(col("col_name").as("col_b")).distinct()
    val a = skA.select(col("col_name").as("col_a"), col("hv"),
      lit(1L).as("in_a"), lit(0L).as("in_b"))
    val b = skB.select(col("col_name").as("col_b"), col("hv"),
      lit(0L).as("in_a"), lit(1L).as("in_b"))
    val u = a.crossJoin(colsB).unionByName(b.crossJoin(colsA))
      .groupBy(col("col_a"), col("col_b"), col("hv"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("col_a"), col("col_b")).orderBy(col("hv").asc)
    val ranked = u.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
    val sizes = ranked.groupBy(col("col_a"), col("col_b"))
      .agg(count(lit(1)).as("n_union_seen"), max(col("hv")).as("u_k_union"),
        sum(col("in_a") * col("in_b")).as("n_common"))
    val nA = skA.groupBy(col("col_name").as("col_a"))
      .agg(count(lit(1)).as("n_seen_a"))
    val nB = skB.groupBy(col("col_name").as("col_b"))
      .agg(count(lit(1)).as("n_seen_b"))
    val jac = col("n_common").cast("double") /
      col("n_union_seen").cast("double")
    val estUnion = when(col("n_union_seen") < k,
        col("n_union_seen").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
        col("u_k_union").cast("double"))
    sizes.join(nA, "col_a").join(nB, "col_b")
      .select(col("col_a"), col("col_b"), col("n_seen_a"), col("n_seen_b"),
        col("n_union_seen"), col("u_k_union"), col("n_common"),
        jac.as("jaccard_est"),
        (jac * estUnion).as("inter_est"))
  }
}
