package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._

/** Gates of the corpus and text operators: cleaning, normalization,
  * quality signals, sampling, splits and packing, TF-IDF terms, column
  * profiles with their HLL and KMV sketches, PPRL bit sets, and the
  * end-to-end corpus pipeline. */
private[graft] object CorpusGates {

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

  /** Deterministic split oracle: frac = 32-bit value of the first 8 hex
    * chars of sha256(doc_id ':42') over 2^32; the interval cuts are
    * interpolated from the SAME Scala cumulative sum the operator uses
    * (0.8 + 0.1 in binary64 is 0.9000000000000001, not 0.9 — a hand-typed
    * '0.9' literal would misclassify a row landing in the gap). */
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

  /** The text-standardization gates' input: `(doc_id, raw)`, a string
    * per document mixing composed and decomposed forms (frag(1) is
    * DECOMPOSED, e + U+0301, so NFC must compose it), case, accents,
    * punctuation runs and non-Latin code points. */
  private def accentRaw(s: SparkSession, dir: String): DataFrame = {
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
    s.read.parquet(s"$dir/documents.parquet").select(id, raw.as("raw"))
  }

  /** SQL mirror of [[accentRaw]]: the CTE `f (doc_id, raw)` after `WITH`. */
  private val accentRawSql: String =
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
      |)""".stripMargin

  val all: Seq[Gate] = Seq(
    // Pre-linkage column profiling (the Splink profile_columns step):
    // completeness / cardinality / dominant value per candidate field,
    // from one (value -> count) groupBy per column + a 1-row fold;
    // source is null-poisoned so the null accounting is load-bearing.
    Gate("q_profile_columns", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select(
        col("lang"),
        when(col("source") === "src0", lit(null)).otherwise(col("source"))
          .as("source_n"),
        col("n_chars").cast("string").as("nc"))
      graft.operators.Profiling.profileColumns(d,
        Seq("lang", "source_n", "nc"))
    },
      // Column-profile re-derivation: per column, the (value → count) table,
      // the integer stat fold over it, and the argmax-by-(count desc, value
      // asc) top value.
      {
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
      }),

    // Top-k value frequencies per column (ties -> smallest value);
    // the rank window is bounded map-side by InferWindowGroupLimit.
    Gate("q_top_values", (s, dir) => graft.operators.Profiling.topValues(
      s.read.parquet(s"$dir/documents.parquet"),
      Seq("lang", "source"), k = 4),
      // top-k frequencies: per-column count desc / value asc rank ≤ 4.
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
        |  FROM vc) WHERE rank <= 4""".stripMargin),

    // Instance-based schema matching customer vs supplier: value-set
    // overlap finds the comparable columns from the data alone —
    // nationkeys align at jaccard 1.0, entity keys show containment
    // without domain identity, names stay (near-)disjoint.
    Gate("q_schema_match", (s, dir) => graft.operators.Profiling
      .columnValueOverlap(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"),
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name")),
      // distinct value sets per column both sides, value equi-join,
      // overlap fold — only pairs with n_common >= 1 appear.
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
        |FROM ov o JOIN sa USING (col_a) JOIN sb USING (col_b)""".stripMargin),

    // Schema matching at the 100 TB shape: the same customer-vs-supplier
    // column pairs as q_schema_match, but from HLL REGISTERS only — the
    // gate face is the exact integer aggregates of each side and of the
    // bucket-wise-max union sketch (9 pairs x 6 integers); the
    // ln-corrected inclusion-exclusion estimates over them are
    // spec-pinned (ProfilingSpec) because ln is libm-dependent.
    Gate("q_hll_overlap", (s, dir) => graft.operators.Profiling.hllOverlapRaw(
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"), p = 12),
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name"), p = 12), p = 12),
      // HLL overlap oracle: per-column register CTEs (both tables), a
      // bucket-wise-max merge per column pair, and the exact integer
      // (n_seen, Σ 2^(33−rho)) aggregates of all three sketches.
      {
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
      }),

    // Functional-dependency audit over part: the key FD holds
    // (p_partkey -> p_brand), the two attribute FDs are violated —
    // group counts, rates, violating-row mass and the pinned smallest
    // violating lhs are all hash-checked.
    Gate("q_fd_audit", (s, dir) => graft.operators.Profiling.fdViolations(
      s.read.parquet(s"$dir/part.parquet"),
      Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
        ("p_type", "p_size"))),
      Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
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
    }.mkString("\nUNION ALL\n")),

    // Engine-pinned HyperLogLog register table (sha256 double-hash,
    // bucket = h1 mod 2^12, rho = 33 - bitlen(h2)) over the full-
    // cardinality doc_id column — every register value is hash-checked,
    // so a bucket-assignment or leading-zero-count slip anywhere
    // mismatches. This is the mergeable/persistable sketch artifact;
    // the estimate face is gated separately below.
    Gate("q_hll_registers", (s, dir) => graft.operators.Profiling.hllRegisters(
      s.read.parquet(s"$dir/documents.parquet"), Seq("doc_id"), p = 12),
      // HLL register table rebuilt from scratch: sha256 double-hash,
      // bucket = h1 % 4096, rho = 33 - bitlen(h2) — any slip in bucket
      // assignment or leading-zero counting mismatches a register.
      hllRegSql("documents", "doc_id", "doc_id", 12)),

    // HLL raw-estimate face over four documents columns spanning three
    // cardinality regimes (5 langs / 20 sources / n_docs ids+texts):
    // n_seen, v_zero, the exact integer Sigma 2^(33-rho) scaling, the
    // one pinned IEEE raw-estimate expression, and the correction flag.
    // ln()-corrected estimates are deliberately NOT here (libm differs
    // across engines) — they are spec-pinned in ProfilingSpec.
    Gate("q_hll_profile", (s, dir) => graft.operators.Profiling.hllRawEstimate(
      graft.operators.Profiling.hllRegisters(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "lang", "source", "text"), p = 12), p = 12),
      // Raw-estimate oracle: per column, the exact integer Σ 2^(33−rho)
      // scaling, then the ONE pinned IEEE raw-estimate expression and the
      // correction flag — double literals passed as strings so both engines
      // strtod the same value.
      {
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
      }),

    // KMV sketch over the same four documents columns: the k-minimum-
    // values face next to HLL — k smallest distinct 60-bit sha hashes
    // per column, exact longs end to end (no unsigned wraparound, no
    // ln anywhere). lang/source land in the exact regime (n < k, the
    // sketch IS the value set); doc_id/text exercise the estimator
    // regime. InferWindowGroupLimit sends <= k rows per column out of
    // every map task.
    Gate("q_kmv_sketch", (s, dir) => graft.operators.Profiling.kmvSketch(
      s.read.parquet(s"$dir/documents.parquet"),
      Seq("doc_id", "lang", "source", "text"), k = 64),
      // KMV sketches replayed value-for-value: distinct values → sha256 →
      // exact 60-bit hash → rank window, per column.
      Seq("doc_id", "lang", "source", "text")
        .map(c => kmvSketchSql("documents", c, c, 64))
        .mkString("", "\nUNION ALL\n", "")),

    // KMV merge + estimate: per-table custkey sketches built
    // INDEPENDENTLY over customer and orders, merged (k smallest of the
    // union — the associative dedup-invariant combine), then estimated:
    // n_seen / u_k exact integers, est_distinct = (k-1)*2^60/u_k as ONE
    // pinned IEEE expression ((k-1)*2^60 is exactly representable).
    // The documents sketches ride along so the exact regime (n < k,
    // est = n) is gated too. Oracle rebuilds the merged sketch from the
    // UNION of distinct values — equality IS the KMV merge property.
    Gate("q_kmv_estimate", (s, dir) => {
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
    },
      // merged custkey sketch == sketch of the VALUE UNION (the KMV merge
      // property — the oracle never sees the per-table sketches), plus the
      // documents sketches in both regimes; the estimator is the single
      // pinned (k−1)·2^60/u_k expression.
      {
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
    }),

    // KMV schema matching customer-vs-supplier (the q_schema_match /
    // q_hll_overlap column grid): per pair the union sketch is the k
    // smallest of the two sketches' union, n_common counts union-sketch
    // members present in BOTH sides — DIRECT intersection estimation
    // (no inclusion-exclusion, cannot go negative), every output an
    // exact integer or one pinned IEEE expression, fully hash-graded
    // (unlike HLL whose corrected overlap face is spec-pinned).
    Gate("q_kmv_overlap", (s, dir) => graft.operators.Profiling.kmvOverlap(
      graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/customer.parquet"),
        Seq("c_custkey", "c_nationkey", "c_name"), k = 128),
      graft.operators.Profiling.kmvSketch(
        s.read.parquet(s"$dir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey", "s_name"), k = 128),
      k = 128),
      // per column pair: union sketch = rank window over the deduped
      // union of the two side sketches, n_common = members in BOTH —
      // the direct-intersection estimator, all-integer gate face plus
      // the two pinned IEEE expressions.
      {
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
    }),

    // CLK Bloom-filter PPRL encoding (Schnell-Bachteler-Reiher): 512-bit
    // filter, 4 double-hashed sha256 positions per padded bigram of the
    // normalized name. The oracle re-derives every bit from sha256 hex
    // with exact BIGINT nibble arithmetic.
    Gate("q_clk_bits", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      c.select(col("c_custkey"),
          regexp_replace(lower(col("c_name")), "[^a-z0-9]", "").as("nn"))
        .select(col("c_custkey"), explode(clk_bits(col("nn"), 512, 4)).as("bit"))
    },
      // CLK bits: padded bigrams, one sha256 each, exact BIGINT nibble
      // parse of the digest's two 32-bit words, 4 double-hashed positions.
      s"""WITH $clkBitsCteList
        |SELECT c_custkey, bit FROM cbits""".stripMargin),

    // CLK Dice comparison over nationkey-blocked pairs, computed on the
    // PACKED filters (clk_sig + bloom_dice popcount arithmetic) — the
    // oracle recomputes Dice from the exploded bit sets, so the gate
    // proves packed-bitset popcount ≡ set semantics.
    Gate("q_clk_dice", (s, dir) => {
      def sig(c: Column) = clk_sig(
        regexp_replace(lower(c), "[^a-z0-9]", ""), 512, 4)
      customerPairs(s, dir)
        .select(col("ka"), col("kb"),
          bloom_dice(sig(col("na")), sig(col("nb"))).as("clk_dice"))
    },
      // CLK Dice: recomputed from the exploded bit SETS — the Spark side
      // runs popcounts over the packed longs, so equality proves the
      // packed form implements exactly the set semantics.
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
        |JOIN sizes sb ON sb.c_custkey = p.kb""".stripMargin),

    // End-to-end PPRL linkage: side B is side A's names with one
    // deterministic typo; both sides encode to packed CLKs, block by
    // Hamming-LSH bit sampling (8 bands × 16 sampled bits, the standard
    // CLK blocking), and candidates pay one popcount Dice each. The
    // linkage unit never sees an identifier. The oracle re-derives the
    // sampled-bit keys (positions inlined as literals) and Dice from
    // bit sets. bucketCap cannot bite at gate scale (≤ 375 rows/side vs
    // cap 10000); the spec covers cap observability.
    Gate("q_pprl_link", (s, dir) => {
      val c = spread(s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 40 === 1))
        .select(col("c_custkey").as("id"),
          regexp_replace(lower(col("c_name")), "[^a-z0-9]", "").as("nn"))
      val a = c.select(col("id"), clk_sig(col("nn"), 512, 4, "k7").as("sig"))
      val b = c.select(col("id"), clk_sig(
        concat(substring(col("nn"), 1, 5), lit("x"), expr("substring(nn, 7)")),
        512, 4, "k7").as("sig"))
      graft.operators.Pprl.linkTables(a, b, "id", "sig",
        m = 512, theta = 0.5).out
    },
      // PPRL linkage: both sides' bit sets, sampled-bit band keys with the
      // positions inlined (same splitmix sample as Pprl.samplePositions),
      // key-join candidates, set-based Dice >= theta. theta = 0.5 > 0
      // lets the intersection join be inner (a zero-overlap pair cannot
      // reach the threshold).
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
        |      >= CAST(0.5 AS DOUBLE)""".stripMargin),

    // ---- training-data operators over documents/embeddings ----

    // deterministic train/val/test split: a pure hash projection (no
    // shuffle, no RNG — reproducible across reruns/partitionings, the
    // property randomSplit lacks). sha256-derived, so the oracle
    // re-derives the exact assignment from the digest hex.
    Gate("q_split_assign", (s, dir) => graft.operators.Sampling.splitAssign(
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split_name")),
      splitAssignOracle),

    // per-stratum quota sample in deterministic sha256 order (balance
    // the corpus per (lang, source)); WindowGroupLimit bounds the hot
    // stratum before the shuffle
    Gate("q_sample_stratified", (s, dir) => graft.operators.Sampling.stratifiedSample(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id",
      Seq("lang", "source"), quota = 20)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank")),
      """WITH r AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':42') ASC, doc_id ASC)
        |      AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, lang, source, sample_rank FROM r
        |WHERE sample_rank <= 20""".stripMargin),

    // PII scrub over text synthesized (identically in the oracle) to
    // carry a URL, an email, a phone run, and an IPv4 per row — the
    // shared documents table has no native PII, so the query builds a
    // deterministic PII-bearing column from table values first
    Gate("q_scrub_pii", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id").cast("string")
      val dirty = concat(
        substring(col("text"), 1, 40),
        lit(" mail u"), k, lit("@ex-a.org via https://h"), k,
        lit(".example/p?q=1 tel +1 (555) 01"), k,
        lit(" host 10.0.0."), pmod(col("doc_id"), lit(200)).cast("string"))
      d.select(col("doc_id"), dirty.as("dirty"),
        graft.operators.TextAnalysis.scrubPii(dirty).as("scrubbed"))
    },
      // The scrub oracle applies the IDENTICAL Java∩RE2 pattern strings in
      // the identical order over the identically-constructed dirty text.
      {
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
      }),

    // token counting (whitespace + BPE-ish regex) + quality scoring +
    // language-ID heuristic
    Gate("q_text_analysis", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.operators.TextAnalysis.langId(col("text")).as("lang_id"))
    },
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
        |FROM m""".stripMargin),

    // Gopher-style repetition quality signals over a deterministically
    // synthesized multi-line view of each document (the corpus text is
    // single-line, so line structure is constructed identically on both
    // sides, like q_scrub_pii's dirty column; line 3 == line 1 guarantees
    // every doc has genuine duplicate-line signal)
    Gate("q_quality_repetition", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ml = mlView
      graft.operators.TextAnalysis.repetitionSignals(
        d.select(col("doc_id"), ml.as("ml")), "doc_id", "ml")
    },
      // repetition signals: every fraction is one division of two integer
      // counters (sums/max of code-point lengths), so DOUBLE equality is
      // exact; bigram keys join words with chr(1), matching the kernel
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
        |LEFT JOIN bagg b USING (doc_id)""".stripMargin),

    // URL canonicalization over deterministically synthesized messy URLs
    // (uppercase scheme/host, www., default ports, tracking params,
    // fragments — both parities exercise different rewrite rules); the
    // oracle applies the IDENTICAL Java∩RE2 patterns in DuckDB
    Gate("q_url_normalize", (s, dir) => {
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
    },
      // url normalization: DuckDB re-applies the identical pattern strings
      // (regexp_replace needs the explicit 'g' flag — Spark's is global)
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
        |FROM s3""".stripMargin),

    // Unicode text standardization (the pre-blocking stage): NFC
    // canonicalization, accent strip, and the pinned match-normalization
    // chain, over a fixture mixing composed/decomposed forms, case,
    // accents, punctuation runs, and non-Latin code points. Oracle =
    // DuckDB's independent ICU twins (nfc_normalize / strip_accents) +
    // the identical lower/regexp/trim chain — cross-library agreement,
    // not self-replay.
    Gate("q_normalize_text", (s, dir) => {
      accentRaw(s, dir)
        .select(col("doc_id"), col("raw"),
          unicode_norm(col("raw"), "NFC").as("nfc"),
          strip_accents(col("raw")).as("stripped"),
          normalize_match(col("raw")).as("norm"))
    },
      // text standardization: DuckDB's ICU nfc_normalize / strip_accents are
      // INDEPENDENT implementations of the same pinned semantics (NFD → drop
      // marks → NFC ≡ ICU transliterator on this palette) — cross-library
      // agreement, not replay. frag[2] is decomposed e + U+0301.
      // concatenated: stripMargin over the fixture would cut its `||` lines
      accentRawSql + """
        |SELECT doc_id, raw,
        |  nfc_normalize(raw) AS nfc,
        |  strip_accents(raw) AS stripped,
        |  trim(regexp_replace(lower(strip_accents(nfc_normalize(raw))),
        |       '[^\p{L}\p{Nd}]+', ' ', 'g')) AS norm
        |FROM f""".stripMargin),

    // Dictionary token standardization (the nickname/abbreviation
    // stage): part names mapped token-by-token through a 5-entry
    // canonicalization dictionary folded into the plan as a map
    // literal — ONE codegen projection, zero shuffle at any corpus
    // size. Unmapped tokens pass through verbatim; exact match only.
    Gate("q_standardize_tokens", (s, dir) => {
      val dict = Map("red" -> "crimson", "blue" -> "azure",
        "small" -> "sm", "large" -> "lg", "hot" -> "heated")
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      graft.operators.Standardize.applyTokenDictionary(
        p, "name", "name_std", dict)
    },
      // dictionary standardization: the same exact-match token map as a
      // list_transform CASE chain, rejoined on the literal separator
      """SELECT p_partkey AS id, p_name AS name,
        |  array_to_string(list_transform(string_split(p_name, ' '),
        |    t -> CASE WHEN t = 'red' THEN 'crimson'
        |              WHEN t = 'blue' THEN 'azure'
        |              WHEN t = 'small' THEN 'sm'
        |              WHEN t = 'large' THEN 'lg'
        |              WHEN t = 'hot' THEN 'heated'
        |              ELSE t END), ' ') AS name_std
        |FROM part""".stripMargin),

    // Fingerprint keys (OpenRefine's fingerprint + ngram-fingerprint
    // keyers): normalize → sorted distinct tokens (word order /
    // duplication collapse) and normalize → distinct sorted 2-grams
    // (within-token typos collapse), over the same composed/decomposed
    // accent fixture as q_normalize_text.
    Gate("q_fingerprint_keys", (s, dir) => {
      accentRaw(s, dir)
        .select(col("doc_id"), col("raw"),
          fingerprint_key(col("raw")).as("fp"),
          ngram_fingerprint_key(col("raw"), 2).as("fp2"))
    },
      // fingerprint keys: the normalize chain + list ops; the kernel's
      // whole-string short-circuit for len <= n replays as a CASE
      accentRawSql + """, nm AS (
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
        |FROM g""".stripMargin),

    // host-level aggregate stats (domain-filtering inputs); all-integer
    // aggregates + one exact division keep it hash-grade
    Gate("q_host_stats", (s, dir) => graft.operators.WebText.hostStats(
      s.read.parquet(s"$dir/documents.parquet"), "source", "text"),
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
        |FROM h GROUP BY host""".stripMargin),

    // benchmark decontamination: every 17th document plays the benchmark
    // set; the rest are flagged when they share any word 8-gram with it
    // (the GPT-3/PaLM-style n-gram overlap rule). Bench grams broadcast.
    Gate("q_decontaminate", (s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Decontaminate.flaggedDocs(
        d.where(pmod(col("doc_id"), lit(17)) =!= 0),
        d.where(pmod(col("doc_id"), lit(17)) === 0),
        "doc_id", "text", n = 8)
    },
      // decontamination: word 8-grams re-derived with list slicing; the
      // id column is named `id` (the operator is table-agnostic)
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
        |FROM dg JOIN bg USING (gram) GROUP BY doc_id""".stripMargin),

    // per-document characteristic terms: top-3 by log-free tf·idf
    // (tf·(N+1)/(df+1) — one exact product, one exact division)
    Gate("q_tfidf_terms", (s, dir) => graft.operators.TextAnalysis.topTfidfTerms(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3),
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
        |FROM ranked WHERE term_rank <= 3""".stripMargin),

    // domain-reweighting mixture sample: per-source keep rates decided by
    // each row's own sha fraction — pure projection + filter, hash-grade
    Gate("q_mixture_sample", (s, dir) => graft.operators.Sampling.mixtureSample(
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("source")),
      "doc_id", "source",
      Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 0.5),
      defaultRate = 0.75, seed = 7L),
      // Mixture-sample re-derivation: the same 32-bit sha fraction as
      // splitAssignOracle (seed 7) against exact-binary rate literals.
      {
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
      }),

    // sequence-packing layout: where each document lands when the corpus
    // is concatenated in sha order per shard and chopped into 256-token
    // training sequences; all-integer outputs → hash-grade
    Gate("q_pack_assignments", (s, dir) => graft.operators.Packing.packAssignments(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      seqLen = 256, shards = 8),
      // Packing layout re-derivation: the shard is the first 8 sha hex chars
      // mod `shards`, the offset a window prefix sum in (sha, id) order, and
      // the sequence ids integer divisions — all exact.
      {
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
    Gate("q_trigram_lm", (s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.TextAnalysis.trigramLmFace(d, "doc_id", "text",
        graft.operators.TextAnalysis.charTrigramCounts(
          d.where(col("lang") === "en"), "doc_id", "text"),
        graft.operators.TextAnalysis.charTrigramCounts(d, "doc_id", "text"))
    },
      // per-doc trigram explode, two model left joins, one integer fold.
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
        |GROUP BY 1""".stripMargin),

    // the WHOLE corpus-construction pipeline (CorpusPipeline.run:
    // signals → filter → scrub → exact dedup → near-dup CC dedup →
    // split/mixture/pack), checkpoint machinery included, hash-checked
    // end-to-end via the sha256 family; runs in a fresh temp workDir so
    // the gate always exercises the compute path, not a resume
    Gate("q_corpus_pipeline", (s, dir) => {
      val docs = spread(s.read.parquet(s"$dir/documents.parquet"))
      val work = tempTree("graft_corpus_gate")
      graft.plans.CorpusPipeline.run(s, docs, work,
        graft.plans.CorpusPipeline.Config(tau = 0.5, hashFamily = "sha256",
          seqLen = 256, packShards = 8)).corpus
    },
      // End-to-end re-derivation of [[graft.plans.CorpusPipeline]] (sha256
      // family, tau 0.5, seqLen 256, 8 shards, default splits, identity
      // mixture): quality/repetition filter → PII scrub → exact-hash
      // canonicalization → MinHash-LSH + recursive-CC near-dup
      // canonicalization → split assignment → pack layout. Every fragment
      // is a building block already proven by its own gate cell — composed
      // here so the WHOLE pipeline's output is hash-checked, checkpoint
      // machinery included.
      {
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
           | $minhashCandCtes, verified AS (
           |  SELECT c.ia, c.ib
           |  FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
           |  WHERE $jac >= CAST('0.5' AS DOUBLE)
           |), $verifiedComponentCtes, nd AS (
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
      }),

    // multimodal: typed metadata over a binary column (documents text
    // re-encoded as the opaque blob — testdata ships no native binary)
    Gate("q_media_metadata", (s, dir) => {
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      graft.operators.Multimodal.metadata(media, "doc_id", "blob")
    },
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
        |FROM m""".stripMargin),

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
    Gate("q_media_features", (s, dir) => {
      val media = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      graft.operators.Multimodal.decodeFeatures(s, media, "doc_id", "blob",
          dim = 8, hashFamily = "sha256")
        .toDF().select(col("id"), col("kind"),
          concat_ws(",", transform(col("features"),
            f => (f.cast("double") * lit(16777216.0)).cast("long").cast("string")))
            .as("features_q24"))
    },
      // sha-family media features: feature d = the 24-bit big-endian integer
      // spelled by hex chars [6d+1, 6d+6] of sha256(blob), over 2^24; the
      // query outputs the integers (×2^24), so the oracle re-derives them
      // straight from the digest nibbles. Kind = the same magic-byte CASE as
      // q_media_metadata (gate-proven there).
      {
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
      }),
  )
}
