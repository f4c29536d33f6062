package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.gates._

/** One correctness gate: a Spark query over the parquet tables of a
  * scale-factor directory and the DuckDB SQL over the same tables that must
  * return the same rows. Both halves are constructor arguments, so a gate
  * without its oracle does not compile. */
final case class Gate(name: String, query: (SparkSession, String) => DataFrame,
    oracle: String)

/** The gate registry: every operator's Spark query next to its oracle, an
  * ANSI SQL query DuckDB runs over the same parquet tables.
  *
  * The gates live in one file per operator family under `gates/`, each
  * file an object whose `all` lists its [[Gate]]s with the family-only
  * fixtures and oracle builders beside them:
  *  - [[graft.gates.KernelGates]]: string-similarity kernels, error model;
  *  - [[graft.gates.BlockingGates]]: blocking keys, tiers, meta-blocking;
  *  - [[graft.gates.ClusteringGates]]: clustering and golden records;
  *  - [[graft.gates.GraphGates]]: match-graph metrics;
  *  - [[graft.gates.FellegiSunterGates]]: Fellegi-Sunter and comparators;
  *  - [[graft.gates.EvaluationGates]]: linkage evaluation and metrics;
  *  - [[graft.gates.CorpusGates]]: corpus, text and profiling;
  *  - [[graft.gates.DedupGates]]: near-dup detection, set-similarity joins;
  *  - [[graft.gates.SimilarityGates]]: vector similarity search;
  *  - [[graft.gates.TemporalGates]]: temporal, spatial and streaming.
  * A new gate goes into the file of the operator it checks, with any
  * helper only its family uses. A fixture or oracle builder that two
  * families share lives here, as do [[entry]] and the `__ML_SQL__`
  * substitution; `queries` and `oracleSql` are derived from [[gates]].
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
  private[graft] def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Customer self-pairs blocked on nationkey (blocking key ≙ §7.2). */
  private[graft] def customerPairs(s: SparkSession, dir: String): DataFrame = {
    val c = spread(s.read.parquet(s"$dir/customer.parquet"))
    val a = c.select(col("c_custkey").as("ka"), col("c_name").as("na"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_nationkey").as("nk"))
    a.join(b, "nk").where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"), col("na"), col("nb"))
  }

  /** Part self-pairs blocked on brand (spaces + repeated chars exercise the
    * multiset kernels). */
  private[graft] def partPairs(s: SparkSession, dir: String): DataFrame = {
    val p = spread(s.read.parquet(s"$dir/part.parquet"))
    val a = p.select(col("p_partkey").as("ka"), col("p_name").as("na"),
      col("p_brand").as("bk"))
    val b = p.select(col("p_partkey").as("kb"), col("p_name").as("nb"),
      col("p_brand").as("bk"))
    a.join(b, "bk").where(col("ka") < col("kb"))
      .select(col("ka"), col("kb"), col("na"), col("nb"))
  }

  /** Normalized-Levenshtein-similarity SQL fragment over two string
    * expressions, mirroring the kernel: byte-equal → 1.0 (also covers
    * ""/""), else 1 − lev/max(len) with one exact int→double division. */
  private[graft] def levSimSql(x: String, y: String): String =
    s"""CASE WHEN $x = $y THEN CAST(1.0 AS DOUBLE)
       |       ELSE CAST(1.0 AS DOUBLE) - CAST(levenshtein($x, $y) AS DOUBLE) /
       |            CAST(greatest(length($x), length($y)) AS DOUBLE) END""".stripMargin

  private[graft] val customerPairsSql =
    """FROM customer a JOIN customer b
      | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey""".stripMargin

  /** The undirected components walk over a `pairs (ka, kb)` CTE, as the
    * CTEs that follow it: the symmetric `edges (u, v)`, their `nodes`
    * and `walk(id, r)`, every node `r` reachable from `id`; `min(r)` per
    * id is the component of `ConnectedComponents.run`. */
  private[graft] val componentWalkCtes: String =
    """edges AS (
      |  SELECT ka AS u, kb AS v FROM pairs
      |  UNION ALL SELECT kb, ka FROM pairs
      |), nodes AS (
      |  SELECT DISTINCT u AS id FROM edges
      |), walk(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT w.id, e.v FROM walk w JOIN edges e ON w.r = e.u
      |)""".stripMargin

  /** Brute-force mirror of `Linkage.commonNeighborPairs` over a
    * bipartite `e (id, nb)` CTE, as the rest of the oracle after it:
    * `deg`, each id's neighbor count, `pr`, the shared-neighbor count of
    * each id pair (a < b), and the pairs sharing at least `minCommon`
    * neighbors with their neighborhood Jaccard (the denominator in long
    * before the one double division). */
  private[graft] def commonNeighborsSql(minCommon: Int): String =
    s"""deg AS (
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
       |WHERE p.common_neighbors >= $minCommon""".stripMargin

  /** A fresh temp directory named `prefix…`, deleted RECURSIVELY at JVM
    * exit. Gate/bench runs must not accumulate corpus-sized checkpoint
    * trees under the temp dir, but the result frame lazily reads the
    * final stage's parquet — the tree has to outlive the driver's
    * consumption of the DataFrame, so JVM exit is the first safe deletion
    * point (File.deleteOnExit cannot remove non-empty directories; this
    * hook walks the tree children-first). */
  private[graft] def tempTree(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
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
    root.toString
  }

  /** Flagship query on the sf0.001 tables, smoke-checked for rows > 0.
    * Minimum end-to-end slice: scan → blocked self-join → kernel scoring
    * in filter+project (blocking + scoring in miniature). */
  def entry(spark: SparkSession): DataFrame = {
    val pairs = customerPairs(spark, "/root/testdata/sf0.001")
    pairs.select(col("ka"), col("kb"),
        jaro_winkler_sim(col("na"), col("nb")).as("jw"),
        sorensen_dice_sim(col("na"), col("nb")).as("dice"))
      .where(col("jw") + col("dice") >= 1.8)
  }

  /** min-sha256 lane aggregates h0..h{k-1} over a shingle column `sh` —
    * DuckDB's exact mirror of MinHashKernels.shaLanes (hex strings are
    * byte-monotone, so lexicographic min == byte min). */
  private[graft] def shaLaneAggs(k: Int): String =
    (0 until k).map(i => s"min(sha256('$i:' || sh)) AS h$i").mkString(", ")

  /** Exact BIGINT parse of the 8 hex chars of `h` starting at 1-based
    * `from` — the big-endian unsigned 32-bit word the CLK kernel reads
    * from the sha256 digest. */
  private[graft] def hexU32Sql(h: String, from: Int): String =
    (0 until 8).map { k =>
      s"(strpos('0123456789abcdef', substr($h, ${from + k}, 1)) - 1) * ${1L << (4 * (7 - k))}"
    }.mkString("(", " + ", ")")

  /** Token-set Jaccard between CTE rows aliased x and y — the one
    * verification expression every MinHash oracle shares. */
  private[graft] def tokenJaccardSql: String =
    """CAST(len(list_intersect(x.tk, y.tk)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(x.tk, y.tk))) AS DOUBLE)""".stripMargin

  /** The CTE list alone (no WITH), parameterized by the source relation —
    * [[corpusPipelineOracle]] appends it after its own upstream CTEs so
    * the banding reads the pipeline's deduplicated/scrubbed docs. */
  private[graft] def minhashBandedCteList(from: String): String = {
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

  /** The capped candidates of the banded MinHash oracles, as CTEs to
    * follow [[minhashBandedCteList]]: `sized`, each band key's row count,
    * `good`, the band rows of the keys of at most 500 rows, and
    * `cand (ia, ib)`, the distinct pairs sharing a good key. */
  private[graft] val minhashCandCtes: String =
    """sized AS (
      |  SELECT key, count(*) AS n FROM banded GROUP BY key
      |), good AS (
      |  SELECT b.id, b.key FROM banded b JOIN sized s USING (key) WHERE s.n <= 500
      |), cand AS (
      |  SELECT DISTINCT a.id AS ia, b.id AS ib
      |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
      |)""".stripMargin

  /** The near-dup groups over a `verified (ia, ib)` CTE, as the CTEs that
    * follow it: the undirected walk (`uedges`, `unodes`, `walk(id, r)`)
    * and `comp (id, component)`, the smallest reachable id. */
  private[graft] val verifiedComponentCtes: String =
    """uedges AS (
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
      |)""".stripMargin

  /** toks0+sigq CTEs: per-doc quality score over `documents` — the exact
    * q_text_analysis formula, shared by corpusPipelineOracle and the
    * streaming quality-filter oracle. */
  private[graft] def qualitySigCtes: String = {
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

  /** DuckDB value of the first 8 hex chars of column `hx` as an integer —
    * the 32-bit sha prefix behind Sampling.hashFraction and
    * Packing.packAssignments' shard. Shared by every oracle that
    * re-derives a sha fraction/shard (split/mixture/pack). */
  private[graft] def shaPrefix32(hexCol: String = "hx"): String =
    (0 until 8).map { j =>
      val w = 1L << (4 * (7 - j))
      s"(strpos('0123456789abcdef', substr($hexCol, ${j + 1}, 1)) - 1) * $w"
    }.mkString(" + ")

  /** The synthesized multi-line document view shared by
    * q_quality_repetition and q_dedup_spans. The Spark Column and the SQL
    * mirror live side by side HERE so they cannot drift: every oracle
    * containing the `__ML_SQL__` placeholder gets [[mlSql]] substituted
    * when [[oracleSql]] is assembled. */
  private[graft] def mlView: Column = concat(
    substring(col("text"), 1, 60), lit("\n"),
    substring(col("text"), 31, 90), lit("\n"),
    substring(col("text"), 1, 60), lit("\n"),
    substring(col("text"), 121, 100000))

  private val mlSql: String =
    "substr(text, 1, 60) || chr(10) || substr(text, 31, 90) || chr(10) " +
      "|| substr(text, 1, 60) || chr(10) || substr(text, 121, 100000)"

  /** Every gate of every family, in family order. */
  private[graft] lazy val gates: Seq[Gate] = KernelGates.all ++
    BlockingGates.all ++ ClusteringGates.all ++ GraphGates.all ++
    FellegiSunterGates.all ++ EvaluationGates.all ++ CorpusGates.all ++
    DedupGates.all ++ SimilarityGates.all ++ TemporalGates.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle.replace("__ML_SQL__", mlSql)).toMap
}
