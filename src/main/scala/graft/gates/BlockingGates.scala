package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry._
import graft.functions._
import graft.operators.Frames

/** Gates of the blocking operators: key generation, cold/salted pair
  * tiers, phonetic and suffix keys, meta-blocking, sorted neighbourhood,
  * block filtering, scheme selection and the blocking profiles. */
private[graft] object BlockingGates {

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

  /** The blocking gates' labeled truth: customer id pairs (`a` < `b`)
    * whose names share the 3-char suffix at position 16. */
  private def suffixTruth(c: DataFrame, a: String, b: String): DataFrame = {
    def side(id: String) = c.select(col("c_custkey").as(id),
      substring(col("c_name"), 16, 3).as("sfx"))
    side(a).join(side(b), "sfx").where(col(a) < col(b)).select(col(a), col(b))
  }

  /** Gate face of a frame of DECIMAL(38,0) counts: each decimal column
    * cast to BIGINT (gate-scale counts fit), so no compared column is a
    * DECIMAL. The operators keep their decimal(38,0) columns. */
  private def bigintFace(df: DataFrame): DataFrame =
    df.select(df.schema.map(f => f.dataType match {
      case _: DecimalType => col(f.name).cast("long").as(f.name)
      case _ => col(f.name)
    }): _*)

  val all: Seq[Gate] = Seq(
    // ---- pipeline-stage operators (SURVEY.md §2.3) over driver tables ----

    // normalization → blocking key (stage: dedup/normalize)
    Gate("q_block_keys", (s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"),
        regexp_replace(lower(col("p_name")), "[^a-z]", "").as("block_key")),
      """SELECT p_partkey AS id,
        |  regexp_replace(lower(p_name), '[^a-z]', '', 'g') AS block_key
        |FROM part""".stripMargin),

    // capped candidate-pair generation (stage: blocking self-join with
    // hot-bucket cap; exercises graft.operators.Linkage.candidatePairs)
    Gate("q_candidate_pairs", (s, dir) => {
      val keys = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("url"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      // bucketCap == hardCap: buckets over 15 are dropped (tier-3 path),
      // matching the oracle's HAVING-style cut
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 15, hardCap = 15)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    },
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
        |FROM good a JOIN good b ON a.key = b.key AND a.id < b.id""".stripMargin),

    // salted grid self-join (tier-2 skew path): bucketCap=1 forces EVERY
    // bucket through the fragment-replicate join; result must equal the
    // plain uncapped self-join (the oracle) — proving salting loses and
    // invents nothing
    Gate("q_salted_pairs", (s, dir) => {
      val keys = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("url"),
          concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 1,
          hardCap = 1000000, saltGroups = 8)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    },
      """WITH keys AS (
        |  SELECT c_custkey AS id,
        |         c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS key
        |  FROM customer
        |)
        |SELECT DISTINCT a.id AS ka, b.id AS kb
        |FROM keys a JOIN keys b ON a.key = b.key AND a.id < b.id""".stripMargin),

    // Token blocking (schema-agnostic baseline) → candidate pairs through
    // the full 3-tier skew policy: normalize_match standardizes the text,
    // every ≥3-char token becomes a block key, bucketCap=10 forces the
    // Zipfian color tokens through the SALTED grid (lossless — the oracle
    // is tier-blind), hardCap high enough that nothing drops at either SF.
    Gate("q_token_blocking", (s, dir) => {
      val recs = s.read.parquet(s"$dir/part.parquet")
        .where(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("id"),
          normalize_match(col("p_name")).as("nm"))
      val keys = graft.operators.Linkage.tokenBlockKeys(recs, "id", "nm",
        minLen = 3)
      graft.operators.Linkage.candidatePairs(keys, bucketCap = 10,
          hardCap = 100000, saltGroups = 8)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    },
      // token blocking: tier-blind oracle (the salted grid is lossless and
      // hardCap never bites at gate scale) — distinct pairs sharing any
      // >=3-char token of the normalized name
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
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id""".stripMargin),

    // Blocking-scheme profile: the capacity-planning aggregate a 100 TB
    // job runs before committing to a key scheme — block counts, hottest
    // block, and the EXACT candidate-pair volume each skew tier would
    // generate at the given caps (decimal(38,0) pair sums). Runs over the
    // token-blocking keys so the Zipfian tiers are actually populated.
    Gate("q_blocking_profile", (s, dir) => {
      val recs = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          normalize_match(col("p_name")).as("nm"))
      val keys = graft.operators.Linkage.tokenBlockKeys(recs, "id", "nm",
        minLen = 3)
      bigintFace(graft.operators.Linkage.blockingProfile(keys,
        bucketCap = 100, hardCap = 1200))
    },
      // blocking profile: direct aggregate replay with HUGEINT-exact pair
      // sums (cast to the BIGINT face)
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
        |       AS BIGINT) AS pairs_cold,
        |  CAST(sum(CASE WHEN n > 100 AND n <= 1200 THEN n * (n - 1) ELSE 0 END) / 2
        |       AS BIGINT) AS pairs_salted,
        |  CAST(sum(CASE WHEN n > 1200 THEN n * (n - 1) ELSE 0 END) / 2
        |       AS BIGINT) AS pairs_dropped
        |FROM sized""".stripMargin),

    // Meta-blocking (Papadakis TKDE'14): blocking graph over a redundant
    // 3-family block collection (segment:nation ∪ phone-prefix ∪ a
    // conditional nation key, so per-record block counts VARY), CBS +
    // Jaccard edge weights, then Weighted Edge Pruning by integer
    // cross-multiplication (w·n ≥ Σw — no divided mean anywhere). At
    // sf0.1 the phone-prefix buckets exceed bucketCap and route through
    // the salted grid, so the gate also proves tier-2 preserves per-key
    // multiplicity (the oracle is the plain per-key join).
    Gate("q_meta_blocking", (s, dir) =>
      graft.operators.MetaBlocking.wepPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50).out),
      // Meta-blocking WEP: integer cross-multiplied mean cut over the graph
      // CTEs (sum(cbs) is HUGEINT in DuckDB — the comparison promotes, so
      // the cut is exact on both sides).
      s"""WITH $metaGraphCtes,
         |tot AS (SELECT sum(cbs) AS wsum, count(*) AS wcnt FROM graph)
         |SELECT g.url_a, g.url_b, g.cbs, g.blocks_a, g.blocks_b, g.js
         |FROM graph g, tot t WHERE g.cbs * t.wcnt >= t.wsum""".stripMargin),

    // Weighted Node Pruning over the same graph: keep an edge ≥ the mean
    // weight of either endpoint's incident edges (per-node integer
    // cross-multiplication; one both-directions groupBy + two joins).
    Gate("q_meta_blocking_wnp", (s, dir) =>
      graft.operators.MetaBlocking.wnpPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50).out)
        .select(col("url_a"), col("url_b"), col("cbs"), col("blocks_a"),
          col("blocks_b"), col("js")),
      // Meta-blocking WNP: per-node mean via both-directions node sums,
      // same integer cross-multiplication, OR over the two endpoints.
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
         |WHERE g.cbs * x.ndeg >= x.nsum OR g.cbs * y.ndeg >= y.nsum""".stripMargin),

    // Cardinality Node Pruning: either endpoint's top-k incident edges
    // (budgeted per-record comparisons; row_number window with its ≤ k
    // filter right above it → InferWindowGroupLimit caps rows per map
    // task before the shuffle; ties pinned by opposite id).
    Gate("q_meta_blocking_cnp", (s, dir) =>
      graft.operators.MetaBlocking.cnpPrune(
        graft.operators.MetaBlocking.blockingGraph(metaKeys(s, dir),
          idCol = "id", keyCol = "key", bucketCap = 50).out, k = 3),
      // Meta-blocking CNP: per-node top-k by (weight DESC, opposite id) over
      // both directions, folded back to canonical orientation, semi-joined.
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
         |  ON g.url_a = k.url_a AND g.url_b = k.url_b""".stripMargin),

    // NYSIIS phonetic blocking key (the second classic next to Soundex;
    // pinned variant documented on TextKernels.nysiis). Oracle replays the
    // whole algorithm: prefix/suffix CASEs + a recursive CTE walking the
    // positions with the same first-match-wins transcode rules, dedup
    // append, and suffix cleanup.
    Gate("q_nysiis_block", (s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          nysiis_key(col("p_name")).as("key")),
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
        |FROM base b LEFT JOIN clean3 c ON b.id = c.id""".stripMargin),

    // Cologne phonetics: third phonetic family, variable-length
    // digit key. Oracle replays the pinned steps relationally: per-letter
    // codes with prev/next context, ordered string_agg, collapse by
    // lag-compare over the digit positions, strip non-leading 0s.
    Gate("q_cologne_block", (s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          cologne_key(col("p_name")).as("key")),
      // Cologne phonetics: full relational replay of the pinned variant.
      // Umlauts/ß folded by translate BEFORE upper (so the mapping never
      // depends on DuckDB's non-ASCII casing); letter codes computed with
      // prev/next context per position; X emits the two-code '48'; collapse
      // compares each digit to its RAW predecessor and drops non-leading 0s
      // in the same pass (identical to collapse-then-strip; the kernel doc
      // proves the equivalence).
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
        |FROM base b LEFT JOIN collapsed c ON b.id = c.id""".stripMargin),

    // Metaphone: fifth phonetic family; the pinned variant is
    // deliberately POSITIONAL (each emission a function of prev/cur/
    // next/next2 + first/last flags), so the oracle is a flat per-
    // position CASE + ordered string_agg — no recursion.
    Gate("q_metaphone_block", (s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          metaphone_key(col("p_name")).as("key")),
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
        |FROM base b LEFT JOIN agg a ON b.id = a.id""".stripMargin),

    // Block filtering (Papadakis): drop each RECORD from its largest
    // blocks, keeping only its ⌈n/2⌉ smallest (size ASC, key ASC; the
    // per-record budget applied by integer cross-multiplication). Runs
    // UPSTREAM of the blocking graph — the block-collection-level cut
    // before any pair is enumerated.
    Gate("q_block_filter", (s, dir) =>
      graft.operators.MetaBlocking.blockFilter(metaKeys(s, dir),
        idCol = "id", keyCol = "key"),
      // Block filtering: per-record rank of blocks by (size ASC, key ASC),
      // budget ⌈n/2⌉ applied by the SAME integer cross-multiplication the
      // Scala uses (n·1 > (rank−1)·2) — no division on either side. Sizes
      // count ALL blocks (blockFilter has no hardCap tier; it runs before
      // capping).
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
        |SELECT id, key FROM ranked WHERE nb * 1 > (rn - 1) * 2""".stripMargin),

    // Greedy budgeted blocking-scheme selection: four candidate key
    // families over customer, labeled truth from the name-suffix join,
    // budget = n²/20 total pairs — sized so the seg family (n²/10) is
    // never affordable and the greedy order + budget eligibility are
    // both load-bearing at sf0.01 AND sf0.1. The oracle replays all
    // three greedy steps as unrolled argmax CTEs (the EM/GD pattern).
    Gate("q_blocking_selection", (s, dir) => {
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
      val truth = suffixTruth(c, "pa", "pb")
      val n = c.count()
      bigintFace(graft.operators.BlockingSelection.greedySelection(keyed,
        truth, BigDecimal(n * n / 20), maxSchemes = 3))
    },
      // unrolled 3-step budgeted greedy: per step, argmax marginal
      // coverage (count desc, family asc) among families whose volume
      // still fits; an empty step NULL-propagates into later steps,
      // matching the operator's stop rule.
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
        |  cnt AS cumulative_covered, CAST(volume AS BIGINT) AS volume,
        |  CAST(volume AS BIGINT) AS cumulative_volume,
        |  (SELECT total_truth FROM tt) AS total_truth FROM p1
        |UNION ALL
        |SELECT 2, family, cnt, cnt + (SELECT cnt FROM p1),
        |  CAST(volume AS BIGINT),
        |  CAST(volume + (SELECT volume FROM p1) AS BIGINT),
        |  (SELECT total_truth FROM tt) FROM p2
        |UNION ALL
        |SELECT 3, family, cnt,
        |  cnt + (SELECT cnt FROM p1) + (SELECT cnt FROM p2),
        |  CAST(volume AS BIGINT),
        |  CAST(volume + (SELECT volume FROM p1) + (SELECT volume FROM p2)
        |    AS BIGINT),
        |  (SELECT total_truth FROM tt) FROM p3""".stripMargin),

    // Supervised DNF blocking-scheme learning (Michelson-Knoblock /
    // Bilenko adaptive blocking): 3 base families + their 3 arity-2
    // conjunctions priced against labeled positives (name-suffix truth)
    // under a budget on DISTINCT co-blocked negatives (deterministic
    // hash-bucket sample, suffix-unequal). Budget totalNeg/8 admits one
    // base family and then only a CONJUNCTION (nat&seg at both SFs) —
    // the learner's signature move is live in the gated plan. The
    // oracle replays all three greedy steps (pos marginal DESC, neg
    // marginal ASC, name) with per-step anti-joins on BOTH sides.
    Gate("q_learn_scheme", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val id = col("c_custkey")
      val keyed = c.select(lit("seg").as("family"), id.as("id"),
          col("c_mktsegment").as("key"))
        .unionAll(c.select(lit("nat").as("family"), id.as("id"),
          col("c_nationkey").cast("string").as("key")))
        .unionAll(c.select(lit("bal").as("family"), id.as("id"),
          floor(col("c_acctbal") / 1000.0).cast("string").as("key")))
      val pos = suffixTruth(c, "pa", "pb")
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
    },
      // supervised DNF learner: full 3-step greedy replay — candidate pool
      // is the 3 base families + their 3 conjunctions (names sorted, keys
      // chr(1)-joined; key SPELLING may differ from the Spark side, only
      // per-family key EQUALITY matters and floor/CAST agree on that);
      // each step anti-joins covered pairs on BOTH label sides, then picks
      // by (pos marginal DESC, neg marginal ASC, family) under the
      // cumulative negative budget totalNeg // 8
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
        |FROM p3""".stripMargin),

    // sorted-neighborhood blocking (Hernández-Stolfo): every pair within
    // w consecutive positions of the (c_name, c_custkey) order — the
    // complement of hash blocking. Spark side: range-partitioned global
    // rank (a distributed running sum, Frames.runningSums — no
    // single-partition window) + banded equi-join on rank div (w-1);
    // oracle: one row_number window + a rank-distance self-join.
    Gate("q_sorted_neighborhood", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("sk"))
      graft.operators.Linkage.sortedNeighborhoodPairs(c, "id", "sk", window = 5)
    },
      """WITH ranked AS (
        |  SELECT c_custkey AS id,
        |         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |  FROM customer
        |)
        |SELECT a.id AS id_a, b.id AS id_b, a.rnk AS rank_a, b.rnk AS rank_b
        |FROM ranked a JOIN ranked b
        |  ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4""".stripMargin),

    // Candidate-pair provenance across three key families (nation /
    // name-suffix-2 / conditional segment): each pair once, with the
    // SORTED family set that produced it and its co-occurrence count —
    // the keep-or-retire audit for a blocking scheme. The segment family
    // is sized to clear the cap at sf0.01 and blow it at sf0.1, so the
    // per-family cap rule is exercised both ways.
    Gate("q_pair_provenance", (s, dir) => {
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
    },
      // pair provenance: same three families, per-(family, key) cap, list
      // aggregation sorted to match sort_array(collect_set(...)).
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
        |GROUP BY a.url, b.url""".stripMargin),

    // Pairs-completeness / reduction sweep over candidate caps: the
    // PC/RR curve read off BEFORE committing to a bucket cap — per cap,
    // exact pair slots (decimal(38,0)) and how many labeled true pairs
    // the cold tier would still cover (a truth pair survives iff its
    // SMALLEST shared block fits). No pair set is materialized.
    Gate("q_blocking_sweep", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val keys = c.select(col("c_custkey").as("url"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      val truePairs = suffixTruth(c, "url_a", "url_b")
      bigintFace(graft.operators.Evaluation.blockingQualitySweep(keys,
        truePairs, Seq(5L, 15L, 60L, 1000L)))
    },
      // PC/RR sweep: block sizes once, per-cap slot sums (BIGINT face),
      // per-truth-pair min shared-block size, per-cap coverage counts.
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
        |      THEN s.n * (s.n - 1) ELSE 0 END), 0) / 2 AS BIGINT)
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
        |SELECT c.cap, COALESCE(s.pair_slots, CAST(0 AS BIGINT))
        |    AS pair_slots,
        |  nt.n_true, COALESCE(v.n_true_covered, 0) AS n_true_covered,
        |  CASE WHEN nt.n_true > 0 THEN
        |    CAST(COALESCE(v.n_true_covered, 0) AS DOUBLE)
        |    / CAST(nt.n_true AS DOUBLE) END AS pairs_completeness
        |FROM caps c
        |LEFT JOIN slots s ON c.cap = s.cap
        |LEFT JOIN cov v ON c.cap = v.cap
        |CROSS JOIN nt""".stripMargin),

    // Phonetic (Soundex) blocking key over part names — the third blocking
    // family next to equi-key and sorted-neighborhood; pinned
    // H/W-transparent American Soundex from a translate/regexp_replace
    // chain the oracle replays verbatim (shared Java∩RE2 dialect, no
    // backreferences).
    Gate("q_phonetic_block", (s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.soundexKey(col("p_name")).as("sdx")),
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
        |FROM s5""".stripMargin),

    // Refined Soundex (the Commons-Codec ten-class table): finer buckets
    // than classic Soundex — no length cap, vowel 0s kept as separators —
    // the precision-leaning member of the phonetic-key family (classic
    // Soundex's 4-char keys become scale-hostile hot blocks on large
    // corpora; refined keys split them). Oracle replays the identical
    // translate + per-digit run-collapse chain.
    Gate("q_refined_soundex", (s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.refinedSoundexKey(col("p_name")).as("rsdx")),
      // Refined Soundex: translate to the ten-class table, collapse runs of
      // every digit 0-9 (nested regexp_replace — the same per-digit fold the
      // Spark chain runs), first letter + ALL digits, no pad, no cap.
      {
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
    }),

    // Caverphone 2.0 blocking key — the published rewrite chain replayed
    // from ONE shared rule table on both engines (Spark foldLeft of
    // codegen regexp_replace; oracle = the same fold rendered as nested
    // DuckDB regexp_replace with 'g').
    Gate("q_caverphone_block", (s, dir) => s.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        graft.operators.Phonetic.caverphoneKey(col("p_name")).as("cvp")),
      // Caverphone 2.0: the identical rewrite chain, rendered from the SAME
      // rule table the Spark key folds over (Phonetic.caverphoneRules) —
      // one source of truth, two engines.
      s"""SELECT p_partkey AS id, p_name AS name,
         |  $caverphoneSqlExpr AS cvp
         |FROM part""".stripMargin),

    // Suffix-array blocking (Aizawa-Oyama): every >= 8-char tail
    // of the part name is a key; blocks > 400 members removed (part of
    // the method — a suffix that common is signal-free — and the cap path
    // is exactly what the oracle's HAVING replays; it bites at sf0.1,
    // where the hottest tails reach ~958 members — the part vocabulary is
    // tiny, so block sizes scale with the corpus). Catches shared-tail
    // variation both equi-key and phonetic blocking miss.
    Gate("q_suffix_block", (s, dir) => graft.operators.Linkage.suffixBlockKeys(
      s.read.parquet(s"$dir/part.parquet"), "p_partkey", "p_name",
      minLen = 8, maxBlockSize = 400),
      // the validated Soundex chain (see Phonetic.soundexKey's pinned
      // semantics): letters -> digit codes (H/W -> marker 7) -> drop 7s ->
      // collapse 1-6 runs -> drop 0s -> drop the leading digit when the
      // first letter is a coded consonant -> letter + 3 digits rpad'd
      // Suffix blocking: unnest start positions 1..len-minLen+1 (whole key
      // when shorter), substr-to-end, HAVING replays the maxBlockSize cut.
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
        |SELECT s.id, s.suffix FROM sufs s JOIN sized z USING (suffix)""".stripMargin),

    // Blocking quality metrics: reduction ratio + pairs completeness of
    // the capped mktsegment:nationkey blocking, with name-suffix equality
    // as the labeled true-pair set — the go/no-go numbers for a blocking
    // scheme before anything downstream runs at scale.
    Gate("q_blocking_quality", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val keys = c.select(col("c_custkey").as("url"),
        concat(col("c_mktsegment"), lit(":"), col("c_nationkey")).as("key"))
      val cand = graft.operators.Linkage.candidatePairs(keys, bucketCap = 15,
        hardCap = 15)
      val truePairs = suffixTruth(c, "url_a", "url_b")
      graft.operators.Evaluation.blockingQuality(c, cand, truePairs)
    },
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
        |FROM agg""".stripMargin),

    // Dynamic blocking (hierarchical key extension): over-cap blocks
    // split by the next key part instead of being dropped/salted. cap=100
    // makes the settle depth DATA-DEPENDENT: at sf0.01 segment:nation
    // blocks fit (depth 1); at sf0.1 they are ~240 strong and descend to
    // the name-suffix depth 2 — the oracle replays all three sizing
    // levels and the coarsest-fitting-depth rule.
    Gate("q_dynamic_block", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      graft.operators.Linkage.dynamicBlockKeys(c, "c_custkey",
        Seq(col("c_mktsegment"), col("c_nationkey"),
          substring(col("c_name"), -1, 1)), cap = 100L).out
    },
      // Dynamic blocking: three sizing CTEs (one per depth), coarsest
      // fitting depth wins, never-fitting records excluded.
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
        |WHERE n0.n <= 100 OR n1.n <= 100 OR n2.n <= 100""".stripMargin),

    // Adaptive sorted neighborhood (Yan et al.): segment the name-sorted
    // order at every adjacency whose keys drop below JW 0.75, pair within
    // segments (via candidatePairs' 3-tier skew contract — lossless
    // tiers, so the oracle is tier-blind: rank, lag-join boundary flags,
    // running-sum segments, per-segment self-join).
    Gate("q_adaptive_snm", (s, dir) =>
      graft.operators.Linkage.adaptiveSortedNeighborhoodPairs(
        s.read.parquet(s"$dir/part.parquet")
          .where(col("p_partkey") % 2 === 0)
          .select(col("p_partkey").as("id"), col("p_name").as("name")),
        "id", "name", theta = 0.75),
      // Adaptive SNM: rank over (name, id), boundary where the adjacent-key
      // JW drops below 0.75 (rank 1 opens segment 1), running-sum segment
      // ids, all-pairs within each segment. Spark's salted tier is lossless
      // and the drop tier never bites at this scale, so no tier logic here.
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
        |FROM seg a JOIN seg b ON a.sid = b.sid AND a.id < b.id""".stripMargin),
  )
}
