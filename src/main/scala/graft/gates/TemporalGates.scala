package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._

/** Gates of the temporal, spatial and streaming operators: SCD2
  * intervals, as-of joins, sessions, interval and grid pairs, and the
  * streaming match, join, dedup, quality and metrics queries. */
private[graft] object TemporalGates {

  /** Stage a single-file table into a [[tempTree]] — file stream
    * sources require a directory. */
  private def stageStreamDir(file: String): String = {
    val dir = tempTree("graft_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(file),
      java.nio.file.Paths.get(dir, "data.parquet"))
    dir
  }

  /** Drive a streaming frame to completion (AvailableNow) through a
    * uniquely-named memory sink and return the result table.
    *
    * HARNESS-ONLY tuning (results are partition-independent, both-SF
    * hash-gated): a stateful query pays a fixed per-micro-batch cost of
    * one state-store instance + commit PER shuffle partition (×4 stores
    * per partition for a stream-stream join) — at gate scale that fixed
    * cost IS the wall, and under host noise it doubles (the
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

  val all: Seq[Gate] = Seq(
    // SCD-2 versioning of each customer's order-status history:
    // consecutive equal-status runs collapse to versions with
    // valid_from/valid_to chains (open-ended current version) — the
    // run-length-over-time shape (F->O->F = three versions), windows
    // partitioned per entity.
    // (gate face only: the open-ended NULL valid_to becomes a 9999-12-31
    // sentinel — datetime NaT defeats value comparators that only
    // special-case float NaN; the operator itself keeps NULL.)
    Gate("q_scd2", (s, dir) => graft.operators.Temporal.scd2Intervals(
      s.read.parquet(s"$dir/orders.parquet"),
      "o_custkey", "o_orderdate", Seq("o_orderstatus"))
      .withColumn("valid_to", coalesce(col("valid_to"),
        lit(java.sql.Date.valueOf("9999-12-31")))),
      // identical two-window run-length encoding: change flag vs lag,
      // running sum as version, min(ts) per run, lead for valid_to. Both
      // windows break (ts, v) ties on o_orderkey, so the row that carries
      // a run's change flag sorts first in the running sum too.
      """WITH obs AS (
        |  SELECT o_custkey AS id, o_orderdate AS ts, o_orderstatus AS v,
        |    o_orderkey
        |  FROM orders WHERE o_orderdate IS NOT NULL
        |), flagged AS (
        |  SELECT id, ts, v, o_orderkey,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR NOT (v IS NOT DISTINCT FROM lag(v) OVER w)
        |         THEN 1 ELSE 0 END AS chg
        |  FROM obs WINDOW w AS (PARTITION BY id ORDER BY ts, v, o_orderkey)
        |), versioned AS (
        |  SELECT id, v, ts, sum(chg) OVER (
        |    PARTITION BY id ORDER BY ts, v, o_orderkey
        |    ROWS UNBOUNDED PRECEDING)
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
        |FROM runs""".stripMargin),

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
    Gate("q_asof_join", (s, dir) => {
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
    },
      // the same SCD-2 version derivation, then DuckDB's NATIVE ASOF LEFT
      // JOIN (independent as-of semantics) over the deduped version frame.
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
        |  ON p.user_id = vd.id AND p.ts >= vd.vf""".stripMargin),

    // gap-based event sessionization (window functions over the events
    // log; one shuffle by user, single sort reused by both window passes)
    Gate("q_sessionize", (s, dir) => graft.operators.Sessionize.sessions(
      s.read.parquet(s"$dir/events.parquet"), "user_id", "ts"),
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
        |FROM sid GROUP BY user_id, session_id""".stripMargin),

    // Temporal linkage: interval-overlap candidate pairs over event
    // validity windows [ts, ts + (⌊value⌋+1) minutes], keyed by user —
    // the bucketed equi-join formulation of the interval join Spark
    // lacks (10-minute grid cells, exact long micros, NO double
    // arithmetic), verified exact with closed-interval overlap. The
    // oracle is the tier-blind brute-force θ-join — candidate
    // completeness is exactly what equality proves.
    Gate("q_interval_pairs", (s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").as("id"), col("user_id"),
          // .cast("timestamp") hop covers TIMESTAMP_NTZ (identity under
          // the pinned UTC session timezone — the Comparators convention)
          unix_micros(col("ts").cast("timestamp")).as("start_us"),
          (unix_micros(col("ts").cast("timestamp")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L)
            .as("end_us"))
      graft.operators.Temporal.intervalCandidates(e, "id", "start_us",
        "end_us", bucketWidth = 600000000L, partitionCols = Seq("user_id")).out
    },
      // interval join: brute-force θ-join over the same validity windows
      // (epoch_us == unix_micros, floor(value) cast exact in both engines)
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
        | AND a.s <= b.e2 AND b.s <= a.e2""".stripMargin),

    // spatial grid blocking: venue-style points minted from customer by
    // pure integer arithmetic (microdegree fixed-point — the operator's
    // coordinate contract), partitioned by nation; radius 30000 within
    // cell 50000 keeps the forward-half-neighborhood coverage guarantee
    // live; bucketCap 60 routes the denser nations through the salted
    // tier at sf0.1 (the grid is lossless, so the oracle is tier-blind
    // brute force per nation). %4 subsample keeps the oracle's all-pairs
    // verification tractable.
    Gate("q_grid_pairs", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nk"),
          (col("c_custkey") * 48271L % 200000L).as("lat"),
          (col("c_custkey") * 69621L % 200000L).as("lon"))
      graft.operators.Spatial.gridCandidates(c, "id", "lat", "lon",
        radius = 30000L, cellSize = 50000L, partitionCols = Seq("nk"),
        bucketCap = 60).out
    },
      // spatial grid blocking: tier-blind brute-force Chebyshev θ-join per
      // nation over the same integer-minted points (grid is lossless by
      // the cellSize >= radius coverage guarantee)
      """WITH pts AS (
        |  SELECT c_custkey AS id, c_nationkey AS nk,
        |    c_custkey * 48271 % 200000 AS lat,
        |    c_custkey * 69621 % 200000 AS lon
        |  FROM customer WHERE c_custkey % 4 = 0
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  greatest(abs(a.lat - b.lat), abs(a.lon - b.lon)) AS d_chebyshev
        |FROM pts a JOIN pts b ON a.nk = b.nk AND a.id < b.id
        |WHERE greatest(abs(a.lat - b.lat), abs(a.lon - b.lon)) <= 30000""".stripMargin),

    // streaming: stream-static match-against-index replayed over the
    // shared documents table through a real micro-batch query (file
    // stream source → equi-join + kernel scoring → memory sink). Append
    // mode over a stream-static join equals the static join over all
    // input, which is exactly what the DuckDB oracle computes.
    Gate("q_stream_matches", (s, dir) => {
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
    },
      streamOracle("<>")),

    // streaming: stream-STREAM windowed join — two live streams (the
    // documents table replayed twice through independent file sources)
    // joined on block_key within an event-time band of ±120 s, with
    // watermark-bounded join state on both sides. Inner-join append over
    // a bounded replay equals the static self-join with the same band,
    // which is exactly what the oracle computes (pairs canonicalized
    // url_a < url_b — each unordered pair meets once in that direction).
    Gate("q_stream_join", (s, dir) => {
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
    },
      streamOracle("<", bandSeconds = Some(120L))),

    // streaming: STATEFUL cross-batch incremental matching
    // (flatMapGroupsWithState). Replayed over the documents table with an
    // uncapped per-key state, every unordered pair scoring ≥ theta is
    // emitted exactly once (when its second member arrives), regardless of
    // batch boundaries — which is exactly the half-matrix static join the
    // oracle computes.
    Gate("q_stream_incremental", (s, dir) => {
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
    },
      streamOracle("<")),

    // streaming: watermarked exact-dup suppression
    // (dropDuplicatesWithinWatermark). Event time synthesized
    // deterministically (doc_id seconds since epoch). Only the content
    // hash is emitted — WHICH duplicate row survives is
    // arrival-order-dependent, but the distinct hash set is exact.
    Gate("q_stream_dedup", (s, dir) => {
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
    },
      "SELECT DISTINCT sha256(text) AS content_hash FROM documents"),

    // streaming: stateless ingest quality-filter + scrub — append output
    // must equal the identical static filter row-for-row
    Gate("q_stream_quality", (s, dir) => {
      val static = s.read.parquet(s"$dir/documents.parquet")
      val stream = s.readStream.schema(static.schema)
        .parquet(stageStreamDir(s"$dir/documents.parquet"))
      val filtered = graft.streaming.StreamingLinkage
        .qualityFilterStream(stream, minQuality = 0.3)
        .select(col("doc_id"), col("quality"), col("text"))
      runToMemorySink(s, filtered, "q_stream_quality", "append")
    },
      {
      val scrub = graft.operators.TextAnalysis.PiiPatterns
        .foldLeft("text") { case (acc, (pat, repl)) =>
          s"regexp_replace($acc, '$pat', '$repl', 'g')"
        }
      s"""WITH $qualitySigCtes
         |SELECT doc_id, quality, $scrub AS text
         |FROM sigq WHERE quality >= CAST('0.3' AS DOUBLE)""".stripMargin
    }),

    // streaming: windowed event-time throughput metrics (watermark +
    // tumbling window aggregate). Synthesized event time as above; the
    // (window_start, lang, pages) aggregate is fully deterministic.
    Gate("q_stream_metrics", (s, dir) => {
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
    },
      """SELECT (doc_id // 600) * 600 AS window_start, lang,
        |  count(*) AS pages
        |FROM documents GROUP BY 1, 2""".stripMargin),
  )
}
