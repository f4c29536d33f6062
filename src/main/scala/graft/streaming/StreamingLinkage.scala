package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Linkage

/** Structured-Streaming face of the linkage engine: continuous page
  * ingestion → incremental dedup/blocking/scoring. The same extraction and
  * scoring expressions as the batch pipeline (they're pure Catalyst
  * expressions, so they run identically under the micro-batch engine).
  *
  * Scale notes: stream-static joins broadcast or shuffle exactly like
  * batch equi-joins; stateful matching keys its state by block_key, so
  * state is sharded by the same key the shuffle partitions on; watermarks
  * bound state growth for the dedup and windowed-metrics operators.
  */
object StreamingLinkage {

  /** Candidate record for stateful matching. */
  case class Keyed(block_key: String, url: String, name_norm: String)

  /** An emitted match. */
  case class Match(url_a: String, url_b: String, score: Double)

  /** Extraction over a STREAMING pages frame — identical expressions as
    * batch Linkage.extract (row-local, so fully streamable). */
  def extractStream(pages: DataFrame): DataFrame = Linkage.extract(pages)

  /** Exact-dup suppression within the watermark horizon: one surviving row
    * per (content hash); event time = warc_ts. */
  def dedupStream(pages: DataFrame, watermark: String = "1 hour"): DataFrame =
    pages
      .withColumn("content_hash", sha2(col("html"), 256))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static scoring: each arriving page scored against a static
    * reference index on the shared blocking key (the "match new crawl
    * against yesterday's entities" shape). Static side is broadcast when
    * small — stock Catalyst join selection. */
  def matchAgainstIndex(stream: DataFrame, index: DataFrame,
      theta: Double): DataFrame =
    matchKeyedAgainstIndex(
      extractStream(stream).select(col("url"), col("name_norm"), col("block_key")),
      index.select(col("url"), col("name_norm"), col("block_key")), theta)

  /** Core of [[matchAgainstIndex]] over pre-keyed frames — both sides
    * shaped (url, name_norm, block_key). Kept separate so any keyed
    * streaming source (not just the pages corpus) can be matched, and so
    * the driver gate can replay it over the shared test tables. */
  def matchKeyedAgainstIndex(stream: DataFrame, index: DataFrame,
      theta: Double): DataFrame = {
    val s = stream.select(col("url").as("url_a"), col("name_norm").as("name_a"),
      col("block_key"))
    val idx = index.select(col("url").as("url_b"), col("name_norm").as("name_b"),
      col("block_key"))
    scored(s.join(idx, "block_key").where(col("url_a") =!= col("url_b")),
      theta)
  }

  /** Stream-STREAM windowed join: match records across two live streams
    * (e.g. two crawl feeds) on the blocking key within an event-time band
    * of ±`maxDelaySeconds`. Spark buffers both sides in watermark-bounded
    * join state, so pairs match ACROSS micro-batches in either direction —
    * the capability neither the stream-static join (static side frozen)
    * nor the keyed-state matcher (one stream) covers.
    *
    * Scale/state contract: both sides carry a watermark, and the join
    * condition carries the time band — together they let the state store
    * evict rows older than (watermark − band), so state is bounded by
    * stream-rate × (watermark + band), not by history. Inner-join results
    * emit immediately (append mode does not wait for the watermark).
    * Output is directed (url_a from left, url_b from right); callers
    * canonicalize with url_a < url_b when joining a stream to itself. */
  def streamStreamMatches(left: DataFrame, right: DataFrame, theta: Double,
      maxDelaySeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col("url").as("url_a"), col("name_norm").as("name_a"),
      col("block_key").as("bk_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", watermark)
    val r = right.select(col("url").as("url_b"), col("name_norm").as("name_b"),
      col("block_key").as("bk_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", watermark)
    scored(l.join(r,
      col("bk_a") === col("bk_b") &&
        col("url_a") =!= col("url_b") &&
        col("ts_b") >= col("ts_a") - expr(s"INTERVAL $maxDelaySeconds SECONDS") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $maxDelaySeconds SECONDS")),
      theta)
  }

  /** (url_a, url_b, score) of the matched rows (url_a, url_b, name_a,
    * name_b, …) whose [[Linkage.composite]] score clears `theta`. */
  private def scored(matched: DataFrame, theta: Double): DataFrame =
    Linkage.composite(matched)
      .select(col("url_a"), col("url_b"), col("score"))
      .where(col("score") >= theta)

  /** Stateful incremental matching: per block_key, keep the names seen so
    * far (capped) and emit a match for every new arrival that scores ≥
    * theta against remembered ones — matches ACROSS micro-batches, which a
    * plain stream-stream self-join would need full history for.
    * State per key is bounded by `maxPerKey` (hot keys degrade gracefully,
    * mirroring the batch bucketCap policy). */
  def incrementalMatches(spark: SparkSession, keyed: Dataset[Keyed],
      theta: Double, maxPerKey: Int = 64): Dataset[Match] = {
    import spark.implicits._
    keyed
      .groupByKey(_.block_key)
      .flatMapGroupsWithState[Seq[(String, String)], Match](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Seq[(String, String)]]) =>
          // Vector: effectively-O(1) :+ per arrival. The deserialized state
          // Seq is impl-unspecified (often array-backed, whose :+ copies
          // O(n) — quadratic over a batch if a caller raises maxPerKey, and
          // the driver gate runs maxPerKey = 10^6), so normalize once per
          // key per batch.
          var seen: Seq[(String, String)] =
            state.getOption.map(_.toVector).getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer[Match]()
          rows.foreach { r =>
            seen.foreach { case (url, name) =>
              if (url != r.url) {
                val score =
                  graft.strsim.StrSimKernels.jaroWinkler(r.name_norm, name) +
                    graft.strsim.StrSimKernels.sorensenDice(r.name_norm, name)
                if (score >= theta) {
                  val (a, b) = if (r.url < url) (r.url, url) else (url, r.url)
                  out += Match(a, b, score)
                }
              }
            }
            if (seen.size < maxPerKey) seen = seen :+ (r.url, r.name_norm)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming corpus-ingest filter: per-arriving-document quality gate +
    * PII scrub on a `(doc_id, text, ...)` stream. Fully STATELESS — a
    * projection + filter with no watermark and no state store, so it
    * composes in front of any stateful stage, runs at source rate on any
    * cluster size, and its append-mode output equals the identical static
    * filter row-for-row (which is how the driver gate hash-checks it). */
  def qualityFilterStream(docs: DataFrame,
      minQuality: Double): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .where(col("quality") >= minQuality)
      .withColumn("text", TextAnalysis.scrubPii(col("text")))
  }

  /** Windowed ingestion metrics: pages and distinct languages per
    * event-time window (late data bounded by the watermark). */
  def throughputMetrics(pages: DataFrame, window_ : String = "10 minutes",
      watermark: String = "1 hour"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), window_), col("lang"))
      .agg(count(lit(1)).as("pages"))
}
