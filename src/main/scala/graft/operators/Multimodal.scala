package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFamily

/** One decoded media item: id + fixed-dim feature vector (the shape a
  * downstream embedding/training stage consumes). */
case class MediaFeatures(id: String, kind: String, features: Array[Float])

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata. The Spark side — schema, partitioning,
  * batch shape — is real and tested; the actual media decode is a STUB
  * (this container ships no image/audio libraries): a deterministic fake
  * feature extractor, clearly marked below, with the exact signature a real
  * decoder (JNI/FFI or vendored JVM codec) would drop into.
  */
object Multimodal {

  /** Container kind sniffed from magic bytes (hex of the first 4 bytes) —
    * a pure per-row expression, shared by [[metadata]] and
    * [[decodeFeatures]] so neither ever joins the blob back to itself. */
  private def kindOf(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val magic = upper(hex(substring(bin, 1, 4)))
    when(magic.startsWith("89504E47"), "png")
      .when(magic.startsWith("FFD8FF"), "jpeg")
      .when(magic.startsWith("474946"), "gif")
      .when(magic.startsWith("52494646"), "riff") // wav/avi/webp family
      .when(magic.startsWith("3C68746D") || magic.startsWith("3C21444F"), "html")
      .otherwise("unknown")
  }

  /** Typed metadata over a binary column using built-ins only: byte length
    * + container sniffing from magic bytes.
    * Runs fully inside codegen; the binary is scanned once, never shuffled. */
  def metadata(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      length(col(binCol)).as("n_bytes"),
      kindOf(col(binCol)).as("kind"))

  /** ======================== STUB ========================
    * Deterministic fake decoder standing in for the real media decode
    * (`???` territory: no codec libraries in this container). Produces a
    * stable `dim`-float feature from the bytes so the pipeline around it is
    * fully exercisable and testable. A real implementation replaces ONLY
    * this function body (same signature, same batch contract). */
  private def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001b3L
      i += 1
    }
    Array.tabulate(dim) { d =>
      var z = h + 0x9e3779b97f4a7c15L * (d + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11).toFloat / (1L << 53).toFloat
    }
  }
  /* ====================== END STUB ====================== */

  /** sha256 verification family of the decode stub (same fixed signature,
    * same seam): feature d is the big-endian 24-bit integer spelled by
    * digest bytes [3d, 3d+3) of sha256(blob), scaled to [0, 1) by 2^-24.
    * Every ingredient is ANSI-SQL-recomputable (DuckDB re-derives each
    * feature from the sha256 hex string), and a 24-bit integer over a
    * power-of-two denominator is EXACT in float32 — so the driver gate can
    * hash-check the whole decode pipeline (projection → batched
    * mapPartitions → fixed schema) while the production stub keeps its
    * cheaper FNV family. Needs 3·dim ≤ 32 digest bytes. */
  private def decodeStubSha(bytes: Array[Byte], dim: Int): Array[Float] = {
    require(dim * 3 <= 32, s"sha256 family supports dim <= 10, got $dim")
    val md = graft.functions.MinHashKernels.shaDigest.get()
    md.reset()
    val d = md.digest(bytes)
    Array.tabulate(dim) { i =>
      val v = ((d(3 * i) & 0xFF) << 16) | ((d(3 * i + 1) & 0xFF) << 8) |
        (d(3 * i + 2) & 0xFF)
      v.toFloat / 16777216.0f
    }
  }

  /** Batched feature extraction over (id, kind, binary). Batch contract:
    * the decoder sees `batchSize` items at a time per partition (the shape
    * a vectorized/FFI decoder wants — amortized model/codec setup), and
    * items never cross partitions. Output schema is fixed:
    * (id string, kind string, features array<float> of length `dim`).
    *
    * `hashFamily`: `fnv` (production stub) or `sha256` (the
    * oracle-checkable verification family, [[decodeStubSha]]) — one
    * parameter swaps the stub body, everything around the seam is the
    * identical plumbing a real decoder drops into. */
  def decodeFeatures(spark: SparkSession, media: DataFrame, idCol: String,
      binCol: String, dim: Int = 8, batchSize: Int = 64,
      hashFamily: String = "fnv"): Dataset[MediaFeatures] = {
    import spark.implicits._
    val sha = HashFamily.isSha256(hashFamily, "fnv")
    // ONE projection: kind is a per-row expression over the same blob, so
    // (id, kind, bin) never leaves the scan pipeline — at 100 TB of media a
    // metadata-then-rejoin would shuffle every blob twice for nothing
    // (plan shape asserted in PipelinePlanSpec: no Exchange below the map).
    media
      .select(col(idCol).cast("string").as("id"),
        kindOf(col(binCol)).as("kind"), col(binCol).as("bin"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // a real decoder would process `batch` in one vectorized call
          batch.map { case (id, kind, bin) =>
            MediaFeatures(id, kind,
              if (sha) decodeStubSha(bin, dim) else decodeStub(bin, dim))
          }
        }
      }
  }
}
