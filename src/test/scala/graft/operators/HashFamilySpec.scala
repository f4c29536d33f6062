package graft.operators

import graft.SparkFunSuite
import graft.functions.HashFamily

/** One helper owns the hash family names: an entry point accepts its
  * production family and `sha256`, and rejects every other name at the
  * call instead of silently running the other family. */
class HashFamilySpec extends SparkFunSuite {
  import spark.implicits._

  private def rejected(family: String)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.contains(s"got '$family'"), e.getMessage)
  }

  test("isSha256 accepts the production family and sha256 only") {
    assert(HashFamily.isSha256("sha256", "fnv"))
    assert(!HashFamily.isSha256("fnv", "fnv"))
    rejected("SHA256")(HashFamily.isSha256("SHA256", "xxhash64"))
    rejected("xxhash64")(HashFamily.isSha256("xxhash64", "fnv"))
  }

  test("Dedup.simhashPairs rejects a family other than fnv or sha256") {
    val docs = Seq(("1", "a b c d"), ("2", "a b c e")).toDF("id", "text")
    Seq("SHA256", "xxhash64").foreach(f => rejected(f)(Dedup.simhashPairs(docs, "id", "text",
      hashFamily = f)))
    assert(Dedup.simhashPairs(docs, "id", "text", hashFamily = "sha256").out.columns.nonEmpty)
  }

  test("Similarity.fitIvf rejects a hash order other than xxhash64 or sha256") {
    val emb = Seq(("a", Array(1f, 0f)), ("b", Array(0f, 1f))).toDF("id", "v")
    Seq("SHA256", "fnv").foreach(f => rejected(f)(Similarity.fitIvf(emb, "id", "v",
      nCentroids = 1, hashOrder = f)))
  }

  test("Multimodal.decodeFeatures rejects a family other than fnv or sha256") {
    val media = Seq(("m1", Array[Byte](1, 2, 3))).toDF("id", "bin")
    Seq("xxhash64", "SHA256").foreach(f => rejected(f)(Multimodal.decodeFeatures(spark, media,
      "id", "bin", hashFamily = f)))
  }

  test("the winnowing and MinHash entry points reject an unknown family") {
    val docs = Seq(("1", "the quick brown fox jumps")).toDF("id", "text")
    rejected("fnv")(Dedup.winnowFingerprints(docs, "id", "text", hashFamily = "fnv"))
    rejected("fnv")(Dedup.minhashLshPairs(docs, "id", "text", 0.5, hashFamily = "fnv"))
  }
}
