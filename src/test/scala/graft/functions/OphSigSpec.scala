package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** One-permutation MinHash (16 bins, rotation-densified): the sha256
  * family must equal a from-scratch replay of the published construction
  * (one digest per shingle, first-hex-nibble bins, per-bin lexicographic
  * minima, circular right-borrow tagged with the distance — the same
  * derivation the q_minhash_oph_sig DuckDB oracle spells in SQL), the
  * xxhash64 family must share its structure, and the densified signature
  * must estimate Jaccard like the classic k-lane signature does. */
class OphSigSpec extends SparkFunSuite {
  import spark.implicits._

  private def sha256hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString

  /** Reference replay of sigTokensShaOph over already-shingled strings. */
  private def replay(shingles: Seq[String]): Seq[String] = {
    val byBin = shingles.map(sha256hex)
      .groupBy(h => Integer.parseInt(h.substring(0, 1), 16))
      .map { case (b, hs) => b -> hs.min }
    (0 until 16).map { i =>
      byBin.get(i) match {
        case Some(h) => h
        case None =>
          val j = (1 until 16).find(j => byBin.contains((i + j) % 16)).get
          byBin((i + j) % 16) + ":" + j
      }
    }
  }

  test("sha256 family == published OPH construction (bins, minima, borrow tags)") {
    val toks = Seq("alpha", "beta", "gamma", "delta") // as given, no sort
    val shingles = toks.sliding(2).map(_.mkString(" ")).toSeq
    val got = Seq(Tuple1(toks)).toDF("toks")
      .select(minhash_sig_oph(col("toks"), "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(got == replay(shingles))
    // with only 3 shingles at most 3 of 16 bins are filled: borrows exist
    assert(got.exists(_.contains(":")))
    // ...and every borrow tag names a bin that IS filled at that distance
    got.zipWithIndex.foreach { case (v, i) =>
      if (v.contains(":")) {
        val Array(h, j) = v.split(":")
        assert(got((i + j.toInt) % 16) == h)
      }
    }
  }

  test("single token shingles the token itself; token-less input is null") {
    val got = Seq(Tuple1(Seq("solo"))).toDF("toks")
      .select(minhash_sig_oph(col("toks"), "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(got == replay(Seq("solo")))
    val rows = Seq((Seq.empty[String], Seq[String](null, null)))
      .toDF("empty", "nulls")
      .select(minhash_sig_oph(col("empty"), "sha256").as("a"),
        minhash_sig_oph(col("nulls")).as("b"))
      .head()
    assert(rows.isNullAt(0) && rows.isNullAt(1))
  }

  test("xxhash64 family: 16 bins, deterministic, null semantics, distinct docs differ") {
    val df = Seq(
      Tuple1(Seq("alpha", "beta", "gamma")),
      Tuple1(Seq("alpha", "beta", "gamma")),
      Tuple1(Seq("totally", "different", "words"))).toDF("toks")
      .select(minhash_sig_oph(col("toks")).as("sig"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows.forall(_.length == 16))
    assert(rows(0) == rows(1))
    assert(rows(0) != rows(2))
  }

  test("densified OPH estimates Jaccard: identical > near-dup > disjoint agreement") {
    def sig(toks: Seq[String]): Seq[Long] =
      Seq(Tuple1(toks)).toDF("toks")
        .select(minhash_sig_oph(col("toks")).as("sig"))
        .head().getSeq[Long](0)
    def agree(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).count { case (x, y) => x == y }
    val base = (1 to 40).map(i => s"tok$i")
    val near = base.updated(3, "changed3").updated(17, "changed17")
    val far = (1 to 40).map(i => s"other$i")
    assert(agree(sig(base), sig(base)) == 16)
    val nearAgree = agree(sig(base), sig(near))
    assert(nearAgree > agree(sig(base), sig(far)))
    assert(nearAgree >= 8, s"near-dup agreement too low: $nearAgree/16")
  }

  test("SQL registration and codegen/interpreted agreement") {
    registerAll(spark)
    val df = Seq(Tuple1(Seq("alpha", "beta", "gamma"))).toDF("toks")
    df.createOrReplaceTempView("oph_t")
    val viaSql = spark.sql(
      "select minhash_sig_oph(toks, 'sha256') as sig from oph_t")
      .head().getSeq[String](0)
    val viaCol = df.select(minhash_sig_oph(col("toks"), "sha256"))
      .head().getSeq[String](0)
    assert(viaSql == viaCol)
    // interpreted path (no codegen) must agree with the codegen'd one
    val interp = Kernel.minhashSigOph(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("alpha", "beta", "gamma"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      "sha256").eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq
    assert(interp == viaCol)
  }
}
