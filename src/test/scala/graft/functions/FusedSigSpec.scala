package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.operators.Similarity

/** The fused signature expressions must equal their de-fused definitions:
  * MinHash sha lanes == min over shingles of sha256("i:" ++ shingle), and
  * hyperplane_sig == the sign pattern of per-plane left-fold dots. These are
  * the same identities the DuckDB driver oracle re-derives in SQL. */
class FusedSigSpec extends SparkFunSuite {
  import spark.implicits._

  private def sha256hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString

  test("minhash_sig sha256 family == min of per-shingle sha digests") {
    val toks = Seq("alpha", "beta", "gamma") // sorted distinct
    val shingles = Seq("alpha beta", "beta gamma")
    val got = Seq(Tuple1(toks)).toDF("toks")
      .select(minhash_sig(col("toks"), 4, "sha256").as("sig"))
      .head().getSeq[String](0)
    val want = (0 until 4).map(i => shingles.map(sh => sha256hex(s"$i:$sh")).min)
    assert(got == want)
  }

  test("minhash_sig sha256: single token uses the token itself as shingle") {
    val got = Seq(Tuple1(Seq("solo"))).toDF("toks")
      .select(minhash_sig(col("toks"), 2, "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(got == (0 until 2).map(i => sha256hex(s"$i:solo")))
  }

  test("minhash_sig_chars sha256: k-gram shingles and whole-short-string") {
    val got = Seq(Tuple1("abcd")).toDF("s")
      .select(minhash_sig_chars(col("s"), 3, 2, "sha256").as("sig"))
      .head().getSeq[String](0)
    val shingles = Seq("abc", "bcd")
    assert(got == (0 until 2).map(i => shingles.map(sh => sha256hex(s"$i:$sh")).min))
    val short = Seq(Tuple1("ab")).toDF("s")
      .select(minhash_sig_chars(col("s"), 3, 2, "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(short == (0 until 2).map(i => sha256hex(s"$i:ab")))
  }

  test("minhash_sig xxhash64 family: deterministic, k lanes, near-dup docs agree on most lanes") {
    val a = (1 to 50).map(n => s"tok$n")
    val b = a.updated(25, "CHANGED") // one token differs
    val df = Seq((a, b)).toDF("ta", "tb")
      .select(minhash_sig(col("ta"), 16).as("sa"), minhash_sig(col("tb"), 16).as("sb"))
    val r = df.head()
    val sa = r.getSeq[Long](0)
    val sb = r.getSeq[Long](1)
    assert(sa.size == 16 && sb.size == 16)
    val agree = sa.zip(sb).count { case (x, y) => x == y }
    assert(agree >= 10, s"near-identical docs should share most lanes, got $agree/16")
    // determinism across partitioning
    val again = Seq((a, b)).toDF("ta", "tb").repartition(4)
      .select(minhash_sig(col("ta"), 16).as("sa")).head().getSeq[Long](0)
    assert(again == sa)
  }

  test("hyperplane_sig == sign pattern of interpreted left-fold dots") {
    val planes = Similarity.hyperplanes(8, 2, 6, 7L)
    val vecs = Seq(
      Array(0.5f, -1.0f, 2.0f, 0.0f, 1.5f, -0.25f, 3.0f, -2.0f),
      Array.fill(8)(0.0f),
      Array.fill(8)(1.0f))
    for (band <- 0 until 2; v <- vecs) {
      val want = planes(band).zipWithIndex.map { case (pl, p) =>
        val d = pl.zip(v).foldLeft(0.0) { case (acc, (w, x)) => acc + w * x.toDouble }
        if (d > 0) 1 << p else 0
      }.sum
      val got = Seq(Tuple1(v)).toDF("v")
        .select(hyperplane_sig(col("v"), planes(band)).as("sig"))
        .head().getInt(0)
      assert(got == want, s"band $band vec ${v.toSeq}")
    }
  }

  test("minhash_sig xxhash64 lanes == XXH64 hash-chain reference") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    // pins the production hash-chain structure: tokenHash = XXH64(bytes,
    // seed 42); shingleHash = XXH64.hashLong(next, prev); lane i =
    // min over shingles of XXH64.hashLong(shingleHash, i)
    val toks = Seq("alpha", "beta", "gamma", "delta")
    val th = toks.map(t => XXH64.hashUTF8String(UTF8String.fromString(t), 42L))
    val shingleHashes = th.sliding(2).map(p => XXH64.hashLong(p(1), p(0))).toSeq
    val want = (0 until 4).map(i => shingleHashes.map(sh => XXH64.hashLong(sh, i.toLong)).min)
    val got = Seq(Tuple1(toks)).toDF("t")
      .select(minhash_sig(col("t"), 4).as("s")).head().getSeq[Long](0)
    assert(got == want)
    // single-token fallback: lane i = XXH64.hashLong(tokenHash, i)
    val one = Seq(Tuple1(Seq("solo"))).toDF("t")
      .select(minhash_sig(col("t"), 2).as("s")).head().getSeq[Long](0)
    val soloH = XXH64.hashUTF8String(UTF8String.fromString("solo"), 42L)
    assert(one == (0 until 2).map(i => XXH64.hashLong(soloH, i.toLong)))
  }

  test("minhash_sig_chars shingles by CODE POINTS (non-BMP safe)") {
    // 𝕏 (U+1D54F) is a surrogate pair in UTF-16: a UTF-16-char windowing
    // bug would split it. Reference shingling below uses codePoints.
    val s = "a𝕏b€c"
    val cps = s.codePoints().toArray
    val shingles = (0 to cps.length - 3).map(i =>
      new String(cps.slice(i, i + 3), 0, 3))
    val want = (0 until 2).map(i => shingles.map(sh => sha256hex(s"$i:$sh")).min)
    val got = Seq(Tuple1(s)).toDF("s")
      .select(minhash_sig_chars(col("s"), 3, 2, "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(got == want)
    // short non-BMP string falls back to the whole string
    val short = Seq(Tuple1("𝕏€")).toDF("s")
      .select(minhash_sig_chars(col("s"), 3, 1, "sha256").as("sig"))
      .head().getSeq[String](0)
    assert(short == Seq(sha256hex("0:𝕏€")))
  }

  test("simhash64 and simhash60_sha share ONE whitespace class (\\x0B pinned)") {
    // \x0B (vertical tab) is in Java-regex \s; a tokenizer that excluded it
    // from one family would silently bucket \x0B-bearing text differently
    // between the production and sha verification paths. Pin: a \x0B
    // separator tokenizes exactly like a newline in BOTH families.
    val r = Seq(("alpha\u000bbeta gamma", "alpha\nbeta gamma"))
      .toDF("vt", "nl")
      .select(simhash64(col("vt")).as("s1"), simhash64(col("nl")).as("s2"),
        simhash60_sha(col("vt")).as("h1"), simhash60_sha(col("nl")).as("h2"))
      .head()
    assert(r.getLong(0) == r.getLong(1), "simhash64 must treat \\x0B as whitespace")
    assert(r.getLong(2) == r.getLong(3), "simhash60Sha must treat \\x0B as whitespace")
    // and \x0B must STILL separate tokens from their glued form
    val glued = Seq(("alphabeta gamma", "alpha\u000bbeta gamma")).toDF("a", "b")
      .select(simhash64(col("a")).as("sa"), simhash64(col("b")).as("sb")).head()
    assert(glued.getLong(0) != glued.getLong(1))
  }

  test("minhash_sig skips null elements; token-less input returns NULL") {
    // null elements are skipped (as if pre-filtered) — no executor NPE from
    // a SQL call like minhash_sig(array('a', NULL, 'b'), 4)
    val withNulls = Seq(Tuple1(Seq[String]("alpha", null, "beta", "gamma"))).toDF("t")
      .select(minhash_sig(col("t"), 4).as("s"),
        minhash_sig(col("t"), 4, "sha256").as("ss")).head()
    val clean = Seq(Tuple1(Seq("alpha", "beta", "gamma"))).toDF("t")
      .select(minhash_sig(col("t"), 4).as("s"),
        minhash_sig(col("t"), 4, "sha256").as("ss")).head()
    assert(withNulls.getSeq[Long](0) == clean.getSeq[Long](0))
    assert(withNulls.getSeq[String](1) == clean.getSeq[String](1))
    // empty / all-null arrays yield NULL, not a shared sentinel signature
    // that would band-collide every token-less document as a "near-dup"
    val degenerate = Seq(
      Tuple1(Seq.empty[String]),
      Tuple1(Seq[String](null, null)),
    ).toDF("t")
      .select(minhash_sig(col("t"), 4).as("s"),
        minhash_sig(col("t"), 4, "sha256").as("ss"))
      .collect()
    assert(degenerate.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // same through the SQL registration (the unguarded path ADVICE flagged)
    val sql = spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING)), 4) AS s, " +
        "minhash_sig(CAST(array() AS ARRAY<STRING>), 4) AS e").head()
    assert(!sql.isNullAt(0) && sql.isNullAt(1))
  }

  test("hyperplane_sig: equal plane CONTENT means equal expressions") {
    // case-class equality over an Array is reference identity — that bug
    // would make canonicalization / subexpression elimination / exchange
    // reuse miss on semantically identical nodes. Planes are held as Seqs.
    val p1 = Similarity.hyperplanes(4, 1, 3, 1L)(0)
    val p2 = Similarity.hyperplanes(4, 1, 3, 1L)(0) // fresh arrays, same values
    assert(!(p1 eq p2))
    // shared child isolates the plane comparison (Column-built children
    // carry call-site Origins that differ by construction)
    val child = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false),
      nullable = false)
    val e1 = Kernel.hyperplaneSig(child, p1.toSeq.map(_.toSeq))
    val e2 = Kernel.hyperplaneSig(child, p2.toSeq.map(_.toSeq))
    assert(e1 == e2, "structurally equal planes must compare equal")
    assert(e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2))
  }

  test("fused signatures run inside whole-stage codegen") {
    val planes = Similarity.hyperplanes(4, 1, 3, 1L)
    // repartition blocks ConvertToLocalRelation from folding the tiny
    // local table at plan time — we want the executed projection
    val df = Seq((Seq("a", "b"), Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("t", "v")
      .repartition(1)
      .select(minhash_sig(col("t"), 4).as("m"),
        minhash_sig_chars(lit("hello"), 3, 4, "sha256").as("mc"),
        hyperplane_sig(col("v"), planes(0)).as("h"))
    df.collect() // materialize so AQE finalizes the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
  }
}
