package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkFunSuite
import graft.strsim.TextKernels

class TextAnalysisSpec extends SparkFunSuite {
  import spark.implicits._

  test("tokenCount handles empties, runs of whitespace, multiline") {
    val df = Seq("", "  ", "a", " a  b ", "a\nb\tc d").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 1, 2, 4))
  }

  test("tokenCountBpe: contractions, digit/punct runs, space eating") {
    val df = Seq("", "hello world", "don't stop", "abc123", "a,b", "x  y",
      "it's 42 degrees!").toDF("t")
    // engine count must equal a plain Java-regex count of the same pattern
    val p = java.util.regex.Pattern.compile(TextAnalysis.BpeTokenPattern)
    val rows = df.select(col("t"),
      TextAnalysis.tokenCountBpe(col("t")).as("got")).collect()
    rows.foreach { r =>
      val m = p.matcher(r.getString(0))
      var n = 0
      while (m.find()) n += 1
      assert(r.getInt(1) == n, s"'${r.getString(0)}': got ${r.getInt(1)}, java $n")
    }
    // hand-counted anchors: "hello"+" world"; "abc"+"123"; "don"+"'t"+" stop"
    val got = rows.map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got("hello world") == 2 && got("abc123") == 2 && got("don't stop") == 3)
    assert(got("") == 0)
  }

  test("langId picks the stopword-dominant language, 'und' when none") {
    val df = Seq(
      "the cat and the dog is in a tree",
      "der hund und die katze ist nicht ein vogel",
      "le chat et les chiens est une merveille",
      "el gato y los perros es una maravilla",
      "zzz qqq xxx").toDF("t")
      .select(TextAnalysis.langId(col("t")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("en", "de", "fr", "es", "und"))
  }

  test("qualityScore stays in [0,1] and rewards clean stopword-bearing text") {
    val clean = "the quick brown fox jumps over the lazy dog and runs to the hills " * 4
    val junk = "@@@@ #### $$$$ %%%% ^^^^"
    val df = Seq(clean, junk, "").toDF("t")
      .select(TextAnalysis.qualityScore(col("t")).as("q")).collect()
    val Seq(qClean, qJunk, qEmpty) = df.map(_.getDouble(0)).toSeq
    assert(qClean > qJunk)
    assert(Seq(qClean, qJunk, qEmpty).forall(q => q >= 0.0 && q <= 1.0))
  }

  test("simhash: near-duplicates land within small Hamming distance") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = base.replace("token30", "changed")
    val other = (1 to 60).map(i => s"word$i").mkString(" ")
    def sig(s: String) = TextKernels.simhash64(UTF8String.fromString(s))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(base) == sig(base))
    assert(ham(sig(base), sig(nearDup)) <= 8,
      s"near-dup hamming ${ham(sig(base), sig(nearDup))}")
    assert(ham(sig(base), sig(other)) > 16,
      s"unrelated hamming ${ham(sig(base), sig(other))}")
  }

  test("simhash expression == kernel, inside codegen") {
    val texts = Seq("a b c", "", "one two three four", "x " * 100)
    val got = texts.toDF("t").select(graft.functions.simhash64(col("t"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == texts.map(s => TextKernels.simhash64(UTF8String.fromString(s))))
  }

  test("min-kgram fingerprint: deterministic, shared-content collisions") {
    def fp(s: String) = TextKernels.minKGramHash(UTF8String.fromString(s), 16)
    val doc = "shared content block that is quite long and distinctive " * 3
    assert(fp(doc) == fp(doc))
    // the minimizing 16-gram of `doc` survives embedding into a larger doc
    // unless the wrapper introduces a smaller gram — check containment case
    val wrapped = "prefix " + doc + " suffix"
    assert(fp(wrapped) <= fp(doc))
    val expr = Seq(doc).toDF("t")
      .select(graft.functions.min_kgram_hash(col("t"), 16)).head().getLong(0)
    assert(expr == fp(doc))
  }

  test("repetition counters: lines, dups, trimming, bigram coverage") {
    def ctr(s: String): Seq[Long] =
      TextKernels.repetitionCounters(UTF8String.fromString(s)).toLongArray().toSeq
    // "ab\nab\ncd" → 3 line instances, 1 dup instance, dup chars 2, total 6;
    // words: ab ab cd → bigrams (ab,ab)×1 (ab,cd)×1 → top cover 1*4=4;
    // word chars 6
    assert(ctr("ab\nab\ncd") == Seq(3, 1, 2, 6, 4, 6))
    // trimming: "\t ab \u000B\n ab " — both lines trim to "ab" (dup);
    // the \u000B is trimmed, matching the oracle's trim set
    assert(ctr("\t ab \u000B\n ab ") == Seq(2, 1, 2, 4, 4, 4))
    // empty / whitespace-only text → all zeros (operator yields 0.0 fracs)
    assert(ctr("") == Seq(0, 0, 0, 0, 0, 0))
    assert(ctr(" \n \t\n") == Seq(0, 0, 0, 0, 0, 0))
    // bigrams cross line boundaries (tokenization is whole-text), and the
    // TOP bigram is by coverage count*len, not by count alone: (xx,xx)
    // appears 3 times covering 12 chars; (longword,longword) once covering
    // 16 — coverage picks the long one
    assert(ctr("xx xx xx xx\nlongword longword")(4) == 16L)
    // overlapping self-repeats double-count the shared word BY DESIGN —
    // coverage 3*4=12 over 8 word chars → ratio 1.5 > 1 (a strictly
    // stronger repetition signal; documented on the kernel)
    assert(ctr("xx xx xx xx")(4) == 12L && ctr("xx xx xx xx")(5) == 8L)
    // non-BMP: char counts are code points ('𝐀' is 1, not 2 UTF-16 units)
    assert(ctr("𝐀 𝐀") == Seq(1, 0, 0, 3, 2, 2))
  }

  test("repetitionSignals fractions match hand computation (codegen path)") {
    val df = Seq((1L, "ab\nab\ncd"), (2L, ""), (3L, "solo"))
      .toDF("doc_id", "t").repartition(1)
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "t")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3L)
    assert(out(0).getDouble(2) == 1.0 / 3.0)
    assert(out(0).getDouble(3) == 2.0 / 6.0)
    assert(out(0).getDouble(4) == 4.0 / 6.0)
    assert(out(1).getLong(1) == 0L && out(1).getDouble(2) == 0.0)
    // single word: no bigram → coverage 0 but word chars 4 → frac 0.0
    assert(out(2).getDouble(4) == 0.0)
  }

  test("topTfidfTerms: rare terms outrank common, exact rational idf") {
    // 'common' appears in all 3 docs; each doc also has a unique term
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2 rare2 rare2"),
      (3L, "common rare3")).toDF("doc_id", "text")
    val out = TextAnalysis.topTfidfTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("term")).toMap
    // doc1: common tf=2 → 2*4/4 = 2.0; rare1 tf=1 → 1*4/2 = 2.0 —
    // exact tie, 'common' < 'rare1' binary → common wins the tie-break
    assert(out(1L) == "common")
    assert(out(2L) == "rare2") // tf=3, df=1 → 6.0 beats common's 1.0
    assert(out(3L) == "rare3") // 2.0 beats common's 1.0
    val k2 = TextAnalysis.topTfidfTerms(docs, "doc_id", "text", k = 2)
    assert(k2.where(col("id") === 2L).count() == 2)
    assert(k2.groupBy("id").count().agg(max("count")).head().getLong(0) <= 2)
  }

  // ------------------------------------------------- char-trigram LM

  test("charTrigramCounts: hand-checked multiplicities, short docs ignored") {
    import spark.implicits._
    val d = Seq((1L, "abcab"), (2L, "aaaa"), (3L, "xy"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.charTrigramCounts(d, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("abc" -> 1L, "bca" -> 1L, "cab" -> 1L, "aaa" -> 2L))
  }

  test("trigramLmFace: self-model has zero OOV; foreign text shows OOV mass") {
    import spark.implicits._
    val en = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log")).toDF("doc_id", "text")
    val zh = Seq((10L, "qqqzzzqqqzzz")).toDF("doc_id", "text")
    val all = en.unionAll(zh)
    val tgt = TextAnalysis.charTrigramCounts(en, "doc_id", "text")
    val bg = TextAnalysis.charTrigramCounts(all, "doc_id", "text")
    val face = TextAnalysis.trigramLmFace(all, "doc_id", "text", tgt, bg)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // background fit on everything: nothing is ever background-OOV
    assert(face.values.forall(_._5 == 0L))
    // english docs: zero target-OOV; the foreign doc: ALL trigrams OOV
    assert(face(1L)._3 == 0L && face(2L)._3 == 0L)
    assert(face(10L)._3 == face(10L)._1 && face(10L)._2 == 0L)
  }

  test("trigramLogRatio: target-like text scores above background-only text") {
    import spark.implicits._
    val en = (1L to 20L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog " + i))
      .toDF("doc_id", "text")
    val other = (100L to 119L)
      .map(i => (i, "zzz qqq vvv kkk www xxx yyy uuu ppp " + i))
      .toDF("doc_id", "text")
    val all = en.unionAll(other)
    val tgt = TextAnalysis.charTrigramCounts(en, "doc_id", "text")
    val bg = TextAnalysis.charTrigramCounts(all, "doc_id", "text")
    val tT = tgt.agg(sum("cnt")).head().getLong(0)
    val vT = tgt.count()
    val tB = bg.agg(sum("cnt")).head().getLong(0)
    val vB = bg.count()
    val got = TextAnalysis.trigramLogRatio(all, "doc_id", "text", tgt, bg,
        tT, vT, tB, vB)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val enAvg = (1L to 20L).map(got).sum / 20.0
    val otherAvg = (100L to 119L).map(got).sum / 20.0
    assert(enAvg > 0.0 && otherAvg < 0.0 && enAvg > otherAvg + 1.0,
      s"en=$enAvg other=$otherAvg")
    // repartitioning only reorders the float sum (tolerance, not bits —
    // which is exactly why this face is spec-pinned, never hash-gated)
    val a = TextAnalysis.trigramLogRatio(all.repartition(7), "doc_id",
        "text", tgt, bg, tT, vT, tB, vB)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert((1L to 20L).forall(i => math.abs(a(i) - got(i)) < 1e-12))
  }
}
