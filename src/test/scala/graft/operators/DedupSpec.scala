package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class DedupSpec extends SparkFunSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon", "en", "s1"),
    (2L, "alpha beta gamma delta epsilon", "en", "s1"), // exact dup of 1
    (3L, "alpha beta gamma delta zeta", "en", "s1"),    // near dup of 1 (4/6)
    (4L, "totally different content here now", "en", "s1"),
    (5L, "alpha beta gamma delta epsilon", "en", "s2"), // exact dup, other block
  ).toDF("doc_id", "text", "lang", "source")

  test("exactGroups canonicalizes identical content to min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 1L && g(2L) == 1L && g(5L) == 1L) // cross-block: content only
    assert(g(3L) == 3L && g(4L) == 4L)
  }

  test("ngramJaccardPairs finds near-dups within blocks only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq("lang", "source"), tau = 0.5).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // 4/6 = 0.667
    assert(!keys.exists(p => p._1 == 5L || p._2 == 5L)) // other block
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L)) // dissimilar
    val j13 = pairs.find(p => p._1 == 1L && p._2 == 3L).get._3
    assert(math.abs(j13 - 4.0 / 6.0) < 1e-12)
  }

  test("ngramJaccard 3-tier: salted grid lossless, hardCap drops observably") {
    // one hot block (30 docs, en/s1) + one cold block (3 docs, en/s2)
    val hotDocs = (1L to 30L).map(i =>
      (i, s"alpha beta gamma delta token$i", "en", "s1"))
    val coldDocs = Seq(
      (101L, "red green blue", "en", "s2"),
      (102L, "red green blue", "en", "s2"),
      (103L, "unrelated words entirely different", "en", "s2"))
    val d = (hotDocs ++ coldDocs).toDF("doc_id", "text", "lang", "source")
    val plain = Dedup.ngramJaccardPairs(d, "doc_id", "text",
      Seq("lang", "source"), tau = 0.5).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // tier 2: bucketCap=5 routes the hot block through the salted grid —
    // LOSSLESS: identical pair set, identical jaccard values
    val salted = Dedup.ngramJaccardPairs(d, "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 5, saltGroups = 4).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
    assert(plain.contains((101L, 102L, 1.0)))
    assert(plain.exists(p => p._1 == 1L && p._2 == 2L)) // hot-block pair survives
    // tier 3: hardCap=10 drops the hot block's pairs…
    val cappedRun = Dedup.ngramJaccardPairs(d, "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 5, hardCap = 10,
      saltGroups = 4)
    val capped = cappedRun.out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L))) // only the cold block remains
    // …and the drop is reported with the block key and its size
    val dropped = cappedRun.dropped.collect()
    assert(dropped.length == 1)
    assert(dropped.head.getString(0) == "en\u0001s1")
    assert(dropped.head.getLong(1) == 30L)
  }

  test("minhash hot-bucket cap drops are observable, never silent") {
    val many = (1L to 40L).map(i => (i, "identical content every time", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    // cap of 10 < 40 identical docs → every band bucket is dropped…
    val pairs = Dedup.minhashLshPairs(many, "doc_id", "text", tau = 0.5,
      bucketCap = 10)
    assert(pairs.count() == 0)
    // …and the drop is reported with bucket sizes
    val dropped = Dedup.nearDupGroups(many, "doc_id", "text", tau = 0.5,
      bucketCap = 10).dropped.collect()
    assert(dropped.length == 4) // one bucket per band, all identical sigs
    assert(dropped.forall(_.getLong(1) == 40L))
  }

  test("minhashLshPairs recovers near-dups with exact verification") {
    val df = Dedup.minhashLshPairs(docs, "doc_id", "text", tau = 0.5)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    // identical docs share all bands — must be found regardless of block
    assert(keys.contains((1L, 2L)) && keys.contains((1L, 5L)) && keys.contains((2L, 5L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    // verification step reports the exact token-set jaccard
    pairs.filter(p => Set(p._1, p._2) == Set(1L, 2L))
      .foreach(p => assert(p._3 == 1.0))
    // the banded frame feeds the bucket sizing and the join-back from one
    // materialization: the signature never recomputes in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") && !plan.contains("minhash_sig"), plan)
  }

  test("minhashLshPairs checkpoints the banding only; rows unchanged") {
    // a 30-token document and five one-token edits of it
    val words = (1 to 30).map(i => s"w$i")
    val near = ((0L, words) +: (1L to 5L).map(i =>
        (i, words.updated(i.toInt * 5, s"x$i"))))
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val df = Dedup.minhashLshPairs(near, "doc_id", "text", tau = 0.5,
      hashFamily = "sha256")
    // the verification joins read the token frame through one exchange,
    // so only the banding (sizing aggregate + join-back) is a checkpoint
    val rdds = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }
    assert(rdds.distinct.size == 1, df.queryExecution.optimizedPlan)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet
    // doc 1's edit breaks every band it shares; the others pair up with
    // exact token-set Jaccard 29/31 (with doc 0) or 28/32
    val expected = for {
      a <- Seq(0L, 2L, 3L, 4L); b <- Seq(2L, 3L, 4L, 5L) if a < b
    } yield (a, b, if (a == 0L) 29.0 / 31.0 else 28.0 / 32.0)
    assert(rows == expected.toSet)
  }

  test("minhashOphLshPairs: identical docs always collide, verification exact, caps observable") {
    // identical token sets → identical OPH signatures → all bands collide
    val pairs = Dedup.minhashOphLshPairs(docs, "doc_id", "text", tau = 0.5).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((1L, 5L)) && keys.contains((2L, 5L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    pairs.filter(p => Set(p._1, p._2) == Set(1L, 2L))
      .foreach(p => assert(p._3 == 1.0))
    // both families agree on the verified-identical pairs (verification is
    // exact Jaccard, so family changes candidates only, never scores)
    val sha = Dedup.minhashOphLshPairs(docs, "doc_id", "text", tau = 0.99,
      hashFamily = "sha256").out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sha == Set((1L, 2L), (1L, 5L), (2L, 5L)))
    // cap: with bucketCap = 0 every bucket is hot → no pairs, all observable
    val cappedOph = Dedup.minhashOphLshPairs(docs, "doc_id", "text",
      tau = 0.5, bucketCap = 0)
    assert(cappedOph.out.count() == 0)
    assert(cappedOph.dropped
      .agg(sum(col("n"))).head().getLong(0) > 0)
  }

  // Exact-substring (k-token window) dedup — hand-derived fixture, k = 3.
  // Every expected interval below is computed by hand from the keep-first
  // rule: a window's FIRST occurrence in (id, pos) order is never marked.
  private val subDocs = Seq(
    (1L, "a b c d e f"),       // all its windows are global firsts
    (2L, "m n o"),             // single window, global first
    (3L, "x a b c d y"),       // overlap merge: [2,4]∪[3,5] → [2,5]
    (4L, "a b c q a b c"),     // two DISJOINT marked islands (gap at q)
    (5L, "z z"),               // < k tokens: never produces windows
    (6L, ""),                  // empty text
    (7L, "a b c d e f"),       // exact dup of 1 → whole doc one span
    (8L, "a b c m n o"),       // TOUCHING islands [1,3]+[4,6] merge (s = e+1)
    (9L, "u v w z u v w"),     // within-doc dup: first kept, second marked
  ).toDF("doc_id", "text")

  test("duplicateTokenSpans marks all-but-first occurrences as maximal spans") {
    val got = Dedup.duplicateTokenSpans(subDocs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val want = Set(
      (3L, 2, 5, 4),  // "a b c"@2 ∪ "b c d"@3 overlap-merged
      (4L, 1, 3, 3), (4L, 5, 7, 3), // disjoint: 5 > 3 + 1
      (7L, 1, 6, 6),  // every window dup of doc 1 → one full-doc span
      (8L, 1, 6, 6),  // [1,3] and [4,6] touch (4 == 3 + 1) → merged
      (9L, 5, 7, 3))  // within-doc: (9,1) is the global first, kept
    assert(got == want)
  }

  test("stripDuplicateTokenSpans rebuilds documents minus marked spans") {
    val got = Dedup.stripDuplicateTokenSpans(subDocs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "a b c d e f", // untouched (whitespace-normalized rejoin)
      2L -> "m n o",
      3L -> "x y",
      4L -> "q",
      5L -> "z z",         // < k tokens: passes through
      6L -> "",            // no tokens → empty string
      7L -> "",            // fully duplicated → everything cut
      8L -> "",
      9L -> "u v w z"))
  }

  test("duplicateTokenSpans: k=1 degenerates to repeated-token marking; k<1 rejected") {
    val d = Seq((1L, "p p q"), (2L, "q r")).toDF("doc_id", "text")
    // token "p": first (1,1) kept, (1,2) marked; "q": first (1,3), (2,1) marked
    val got = Dedup.duplicateTokenSpans(d, "doc_id", "text", k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2, 2), (2L, 1, 1)))
    intercept[IllegalArgumentException] {
      Dedup.duplicateTokenSpans(d, "doc_id", "text", k = 0)
    }
  }

  test("simhash 3-tier policy: salted grid is lossless, hardCap drops observably") {
    // degenerate boilerplate fixture: identical docs → identical signatures
    // → every band bucket is an attractor holding ALL of them (the shape
    // that would re-quadratize an uncapped band join on a repetitive corpus)
    val many = (1L to 20L)
      .map(i => (i, "boilerplate nav header repeated verbatim on every page"))
      .toDF("doc_id", "text")
    val full = 20L * 19 / 2
    // tier 2: buckets over bucketCap route through the salted grid —
    // NOTHING is lost (boilerplate is where simhash near-dups live)
    assert(Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 8,
      bucketCap = 5, saltGroups = 4).out.count() == full)
    // tier 1 alone (cap above the bucket size) agrees
    assert(Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 8,
      bucketCap = 20).out.count() == full)
    // tier 3: buckets over hardCap are dropped…
    val cappedRun = Dedup.simhashPairs(many, "doc_id", "text",
      maxHamming = 8, bucketCap = 5, hardCap = 10)
    assert(cappedRun.out.count() == 0)
    // …and the drop is reported with bucket sizes, per band — never silent
    val dropped = cappedRun.dropped.collect()
    assert(dropped.length == 4)
    assert(dropped.forall(_.getLong(1) == 20L))
    // both hash families run through the same tiered join
    assert(Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 8,
      hashFamily = "sha256", bucketCap = 5, hardCap = 10).out.count() == 0)
    assert(Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 8,
      hashFamily = "sha256", bucketCap = 5, saltGroups = 4).out.count() == full)
  }

  test("simhash salted tier equals plain tier on mixed near-dup data") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val docs2 = Seq(
      (1L, base), (2L, base),
      (3L, base.replace("token30", "changed")),
      (4L, (1 to 60).map(i => s"word$i").mkString(" ")),
      (5L, base.replace("token10", "altered")),
    ).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.simhashPairs(docs2, "doc_id", "text",
      maxHamming = 8, bucketCap = cap, saltGroups = 4).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run(1) == run(100)) // all-salted == all-plain, hamming included
  }

  test("ngramJaccard composite block keys never merge across columns") {
    // ('en', 'a b') vs ('en a', 'b'): a printable separator like ' ' would
    // alias these two distinct blocks; the U+0001 separator cannot occur in
    // real key data
    val tricky = Seq(
      (1L, "alpha beta gamma", "en", "a b"),
      (2L, "alpha beta gamma", "en a", "b"),
    ).toDF("doc_id", "text", "lang", "source")
    val pairs = Dedup.ngramJaccardPairs(tricky, "doc_id", "text",
      Seq("lang", "source"), tau = 0.5).out
    assert(pairs.count() == 0)
  }

  test("simhashPairs: identical and near-identical docs collide") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val near = base.replace("token30", "changed")
    val far = (1 to 60).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8).out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical: hamming 0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshIncremental matches batch against corpus only") {
    val corpusBase = (1 to 30).map(i => s"corpus token$i shared").mkString(" ")
    val batchNear = corpusBase.replace("token7", "edited")
    val batchOnly = (1 to 30).map(i => s"batchish word$i alone").mkString(" ")
    val batchOnlyNear = batchOnly.replace("word9", "tweak")
    val corpus = Seq((2L, corpusBase), (4L, corpusBase + " extra")).toDF("doc_id", "text")
    val batch = Seq((1L, batchNear), (3L, batchOnly), (5L, batchOnlyNear))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshIncremental(corpus, batch, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the batch near-copy of a corpus doc is found (against both corpus
    // variants — they share nearly all tokens)
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)))
    // batch×batch near-dups (3,5) are NOT the incremental operator's job
    assert(!got.exists(p => p._1 == 3L || p._1 == 5L))
    // and corpus ids only ever appear on the corpus side
    assert(got.forall { case (b, c) => b % 2 == 1 && c % 2 == 0 })
  }

  test("bandIndex round-trip: indexed incremental equals the direct call") {
    val corpusBase = (1 to 30).map(i => s"corpus token$i shared").mkString(" ")
    val corpus = Seq((2L, corpusBase), (4L, corpusBase + " extra"),
      (6L, (1 to 30).map(i => s"unrelated item$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, corpusBase.replace("token7", "edited")),
      (3L, (1 to 30).map(i => s"batchish word$i alone").mkString(" ")))
      .toDF("doc_id", "text")
    val direct = Dedup.minhashLshIncremental(corpus, batch,
      "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the production shape: build the index ONCE, persist it to parquet,
    // read it back, and join the batch against the stored index — the
    // result must be bit-identical to the one-shot operator
    val idxDir = java.nio.file.Files
      .createTempDirectory("band_index_spec").toString
    Dedup.bandIndex(corpus, "doc_id", "text").out
      .write.mode("overwrite").parquet(idxDir)
    val indexed = Dedup.minhashLshIncrementalIndexed(
      spark.read.parquet(idxDir), corpus, batch, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == direct)
    assert(direct.map(p => (p._1, p._2)).contains((1L, 2L)))
    // the index carries the bucket-cap cut: cap 1 excludes every band
    // bucket the two near-identical corpus docs share
    val full = Dedup.bandIndex(corpus, "doc_id", "text").out.count()
    val capped = Dedup.bandIndex(corpus, "doc_id", "text", bucketCap = 1).out.count()
    assert(capped < full)
  }

  test("nearDupGroups closes pairs transitively, singletons self-canonical") {
    // A≈B (one token differs) and B≈C (another token differs), with
    // tau = 0.93 sitting BETWEEN jac(a,c) = 38/42 ≈ 0.905 and
    // jac(a,b) = jac(b,c) = 39/41 ≈ 0.951 — so A–C joins the cluster
    // only transitively, and the whole fixture is deterministic (xxhash
    // banding has no randomness)
    val words = (1 to 40).map(i => s"tok$i")
    val a = words.mkString(" ")
    val b = words.updated(16, "changedB").mkString(" ")
    val c = words.updated(16, "changedB").updated(32, "changedC").mkString(" ")
    val lone = (100 to 140).map(i => s"other$i").mkString(" ")
    val docs = Seq((7L, a), (3L, b), (9L, c), (5L, lone)).toDF("doc_id", "text")
    val got = Dedup.nearDupGroups(docs, "doc_id", "text", tau = 0.93).out
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == 3L && got(3L) == 3L && got(9L) == 3L,
      s"expected one cluster canonical 3, got $got")
    assert(got(5L) == 5L) // singleton: its own canonical
    assert(got.size == 4) // every input doc appears exactly once
  }

  test("dropRepeatedSpans: first occurrence corpus-wide, order preserved") {
    val docs = Seq(
      (2L, "alpha\nbeta\nalpha\ngamma"), // within-doc dup 'alpha'
      (5L, "beta\ndelta\n\nbeta"), // 'beta' first seen in doc 2; empty line
      (9L, "alpha\nbeta")).toDF("doc_id", "text") // every line seen before
    val got = Dedup.dropRepeatedSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == "alpha\nbeta\ngamma")
    assert(got(5L) == "delta")
    assert(got(9L) == "") // fully-duplicated doc survives as empty, not absent
    assert(got.size == 3)
  }

  test("embeddingCosinePairs respects block and threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),  // cos ~0.994 with 1
      (3L, Array(0.0f, 1.0f, 0.0f), 0),  // orthogonal to 1
      (4L, Array(1.0f, 0.0f, 0.0f), 1),  // same dir as 1 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshBandPlans: balance-point argmin, exactly one chosen, all factorings") {
    val plans = Dedup.lshBandPlans(24, 0.7)
    assert(plans.map { case (b, r, _, _) => (b, r) } ==
      Seq((1, 24), (2, 12), (3, 8), (4, 6), (6, 4), (8, 3), (12, 2), (24, 1)))
    assert(plans.count(_._4) == 1)
    // |6·0.7⁴ − 1| = 0.4406 is the closest balance point for t = 0.7
    val (b, r, _, _) = plans.find(_._4).get
    assert((b, r) == ((6, 4)))
    // scores replay the pinned chain exactly
    val sc = plans.map { case (pb, pr, s, _) => ((pb, pr), s) }.toMap
    assert(sc((6, 4)) == math.abs(6.0 * (0.7 * 0.7 * 0.7 * 0.7) - 1.0))
    assert(sc((24, 1)) == math.abs(24.0 * 0.7 - 1.0))
  }

  test("lshBandPlan: S-curve is the pinned chain, monotone, edges sane") {
    val grid = (1 to 19).map(_ * 0.05)
    val rows = Dedup.lshBandPlan(spark, 24, 0.7, grid)
      .orderBy("s").as[(Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._3) == grid)
    assert(rows.forall { case (b, r, _, _) => b == 6L && r == 4L })
    // hand-fold p(s) = 1 − (1 − s⁴)⁶ for a grid point
    val s0 = 0.5
    val inner = ((0.5 * 0.5) * 0.5) * 0.5
    val q = 1.0 - inner
    val expected = 1.0 - ((((q * q) * q) * q) * q) * q
    assert(rows.find(_._3 == s0).get._4 == expected)
    // strictly increasing in s; near-0 at the bottom, near-1 at the top
    assert(rows.map(_._4).sliding(2).forall { case Seq(a, b) => a < b })
    assert(rows.head._4 < 1e-4 && rows.last._4 > 0.999)
  }

  test("lshBandPlan validations") {
    intercept[IllegalArgumentException] { Dedup.lshBandPlans(0, 0.5) }
    intercept[IllegalArgumentException] { Dedup.lshBandPlans(16, 1.0) }
    intercept[IllegalArgumentException] {
      Dedup.lshBandPlan(spark, 16, 0.5, Seq(0.5, 1.0))
    }
    intercept[IllegalArgumentException] {
      Dedup.lshBandPlan(spark, 16, 0.5, Nil)
    }
  }

  /** Brute-force winnowing with the operator's pinned rules (sha256
    * family): min hash per w-window, rightmost tie, full windows only. */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Long, Int)] = {
    if (text.length < k) return Set.empty
    val hs = (1 to text.length - k + 1).map { p =>
      val g = text.substring(p - 1, p - 1 + k)
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16), p)
    }
    if (hs.size < w) return Set.empty
    (0 to hs.size - w).map { s =>
      hs.slice(s, s + w).minBy { case (h, p) => (h, -p) }
    }.toSet
  }

  test("winnowFingerprints: matches brute force, short docs emit nothing") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    def rand(n: Int) = (1 to n).map(_ => ('a' + rng.nextInt(4)).toChar).mkString
    val texts = Seq(rand(60), rand(25), rand(9), rand(7), "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, "doc_id", "text",
      k = 5, w = 4, hashFamily = "sha256")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val exp = winnowRef(t, 5, 4)
      assert(got.getOrElse(i.toLong, Set.empty) == exp, s"doc $i")
    }
    // doc with 9 chars has 5 grams >= w: emits; 7 chars -> 3 grams < w: none
    assert(got.contains(2L) && !got.contains(3L) && !got.contains(4L))
  }

  test("winnowFingerprints: shared span >= w+k-1 guarantees a shared print") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    def rand(n: Int) = (1 to n).map(_ => ('a' + rng.nextInt(20)).toChar).mkString
    val span = rand(8 + 4 - 1) // exactly w + k - 1
    val docs = Seq((1L, rand(40) + span + rand(40)),
      (2L, rand(30) + span + rand(55))).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 4)
    val shared = Linkage.commonNeighborPairs(fps, "doc_id", "fp_hash").out
    assert(shared.count() >= 1L) // the winnowing guarantee
    // partitioning independence of the fingerprint set
    val a = fps.orderBy("doc_id", "fp_hash", "fp_pos").collect().toSeq
    val b = Dedup.winnowFingerprints(docs.repartition(7), "doc_id", "text",
      k = 8, w = 4).orderBy("doc_id", "fp_hash", "fp_pos").collect().toSeq
    assert(a == b)
    intercept[IllegalArgumentException](
      Dedup.winnowFingerprints(docs, "doc_id", "text", k = 1))
    intercept[IllegalArgumentException](
      Dedup.winnowFingerprints(docs, "doc_id", "text", hashFamily = "md5"))
  }

  test("containmentPairs: subset duplicate scores 1.0 where Jaccard misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y", "en"),
      (2L, "x y z w p q r s", "en"),       // doc 1 wholly inside doc 2
      (3L, "completely different words here", "en"),
      (4L, "", "en")                        // zero tokens — excluded
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"),
      tau = 0.9).out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(got == List((1L, 2L, 1.0, 0.25, 0.25)))
    // Jaccard at the same threshold structurally misses the quote shape
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"),
      tau = 0.9).out.count() == 0L)
  }

  test("containmentPairs: salted hot tier is lossless vs plain blocking") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, s"tok${i % 5} tok${(i + 1) % 5} common", "en")
    }.toDF("doc_id", "text", "lang")
    def run(cap: Int) = Dedup.containmentPairs(docs, "doc_id", "text",
      Seq("lang"), tau = 0.5, bucketCap = cap, saltGroups = 4).out
      .orderBy("ia", "ib").collect().map(_.toSeq).toSeq
    assert(run(1000) == run(3)) // block of 30 forced through the grid
    assert(run(1000).nonEmpty)
  }

  test("bloomBits: positions match a hand-rolled Kirsch-Mitzenmacher expansion") {
    import spark.implicits._
    val keys = Seq("alpha", "beta", "gamma")
    val got = Dedup.bloomBits(keys.toDF("key"), "key", m = 65536, k = 4)
      .collect().map(_.getLong(0)).toSet
    val expected = keys.flatMap { s =>
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      (0 until 4).map(i => (h1 + i * h2) % 65536)
    }.toSet
    assert(got == expected)
  }

  test("bloomProbe: no false negatives, union-mergeable, nulls are no-ops") {
    import spark.implicits._
    val corpus = Seq("a", "b", "c", null, "d").toDF("key")
    val bits = Dedup.bloomBits(corpus, "key", m = 65536, k = 4)
    val batch = Seq((1L, "a"), (2L, "d"), (3L, "zzz_not_in_corpus"),
      (4L, null)).toDF("id", "key")
    val got = Dedup.bloomProbe(bits, batch, "id", "key", m = 65536, k = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // members always hit; the null-keyed row is not probed at all
    assert(got(1L) && got(2L) && got.size == 3)
    // a far-off key misses at this fill (16 of 65536 bits set)
    assert(!got(3L))
    // merge = union.distinct of the slices' set-bits frames
    val merged = Dedup.bloomBits(Seq("a", "b").toDF("key"), "key", 65536, 4)
      .union(Dedup.bloomBits(Seq("c", "d").toDF("key"), "key", 65536, 4))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(merged == bits.collect().map(_.getLong(0)).toSet)
  }

  test("bloomProbe: saturated tiny filter hits everything (FP semantics)") {
    import spark.implicits._
    val corpus = (0 until 40).map(i => s"k$i").toDF("key")
    val bits = Dedup.bloomBits(corpus, "key", m = 8, k = 2)
    val stats = Dedup.bloomStats(bits, m = 8).collect()(0)
    assert(stats.getAs[Long]("bits_set") == 8L &&
      stats.getAs[Double]("fill_ratio") == 1.0)
    val got = Dedup.bloomProbe(bits,
      Seq((1L, "never_inserted")).toDF("id", "key"), "id", "key", 8, 2)
      .collect()(0)
    assert(got.getBoolean(1)) // full filter: every probe is a (true) FP
    intercept[IllegalArgumentException](
      Dedup.bloomBits(corpus, "key", m = 0, k = 2))
    intercept[IllegalArgumentException](
      Dedup.bloomBits(corpus, "key", m = 8, k = 0))
  }

  // ------------------------------------------------------------------ CDC

  private def randText(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("cdcChunks: exact disjoint cover, shas match hand-hashed slices") {
    import spark.implicits._
    val texts = Seq((1L, randText(7, 800)), (2L, randText(8, 300)),
      (3L, "short"), (4L, null.asInstanceOf[String]), (5L, ""))
    val out = Dedup.cdcChunks(texts.toDF("doc_id", "text"), "doc_id",
        "text", w = 16, maskBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(!out.exists(c => c._1 == 4L || c._1 == 5L)) // null/empty excluded
    for ((id, t) <- texts.take(3) if t != null && t.nonEmpty) {
      val cs = out.filter(_._1 == id).sortBy(_._2)
      // contiguous 1-based cover, indexes 1..m, ends at length
      assert(cs.head._3 == 1L && cs.map(_._2).toList == (1L to cs.length).toList)
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a._3 + a._4 == b._3 })
      assert(cs.last._3 + cs.last._4 - 1 == t.length)
      // every sha matches the hand hash of its slice
      assert(cs.forall(c =>
        c._5 == sha(t.substring((c._3 - 1).toInt, (c._3 - 1 + c._4).toInt))))
    }
    // a doc shorter than w is one whole-document chunk
    val s3 = out.filter(_._1 == 3L)
    assert(s3.length == 1 && s3.head._4 == 5L && s3.head._5 == sha("short"))
  }

  test("cdcChunks is shift-resistant: prefix insertion keeps tail chunk ids") {
    import spark.implicits._
    val t = randText(11, 1200)
    val ins = "ZZZZ-INSERTED-PREFIX-" + randText(12, 40)
    val df = Seq((1L, t), (2L, ins + t)).toDF("doc_id", "text")
    val out = Dedup.cdcChunks(df, "doc_id", "text", w = 16, maskBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
    val base = out.filter(_._1 == 1L).sortBy(_._2).map(_._3).toList
    val shifted = out.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSet
    // every chunk of t except the first survives the insertion verbatim
    assert(base.length >= 3, s"need several chunks, got ${base.length}")
    assert(base.drop(1).forall(shifted.contains))
    // and the first (window-straddled) one is the only possible casualty
    assert(base.drop(1).toSet.subsetOf(shifted))
  }

  test("cdcChunksBounded: size bounds hold, cover holds, degenerate == pure") {
    import spark.implicits._
    val df = Seq((1L, randText(21, 1500)), (2L, randText(22, 90)),
      (3L, "x" * 700)) // low-entropy: mask may never fire -> maxLen forces
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunksBounded(df, "doc_id", "text", w = 16,
        maskBits = 4, minLen = 24, maxLen = 96)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    for (id <- Seq(1L, 2L, 3L)) {
      val cs = out.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 1L)
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a._3 + a._4 == b._3 })
      assert(cs.forall(_._4 <= 96L))                    // maxLen is hard
      assert(cs.dropRight(1).forall(_._4 >= 24L))       // minLen except tail
    }
    // the all-equal doc is forced into exact maxLen pieces
    val lens3 = out.filter(_._1 == 3L).sortBy(_._2).map(_._4).toList
    assert(lens3.dropRight(1).forall(_ == 96L) && lens3.sum == 700L)
    // bounds that cannot bite reproduce the pure face bit-for-bit
    val pure = Dedup.cdcChunks(df, "doc_id", "text", w = 16, maskBits = 4)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    val nobite = Dedup.cdcChunksBounded(df, "doc_id", "text", w = 16,
        maskBits = 4, minLen = 1, maxLen = 1000000)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    assert(nobite == pure)
    intercept[IllegalArgumentException](Dedup.cdcChunksBounded(df,
      "doc_id", "text", minLen = 10, maxLen = 5))
  }

  test("cdc chunking is partitioning-independent") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, randText(100 + i.toInt, 400)))
      .toDF("doc_id", "text")
    val a = Dedup.cdcChunks(df.repartition(9), "doc_id", "text", 16, 5)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    val b = Dedup.cdcChunks(df, "doc_id", "text", 16, 5)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
