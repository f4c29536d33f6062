package graft.operators

import scala.util.Random

import graft.SparkFunSuite

class SetSimJoinSpec extends SparkFunSuite {
  import spark.implicits._

  /** Brute-force distinct-token Jaccard >= tau over all pairs — the
    * completeness reference the prefix filter must exactly reproduce. */
  private def bruteForce(docs: Seq[(Long, String)], tau: Double) = {
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSet
    (for {
      (ia, ta) <- docs.map { case (i, t) => (i, toks(t)) } if ta.nonEmpty
      (ib, tb) <- docs.map { case (i, t) => (i, toks(t)) } if ib > ia && tb.nonEmpty
      j = (ta & tb).size.toDouble / (ta | tb).size.toDouble if j >= tau
    } yield (ia, ib, j)).toSet
  }

  private def run(docs: Seq[(Long, String)], tau: Double,
      bucketCap: Int = 10000, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16) =
    SetSimJoin.prefixJaccardPairs(docs.toDF("id", "text"), "id", "text",
      tau, bucketCap, hardCap, saltGroups).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("prefix join equals brute force on random corpora at several taus") {
    val rnd = new Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = (1L to 60L).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    for (tau <- Seq(0.3, 0.5, 0.75, 0.95, 1.0)) {
      val expected = bruteForce(docs, tau)
      assert(run(docs, tau) == expected, s"tau=$tau")
    }
  }

  test("edge shapes: empty text excluded, exact dups, singleton tokens") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),   // jaccard 1.0 with 1
      (3L, "  "),                 // token-less: excluded entirely
      (4L, "alpha"),              // singleton; 1/3 vs doc 1
      (5L, "zeta"))               // singleton, disjoint
    val got = run(docs, 0.5)
    assert(got == bruteForce(docs, 0.5))
    assert(got.contains((1L, 2L, 1.0)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("salted hot-token tier is lossless: identical pair set as plain") {
    // boilerplate corpus: every doc shares the SAME rare-ish tokens, so
    // prefix buckets go hot — bucketCap=5 routes them through the grid
    val rnd = new Random(7)
    val docs = (1L to 40L).map { i =>
      val extra = if (rnd.nextBoolean()) " unique" + (i % 4) else ""
      (i, s"shared boiler plate$extra")
    }
    val plain = run(docs, 0.6)
    val salted = run(docs, 0.6, bucketCap = 5, saltGroups = 4)
    assert(salted == plain)
    assert(plain == bruteForce(docs, 0.6))
    assert(plain.nonEmpty)
  }

  test("hardCap drops are opt-in and observable, never silent") {
    val docs = (1L to 30L).map(i => (i, "common token everywhere")) ++
      Seq((101L, "rare pair one"), (102L, "rare pair one"))
    // default: no drop — hot bucket still fully paired via the salt tier
    assert(run(docs, 0.9, bucketCap = 5, saltGroups = 4) ==
      bruteForce(docs, 0.9))
    // finite hardCap: the 30-member buckets are cut; the companion frame
    // reports exactly those prefix tokens with their sizes
    val capped = run(docs, 0.9, bucketCap = 5, hardCap = 10, saltGroups = 4)
    assert(capped.contains((101L, 102L, 1.0)))
    assert(!capped.exists(p => p._1 <= 30L))
    val dropped = SetSimJoin.prefixJaccardPairs(
      docs.toDF("id", "text"), "id", "text", tau = 0.9, bucketCap = 5,
      hardCap = 10, saltGroups = 4).dropped
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dropped.nonEmpty && dropped.values.forall(_ > 10L))
  }

  test("prefix bound survives integral tau*len binary rounding") {
    // len=20, tau=0.95: tau*len = 19 exactly in the reals; a naive
    // ceil(0.95*20) in binary gives 20 and would shave the prefix to 1
    // token — these two docs differ in their FIRST-ranked token, so a
    // too-short prefix loses the pair (jaccard = 19/21 < 0.95 is below,
    // so use 0.9: prefix p = 20 - 18 + 1 = 3 under the bound, 2 if shaved)
    val base = (1 to 19).map(i => f"tok$i%02d")
    val docs = Seq(
      (1L, (base :+ "onlya").mkString(" ")),
      (2L, (base :+ "onlyb").mkString(" ")))
    for (tau <- Seq(0.9, 0.95)) {
      assert(run(docs, tau) == bruteForce(docs, tau), s"tau=$tau")
    }
  }

  test("positional filter prunes candidates the prefix filter alone admits") {
    // docs 1 and 2 share ONLY their 3rd-ranked prefix token c1 (u*/v* are
    // rarer, f1/f2 commoner via doc 3): first shared token at (i,j)=(3,3)
    // bounds overlap at 1+min(2,2)=3 < alpha=ceil(0.6/1.6*10)=4 → the
    // positional filter removes the pair BEFORE verification, which the
    // prefix+length filters alone would not (c1 is in both prefixes).
    val docs = Seq(
      (1L, "u1 u2 c1 f1 f2"),
      (2L, "v1 v2 c1 f1 f2"),
      (3L, "w1 w2 w3 f1 f2"),
      (11L, "r1 h1 h2 h3 h4"), // shares early-ranked r1 with 12 (J=2/3):
      (12L, "r1 h1 h2 h3 h5"), //   must survive candidates AND the join
      (13L, "h1 h2 h3 h4 h5"), // df booster for the h tokens
      (5L, "same five tokens here now"),
      (6L, "same five tokens here now")) // J=1.0 pair: must survive
    val cand = SetSimJoin.jaccardCandidatesFor(docs.toDF("id", "text"),
      "id", "text", tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cand.contains((1L, 2L)), "positionally prunable pair survived")
    assert(cand.contains((11L, 12L)), "early shared token must survive")
    assert(cand.contains((5L, 6L)))
    // and the final join is still exactly brute force on this corpus
    assert(run(docs, 0.6) == bruteForce(docs, 0.6))
  }

  // ------------------------------------------------------------ Ed-Join

  /** Brute-force levenshtein <= k over all pairs (classic full DP). */
  private def bruteForceEd(docs: Seq[(Long, String)], k: Int) = {
    def lev(a: String, b: String): Int = {
      val (n, m) = (a.length, b.length)
      val d = Array.tabulate(n + 1, m + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to n; j <- 1 to m) {
        val sub = d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        d(i)(j) = math.min(sub, math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1))
      }
      d(n)(m)
    }
    (for {
      (ia, sa) <- docs
      (ib, sb) <- docs if ib > ia
      dist = lev(sa, sb) if dist <= k
    } yield (ia, ib, dist)).toSet
  }

  private def runEd(docs: Seq[(Long, String)], k: Int, q: Int = 2,
      bucketCap: Int = 10000, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16) =
    SetSimJoin.edJoinPairs(docs.toDF("id", "text"), "id", "text",
      k, q, bucketCap, hardCap, saltGroups).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("edJoin equals brute force on random corpora at several (k, q)") {
    val rnd = new scala.util.Random(23)
    val alpha = "abcd"
    val docs = (1L to 70L).map { i =>
      (i, Seq.fill(rnd.nextInt(10))(alpha(rnd.nextInt(alpha.length))).mkString)
    }.filter(_._2.nonEmpty) // edJoin requires non-null; empties allowed though
    for ((k, q) <- Seq((1, 2), (2, 2), (1, 3), (3, 2))) {
      assert(runEd(docs, k, q) == bruteForceEd(docs, k), s"k=$k q=$q")
    }
  }

  test("edJoin short tier: strings below the gram bound still pair exactly") {
    // with q=2, k=1 the gram bound covers nothing of length <= 3
    val docs = Seq((1L, "ab"), (2L, "b"), (3L, "abc"), (4L, "xyz"),
      (5L, "abcd"), (6L, "abcde"))
    assert(runEd(docs, 1) == bruteForceEd(docs, 1))
    assert(runEd(docs, 1).contains((1L, 2L, 1)))  // both short-tier
    assert(runEd(docs, 1).contains((3L, 5L, 1)))  // short x long via grams
  }

  test("edJoin salted hot-gram tier is lossless") {
    // near-identical strings: every (gram, occ) bucket goes hot
    val docs = (1L to 40L).map(i => (i, f"record$i%02d"))
    val plain = runEd(docs, 2)
    val salted = runEd(docs, 2, bucketCap = 3, saltGroups = 4)
    assert(salted == plain)
    assert(plain == bruteForceEd(docs, 2))
    assert(plain.nonEmpty) // e.g. record01/record02 at distance <= 2
  }

  test("edJoin hardCap drops are observable") {
    val docs = (1L to 30L).map(i => (i, "samesame")) ++
      Seq((101L, "uniqpair"), (102L, "uniqpais"))
    val dropped = SetSimJoin.edJoinPairs(
      docs.toDF("id", "text"), "id", "text", k = 1, q = 2, hardCap = 10)
      .dropped.collect()
    assert(dropped.nonEmpty && dropped.forall(_.getLong(2) > 10L))
  }

  // ----------------------------------------------------- containment join

  /** Brute-force max-containment >= tau over all pairs. */
  private def bruteContainment(docs: Seq[(Long, String)], tau: Double) = {
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSet
    (for {
      (ia, ta) <- docs.map { case (i, t) => (i, toks(t)) } if ta.nonEmpty
      (ib, tb) <- docs.map { case (i, t) => (i, toks(t)) }
        if ib > ia && tb.nonEmpty
      i = (ta & tb).size.toDouble
      if math.max(i / ta.size, i / tb.size) >= tau
    } yield (ia, ib)).toSet
  }

  private def runContainment(docs: Seq[(Long, String)], tau: Double,
      bucketCap: Int = 10000, hardCap: Int = Int.MaxValue,
      saltGroups: Int = 16) =
    SetSimJoin.prefixContainmentPairs(docs.toDF("id", "text"), "id",
      "text", tau, bucketCap, hardCap, saltGroups).out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("containment join equals brute force on random corpora") {
    val rnd = new Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = (1L to 60L).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    for (tau <- Seq(0.5, 0.8, 1.0)) {
      assert(runContainment(docs, tau) == bruteContainment(docs, tau),
        s"tau=$tau")
    }
  }

  test("containment join: tiny subset of a huge doc found despite tiny jaccard") {
    val big = (1 to 400).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, big), (2L, "tok7 tok9"), (3L, "zzz yyy"))
    val got = SetSimJoin.prefixContainmentPairs(docs.toDF("id", "text"),
        "id", "text", tau = 1.0).out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // the subset pair is found with jaccard far below any symmetric bar
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(got.head._3 < 0.01)
  }

  test("containment salted index tier is lossless; drops observable") {
    val rnd = new Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val plain = runContainment(docs, 0.8)
    val salted = runContainment(docs, 0.8, bucketCap = 1, saltGroups = 4)
    assert(salted == plain)
    val dropped = SetSimJoin.prefixContainmentPairs(
      docs.toDF("id", "text"), "id", "text", tau = 0.8, hardCap = 5)
      .dropped.collect()
    assert(dropped.nonEmpty && dropped.forall(_.getLong(1) > 5L))
    intercept[IllegalArgumentException](
      runContainment(docs, 0.0))
  }

  test("dense vocabulary is probed by one query; rows equal the array path") {
    val rnd = new Random(5)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    // 65 tokens of its own take the vocabulary past 64, onto the array
    // path, and pair with no other document
    val pad = (100L, (1 to 65).map(i => s"pad$i").mkString(" "))
    def rows(c: Capped) = c.out.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    // two queries: the probes' lazy checkpoint runs its broadcast (and,
    // under AQE, its shuffle stages) when it is planned, and the
    // vocabulary probe is the other
    val (dense, queries) = queriesOf(SetSimJoin.prefixContainmentPairs(
      docs.toDF("id", "text"), "id", "text", tau = 0.8))
    assert(queries == 2)
    val array = SetSimJoin.prefixContainmentPairs(
      (docs :+ pad).toDF("id", "text"), "id", "text", tau = 0.8)
    assert(rows(dense).nonEmpty && rows(dense) == rows(array))
  }
}
