package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Round-4 blocking additions: sorted-neighborhood pairs and two-corpus
  * (A-vs-B) candidate generation / linkage. */
class BlockingSpec extends SparkFunSuite {

  // ------------------------------------------------------- sorted neighborhood

  /** Brute-force expected pair set for a window over a sorted id list. */
  private def expectedPairs(idsInOrder: Seq[Long], window: Int): Set[(Long, Long)] =
    (for {
      i <- idsInOrder.indices
      j <- (i + 1) until math.min(i + window, idsInOrder.length)
    } yield (idsInOrder(i), idsInOrder(j))).toSet

  test("sortedNeighborhoodPairs equals the brute-force neighborhood") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // duplicate keys force the id tie-break; shuffle input order
    val rows = rng.shuffle((1L to 200L).map(i => (i, s"key${rng.nextInt(60)}")))
    val df = rows.toDF("id", "sk")
    val order = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
    for (w <- Seq(2, 5)) {
      val got = Linkage.sortedNeighborhoodPairs(df, "id", "sk", w, partitions = 5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expectedPairs(order, w), s"window=$w")
    }
  }

  test("sortedNeighborhood ranks are the deterministic global order") {
    import spark.implicits._
    val df = Seq((3L, "b"), (1L, "a"), (2L, "a")).toDF("id", "sk")
    val got = Linkage.sortedNeighborhoodPairs(df, "id", "sk", 2, partitions = 2)
      .orderBy("rank_a").as[(Long, Long, Long, Long)].collect().toSeq
    // order: (a,1) rank 1, (a,2) rank 2, (b,3) rank 3
    assert(got == Seq((1L, 2L, 1L, 2L), (2L, 3L, 2L, 3L)))
  }

  test("sortedNeighborhood is partitioning-independent") {
    import spark.implicits._
    val rows = (1L to 150L).map(i => (i, s"k${i % 13}"))
    val df = rows.toDF("id", "sk")
    val p2 = Linkage.sortedNeighborhoodPairs(df.repartition(7), "id", "sk", 4, partitions = 2)
      .select("id_a", "id_b", "rank_a", "rank_b").collect().toSet
    val p6 = Linkage.sortedNeighborhoodPairs(df.repartition(3), "id", "sk", 4, partitions = 6)
      .select("id_a", "id_b", "rank_a", "rank_b").collect().toSet
    assert(p2 == p6)
    assert(p2.nonEmpty)
  }

  test("sortedNeighborhood output does not depend on exchange reuse or AQE") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = rng.shuffle((1L to 300L).map(i => (i, s"k${rng.nextInt(40)}")))
      .toDF("id", "sk").repartition(7)
    def pairs() = Linkage.sortedNeighborhoodPairs(df, "id", "sk", 4,
        partitions = 5)
      .select("id_a", "id_b", "rank_a", "rank_b").as[(Long, Long, Long, Long)]
      .collect().toSet
    val default = pairs()
    assert(default.size == 3 * 300 - 6) // w−1 successors of each rank
    withConf("spark.sql.exchange.reuse", "false") {
      assert(pairs() == default, "AQE on, no exchange reuse")
      withConf("spark.sql.adaptive.enabled", "false") {
        assert(pairs() == default, "AQE off, no exchange reuse")
      }
    }

    // 3,000 rows: range sampling no longer takes every row; the input is
    // read from a cache and from a local checkpoint
    val n = 3000L
    val big = spark.range(0L, n, 1L, 8)
      .select(col("id"), xxhash64(col("id")).as("sk"))
    val order = big.as[(Long, Long)].collect().sortBy(_.swap).map(_._1).toSeq
    val expected = expectedPairs(order, 3)
    for ((input, in) <- Seq("cached" -> big.cache(),
        "checkpointed" -> big.localCheckpoint())) {
      for (aqe <- Seq("true", "false"); reuse <- Seq("true", "false");
          p <- Seq("1", "7", "64")) {
        val got = withConf("spark.sql.adaptive.enabled", aqe) {
          withConf("spark.sql.exchange.reuse", reuse) {
            withConf("spark.sql.shuffle.partitions", p) {
              Linkage.sortedNeighborhoodPairs(in, "id", "sk", 3)
                .select("id_a", "id_b").as[(Long, Long)].collect()
            }
          }
        }
        val setting = s"$input, AQE $aqe, reuse $reuse, $p partitions"
        val size = got.length
        assert(size == 2 * n - 3, setting)
        assert(got.toSet == expected, setting)
      }
    }
    big.unpersist()
  }

  test("sortedNeighborhood rejects a duplicated (sortKey, id) row") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (1L, "a"), (3L, "c")).toDF("id", "sk")
    val e = intercept[Exception] {
      Linkage.sortedNeighborhoodPairs(df, "id", "sk", 2, partitions = 2)
        .collect()
    }
    assert(e.getMessage.contains("order key (sk, id) must be unique per row"))
  }

  test("sortedNeighborhood rejects a duplicated (date sortKey, id) row") {
    import spark.implicits._
    val df = Seq((1L, "2020-01-01"), (2L, "2020-01-02"), (2L, "2020-01-02"),
      (3L, "2020-01-03")).toDF("id", "sk").withColumn("sk", to_date(col("sk")))
    val e = intercept[Exception] {
      Linkage.sortedNeighborhoodPairs(df, "id", "sk", 2, partitions = 2)
        .collect()
    }
    assert(e.getMessage.contains("order key (sk, id) must be unique per row"))
  }

  // ------------------------------------------------------- two-corpus linkage

  test("tokenBlockKeys emits one key per distinct qualifying token") {
    import spark.implicits._
    val df = Seq(
      (1L, "red shiny red box"),   // duplicate token -> one key
      (2L, "big red ball"),
      (3L, "  a of in  "),         // all < minLen -> no keys
      (4L, ""),                    // empty -> no keys
      (5L, "ball")
    ).toDF("id", "nm")
    val keys = Linkage.tokenBlockKeys(df, "id", "nm", minLen = 3)
      .as[(String, Long)].collect().toSet
    assert(keys == Set(
      ("tok:red", 1L), ("tok:shiny", 1L), ("tok:box", 1L),
      ("tok:big", 2L), ("tok:red", 2L), ("tok:ball", 2L),
      ("tok:ball", 5L)))
    // feeding candidatePairs yields exactly the shared-token pairs
    val pairs = Linkage.candidatePairs(
        Linkage.tokenBlockKeys(df, "id", "nm", minLen = 3)
          .select(col("key"), col("url")),
        bucketCap = 1, hardCap = 100, saltGroups = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 5L)))
  }

  /** Blocks of urls 1..n: a=2 and d=3 (cold at cap 3), b=4 and e=5
    * (salted up to hard cap 5), c=6 (dropped) — every tier boundary. */
  private def tierKeys() = {
    import spark.implicits._
    Seq("a" -> 2, "d" -> 3, "b" -> 4, "e" -> 5, "c" -> 6)
      .flatMap { case (k, n) => (1 to n).map(i => (k, i.toLong)) }
      .toDF("key", "url")
  }

  test("blockingProfile tiers and exact pair sums on a hand case") {
    val row = Linkage.blockingProfile(tierKeys(), bucketCap = 3, hardCap = 5)
      .collect()(0)
    assert(row.getAs[Long]("n_blocks") == 5L)
    assert(row.getAs[Long]("n_assignments") == 20L)
    assert(row.getAs[Long]("max_block") == 6L)
    assert(row.getAs[Long]("blocks_cold") == 2L)
    assert(row.getAs[Long]("blocks_salted") == 2L)
    assert(row.getAs[Long]("blocks_dropped") == 1L)
    assert(row.getAs[java.math.BigDecimal]("pairs_cold").longValueExact == 4L)
    assert(row.getAs[java.math.BigDecimal]("pairs_salted").longValueExact == 16L)
    assert(row.getAs[java.math.BigDecimal]("pairs_dropped").longValueExact == 15L)
  }

  test("blockingProfile puts each block in one tier when hardCap < bucketCap") {
    import spark.implicits._
    val keys = (Seq.fill(4)("k1") ++ Seq.fill(2)("k2")).zipWithIndex
      .map { case (k, i) => (k, s"u${i % 4}") }.toDF("key", "url")
    assert(Linkage.blockingProfile(keys, bucketCap = 5, hardCap = 3)
      .collect().head.toSeq.map(_.toString) ==
      Seq("2", "6", "4", "1", "0", "1", "1", "0", "6"))
    for ((bucketCap, hardCap) <- Seq((5, 3), (1, 3), (3, 5), (1, 1), (200, 100000))) {
      val p = Linkage.blockingProfile(keys, bucketCap, hardCap).collect().head
      def n(c: String) = p.getAs[Any](c) match {
        case d: java.math.BigDecimal => d.longValueExact
        case l: Long => l
      }
      val caps = s"bucketCap $bucketCap, hardCap $hardCap"
      assert(n("blocks_cold") + n("blocks_salted") + n("blocks_dropped") ==
        n("n_blocks"), caps)
      // the profile counts the pairs the tiers emit, before the pair dedup
      assert(n("pairs_cold") + n("pairs_salted") == Linkage.candidatePairs(keys,
        bucketCap, hardCap, saltGroups = 4, distinctPairs = false).count(), caps)
    }
  }

  test("Tiers routes buckets at the cap boundaries; payload follows its side") {
    val keys = tierKeys().withColumn("tag", concat(lit("t"), col("url")))
    def allPairs(n: Int) =
      for (i <- 1L to n.toLong; j <- i + 1 to n.toLong) yield (i, j)
    def run(bucketCap: Int, hardCap: Int) = {
      val df = Tiers.pairs(keys, Seq("key"), "url", bucketCap, hardCap,
        saltGroups = 4, payload = Seq("key", "tag")).out
      val rows = df.collect().toSeq
      // the grid swaps sides to emit url_a < url_b: each payload must
      // travel with its own url
      rows.foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
        assert(r.getString(2) == r.getString(3))
        assert(r.getString(4) == s"t${r.getLong(0)}" &&
          r.getString(5) == s"t${r.getLong(1)}", r)
      }
      val byKey = rows.groupBy(_.getString(2)).map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(0), r.getLong(1))).sorted }
      (byKey, df.queryExecution.optimizedPlan.toString)
    }
    // n = bucketCap (d) is cold; bucketCap+1 (b) and hardCap (e) are
    // salted; hardCap+1 (c) emits nothing — one row per pair per bucket
    val (tiered, tieredPlan) = run(bucketCap = 3, hardCap = 5)
    assert(tiered == Map("a" -> allPairs(2), "d" -> allPairs(3),
      "b" -> allPairs(4), "e" -> allPairs(5)))
    assert(tieredPlan.contains("Generate"))
    assert(Tiers.sizes(keys, Seq("key")).where(col("n") > 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c", 6L)))
    // hardCap <= bucketCap: the salted grid is left out of the plan and
    // every bucket up to hardCap takes the cold join
    val (cold, coldPlan) = run(bucketCap = 5, hardCap = 5)
    assert(cold == tiered)
    assert(!coldPlan.contains("Generate"))
  }

  test("crossCandidatePairs equals the naive A-B key join under the cap") {
    import spark.implicits._
    val lk = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z")).toDF("id", "key")
    val rk = Seq((10L, "x"), (11L, "y"), (12L, "y"), (13L, "w")).toDF("id", "key")
    val got = Linkage.crossCandidatePairs(lk, rk, bucketPairCap = 100L).out
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 11L), (3L, 12L)))
  }

  test("crossCandidatePairs cap drops hot keys observably, never silently") {
    import spark.implicits._
    val lk = (1L to 20L).map(i => (i, "hot")).toDF("id", "key")
    val rk = (101L to 120L).map(i => (i, "hot")).toDF("id", "key")
    // product 400 > cap 100 → dropped
    val capped = Linkage.crossCandidatePairs(lk, rk, bucketPairCap = 100L)
    assert(capped.out.count() == 0)
    val dropped = capped.dropped
      .as[(String, Long, Long)].collect().toSeq
    assert(dropped == Seq(("hot", 20L, 20L)))
  }

  test("linkTables scores candidates with the composite and thresholds") {
    import spark.implicits._
    val left = Seq((1L, "acme widgets", "b1"), (2L, "zzz qqq", "b1")).toDF("id", "name", "bk")
    val right = Seq((7L, "acme widgets", "b1"), (8L, "unrelated name", "b2")).toDF("id", "name", "bk")
    val got = Linkage.linkTables(left, right, "id", "name", "bk", theta = 1.9).out
      .select("id_l", "id_r", "score").collect()
    // only the exact-name pair survives θ=1.9 (its score is exactly 2.0)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 7L)))
    assert(got.head.getDouble(2) == 2.0)
  }

  // ------------------------------------------------------- symmetric best match

  test("symmetricBestMatches keeps exactly the mutual-argmax pairs") {
    import spark.implicits._
    val scored = Seq(
      // l=1: best r=10 (0.9); r=10: best l=1 -> kept
      (1L, 10L, 0.9), (1L, 11L, 0.5), (2L, 10L, 0.4),
      // l=3: best r=12; r=12: best l=4 -> neither (3,12) nor (4,12)... (4,12) is r12's best AND l4's best -> kept
      (3L, 12L, 0.6), (4L, 12L, 0.8),
      // tie on score: l=5 ties r=13/14 at 0.7 -> tie-break picks lower r=13; r=13's only candidate is l=5 -> kept
      (5L, 13L, 0.7), (5L, 14L, 0.7))
      .toDF("id_l", "id_r", "score")
    val got = Linkage.symmetricBestMatches(scored)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (4L, 12L), (5L, 13L)))
    // partitioning-independence (the tie-break pins the result)
    val got2 = Linkage.symmetricBestMatches(scored.repartition(7))
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(got2 == got)
  }

  // ------------------------------------------------------- B-cubed

  test("bCubed matches the hand-computed Bagga-Baldwin example") {
    import spark.implicits._
    // predicted {1,2,3} {4,5}; truth {1,2} {3,4} {5}
    val asg = Seq(
      (1L, "A", "x"), (2L, "A", "x"), (3L, "A", "y"),
      (4L, "B", "y"), (5L, "B", "z")).toDF("id", "cluster_id", "truth_id")
    // per record |C∩T|/|C|: 2/3, 2/3, 1/3, 1/2, 1/2 → P = (2/3+2/3+1/3+1/2+1/2)/5
    // per record |C∩T|/|T|: 2/2, 2/2, 1/2, 1/2, 1/1 → R = (1+1+.5+.5+1)/5 = 0.8
    val (p, r, f1) = Evaluation.bCubed(asg)
    assert(math.abs(p - (2.0/3 + 2.0/3 + 1.0/3 + 0.5 + 0.5) / 5) < 1e-12)
    assert(math.abs(r - 0.8) < 1e-12)
    assert(math.abs(f1 - 2 * p * r / (p + r)) < 1e-12)
    // perfect clustering → all three metrics 1.0
    val perfect = Seq((1L, "A", "x"), (2L, "A", "x"), (3L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    assert(Evaluation.bCubed(perfect) == ((1.0, 1.0, 1.0)))
    // stats frame is integer-exact and partition-independent
    val s1 = Evaluation.bCubedStats(asg).collect().map(_.toSeq).toSet
    val s2 = Evaluation.bCubedStats(asg.repartition(7)).collect().map(_.toSeq).toSet
    assert(s1 == s2)
    assert(s1.contains(Seq("cluster", "A", 3L, 5L)))  // 2² + 1² = 5
  }

  // ------------------------------------------------------- adjusted Rand

  test("adjustedRandStats matches the hand-computed Hubert-Arabie example") {
    import spark.implicits._
    // clusters {1,2,3}{4,5,6}; truth {1,2}{3,4,5}{6}:
    // S_ij = 2, S_a = 6, S_b = 4, N = 15 → ARI = (2−1.6)/(5−1.6) = 2/17
    val asg = Seq(
      (1L, "A", "x"), (2L, "A", "x"), (3L, "A", "y"),
      (4L, "B", "y"), (5L, "B", "y"), (6L, "B", "z"))
      .toDF("id", "cluster_id", "truth_id")
    val r = Evaluation.adjustedRandStats(asg).collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L &&
      r.getLong(2) == 6L && r.getLong(3) == 4L)
    assert(r.getDouble(4) == 12.0 / 102.0)
    // identical partitions → 1.0
    val perfect = Seq((1L, "A", "x"), (2L, "A", "x"), (3L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    assert(Evaluation.adjustedRandStats(perfect).collect().head.getDouble(4) == 1.0)
    // all singletons both sides → chance correction undefined → NULL
    val triv = Seq((1L, "A", "x"), (2L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    assert(Evaluation.adjustedRandStats(triv).collect().head.isNullAt(4))
    // partition-independent
    val a = Evaluation.adjustedRandStats(asg.repartition(7)).collect().head.toSeq
    val b = Evaluation.adjustedRandStats(asg.coalesce(1)).collect().head.toSeq
    assert(a == b)
  }

  // ------------------------------------- Rand / Fowlkes-Mallows / Talburt-Wang

  test("partitionAgreementStats matches the hand-computed example") {
    import spark.implicits._
    // clusters {1,2,3}{4,5}; truth {1,2}{3,4,5}: contingency (A,x)=2,
    // (A,y)=1, (B,y)=2 → tp = 1+0+1 = 2, tp+fp = C(3,2)+C(2,2) = 4,
    // tp+fn = C(2,2)+C(3,2) = 4, C(5,2) = 10 → fp = fn = 2, tn = 4,
    // Rand = 6/10, FM = 2/sqrt(16) = 0.5, TW = sqrt(2·2)/3 = 2/3.
    // GMD: split A into {1,2}{3} (1 split), merge {3} into {4,5}
    // (1 merge) → splits = V−|A| = 1, merges = V−|B| = 1, gmd = 2.
    val asg = Seq(
      (1L, "A", "x"), (2L, "A", "x"), (3L, "A", "y"),
      (4L, "B", "y"), (5L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    val r = Evaluation.partitionAgreementStats(asg).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 2L &&
      r.getLong(3) == 3L)
    assert(r.getLong(4) == 2L && r.getLong(5) == 2L && r.getLong(6) == 2L &&
      r.getLong(7) == 4L)
    assert(r.getDouble(8) == 0.6)
    assert(r.getDouble(9) == 0.5)
    assert(r.getDouble(10) == 2.0 / 3.0)
    assert(r.getAs[Long]("gmd_splits") == 1L &&
      r.getAs[Long]("gmd_merges") == 1L && r.getAs[Long]("gmd") == 2L)
    // identical partitions → all three indexes 1.0, edit distance 0
    val perfect = Seq((1L, "A", "x"), (2L, "A", "x"), (3L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    val p = Evaluation.partitionAgreementStats(perfect).collect().head
    assert(p.getDouble(8) == 1.0 && p.getDouble(9) == 1.0 &&
      p.getDouble(10) == 1.0)
    assert(p.getAs[Long]("gmd") == 0L)
    // pure refinement (clusters split truth): only merges, no splits
    val refined = Seq((1L, "A", "x"), (2L, "B", "x"), (3L, "C", "y"))
      .toDF("id", "cluster_id", "truth_id")
    val rf = Evaluation.partitionAgreementStats(refined).collect().head
    assert(rf.getAs[Long]("gmd_splits") == 0L &&
      rf.getAs[Long]("gmd_merges") == 1L && rf.getAs[Long]("gmd") == 1L)
    // all singletons both sides: no intra pairs → FM null, Rand = 1
    // (every pair truly negative), TW = sqrt(n·n)/n = 1
    val triv = Seq((1L, "A", "x"), (2L, "B", "y"))
      .toDF("id", "cluster_id", "truth_id")
    val t = Evaluation.partitionAgreementStats(triv).collect().head
    assert(t.isNullAt(9) && t.getDouble(8) == 1.0 && t.getDouble(10) == 1.0)
    // single row: no pairs at all → Rand null too
    val one = Seq((1L, "A", "x")).toDF("id", "cluster_id", "truth_id")
    val o = Evaluation.partitionAgreementStats(one).collect().head
    assert(o.isNullAt(8) && o.isNullAt(9) && o.getDouble(10) == 1.0)
    // partition-independent
    val a2 = Evaluation.partitionAgreementStats(asg.repartition(7)).collect().head.toSeq
    val b2 = Evaluation.partitionAgreementStats(asg.coalesce(1)).collect().head.toSeq
    assert(a2 == b2)
  }

  test("weakestLinks: argmin intra-cluster edge per cluster, pinned ties, cross edges dropped") {
    import spark.implicits._
    // cluster A = {1,2,3} chained 1-2 (0.9), 2-3 (0.6); cluster B = {4,5}
    // edge 0.8; a cross edge 3-4 (0.1) must not count anywhere; a tie in
    // B' = {6,7,8}: edges (6,7) and (6,8) both 0.5 → (6,7) wins.
    val scored = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.6), (4L, 5L, 0.8), (3L, 4L, 0.1),
      (6L, 7L, 0.5), (6L, 8L, 0.5))
      .toDF("ka", "kb", "score")
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 6L), (7L, 6L), (8L, 6L)).toDF("id", "component")
    val got = Evaluation.weakestLinks(scored, asg, "id")
      .orderBy("component").collect()
    assert(got.length == 3)
    assert(got(0).toSeq == Seq(1L, 2L, 2L, 3L, 0.6))
    assert(got(1).toSeq == Seq(4L, 1L, 4L, 5L, 0.8))
    assert(got(2).toSeq == Seq(6L, 2L, 6L, 7L, 0.5))
    // partitioning-independent
    val again = Evaluation.weakestLinks(scored.repartition(5), asg.repartition(3),
      "id").orderBy("component").collect().map(_.toSeq).toSeq
    assert(again == got.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------- cluster diff

  test("clusterDiff classifies stable / merge / split / reshuffle cells") {
    import spark.implicits._
    val oldA = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "D"),
      (6L, "D"), (7L, "E"), (8L, "E"), (9L, "F"))
      .toDF("id", "cluster_id")
    val newA = Seq((1L, "X"), (2L, "X"), (3L, "Y"), (4L, "Y"), (5L, "Z1"),
      (6L, "Z2"), (7L, "W"), (8L, "V"), (9L, "W"))
      .toDF("id", "cluster_id")
    val got = Evaluation.clusterDiff(oldA, newA, "id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(got(("A", "X")) == ((2L, 2L, 2L, "stable")))
    assert(got(("B", "Y")) == ((1L, 1L, 2L, "merge")))
    assert(got(("C", "Y")) == ((1L, 1L, 2L, "merge")))
    assert(got(("D", "Z1")) == ((1L, 2L, 1L, "split")))
    assert(got(("D", "Z2")) == ((1L, 2L, 1L, "split")))
    // E scatters into W (which also gains F's record): E->W is partial
    // both ways = reshuffle; E->V is a whole-new-cluster carve = split
    assert(got(("E", "W")) == ((1L, 2L, 2L, "reshuffle")))
    assert(got(("E", "V")) == ((1L, 2L, 1L, "split")))
    assert(got(("F", "W")) == ((1L, 1L, 2L, "merge")))
    // ids absent from either side never appear
    val extra = Evaluation.clusterDiff(
      oldA.union(Seq((99L, "GONE")).toDF("id", "cluster_id")), newA, "id")
    assert(!extra.collect().exists(_.getString(0) == "GONE"))
  }

  // ------------------------------------------------------- blocking quality

  test("blockingQuality computes reduction ratio and pairs completeness") {
    import spark.implicits._
    val records = (1L to 5L).map(i => (i, s"r$i")).toDF("id", "v")
    val candidates = Seq((1L, 2L), (3L, 4L)).toDF("url_a", "url_b")
    val truePairs = Seq((1L, 2L), (1L, 3L)).toDF("url_a", "url_b")
    val r = Evaluation.blockingQuality(records, candidates, truePairs).head()
    assert(r.getAs[Long]("n_records") == 5L)
    assert(r.getAs[Long]("n_candidates") == 2L)
    assert(r.getAs[Long]("total_pairs") == 10L)       // 5*4/2
    assert(r.getAs[Long]("n_true") == 2L)
    assert(r.getAs[Long]("n_true_covered") == 1L)     // (1,2) kept, (1,3) lost
    assert(r.getAs[Double]("reduction_ratio") == 1.0 - 2.0 / 10.0)
    assert(r.getAs[Double]("pairs_completeness") == 0.5)
  }

  test("blockingQuality with no labeled pairs reports null completeness, not 100%") {
    import spark.implicits._
    val records = (1L to 3L).map(i => (i, s"r$i")).toDF("id", "v")
    val candidates = Seq((1L, 2L)).toDF("url_a", "url_b")
    val truePairs = Seq.empty[(Long, Long)].toDF("url_a", "url_b")
    val r = Evaluation.blockingQuality(records, candidates, truePairs).head()
    assert(r.getAs[Long]("n_true") == 0L)
    assert(r.isNullAt(r.fieldIndex("pairs_completeness")))
  }

  test("captureRecapture: hand-computed Lincoln-Petersen/Chapman estimates") {
    import spark.implicits._
    // A catches 4 pairs, B catches 3, overlap 2, union 5. Noise that
    // normalization must absorb: duplicate + reversed rows, a self-loop.
    val capA = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L),
      (2L, 1L), (9L, 9L)).toDF("url_a", "url_b")
    val capB = Seq((1L, 2L), (3L, 4L), (10L, 11L),
      (3L, 4L)).toDF("url_a", "url_b")
    val r = Evaluation.captureRecapture(capA, capB).head()
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("n_both") == 2L && r.getAs[Long]("n_union") == 5L)
    assert(r.getAs[Double]("lincoln_petersen") == 4.0 * 3.0 / 2.0)
    assert(r.getAs[Double]("chapman") == 5.0 * 4.0 / 3.0 - 1.0)
    assert(r.getAs[Double]("est_missed") == 5.0 * 4.0 / 3.0 - 1.0 - 5.0)
    assert(r.getAs[Double]("coverage_a") == 2.0 / 3.0)
    assert(r.getAs[Double]("coverage_b") == 2.0 / 4.0)
  }

  test("captureRecapture: disjoint captures — LP null, Chapman defined") {
    import spark.implicits._
    val capA = Seq((1L, 2L)).toDF("url_a", "url_b")
    val capB = Seq((3L, 4L)).toDF("url_a", "url_b")
    val r = Evaluation.captureRecapture(capA, capB).head()
    assert(r.getAs[Long]("n_both") == 0L)
    assert(r.isNullAt(r.fieldIndex("lincoln_petersen")))
    assert(r.getAs[Double]("chapman") == 2.0 * 2.0 / 1.0 - 1.0)
  }

  test("captureRecapture: identical captures estimate zero missed") {
    import spark.implicits._
    val cap = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("url_a", "url_b")
    val r = Evaluation.captureRecapture(cap, cap).head()
    assert(r.getAs[Long]("n_both") == 3L && r.getAs[Long]("n_union") == 3L)
    assert(r.getAs[Double]("lincoln_petersen") == 3.0)
    assert(r.getAs[Double]("coverage_a") == 1.0 &&
      r.getAs[Double]("coverage_b") == 1.0)
    // Chapman bias correction: 4*4/4 - 1 = 3 exactly here
    assert(r.getAs[Double]("chapman") == 3.0 &&
      r.getAs[Double]("est_missed") == 0.0)
  }

  test("commonNeighborPairs: counts, neighborhood jaccard, dup edges folded") {
    import spark.implicits._
    val edges = Seq(
      ("a", "p"), ("a", "q"), ("a", "r"),
      ("b", "p"), ("b", "q"), ("b", "s"),
      ("b", "p"), // duplicate edge must not double-count
      ("c", "x"),
      ("d", null)).toDF("ent", "nb")
    val got = Linkage.commonNeighborPairs(edges, "ent", "nb").out
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toList
    assert(got == List(("a", "b", 2L, 2.0 / 4.0)))
    // minCommon prunes below the bar
    assert(Linkage.commonNeighborPairs(edges, "ent", "nb", minCommon = 3)
      .out.count() == 0L)
  }

  test("commonNeighborPairs: hub neighbors through the salted grid, lossless") {
    import spark.implicits._
    val hub = (0 until 20).map(i => (s"e$i", "hub"))
    val pair = Seq(("e1", "n1"), ("e2", "n1"))
    val edges = (hub ++ pair).toDF("ent", "nb")
    def run(cap: Int) = Linkage.commonNeighborPairs(edges, "ent", "nb",
      bucketCap = cap, saltGroups = 4).out
      .orderBy("url_a", "url_b").collect().map(_.toSeq).toSeq
    val plain = run(1000)
    assert(run(3) == plain && plain.size == 190) // C(20,2) hub pairs
    // e1-e2 share hub AND n1
    assert(plain.exists(r => r(0) == "e1" && r(1) == "e2" && r(2) == 2L))
    // finite hardCap drops the hub, and the record names it
    val capped = Linkage.commonNeighborPairs(edges, "ent", "nb",
      bucketCap = 3, hardCap = 10, saltGroups = 4)
    val kept = capped.out.collect()
    assert(kept.length == 1 && kept(0).getLong(2) == 1L)
    assert(capped.dropped.as[(String, Long)].collect().toSeq == Seq(("hub", 20L)))
    assert(Linkage.commonNeighborPairs(edges, "ent", "nb", bucketCap = 3,
      saltGroups = 4).dropped.count() == 0L)
  }

  test("adamicAdarPairs: hand-computed weights, grid-tier equal") {
    import spark.implicits._
    val edges = Seq(
      ("a", "p"), ("b", "p"),               // deg(p) = 2
      ("a", "q"), ("b", "q"), ("c", "q")    // deg(q) = 3
    ).toDF("ent", "nb")
    val got = Linkage.adamicAdarPairs(edges, "ent", "nb").out
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    val ab = got.find(t => t._1 == "a" && t._2 == "b").get
    assert(ab._3 == 2L)
    assert(math.abs(ab._4 - (1.0 / math.log(2.0) + 1.0 / math.log(3.0))) < 1e-12)
    val ac = got.find(t => t._1 == "a" && t._2 == "c").get
    assert(ac._3 == 1L && math.abs(ac._4 - 1.0 / math.log(3.0)) < 1e-12)
    // hot tier carries the degree payload: same values through the grid
    val grid = Linkage.adamicAdarPairs(edges, "ent", "nb",
      bucketCap = 1, saltGroups = 4).out
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(grid.toList == got.map(t => (t._1, t._2, t._3)).toList)
  }

  test("suffixBlockKeys: tails >= minLen, shared-tail blocking, size cap") {
    import spark.implicits._
    val recs = Seq(
      (1L, "1 Main St Apt 4"),
      (2L, "Main St Apt 4"),   // tail of 1: must share blocks with it
      (3L, "Oak Ave"),         // len 7 < minLen 8: emits only itself
      (4L, "OAK AVE "),        // normalization: lower+trim → same as 3
      (5L, "")                 // empty: excluded
    ).toDF("id", "addr")
    val keys = Linkage.suffixBlockKeys(recs, "id", "addr",
      minLen = 8, maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byId = keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // record 1: "1 main st apt 4" (len 15) → starts 1..8, all 8 suffixes
    assert(byId(1L).size == 8 && byId(1L).contains("1 main st apt 4")
      && byId(1L).contains("st apt 4"))
    // the full key of 2 is a suffix of 1 → they share every suffix of 2
    assert(byId(2L).subsetOf(byId(1L)))
    // short keys block on themselves; normalization folds 3 and 4 together
    assert(byId(3L) == Set("oak ave") && byId(4L) == Set("oak ave"))
    assert(!byId.contains(5L))
    // cap: 30 records sharing one tail + a rare pair; cap 10 removes the
    // hot suffix blocks but keeps the rare one
    val hot = (1L to 30L).map(i => (i, s"unit $i common tail here")) ++
      Seq((101L, "rare address x"), (102L, "xxrare address x"))
    val capped = Linkage.suffixBlockKeys(hot.toDF("id", "addr"), "id", "addr",
      minLen = 8, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySuffix = capped.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySuffix.values.forall(_ <= 10))
    assert(bySuffix.get("rare address x").contains(2)) // 101's full, 102's tail
  }
}
