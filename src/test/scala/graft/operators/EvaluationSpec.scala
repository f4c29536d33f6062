package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Round-5 evaluation additions: ROC curve + exact AUC, progressive
  * (pay-as-you-go) recall curve, deterministic rule cascade, and the new
  * comparator levels (geo / array-intersect / temporal decay). */
class EvaluationSpec extends SparkFunSuite {

  // ----------------------------------------------------------- ROC + AUC

  /** Brute-force ROC reference: for each distinct score desc, cumulative
    * tp/fp. */
  private def refRoc(rows: Seq[(Double, Int)]): Seq[(Double, Long, Long)] = {
    val scores = rows.map(_._1).distinct.sorted(Ordering[Double].reverse)
    scores.map { s =>
      val tp = rows.count { case (sc, t) => sc >= s && t == 1 }.toLong
      val fp = rows.count { case (sc, t) => sc >= s && t == 0 }.toLong
      (s, tp, fp)
    }
  }

  /** Brute-force Mann-Whitney AUC with half-credit ties. */
  private def refAuc(rows: Seq[(Double, Int)]): Double = {
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val s = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    s / (pos.size.toDouble * neg.size.toDouble)
  }

  private def scoredFrame(rows: Seq[(Long, Long, Double, Int)]) = {
    import spark.implicits._
    val scored = rows.map { case (a, b, s, _) => (a, b, s) }
      .toDF("id_l", "id_r", "score")
    val labeled = rows.filter(_._4 == 1).map { case (a, b, _, _) => (a, b) }
      .toDF("id_l", "id_r")
    (scored, labeled)
  }

  test("rocCurve matches the brute-force cumulative counts") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1L to 300L).map { i =>
      // quantized scores force ties ACROSS labels
      val s = rng.nextInt(20) / 10.0
      (i, i + 1000L, s, if (rng.nextInt(3) == 0) 1 else 0)
    }
    val (scored, labeled) = scoredFrame(rows)
    val got = Evaluation.rocCurve(scored, labeled, partitions = 5)
      .select("score", "tp", "fp").as[(Double, Long, Long)]
      .collect().sortBy(-_._1).toSeq
    assert(got == refRoc(rows.map(r => (r._3, r._4))))
    // tpr/fpr are the exact divisions
    val p = rows.count(_._4 == 1).toDouble
    val top = Evaluation.rocCurve(scored, labeled, partitions = 3)
      .orderBy(col("score")).select("tpr").as[Double].head()
    assert(top == rows.count(_._4 == 1) / p) // lowest threshold: tpr = 1
  }

  test("auc equals brute-force Mann-Whitney AUC including ties") {
    val rng = new scala.util.Random(23)
    val rows = (1L to 250L).map { i =>
      (i, i + 500L, rng.nextInt(15) / 7.0, if (rng.nextInt(4) == 0) 1 else 0)
    }
    val (scored, labeled) = scoredFrame(rows)
    val roc = Evaluation.rocCurve(scored, labeled, partitions = 4)
    val got = Evaluation.auc(roc).select("auc").head().getDouble(0)
    assert(math.abs(got - refAuc(rows.map(r => (r._3, r._4)))) < 1e-12)
  }

  test("auc is 1.0 for a perfect scorer, NULL with one class absent") {
    val perfect = (1L to 40L).map(i =>
      (i, i + 100L, if (i <= 10) 2.0 else 1.0, if (i <= 10) 1 else 0))
    val (s1, l1) = scoredFrame(perfect)
    assert(Evaluation.auc(Evaluation.rocCurve(s1, l1))
      .select("auc").head().getDouble(0) == 1.0)
    val onlyNeg = (1L to 20L).map(i => (i, i + 100L, 1.0, 0))
    val (s2, l2) = scoredFrame(onlyNeg)
    assert(Evaluation.auc(Evaluation.rocCurve(s2, l2)).select("auc")
      .head().isNullAt(0))
  }

  test("rocCurve is partitioning-independent") {
    val rng = new scala.util.Random(5)
    val rows = (1L to 200L).map(i =>
      (i, i + 900L, rng.nextInt(12) / 5.0, rng.nextInt(2)))
    val (scored, labeled) = scoredFrame(rows)
    val a = Evaluation.rocCurve(scored.repartition(7), labeled, partitions = 2)
      .collect().toSet
    val b = Evaluation.rocCurve(scored.repartition(2), labeled, partitions = 9)
      .collect().toSet
    assert(a == b && a.nonEmpty)

    // 3,000 distinct scores read from a cache over 8 input partitions:
    // range sampling no longer takes every score
    import spark.implicits._
    val many = (1L to 3000L).map(i =>
      (i, i + 9000L, rng.nextInt(1000000) / 1e6, rng.nextInt(2)))
    val (s2, l2) = scoredFrame(many)
    val cached = s2.repartition(8).cache()
    val ref = refRoc(many.map(r => (r._3, r._4)))
    for (p <- Seq(2, 9)) {
      val got = Evaluation.rocCurve(cached, l2, partitions = p)
        .select("score", "tp", "fp").as[(Double, Long, Long)]
        .collect().sortBy(-_._1).toSeq
      assert(got == ref, s"$p partitions")
    }
    cached.unpersist()
  }

  // ------------------------------------------- PR curve + average precision

  /** Sequential step-AP reference in the operator's pinned op order:
    * fold over score-desc cells of acc + (t/P)·(tp/cn). */
  private def refAp(rows: Seq[(Double, Int)]): Double = {
    val p = rows.count(_._2 == 1).toDouble
    val cells = refRoc(rows).map { case (s, tp, fp) =>
      val t = rows.count { case (sc, l) => sc == s && l == 1 }.toLong
      (t, tp, tp + fp)
    }
    cells.foldLeft(0.0) { case (acc, (t, tp, cn)) =>
      acc + (t.toDouble / p) * (tp.toDouble / cn.toDouble)
    }
  }

  test("prCurve precision/recall match brute force at every threshold") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = (1L to 280L).map { i =>
      (i, i + 700L, rng.nextInt(16) / 8.0, if (rng.nextInt(3) == 0) 1 else 0)
    }
    val (scored, labeled) = scoredFrame(rows)
    val p = rows.count(_._4 == 1).toDouble
    val got = Evaluation.prCurve(Evaluation.rocCurve(scored, labeled,
        partitions = 5))
      .select("score", "precision", "recall").as[(Double, Double, Double)]
      .collect().sortBy(-_._1).toSeq
    val want = refRoc(rows.map(r => (r._3, r._4))).map { case (s, tp, fp) =>
      (s, tp.toDouble / (tp + fp).toDouble, tp.toDouble / p)
    }
    assert(got == want)
  }

  test("averagePrecision equals the sequential step fold bit-for-bit") {
    val rng = new scala.util.Random(41)
    val rows = (1L to 260L).map { i =>
      (i, i + 800L, rng.nextInt(13) / 6.0, if (rng.nextInt(4) == 0) 1 else 0)
    }
    val (scored, labeled) = scoredFrame(rows)
    val got = Evaluation.averagePrecision(
        Evaluation.rocCurve(scored, labeled, partitions = 4))
      .select("n_scores", "n_pos", "ap").head()
    assert(got.getLong(1) == rows.count(_._4 == 1).toLong)
    assert(got.getDouble(2) == refAp(rows.map(r => (r._3, r._4))))
  }

  test("averagePrecision: 1.0 for a perfect scorer, NULL with no positives") {
    val perfect = (1L to 40L).map(i =>
      (i, i + 100L, if (i <= 10) 2.0 else 1.0, if (i <= 10) 1 else 0))
    val (s1, l1) = scoredFrame(perfect)
    assert(Evaluation.averagePrecision(Evaluation.rocCurve(s1, l1))
      .select("ap").head().getDouble(0) == 1.0)
    val onlyNeg = (1L to 20L).map(i => (i, i + 100L, 1.0, 0))
    val (s2, l2) = scoredFrame(onlyNeg)
    assert(Evaluation.averagePrecision(Evaluation.rocCurve(s2, l2))
      .select("ap").head().isNullAt(0))
  }

  test("averagePrecision is partitioning-independent") {
    val rng = new scala.util.Random(53)
    val rows = (1L to 190L).map(i =>
      (i, i + 900L, rng.nextInt(9) / 4.0, rng.nextInt(2)))
    val (scored, labeled) = scoredFrame(rows)
    val a = Evaluation.averagePrecision(Evaluation.rocCurve(
      scored.repartition(7), labeled, partitions = 2)).collect().toSeq
    val b = Evaluation.averagePrecision(Evaluation.rocCurve(
      scored.repartition(3), labeled, partitions = 8)).collect().toSeq
    assert(a == b)
  }

  // ------------------------------------------------- progressive recall

  test("progressiveCurve banks recall in rank order") {
    import spark.implicits._
    // 6 pairs in progressive order; true pairs at ranks 1, 3, 6
    val pairs = Seq(
      (1L, 2L, 1L), (3L, 4L, 2L), (5L, 6L, 3L),
      (7L, 8L, 4L), (9L, 10L, 5L), (11L, 12L, 6L))
      .toDF("id_a", "id_b", "rank")
    val labeled = Seq((1L, 2L), (5L, 6L), (11L, 12L), (97L, 98L))
      .toDF("id_a", "id_b") // one true pair never generated
    val got = Evaluation.progressiveCurve(pairs, labeled, Seq(2L, 4L, 6L, 10L))
      .orderBy("budget")
      .select("budget", "n_consumed", "tp", "recall")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (2L, 2L, 1L, 0.25), (4L, 4L, 2L, 0.5),
      (6L, 6L, 3L, 0.75), (10L, 6L, 3L, 0.75)))
  }

  test("progressiveRank orders by (orderCol, tieCol) with contiguous ranks") {
    import spark.implicits._
    val pairs = Seq(
      (10L, 11L, 3.0, 7L), (20L, 21L, 1.0, 9L),
      (30L, 31L, 1.0, 2L), (40L, 41L, 2.0, 1L))
      .toDF("id_a", "id_b", "wd", "tie")
    val got = Evaluation.progressiveRank(pairs, col("wd"), col("tie"),
        partitions = 3)
      .orderBy("rank").select("id_a", "rank").as[(Long, Long)]
      .collect().toSeq
    assert(got == Seq((30L, 1L), (20L, 2L), (40L, 3L), (10L, 4L)))

    // 3,000 pairs read from a cache over 8 input partitions: the ranks
    // are exactly 1..n in (order, tie) order
    val n = 3000L
    val cached = spark.range(0L, n, 1L, 8)
      .select(col("id").as("id_a"), xxhash64(col("id")).as("h"))
      .cache()
    val ranks = Evaluation.progressiveRank(cached, col("h") % 7L, col("h"))
      .select("id_a", "rank").as[(Long, Long)].collect()
    val byOrder = cached.as[(Long, Long)].collect()
      .sortBy { case (_, h) => ((h % 7L).toDouble, h) }.map(_._1).toSeq
    cached.unpersist()
    assert(ranks.sortBy(_._2).toSeq == byOrder.zip(1L to n))
  }

  test("progressiveRank rejects a duplicated (order, tie) row") {
    import spark.implicits._
    val pairs = Seq((10L, 11L, 1.0, 7L), (20L, 21L, 1.0, 7L),
      (30L, 31L, 2.0, 7L)).toDF("id_a", "id_b", "wd", "tie")
    val e = intercept[Exception] {
      Evaluation.progressiveRank(pairs, col("wd"), col("tie"), partitions = 2)
        .collect()
    }
    assert(e.getMessage.contains("order key (__ord, __tie) must be unique per row"))
  }

  // --------------------------------------------------- cluster-level eval

  test("clusterMetrics: exact-match counts and unit-cost GMD") {
    import spark.implicits._
    // pred: {1,2},{3,4,5},{6}   truth: {1,2},{3,4},{5,6}
    val asg = Seq(
      (1L, "a", "x"), (2L, "a", "x"),
      (3L, "b", "y"), (4L, "b", "y"), (5L, "b", "z"),
      (6L, "c", "z"))
      .toDF("id", "cluster_id", "truth_id")
    val m = Evaluation.clusterMetrics(asg).head()
    assert(m.getAs[Long]("n_records") == 6L)
    assert(m.getAs[Long]("n_pred") == 3L && m.getAs[Long]("n_truth") == 3L)
    assert(m.getAs[Long]("n_exact") == 1L) // only {1,2}
    assert(m.getAs[Double]("cluster_precision") == 1.0 / 3.0)
    assert(m.getAs[Double]("cluster_recall") == 1.0 / 3.0)
    // splits: a:0, b:1 ({3,4}|{5}), c:0 = 1; merges: x:0, y:0, z:1 = 1
    assert(m.getAs[Long]("gmd_splits") == 1L)
    assert(m.getAs[Long]("gmd_merges") == 1L)
    assert(m.getAs[Long]("gmd") == 2L)
  }

  test("clusterMetrics: identical partitions -> F1 1.0, GMD 0") {
    import spark.implicits._
    val asg = (1L to 30L).map(i => (i, s"c${i % 5}", s"t${i % 5}"))
      .toDF("id", "cluster_id", "truth_id")
    val m = Evaluation.clusterMetrics(asg).head()
    assert(m.getAs[Double]("cluster_f1") == 1.0)
    assert(m.getAs[Long]("gmd") == 0L)
  }

  test("clusterSizeProfile histogram with exact record fractions") {
    import spark.implicits._
    // sizes: 3,2,2,1 -> hist {3:1, 2:2, 1:1}, total 8
    val asg = Seq(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "b", 5L -> "b",
      6L -> "c", 7L -> "c", 8L -> "d").toDF("id", "cluster_id")
    val got = Evaluation.clusterSizeProfile(asg)
      .orderBy("cluster_size")
      .select("cluster_size", "n_clusters", "n_records", "frac_records")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L, 0.125), (2L, 2L, 4L, 0.5),
      (3L, 1L, 3L, 0.375)))
  }

  test("blockingQualitySweep: slots and completeness per cap") {
    import spark.implicits._
    // blocks: k1 = {1,2,3} (n=3), k2 = {4,5} (n=2), k3 = {1,4} (n=2)
    val keys = Seq(("k1", 1L), ("k1", 2L), ("k1", 3L), ("k2", 4L),
      ("k2", 5L), ("k3", 1L), ("k3", 4L)).toDF("key", "url")
    // truth: (1,2) min-shared-block 3; (4,5) min 2; (1,4) min 2;
    // (2,9) shares nothing
    val truth = Seq((1L, 2L), (4L, 5L), (1L, 4L), (2L, 9L))
      .toDF("url_a", "url_b")
    val got = Evaluation.blockingQualitySweep(keys, truth, Seq(1L, 2L, 3L))
      .orderBy("cap")
      .select("cap", "pair_slots", "n_true", "n_true_covered")
      .collect().map(r => (r.getLong(0), r.getDecimal(1).longValueExact(),
        r.getLong(2), r.getLong(3))).toSeq
    // cap 1: no block fits -> 0 slots, 0 covered
    // cap 2: k2+k3 fit -> 1+1 slots, covers (4,5) and (1,4)
    // cap 3: all fit -> 3+1+1 slots, covers 3 of 4
    assert(got == Seq((1L, 0L, 4L, 0L), (2L, 2L, 4L, 2L), (3L, 5L, 4L, 3L)))
    val pc = Evaluation.blockingQualitySweep(keys, truth, Seq(3L))
      .select("pairs_completeness").head().getDouble(0)
    assert(pc == 0.75)
  }

  // -------------------------------------------------------- rule cascade

  test("ruleCascade: first matching rule wins, non-matches drop") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, "alpha", "alpha"),   // rule 1 (also satisfies rule 2)
      (3L, 4L, "beta", "betA"),     // rule 2 only (case-insensitive)
      (5L, 6L, "gamma", "delta"))   // no rule
      .toDF("ka", "kb", "na", "nb")
    val out = Linkage.ruleCascade(pairs, Seq(
        "exact" -> (col("na") === col("nb")),
        "ci" -> (lower(col("na")) === lower(col("nb")))))
      .select("ka", "rule", "rule_rank").as[(Long, String, Long)]
      .collect().toSet
    assert(out == Set((1L, "exact", 1L), (3L, "ci", 2L)))
  }

  test("ruleCascade rejects duplicate or empty rule names") {
    import spark.implicits._
    val pairs = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Linkage.ruleCascade(pairs, Seq("a" -> lit(true), "a" -> lit(false)))
    }
    intercept[IllegalArgumentException] {
      Linkage.ruleCascade(pairs, Seq("" -> lit(true)))
    }
  }

  // ---------------------------------------------------- comparator levels

  test("geoKmLevels bands haversine distance; NULL coords -> NULL") {
    import spark.implicits._
    // London (51.5074, -0.1278), Paris (48.8566, 2.3522) ~= 343.6 km;
    // identical point -> top level; antipodal-ish -> 0
    val df = Seq(
      (51.5074, -0.1278, 48.8566, 2.3522),   // ~343.6 km -> level 1
      (51.5074, -0.1278, 51.5074, -0.1278),  // exact -> 3
      (51.5074, -0.1278, 51.6, -0.1278),     // ~10.3 km -> 2 (<=50)
      (51.5074, -0.1278, -33.8688, 151.2093) // Sydney -> 0
    ).toDF("la", "lo", "lb", "lc")
    val lv = df.select(Comparators.geoKmLevels(col("la"), col("lo"),
      col("lb"), col("lc"), Seq(50.0, 500.0)).as("l"))
      .as[Long].collect().toSeq
    assert(lv == Seq(1L, 3L, 2L, 0L))
    val withNull = Seq((Some(1.0), None: Option[Double], Some(2.0), Some(3.0)))
      .toDF("la", "lo", "lb", "lc")
      .select(Comparators.geoKmLevels(col("la"), col("lo"), col("lb"),
        col("lc"), Seq(50.0)).as("l"))
    assert(withNull.head().isNullAt(0))
    // sanity: the km scalar itself is in the published ballpark
    val km = df.limit(1).select(Comparators.haversineKm(col("la"), col("lo"),
      col("lb"), col("lc")).as("km")).head().getDouble(0)
    assert(math.abs(km - 343.6) < 1.0)
  }

  test("arrayIntersectLevels counts distinct shared elements") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("c", "b", "x")),  // 2 shared -> level 2
      (Seq("a", "a", "b"), Seq("a", "a", "z")),  // 1 DISTINCT shared -> 1
      (Seq("a"), Seq("z")),                       // 0 shared -> 0
      (Seq.empty[String], Seq("a")))              // empty = disagreement, 0
      .toDF("x", "y")
    val lv = df.select(Comparators.arrayIntersectLevels(col("x"), col("y"),
      Seq(1, 2)).as("l")).as[Long].collect().toSeq
    assert(lv == Seq(2L, 1L, 0L, 0L))
    val withNull = Seq((None: Option[Seq[String]], Some(Seq("a"))))
      .toDF("x", "y")
      .select(Comparators.arrayIntersectLevels(col("x"), col("y"), Seq(1)))
    assert(withNull.head().isNullAt(0))
  }

  test("temporalDecay halves the similarity at dt = tau") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-01 00:00:00", "2024-01-01 01:00:00", 0.8), // dt = tau -> 0.4
      ("2024-01-01 00:00:00", "2024-01-01 00:00:00", 0.8), // dt = 0 -> 0.8
      ("2024-01-01 03:00:00", "2024-01-01 00:00:00", 0.9)) // order-free
      .toDF("ta", "tb", "s")
      .select(Comparators.temporalDecay(col("s"),
        col("ta").cast("timestamp"), col("tb").cast("timestamp"),
        3600.0).as("d"))
    val got = df.as[Double].collect().toSeq
    assert(got(0) == 0.4 && got(1) == 0.8 &&
      math.abs(got(2) - 0.9 / 4.0) < 1e-15)
    val withNull = Seq((None: Option[String], Some("2024-01-01 00:00:00"), 1.0))
      .toDF("ta", "tb", "s")
      .select(Comparators.temporalDecay(col("s"),
        col("ta").cast("timestamp"), col("tb").cast("timestamp"), 60.0))
    assert(withNull.head().isNullAt(0))
  }
}
