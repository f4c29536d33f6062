package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Information-theoretic cluster-agreement family: the count-of-counts
  * sufficient-statistics face, analytic fixtures (identical partitions,
  * one-cluster-vs-singletons), the NULL conventions at degenerate
  * normalizers, and a brute-force entropy cross-check on random
  * partitions under shuffled partitioning. */
class InformationMetricsSpec extends SparkFunSuite {

  import spark.implicits._

  private def metricsRow(pairs: Seq[(String, String)]) =
    Evaluation.informationMetrics(
      pairs.zipWithIndex.map { case ((c, t), i) => (i.toLong, c, t) }
        .toDF("id", "cluster_id", "truth_id")).head()

  test("informationStats: count-of-counts over a hand contingency") {
    // clusters: A={a,a,b}, B={b}; cells: (A,a)=2,(A,b)=1,(B,b)=1
    val df = Seq(("A", "a"), ("A", "a"), ("A", "b"), ("B", "b"))
      .toDF("cluster_id", "truth_id")
      .withColumn("id", monotonically_increasing_id())
    val got = Evaluation.informationStats(df)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("cell", 2L, 1L), ("cell", 1L, 2L),     // one size-2 cell, two size-1
      ("cluster", 3L, 1L), ("cluster", 1L, 1L),
      ("truth", 2L, 2L)))                      // both truths have 2 members
  }

  test("identical partitions: vi = 0, mi = h, all normalized scores 1") {
    val r = metricsRow(Seq(("x", "x"), ("x", "x"), ("y", "y"), ("z", "z")))
    val h = r.getAs[Double]("h_cluster")
    assert(h > 0)
    assert(r.getAs[Double]("h_truth") == h)
    assert(r.getAs[Double]("h_joint") == h)
    assert(r.getAs[Double]("vi") == 0.0)
    assert(r.getAs[Double]("mi") == h)
    assert(r.getAs[Double]("nmi") == 1.0)
    assert(r.getAs[Double]("homogeneity") == 1.0)
    assert(r.getAs[Double]("completeness") == 1.0)
    assert(r.getAs[Double]("v_measure") == 1.0)
  }

  test("one cluster vs singleton truths: hom 0, completeness NULL, nmi 0") {
    // H(cluster) = 0 → completeness normalizer gone (NULL, not a fake 1);
    // MI = 0 exactly (joint = truth) → nmi 0, homogeneity 0, v NULL.
    val r = metricsRow(Seq(("c", "t1"), ("c", "t2"), ("c", "t3")))
    assert(r.getAs[Double]("h_cluster") == 0.0)
    assert(r.getAs[Double]("mi") == 0.0)
    assert(r.getAs[Double]("nmi") == 0.0)
    assert(r.getAs[Double]("homogeneity") == 0.0)
    assert(r.isNullAt(r.fieldIndex("completeness")))
    assert(r.isNullAt(r.fieldIndex("v_measure")))
    // vi = H(truth): the full bit-cost of recovering the truth labels
    assert(r.getAs[Double]("vi") == r.getAs[Double]("h_truth"))
  }

  test("both partitions trivial: every normalizer NULL, vi = 0") {
    val r = metricsRow(Seq(("c", "t"), ("c", "t")))
    assert(r.getAs[Double]("h_cluster") == 0.0 &&
      r.getAs[Double]("h_truth") == 0.0)
    assert(r.getAs[Double]("vi") == 0.0 && r.getAs[Double]("mi") == 0.0)
    assert(r.isNullAt(r.fieldIndex("nmi")))
    assert(r.isNullAt(r.fieldIndex("homogeneity")))
    assert(r.isNullAt(r.fieldIndex("completeness")))
    assert(r.isNullAt(r.fieldIndex("v_measure")))
  }

  test("matches brute-force entropies on random partitions, any partitioning") {
    val rng = new scala.util.Random(23)
    for (round <- 0 until 3) {
      val n = 200 + round * 100
      val rows = (0 until n).map { i =>
        (i.toLong, s"c${rng.nextInt(6 + round)}", s"t${rng.nextInt(5)}")
      }
      def entropy[K](groups: Map[K, Int]): Double = {
        val tot = groups.values.sum.toDouble
        -groups.values.map { g => g / tot * math.log(g / tot) }.sum
      }
      val hA = entropy(rows.groupBy(_._2).view.mapValues(_.size).toMap)
      val hB = entropy(rows.groupBy(_._3).view.mapValues(_.size).toMap)
      val hJ = entropy(rows.groupBy(r => (r._2, r._3)).view
        .mapValues(_.size).toMap)
      val r = Evaluation.informationMetrics(
        rows.toDF("id", "cluster_id", "truth_id").repartition(7)).head()
      assert(math.abs(r.getAs[Double]("h_cluster") - hA) < 1e-12)
      assert(math.abs(r.getAs[Double]("h_truth") - hB) < 1e-12)
      assert(math.abs(r.getAs[Double]("h_joint") - hJ) < 1e-12)
      assert(math.abs(r.getAs[Double]("mi") - (hA + hB - hJ)) < 1e-12)
      assert(math.abs(r.getAs[Double]("vi") - (2 * hJ - hA - hB)) < 1e-12)
      val expNmi = (hA + hB - hJ) / ((hA + hB) / 2)
      assert(math.abs(r.getAs[Double]("nmi") - expNmi) < 1e-12)
      val hom = 1.0 - (hJ - hA) / hB
      val com = 1.0 - (hJ - hB) / hA
      assert(math.abs(r.getAs[Double]("homogeneity") - hom) < 1e-12)
      assert(math.abs(r.getAs[Double]("completeness") - com) < 1e-12)
      assert(math.abs(r.getAs[Double]("v_measure") -
        2 * hom * com / (hom + com)) < 1e-12)
    }
  }

  test("vi triangle sanity: refining one cluster moves vi by its split cost") {
    // P = {ab}{cd} vs truth {ab}{cd}: vi 0. Splitting {cd} into {c}{d}
    // costs exactly the conditional entropy of that split: 2/4·ln 2.
    val base = Seq(("p1", "t1"), ("p1", "t1"), ("p2", "t2"), ("p2", "t2"))
    val split = Seq(("p1", "t1"), ("p1", "t1"), ("p2a", "t2"), ("p2b", "t2"))
    assert(metricsRow(base).getAs[Double]("vi") == 0.0)
    val vi = metricsRow(split).getAs[Double]("vi")
    assert(math.abs(vi - 0.5 * math.log(2.0)) < 1e-15)
  }
}
