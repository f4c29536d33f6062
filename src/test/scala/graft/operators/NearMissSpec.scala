package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins [[Evaluation.nearMissPairs]] — the under-merge review queue (the
  * dual of [[Evaluation.weakestLinks]]): cross-cluster scored pairs, top-k
  * per unordered cluster pair by (score DESC, ia, ib), plus the total
  * cross-edge count. */
class NearMissSpec extends SparkFunSuite {

  private def fixture = {
    import spark.implicits._
    // clusters: {1,2} -> 1, {3,4} -> 3, singletons 5, 6
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L),
      (6L, 6L)).toDF("id", "component")
    val scored = Seq(
      (1L, 2L, 0.99), // intra-cluster -> excluded
      (2L, 3L, 0.92), // c1 x c3
      (1L, 4L, 0.95), // c1 x c3 (stronger)
      (4L, 5L, 0.91), // c3 x 5
      (5L, 6L, 0.90)  // 5 x 6
    ).toDF("ka", "kb", "score")
    (scored, asg)
  }

  test("cross-cluster pairs ranked per cluster pair with counts") {
    import spark.implicits._
    val (scored, asg) = fixture
    val got = Evaluation.nearMissPairs(scored, asg, "id", k = 3)
      .as[(Long, Long, Long, Long, Double, Int, Long)].collect().toSet
    assert(got == Set(
      (1L, 3L, 1L, 4L, 0.95, 1, 2L),
      (1L, 3L, 2L, 3L, 0.92, 2, 2L),
      (3L, 5L, 4L, 5L, 0.91, 1, 1L),
      (5L, 6L, 5L, 6L, 0.90, 1, 1L)))
  }

  test("k = 1 keeps only the strongest edge; n_cross still totals") {
    import spark.implicits._
    val (scored, asg) = fixture
    val got = Evaluation.nearMissPairs(scored, asg, "id", k = 1)
      .as[(Long, Long, Long, Long, Double, Int, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) == Set((1L, 3L), (3L, 5L), (5L, 6L)))
    assert(got.find(r => (r._1, r._2) == (1L, 3L)).get._7 == 2L)
  }

  test("score ties break on (ia, ib); endpoints missing from the assignment drop") {
    import spark.implicits._
    val asg = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L))
      .toDF("id", "component")
    val scored = Seq(
      (3L, 4L, 0.9), (1L, 2L, 0.9), // same cluster pair, same score
      (1L, 99L, 0.99)               // 99 not assigned -> dropped
    ).toDF("ka", "kb", "score")
    val got = Evaluation.nearMissPairs(scored, asg, "id", k = 2)
      .orderBy("rank").select("ia", "ib", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2L, 1), (3L, 4L, 2)))
  }

  test("partitioning-independent and k >= 1 enforced") {
    import spark.implicits._
    val (scored, asg) = fixture
    val a = Evaluation.nearMissPairs(scored.repartition(7), asg, "id", k = 2)
      .collect().toSet
    val b = Evaluation.nearMissPairs(scored.repartition(1),
      asg.repartition(3), "id", k = 2).collect().toSet
    assert(a == b && a.nonEmpty)
    intercept[IllegalArgumentException] {
      Evaluation.nearMissPairs(scored, asg, "id", k = 0)
    }
  }
}
