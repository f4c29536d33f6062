package graft.operators

import graft.SparkFunSuite

/** Threshold-sweep confusion counts / P-R-F1 on hand-computed fixtures,
  * including the zero-denominator null contract and empty-θ rows. */
class ThresholdSweepSpec extends SparkFunSuite {

  import spark.implicits._

  private lazy val scored = Seq(
    (1L, 1L, 0.9), (1L, 2L, 0.7), (2L, 2L, 0.5)).toDF("id_l", "id_r", "score")
  private lazy val labeled = Seq((1L, 1L), (3L, 3L)).toDF("id_l", "id_r")

  test("confusion counts and P/R/F1 per threshold") {
    val rows = Evaluation.thresholdSweep(scored, labeled, Seq(0.6, 0.8, 0.95))
      .orderBy("theta").collect()
    assert(rows.length == 3)
    // θ=0.6: preds {0.9 tp, 0.7 fp}; truth (3,3) never scored → fn
    assert(rows(0).getLong(1) == 2 && rows(0).getLong(2) == 1 &&
      rows(0).getLong(3) == 1 && rows(0).getLong(4) == 1)
    assert(rows(0).getDouble(5) == 0.5 && rows(0).getDouble(6) == 0.5 &&
      rows(0).getDouble(7) == 0.5)
    // θ=0.8: one pred, a true one
    assert(rows(1).getLong(1) == 1 && rows(1).getLong(2) == 1 &&
      rows(1).getLong(3) == 0 && rows(1).getLong(4) == 1)
    assert(rows(1).getDouble(5) == 1.0 && rows(1).getDouble(6) == 0.5)
    assert(rows(1).getDouble(7) == 2.0 * 1.0 * 0.5 / 1.5)
    // θ=0.95: nothing clears it — row still present, precision NULL
    // (no evidence), recall 0, f1 pinned 0
    assert(rows(2).getLong(1) == 0 && rows(2).getLong(2) == 0)
    assert(rows(2).isNullAt(5) && rows(2).getDouble(6) == 0.0 &&
      rows(2).getDouble(7) == 0.0)
  }

  test("empty labels → recall NULL, fp-only curve") {
    val rows = Evaluation.thresholdSweep(scored,
      Seq.empty[(Long, Long)].toDF("id_l", "id_r"), Seq(0.6)).collect()
    assert(rows.head.getLong(1) == 2 && rows.head.getLong(2) == 0)
    assert(rows.head.isNullAt(6))
  }

  test("duplicate labeled pairs count once") {
    val dup = Seq((1L, 1L), (1L, 1L), (3L, 3L)).toDF("id_l", "id_r")
    val r = Evaluation.thresholdSweep(scored, dup, Seq(0.6)).collect().head
    assert(r.getLong(2) == 1 && r.getLong(4) == 1)
  }

  test("a repeated threshold is rejected, not counted twice") {
    // one θ listed twice would fan each pair out to its group twice:
    // n_pred and tp doubled, fn = n_true − tp negative
    val e = intercept[IllegalArgumentException](
      Evaluation.thresholdSweep(scored, labeled, Seq(0.6, 0.6)))
    assert(e.getMessage.contains("thresholdSweep"), e.getMessage)
    intercept[IllegalArgumentException](
      Evaluation.thresholdSweep(scored, labeled, Seq(0.8, 0.6)))
  }
}
