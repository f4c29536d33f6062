package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

class BlockingSelectionSpec extends SparkFunSuite {
  import spark.implicits._

  // 8 records; f1 = parity (2 blocks of 4, vol 12), f2 = lo/hi halves
  // (2 blocks of 4, vol 12), f3 = one block of 8 (vol 28)
  private val keyed = {
    val ids = (1L to 8L)
    (ids.map(i => ("f1", i, (i % 2).toString)) ++
      ids.map(i => ("f2", i, if (i <= 4) "lo" else "hi")) ++
      ids.map(i => ("f3", i, "x"))).toDF("family", "id", "key")
  }
  // f1 covers {13,26,48,15,57}; f2 covers {13,57,14,58}; f3 covers all 7
  private val truth = Seq((1L, 3L), (2L, 6L), (4L, 8L), (1L, 5L),
    (5L, 7L), (1L, 4L), (5L, 8L)).toDF("pa", "pb")

  private def rows(budget: Long, k: Int = 3) =
    BlockingSelection.greedySelection(keyed, truth, BigDecimal(budget), k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), BigDecimal(r.getDecimal(4)),
        BigDecimal(r.getDecimal(5)), r.getLong(6)))

  test("unbounded budget: one family covers all, zero-marginal rest never picked") {
    val got = rows(1000)
    assert(got.toSeq == Seq((1, "f3", 7L, 7L, BigDecimal(28), BigDecimal(28), 7L)))
  }

  test("budget excludes the big family; greedy takes marginal order") {
    val got = rows(25)
    assert(got.toSeq == Seq(
      (1, "f1", 5L, 5L, BigDecimal(12), BigDecimal(12), 7L),
      (2, "f2", 2L, 7L, BigDecimal(12), BigDecimal(24), 7L)))
  }

  test("budget exhaustion stops the selection") {
    val got = rows(15)
    assert(got.toSeq == Seq(
      (1, "f1", 5L, 5L, BigDecimal(12), BigDecimal(12), 7L)))
  }

  test("maxSchemes bounds the selection; marginal ties break to family asc") {
    assert(rows(25, k = 1).length == 1)
    // duplicate family under two names → identical marginals → "a" first
    val dup = ((1L to 8L).map(i => ("b", i, (i % 2).toString)) ++
      (1L to 8L).map(i => ("a", i, (i % 2).toString))).toDF("family", "id", "key")
    val t = Seq((1L, 3L)).toDF("pa", "pb")
    val got = BlockingSelection.greedySelection(dup, t, BigDecimal(100), 2)
      .collect()
    assert(got.length == 1 && got(0).getString(1) == "a")
  }

  test("partitioning-independent") {
    val a = rows(25).toSeq
    val b = BlockingSelection.greedySelection(keyed.repartition(7),
      truth.coalesce(1), BigDecimal(25), 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), BigDecimal(r.getDecimal(4)),
        BigDecimal(r.getDecimal(5)), r.getLong(6))).toSeq
    assert(a == b)
  }

  // ---- supervised DNF learner (learnScheme) ----
  // hand fixture: pos (1,2) covered by x, y, x&y; (3,4) by x only;
  // (5,6) by y only. negs: (7,8) on x, y, x&y; (9,10) on x only;
  // (11,12) on y only.
  private lazy val dnfKeyed = Seq(
    (1L, "a", "p"), (2L, "a", "p"), (3L, "b", "q"), (4L, "b", "r"),
    (5L, "c", "s"), (6L, "d", "s"), (7L, "e", "t"), (8L, "e", "t"),
    (9L, "f", "u"), (10L, "f", "v"), (11L, "g", "w"), (12L, "h", "w"))
    .toDF("id", "x", "y")
    .select(col("id"), col("x"), col("y"))
  private lazy val dnfKeys = {
    val d = dnfKeyed
    d.select(org.apache.spark.sql.functions.lit("x").as("family"),
        col("id"), col("x").as("key"))
      .union(d.select(org.apache.spark.sql.functions.lit("y").as("family"),
        col("id"), col("y").as("key")))
  }
  private lazy val dnfPos = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("pa", "pb")
  private lazy val dnfNeg = Seq((7L, 8L), (9L, 10L), (11L, 12L)).toDF("pa", "pb")

  private def learned(budget: Long, terms: Int = 3) =
    BlockingSelection.learnScheme(dnfKeys, dnfPos, dnfNeg, budget, terms)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq

  test("learnScheme: greedy pos-marginal order with pinned tie-breaks") {
    // x and y tie on pos marginal (2) AND neg marginal (2) → name "x"
    // first; step 2 covers the remaining (5,6) via y at one new neg;
    // step 3 finds no uncovered positive → stops early
    assert(learned(budget = 10L) == Seq(
      (1, "x", 2L, 2L, 2L, 2L, 3L, 3L),
      (2, "y", 1L, 3L, 1L, 3L, 3L, 3L)))
  }

  test("learnScheme: tight negative budget prefers the conjunction (DNF move)") {
    // budget 1: both base families co-block 2 negs → infeasible; the
    // x&y conjunction covers (1,2) at one neg — picked; afterwards
    // every remaining feasible term has zero marginal or breaks budget
    assert(learned(budget = 1L) == Seq(
      (1, "x&y", 1L, 1L, 1L, 1L, 3L, 3L)))
    // budget 0: only neg-free terms are feasible; nothing qualifies here
    assert(learned(budget = 0L).isEmpty)
  }

  test("driver finish equals the distributed greedy loop (both operators)") {
    // default cap routes through the in-process replay; conf 0 forces the
    // distributed per-step anti-join loop — selections must be identical
    def withCap[A](cap: String)(f: => A): A = {
      spark.conf.set("graft.blocksel.driverFinishRows", cap)
      try f finally spark.conf.unset("graft.blocksel.driverFinishRows")
    }
    for (budget <- Seq(1000L, 25L, 15L)) {
      val drv = withCap("1000000")(rows(budget))
      val dist = withCap("0")(rows(budget))
      assert(drv.toSeq == dist.toSeq, s"greedySelection budget=$budget")
    }
    for (negBudget <- Seq(10L, 1L, 0L)) {
      val drv = withCap("1000000")(learned(negBudget))
      val dist = withCap("0")(learned(negBudget))
      assert(drv == dist, s"learnScheme maxNegCovered=$negBudget")
    }
  }

  test("driver finish: binary ids select the same at cap 0 and the default cap") {
    // binary ids are arrays on the JVM, equal only by reference: a replay
    // hashing them would never see a pair as covered, so both operators
    // must keep binary ids on the anti-join loop
    def bin(df: DataFrame, cs: String*) = cs.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast("string").cast("binary")))
    def selected(budget: Long) = BlockingSelection.greedySelection(
      bin(keyed, "id"), bin(truth, "pa", "pb"), BigDecimal(budget), 3)
      .collect().map(_.toSeq).toSeq
    def learnedBin(budget: Long) = BlockingSelection.learnScheme(
      bin(dnfKeys, "id"), bin(dnfPos, "pa", "pb"), bin(dnfNeg, "pa", "pb"),
      budget, 3).collect().map(_.toSeq).toSeq
    def atCap0[A](f: => A): A = withConf("graft.blocksel.driverFinishRows", "0")(f)
    for (budget <- Seq(1000L, 25L)) {
      val dflt = selected(budget)
      assert(dflt == atCap0(selected(budget)), s"greedySelection budget=$budget")
      assert(dflt.map(_(1)) == rows(budget).map(_._2).toSeq)
    }
    val dflt = learnedBin(10L)
    assert(dflt == atCap0(learnedBin(10L)))
    assert(dflt.map(_(1)) == learned(10L).map(_._2))
  }

  test("learnScheme: conjunction keys are per-record combinations") {
    val c = BlockingSelection.conjunctions(dnfKeys).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(c.forall(_._1 == "x&y"))
    assert(c.exists(t => t._2 == 1L && t._3 == "a\u0001p"))
    assert(c.length == 12) // one per record: one x key × one y key each
    // maxTerms truncates; invalid args rejected
    assert(learned(budget = 10L, terms = 1).map(_._2) == Seq("x"))
    intercept[IllegalArgumentException] {
      BlockingSelection.learnScheme(dnfKeys, dnfPos, dnfNeg, -1L, 3)
    }
    intercept[IllegalArgumentException] {
      BlockingSelection.learnScheme(dnfKeys, dnfPos, dnfNeg, 1L, 0)
    }
  }
}
