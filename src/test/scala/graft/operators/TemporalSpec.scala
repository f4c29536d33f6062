package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins [[Temporal.intervalCandidates]] — the bucketed interval-overlap
  * join — to the brute-force θ-join on random inputs (any bucket width,
  * negative bounds included), plus the closed-interval touch contract,
  * the NULL/invalid exclusions, salted-tier losslessness, partition-key
  * separation, and cap observability. */
class TemporalSpec extends SparkFunSuite {

  private def brute(rows: Seq[(Long, String, Long, Long)])
      : Set[(Long, Long, Long)] = {
    val valid = rows.filter { case (_, _, s, e) => e >= s }
    (for {
      a <- valid; b <- valid
      if a._1 < b._1 && a._2 == b._2 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, b._1, math.min(a._4, b._4) - math.max(a._3, b._3))).toSet
  }

  private def run(rows: Seq[(Long, String, Long, Long)], w: Long,
      bucketCap: Int = 200): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val df = rows.toDF("id", "grp", "s", "e")
    Temporal.intervalCandidates(df, "id", "s", "e", w,
        partitionCols = Seq("grp"), bucketCap = bucketCap).out
      .as[(Long, Long, Long)].collect().toSet
  }

  test("equals brute force across bucket widths, negative bounds included") {
    val rng = new scala.util.Random(7)
    val rows = (1L to 120L).map { i =>
      val s = rng.nextLong() % 1000 // negatives exercised
      (i, s"g${rng.nextInt(3)}", s, s + rng.nextInt(200))
    }
    val want = brute(rows)
    assert(want.nonEmpty)
    for (w <- Seq(1L, 7L, 100L, 5000L)) {
      assert(run(rows, w) == want, s"width $w")
    }
  }

  test("closed intervals: touching at a point -> overlap 0; disjoint -> absent") {
    val rows = Seq((1L, "g", 0L, 10L), (2L, "g", 10L, 20L),
      (3L, "g", 21L, 30L)) // 2 and 3 are disjoint by one unit
    assert(run(rows, 5L) == Set((1L, 2L, 0L)))
  }

  test("NULL bounds and end < start rows are excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "g", Some(0L), Some(10L)),
      (2L, "g", Some(5L), Some(15L)),
      (3L, "g", None: Option[Long], Some(9L)),  // NULL start
      (4L, "g", Some(9L), None: Option[Long]),  // NULL end
      (5L, "g", Some(9L), Some(3L))             // inverted
    ).toDF("id", "grp", "s", "e")
    val got = Temporal.intervalCandidates(df, "id", "s", "e", 4L,
      partitionCols = Seq("grp")).out
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 2L)))
  }

  test("bucketCap = 1 routes everything through the salted grid, losslessly") {
    val rng = new scala.util.Random(13)
    val rows = (1L to 60L).map { i =>
      val s = rng.nextInt(100).toLong
      (i, "hot", s, s + rng.nextInt(50))
    }
    assert(run(rows, 20L, bucketCap = 1) == brute(rows))
  }

  test("partition columns separate: same times, different key -> no pair") {
    val rows = Seq((1L, "a", 0L, 100L), (2L, "b", 0L, 100L))
    assert(run(rows, 10L).isEmpty)
  }

  test("droppedIntervalBuckets lists over-cap cells; pairs drop observably") {
    import spark.implicits._
    val rows = (1L to 30L).map(i => (i, "g", 0L, 5L)) // all in one cell
    val df = rows.toDF("id", "grp", "s", "e")
    val capped = Temporal.intervalCandidates(df, "id", "s", "e", 100L,
      partitionCols = Seq("grp"), bucketCap = 5, hardCap = 10)
    val dropped = capped.dropped
    assert(dropped.count() == 1L &&
      dropped.select("bucket_n").head().getLong(0) == 30L)
    val pairs = capped.out
    assert(pairs.count() == 0L)
  }

  test("scd2Intervals: run-length versions, A->B->A yields three") {
    import spark.implicits._
    val obs = Seq(
      (1L, Some(10L), "A"), (1L, Some(20L), "A"), (1L, Some(30L), "B"),
      (1L, Some(40L), "B"), (1L, Some(50L), "A"), // back to A: NEW version
      (1L, Some(20L), "A"),                       // exact duplicate collapses
      (2L, Some(5L), "X"),
      (3L, None, "Z")                             // null ts excluded
    ).toDF("id", "ts", "status")
    val got = Temporal.scd2Intervals(obs, "id", "ts", Seq("status"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(t => (t._1, t._3)).toList
    assert(got == List(
      (1L, "A", 1L, 10L, Some(30L)),
      (1L, "B", 2L, 30L, Some(50L)),
      (1L, "A", 3L, 50L, None),
      (2L, "X", 1L, 5L, None)))
  }

  test("scd2Intervals: simultaneous ties pinned by value, null values run") {
    import spark.implicits._
    val obs = Seq(
      // same ts, contradictory values: order pinned (B before null? no —
      // nulls sort FIRST in asc) — pinned either way, assert the result
      (7L, 100L, "B"), (7L, 100L, "A"), (7L, 200L, null)
    ).toDF("id", "ts", "v")
    val got = Temporal.scd2Intervals(obs, "id", "ts", Seq("v"))
      .collect().map(r => (Option(r.getString(1)), r.getLong(2),
        r.getLong(3))).sortBy(_._2).toList
    // ts ties order by value asc: A then B; then the null-valued version
    assert(got == List((Some("A"), 1L, 100L), (Some("B"), 2L, 100L),
      (None, 3L, 200L)))
    // partitioning independence
    val a = Temporal.scd2Intervals(obs.repartition(5), "id", "ts", Seq("v"))
      .orderBy("version").collect().map(_.toSeq).toSeq
    val b = Temporal.scd2Intervals(obs, "id", "ts", Seq("v"))
      .orderBy("version").collect().map(_.toSeq).toSeq
    assert(a == b)
    intercept[IllegalArgumentException](
      Temporal.scd2Intervals(obs, "id", "ts", Nil))
  }

  // ------------------------------------------------------------ asOfJoin

  private def asOfBrute(probes: Seq[(Long, Long, Long)],
      versions: Seq[(Long, Long, String)]): Seq[(Long, Option[String])] =
    probes.map { case (pid, id, ts) =>
      val at = versions.filter(v => v._1 == id && v._2 <= ts)
      (pid, if (at.isEmpty) None
            else Some(at.maxBy(v => (v._2, v._3))._3))
    }

  test("asOfJoin matches brute force on random histories") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val versions = (1 to 120).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong,
        s"v${rnd.nextInt(5)}"))
    val probes = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(60).toLong))
    val vdf = versions.toDF("id", "vts", "status")
    val pdf = probes.toDF("pid", "id2", "pts")
    val got = Temporal.asOfJoin(pdf, "id2", "pts", vdf, "id", "vts",
        Seq("status"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).sortBy(_._1).toList
    // brute tie rule: same (id, ts) versions pinned to max payload struct
    assert(got == asOfBrute(probes, versions).sortBy(_._1).toList)
  }

  test("asOfJoin: tie at version ts, unmatched probes, NULL payload kept") {
    import spark.implicits._
    val vdf = Seq((1L, 10L, 2L, Some("B")), (1L, 10L, 1L, Some("A")),
      (1L, 20L, 3L, None)).toDF("id", "vts", "ver", "s")
    val pdf = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 1L, 25L),
      (103L, 2L, 50L)).toDF("pid", "id2", "pts")
    val got = Temporal.asOfJoin(pdf, "id2", "pts", vdf, "id", "vts",
        Seq("ver", "s"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        Option(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .sortBy(_._1).toList
    assert(got == List(
      (100L, Some(2L), Some("B"), Some(10L)), // probe AT ts sees it; max ver wins tie
      (101L, None, None, None),               // before first version
      (102L, Some(3L), None, Some(20L)),      // version's own NULL payload kept
      (103L, None, None, None)))              // entity with no versions
  }

  test("asOfJoin is partitioning-independent and preserves probe multiplicity") {
    import spark.implicits._
    val vdf = Seq((1L, 10L, "A"), (1L, 20L, "B")).toDF("id", "vts", "s")
    val pdf = Seq((1L, 1L, 15L), (1L, 1L, 15L), (2L, 1L, 15L))
      .toDF("pid", "id2", "pts")
    val a = Temporal.asOfJoin(pdf.repartition(7), "id2", "pts",
      vdf.repartition(3), "id", "vts", Seq("s"))
      .orderBy("pid", "pts").collect().map(_.toSeq).toSeq
    val b = Temporal.asOfJoin(pdf, "id2", "pts", vdf, "id", "vts", Seq("s"))
      .orderBy("pid", "pts").collect().map(_.toSeq).toSeq
    assert(a == b && a.length == 3)
    intercept[IllegalArgumentException](
      Temporal.asOfJoin(pdf, "id2", "pts", vdf, "id", "vts", Nil))
    intercept[IllegalArgumentException]( // output-name collision guarded
      Temporal.asOfJoin(pdf.withColumnRenamed("pid", "s"), "id2", "pts",
        vdf, "id", "vts", Seq("s")))
  }
}
