package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Grid-cell spatial blocking: losslessness vs brute force, forward
  * half-neighborhood coverage in all 8 directions, partition isolation,
  * tier behavior, and argument validation. */
class SpatialSpec extends SparkFunSuite {
  import spark.implicits._

  private def brute(pts: Seq[(Long, Long, Long)], radius: Long) =
    (for {
      (ia, la, loa) <- pts; (ib, lab, lob) <- pts
      if ia < ib && math.max(math.abs(la - lab), math.abs(loa - lob)) <= radius
    } yield (ia, ib,
      math.max(math.abs(la - lab), math.abs(loa - lob)))).toSet

  test("gridCandidates ≡ brute-force Chebyshev pairs (random points, two radii)") {
    val rnd = new scala.util.Random(42)
    val pts = (1L to 120L).map(i =>
      (i, rnd.between(-500000L, 500000L), rnd.between(-500000L, 500000L)))
    val df = pts.toDF("id", "lat", "lon")
    for ((radius, cell) <- Seq((60000L, 60000L), (40000L, 75000L))) {
      val got = Spatial.gridCandidates(df, "id", "lat", "lon", radius, cell).out
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute(pts, radius), s"radius=$radius cell=$cell")
    }
  }

  test("all 8 neighbor directions pair with the center (forward-set coverage)") {
    // center at a cell corner-adjacent spot; 8 satellites, one per
    // direction, each within radius but in a DIFFERENT cell
    val c = (0L, 1000L, 1000L)
    val sats = Seq(
      (1L, 1000L, -500L), (2L, -500L, -500L), (3L, -500L, 1000L),
      (4L, -500L, 2500L), (5L, 1000L, 2500L), (6L, 2500L, 2500L),
      (7L, 2500L, 1000L), (8L, 2500L, -500L))
    val df = (c +: sats).toDF("id", "lat", "lon")
    val got = Spatial.gridCandidates(df, "id", "lat", "lon",
        radius = 2000L, cellSize = 2000L).out
      .where(col("id_a") === 0L).collect().map(_.getLong(1)).toSet
    assert(got == (1L to 8L).toSet)
  }

  test("partitionCols isolate tenants; nulls drop; caps observable") {
    val df = Seq((1L, Some(0L), 0L, "t1"), (2L, Some(10L), 10L, "t2"),
      (3L, Some(20L), 20L, "t1"), (4L, None, 0L, "t1"))
      .toDF("id", "lat", "lon", "tenant")
    val got = Spatial.gridCandidates(df, "id", "lat", "lon",
        radius = 100L, cellSize = 100L, partitionCols = Seq("tenant")).out
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L))) // 2 is t2; 4 has null lat
    // bucketCap below cell population → salted tier, still lossless
    val many = (1L to 30L).map(i => (i, i, i)).toDF("id", "lat", "lon")
    val full = Spatial.gridCandidates(many, "id", "lat", "lon",
      radius = 50L, cellSize = 50L).out.count()
    val salted = Spatial.gridCandidates(many, "id", "lat", "lon",
      radius = 50L, cellSize = 50L, bucketCap = 5, saltGroups = 4).out.count()
    assert(full == salted && full == 30L * 29 / 2)
    // hardCap drops every over-cap cell — observable, never silent
    val capped = Spatial.gridCandidates(many, "id", "lat", "lon",
      radius = 50L, cellSize = 50L, bucketCap = 5, hardCap = 10)
    assert(capped.out.count() == 0)
    assert(capped.dropped.count() > 0)
  }

  test("argument validation: cellSize >= radius, positive cell") {
    val df = Seq((1L, 0L, 0L)).toDF("id", "lat", "lon")
    intercept[IllegalArgumentException] {
      Spatial.gridCandidates(df, "id", "lat", "lon", radius = 10L, cellSize = 5L).out
    }
    intercept[IllegalArgumentException] {
      Spatial.gridKeys(df, "id", "lat", "lon", cellSize = 0L)
    }
  }
}
