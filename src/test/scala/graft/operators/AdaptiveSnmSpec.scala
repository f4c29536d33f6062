package graft.operators

import graft.SparkFunSuite

/** Pins [[Linkage.adaptiveSortedNeighborhoodPairs]] to its sequential
  * definition (sort, cut where adjacent-key similarity < θ, pair within
  * segments) and [[Evaluation.mucStats]] to the published MUC worked
  * example. */
class AdaptiveSnmSpec extends SparkFunSuite {

  private def reference(rows: Seq[(Long, String)], theta: Double): Set[(Long, Long)] = {
    val sorted = rows.sortBy { case (id, k) => (k, id) }
    val segs = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Long]]
    sorted.foreach { case (id, k) =>
      val newSeg = segs.isEmpty || {
        val prevKey = sorted(segs.map(_.size).sum - 1)._2
        graft.strsim.StrSimKernels.jaroWinkler(prevKey, k) < theta
      }
      if (newSeg) segs += scala.collection.mutable.ArrayBuffer(id)
      else segs.last += id
    }
    segs.flatMap { s =>
      for (i <- s.indices; j <- (i + 1) until s.size)
        yield (math.min(s(i), s(j)), math.max(s(i), s(j)))
    }.toSet
  }

  private def run(rows: Seq[(Long, String)], theta: Double,
      bucketCap: Int = 200): Set[(Long, Long)] = {
    import spark.implicits._
    Linkage.adaptiveSortedNeighborhoodPairs(rows.toDF("id", "name"),
        "id", "name", theta, bucketCap = bucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("segments cut exactly where adjacent-key JW drops below theta") {
    val rows = Seq(
      1L -> "alpha one", 2L -> "alpha two", 3L -> "alpha three",
      4L -> "omega red", 5L -> "omega blue",
      6L -> "zzz unrelated")
    assert(run(rows, 0.75) == reference(rows, 0.75))
  }

  test("equal sort keys are never split") {
    val rows = (0L until 12L).map(i => i -> "same-key")
    val got = run(rows, 0.99)
    assert(got == reference(rows, 0.99))
    assert(got.size == 12 * 11 / 2) // one segment, all pairs
  }

  test("salted tier is lossless on a hot segment") {
    val rows = (0L until 30L).map(i => i -> "hot") ++
      Seq(100L -> "cold other")
    // bucketCap 8 forces the 30-row segment through the salted grid
    assert(run(rows, 0.9, bucketCap = 8) == reference(rows, 0.9))
  }

  test("random keys match the sequential reference") {
    val rnd = new scala.util.Random(3)
    val words = Seq("smith", "smyth", "smithe", "jones", "johns", "jon",
      "brown", "browne", "braun")
    val rows = (0L until 60L).map(i =>
      i -> s"${words(rnd.nextInt(words.size))} ${words(rnd.nextInt(words.size))}")
    assert(run(rows, 0.8) == reference(rows, 0.8))

    // 3,000 keys read from a cache over 8 input partitions: range
    // sampling no longer takes every row
    import spark.implicits._
    val many = (0L until 3000L).map(i =>
      i -> Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    val cached = many.toDF("id", "name").repartition(8).cache()
    val got = Linkage.adaptiveSortedNeighborhoodPairs(cached, "id", "name", 0.8)
      .as[(Long, Long)].collect().toSet
    cached.unpersist()
    assert(got == reference(many, 0.8))
  }

  test("mucStats matches the MUC worked example and edge cases") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // truth {a,b,c}{d}; predicted {a,b}{c,d} → P = R = F1 = 0.5
    val a = Seq(("a", "g1", "t1"), ("b", "g1", "t1"), ("c", "g2", "t1"),
      ("d", "g2", "t2")).toDF("id", "cluster_id", "truth_id")
    val r1 = Evaluation.mucStats(a).head()
    assert(r1.getAs[Double]("muc_precision") == 0.5)
    assert(r1.getAs[Double]("muc_recall") == 0.5)
    assert(r1.getAs[Double]("muc_f1") == 0.5)
    // perfect clustering
    val b = Seq(("a", "x", "t1"), ("b", "x", "t1"), ("c", "y", "t2"),
      ("d", "y", "t2")).toDF("id", "cluster_id", "truth_id")
    val r2 = Evaluation.mucStats(b).head()
    assert(r2.getAs[Double]("muc_precision") == 1.0 &&
      r2.getAs[Double]("muc_recall") == 1.0 && r2.getAs[Double]("muc_f1") == 1.0)
    // all singletons → no link evidence → nulls
    val c = Seq(("a", "x", "t1"), ("b", "y", "t2")).toDF("id", "cluster_id", "truth_id")
    val r3 = Evaluation.mucStats(c).head()
    assert(r3.isNullAt(r3.fieldIndex("muc_precision")))
    assert(r3.isNullAt(r3.fieldIndex("muc_f1")))
  }
}
