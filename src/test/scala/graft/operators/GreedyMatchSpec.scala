package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins [[Linkage.greedyMatches]] — the parallel locally-dominant rounds —
  * to the SEQUENTIAL greedy matching it claims to equal: sort all pairs by
  * (score DESC, id_l, id_r), accept a pair iff both endpoints are still
  * free. Random inputs catch tie-break drift; the adversarial descending
  * chain catches any formulation that accepts more than the dominant layer
  * per round (a chain's greedy matching alternates pairs, so eagerness
  * shows up immediately). */
class GreedyMatchSpec extends SparkFunSuite {
  import scala.collection.mutable

  private def sequentialGreedy(
      pairs: Seq[(Long, Long, Double)]): Set[(Long, Long)] = {
    val sorted = pairs.sortBy { case (l, r, s) => (-s, l, r) }
    val takenL = mutable.Set.empty[Long]
    val takenR = mutable.Set.empty[Long]
    val out = mutable.Set.empty[(Long, Long)]
    sorted.foreach { case (l, r, _) =>
      if (!takenL(l) && !takenR(r)) { takenL += l; takenR += r; out += ((l, r)) }
    }
    out.toSet
  }

  private def run(pairs: Seq[(Long, Long, Double)]): Set[(Long, Long)] = {
    import spark.implicits._
    val df = pairs.toDF("id_l", "id_r", "score")
    Linkage.greedyMatches(df).select(col("id_l"), col("id_r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private lazy val randomPairs: Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(7)
    (for {
      l <- 0L until 40L
      r <- 0L until 40L
      if rnd.nextDouble() < 0.2
    } yield (l, r, math.rint(rnd.nextDouble() * 100) / 10.0)).toSeq
  }

  // a1-b1 10, b1-a2 9, a2-b2 8, ... greedy takes every OTHER pair
  private lazy val chainPairs: Seq[(Long, Long, Double)] =
    (0 until 20).flatMap { i =>
      Seq((i.toLong, i.toLong, 100.0 - 2 * i),
        ((i + 1).toLong, i.toLong, 99.0 - 2 * i))
    }

  private val capKey = "graft.greedy.driverFinishEdges"

  test("parallel rounds equal sequential greedy on random scores") {
    assert(run(randomPairs) == sequentialGreedy(randomPairs))
  }

  test("adversarial descending chain serializes but stays exact") {
    val expected = sequentialGreedy(chainPairs)
    assert(run(chainPairs) == expected)
    // the chain's greedy matching is exactly the even layer
    assert(expected == (0 until 20).map(i => (i.toLong, i.toLong)).toSet)
  }

  test("driver finish at cap 0, a mid-loop cap and the default equals sequential greedy") {
    // cap 0 runs only the distributed rounds; the small cap runs rounds
    // until the surviving pairs fit, then replays the rest on the driver
    for ((name, pairs, smallCap) <- Seq(
        ("random", randomPairs, "60"), ("chain", chainPairs, "12"))) {
      val want = sequentialGreedy(pairs)
      assert(withConf(capKey, "0")(run(pairs)) == want, s"$name: rounds")
      assert(withConf(capKey, smallCap)(run(pairs)) == want, s"$name: mid-loop")
      assert(run(pairs) == want, s"$name: default cap")
    }
  }

  /** Sequential greedy over Spark SQL's own sort (score DESC, id_l, id_r):
    * the reference for scores and ids whose Java and SQL orders differ. */
  private def sqlOrderGreedy(df: DataFrame): Set[(Any, Any)] = {
    val takenL = mutable.Set.empty[Any]
    val takenR = mutable.Set.empty[Any]
    df.orderBy(col("score").desc, col("id_l"), col("id_r")).collect()
      .map(r => (r.get(0), r.get(1)))
      .filter { case (l, r) =>
        val free = !takenL(l) && !takenR(r)
        if (free) { takenL += l; takenR += r }
        free
      }.toSet
  }

  test("driver finish: -0.0/0.0 score ties and non-BMP ids follow SQL order at every cap") {
    import spark.implicits._
    // SQL sorts -0.0 == 0.0, so the tie breaks on id_r
    val zeros = Seq((1L, 11L, 0.0), (1L, 10L, -0.0)).toDF("id_l", "id_r", "score")
    // U+FF21 sorts before U+1F600 by code point (SQL's UTF-8 byte order)
    // but after it by UTF-16 code unit (java.lang.String.compareTo)
    val (bmp, astral) = ("\uFF21", "\uD83D\uDE00")
    val strs = Seq(("x", bmp, 1.0), ("x", astral, 1.0), ("y", bmp, 0.5))
      .toDF("id_l", "id_r", "score")
    assert(sqlOrderGreedy(zeros) == Set((1L, 10L)))
    assert(sqlOrderGreedy(strs) == Set(("x", bmp)))
    // decimal scores, and ids scoped to a group as struct(g, id) with null
    // groups: struct equality treats null fields as equal
    val decimals = randomPairs.toDF("id_l", "id_r", "score")
      .withColumn("score", col("score").cast("decimal(10,2)"))
    assert(sqlOrderGreedy(decimals) == sequentialGreedy(randomPairs))
    val structs = randomPairs.toDF("l", "r", "score").select(
      struct(when(col("l") % 5 =!= 0, col("l") % 3).as("g"), col("l").as("id"))
        .as("id_l"),
      struct(when(col("r") % 4 =!= 0, col("r") % 2).as("g"), col("r").as("id"))
        .as("id_r"),
      col("score"))
    for (df <- Seq(zeros, strs, decimals, structs);
        cap <- Seq("0", "1", "1000000")) {
      val got = withConf(capKey, cap)(Linkage.greedyMatches(df).collect())
        .map(r => (r.get(0), r.get(1))).toSet
      assert(got == sqlOrderGreedy(df), s"cap $cap")
    }
  }

  test("driver finish: greedy.driverFinishEdges is read in one place under operators/") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val reads = Files.walk(Paths.get("src/main/scala/graft/operators"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("\"greedy.driverFinishEdges\"") =>
            s"$p:${i + 1}"
        }
      }
    assert(reads.size == 1, reads.mkString("greedy cap reads: ", ", ", ""))
  }

  test("score ties break by (id_l, id_r) like the sequential order") {
    val pairs = Seq((1L, 1L, 5.0), (1L, 2L, 5.0), (2L, 1L, 5.0),
      (2L, 2L, 5.0), (3L, 1L, 5.0), (3L, 3L, 4.0))
    assert(run(pairs) == sequentialGreedy(pairs))
  }

  test("one-to-one: no endpoint appears twice, empty input drains") {
    val rnd = new scala.util.Random(13)
    val pairs = (for {
      l <- 0L until 25L; r <- 0L until 15L
      if rnd.nextDouble() < 0.5
    } yield (l, r, rnd.nextInt(5).toDouble)).toSeq
    val got = run(pairs)
    assert(got == sequentialGreedy(pairs))
    assert(got.map(_._1).size == got.size && got.map(_._2).size == got.size)
    assert(run(Seq.empty) == Set.empty)
  }
}
