package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The asymmetric index/probe tier ([[Tiers.probe]]) against a brute-force
  * join, the drop record of the symmetric [[Tiers.pairs]], and the source
  * scan that keeps salting inside [[Tiers]]. */
class TiersSpec extends SparkFunSuite {

  import spark.implicits._

  // index keys: c = 2 members (cold at cap 3), s = 4 (salted up to hard
  // cap 5), d = 6 (dropped); probes hit every key, one twice, plus a key
  // the index lacks
  private lazy val index = Seq("c" -> 2, "s" -> 4, "d" -> 6)
    .flatMap { case (k, n) => (1 to n).map(i => (k, s"$k$i")) }
    .toDF("key", "id")
  private lazy val probes = Seq(("c", 1L, "p"), ("c", 2L, "q"), ("s", 3L, "r"),
    ("s", 3L, "r"), ("s", 4L, "s"), ("d", 5L, "t"), ("x", 6L, "u"))
    .toDF("key", "qid", "tag")

  private def rows(df: DataFrame) =
    df.select("key", "qid", "id", "tag").as[(String, Long, String, String)]
      .collect().toSeq.sorted

  test("probe equals the brute-force index-probe join under hardCap; " +
      "the drop record is Tiers.overCap") {
    val kept = Tiers.sizes(index, Seq("key")).where(col("n") <= 5)
      .select("key")
    val brute = rows(index.join(kept, "key").join(probes, "key"))
    assert(brute.map(_._1).distinct.sorted == Seq("c", "s"))
    assert(brute.size == 2 * 2 + 4 * 3)

    val tiered = Tiers.probe(index, probes, Seq("key"), "id", "qid",
      bucketCap = 3, hardCap = 5, saltGroups = 4, probePayload = Seq("tag"))
    assert(tiered.out.columns.toSeq == Seq("key", "qid", "id", "tag"))
    assert(rows(tiered.out) == brute)
    assert(tiered.out.queryExecution.optimizedPlan.toString.contains("__salt"))
    assert(tiered.dropped.collect().toSeq ==
      Tiers.sizes(index, Seq("key")).where(col("n") > 5).collect().toSeq)
    assert(tiered.dropped.as[(String, Long)].collect().toSeq == Seq(("d", 6L)))

    // hardCap <= bucketCap: no salted branch in the plan, same rows
    val cold = Tiers.probe(index, probes, Seq("key"), "id", "qid",
      bucketCap = 5, hardCap = 5, saltGroups = 4, probePayload = Seq("tag"))
    val plan = cold.out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__salt") && !plan.contains("Generate"), plan)
    assert(rows(cold.out) == brute)
  }

  test("pairs returns its drop record from the sizes it routes on") {
    val kept = Tiers.pairs(index, Seq("key"), "id", bucketCap = 3,
      hardCap = 5, saltGroups = 4)
    assert(kept.dropped.as[(String, Long)].collect().toSeq == Seq(("d", 6L)))
    assert(kept.out.select("id_a").as[String].collect().toSet ==
      Set("c1", "s1", "s2", "s3"))
    // `sized` from the unpruned index routes, and is recorded, even though
    // the pruned members of d number only 5
    val pruned = index.where(col("id") =!= "d1")
    val routed = Tiers.pairs(pruned, Seq("key"), "id", bucketCap = 3,
      hardCap = 5, saltGroups = 4, sized = Some(Tiers.sizes(index, Seq("key"))))
    assert(routed.dropped.as[(String, Long)].collect().toSeq == Seq(("d", 6L)))
    assert(routed.out.where(col("id_a").startsWith("d")).isEmpty)
  }

  test("no salting outside Tiers in the main sources") {
    val salting = Seq("pmod(xxhash64(", "0 until saltGroups")
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Tiers.scala").toList
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if salting.exists(line.contains) => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, hits.mkString("salting outside Tiers: ", ", ", ""))
  }
}
