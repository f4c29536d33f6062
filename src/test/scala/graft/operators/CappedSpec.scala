package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkFunSuite
import graft.plans.CorpusPipeline

/** The cap record is returned by the operator that caps ([[Capped]]): no
  * public companion re-derives it, and a pipeline's drop stage reads the
  * banding its own near-dup stage materialized. */
class CappedSpec extends SparkFunSuite {

  test("no public dropped* function besides Linkage.droppedBuckets") {
    val decl = raw"\s*(?:final\s+|override\s+)*def\s+(dropped\w*)\b.*".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (decl(name), i) if !(name == "droppedBuckets" &&
              p.getFileName.toString == "Linkage.scala") =>
            s"$p:${i + 1} $name"
        }
      }
    assert(hits.isEmpty, hits.mkString("public dropped companions: ", ", ", ""))
  }

  test("CorpusPipeline 04_dropped filters the 04_neardup banding and resumes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val workDir = Files.createTempDirectory("corpus_capped").toString
    // a cap that bites at this scale, so the record is not empty
    val cfg = CorpusPipeline.Config(bucketCap = 2)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("InsertIntoHadoopFsRelationCommand")) writes.add(plan)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r1 = try {
      val r = CorpusPipeline.run(spark, docs, workDir, cfg)
      ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)

    // rows equal the old derivation: the cap over a fresh banding
    val exact = spark.read.parquet(s"$workDir/03_exact")
    val reference = Tiers.overCap(Dedup.minhashBanded(exact, "doc_id", "text",
      cfg.numHashes, cfg.bands, cfg.hashFamily), Seq("key"), cfg.bucketCap)
    val stage = r1.stages.find(_.name == "04_dropped").get
    assert(stage.rows > 0)
    assert(stage.df.collect().map(_.toSeq).toSet ==
      reference.collect().map(_.toSeq).toSet)

    // its write reads the stored banding: no second signature pass
    val dropPlans = writes.asScala.filter(_.contains("04_dropped")).toSeq
    assert(dropPlans.size == 1, writes.asScala.mkString("\n\n"))
    assert(dropPlans.head.contains("ExistingRDD") &&
      !dropPlans.head.contains("minhash_sig"), dropPlans.head)

    // a resumed run reads both stages from their manifests
    val r2 = CorpusPipeline.run(spark, docs, workDir, cfg)
    val resumed = r2.stages.map(s => s.name -> s).toMap
    for (n <- Seq("04_neardup", "04_dropped")) {
      assert(resumed(n).resumed, n)
      assert(resumed(n).rows == r1.stages.find(_.name == n).get.rows, n)
    }
  }
}
