package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkFunSuite
import graft.plans.{CorpusPipeline, Pipeline}
import graft.sources.PagesCorpus

/** The cap record is returned by the operator that caps ([[Capped]]): no
  * public companion re-derives it, and each pipeline's drop stage reads
  * what its own pairing stage materialized. */
class CappedSpec extends SparkFunSuite {

  /** `body`'s result and the executed plans of the writes it ran. */
  private def withWrites[T](body: => T): (T, Seq[String]) = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("InsertIntoHadoopFsRelationCommand")) writes.add(plan)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, writes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("no public dropped* function in the main sources") {
    val decl = raw"\s*(?:final\s+|override\s+)*def\s+(dropped\w*)\b.*".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (decl(name), i) => s"$p:${i + 1} $name"
        }
      }
    assert(hits.isEmpty, hits.mkString("public dropped companions: ", ", ", ""))
  }

  test("CorpusPipeline 04_dropped filters the 04_neardup banding and resumes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val workDir = Files.createTempDirectory("corpus_capped").toString
    // a cap that bites at this scale, so the record is not empty
    val cfg = CorpusPipeline.Config(bucketCap = 2)
    val (r1, writes) = withWrites(CorpusPipeline.run(spark, docs, workDir, cfg))

    // rows equal the old derivation: the cap over a fresh banding
    val exact = spark.read.parquet(s"$workDir/03_exact")
    val reference = Tiers.sizes(Dedup.minhashBanded(exact, "doc_id", "text",
      graft.functions.minhash_sig(_, cfg.numHashes, cfg.hashFamily),
      cfg.numHashes, cfg.bands, cfg.hashFamily), Seq("key"))
      .where(col("n") > cfg.bucketCap)
    val stage = r1.stages.find(_.name == "04_dropped").get
    assert(stage.rows > 0)
    assert(stage.df.collect().map(_.toSeq).toSet ==
      reference.collect().map(_.toSeq).toSet)

    // its write reads the stored banding: no second signature pass
    val dropPlans = writes.filter(_.contains("04_dropped"))
    assert(dropPlans.size == 1, writes.mkString("\n\n"))
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

  test("Pipeline 03_dropped filters the 03_pairs bucket sizes and resumes") {
    val (pages, _) = PagesCorpus.generate(spark, 600, 42L, 4)
    val workDir = Files.createTempDirectory("pipeline_capped").toString
    // a cap that bites at this scale (hot entities have 40 variants)
    val cfg = Pipeline.Config(hardCap = 5)
    val (r1, writes) = withWrites(Pipeline.run(spark, pages.toDF(), workDir, cfg))

    // rows equal the old derivation: the cap over the stored keys
    val reference = Tiers.sizes(spark.read.parquet(s"$workDir/02_keys"),
      Seq("key")).where(col("n") > cfg.hardCap)
    val stage = r1.stages.find(_.name == "03_dropped").get
    assert(stage.rows > 0)
    assert(stage.df.collect().map(_.toSeq).toSet ==
      reference.collect().map(_.toSeq).toSet)

    // its write sizes the keys 03_pairs materialized, not the stored stage
    val dropPlans = writes.filter(_.contains("03_dropped"))
    assert(dropPlans.size == 1, writes.mkString("\n\n"))
    assert(dropPlans.head.contains("ExistingRDD") &&
      !dropPlans.head.contains("FileScan"), dropPlans.head)

    // a resumed run reads every stage from its manifest
    val r2 = Pipeline.run(spark, pages.toDF(), workDir, cfg)
    for ((s2, s1) <- r2.stages.zip(r1.stages)) {
      assert(s2.resumed && s2.rows == s1.rows, s2.name)
    }
    assert(r2.stages.map(_.name) == r1.stages.map(_.name))
  }
}
