package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.plans.Pipeline
import graft.sources.PagesCorpus

/** End-to-end mini-corpus linkage (FIXTURES.md §5-6, BASELINE.md targets):
  * deterministic pages corpus → block → score → cluster, pairwise F1 ≥ 0.99
  * vs generated labels at shared blocking keys, byte-identical text
  * invariant, and resume-from-checkpoint determinism. */
class LinkageSpec extends SparkFunSuite {

  private lazy val (pages, truth) = PagesCorpus.generate(spark, nPages = 600, seed = 42L, partitions = 8)
  private lazy val pagesDF = pages.toDF().cache()
  private lazy val truthDF = truth.toDF().cache()

  test("corpus is deterministic and urls are unique") {
    val n = pagesDF.count()
    assert(n > 500)
    assert(pagesDF.select("url").distinct().count() == n)
    val (pages2, _) = PagesCorpus.generate(spark, nPages = 600, seed = 42L, partitions = 3)
    // different partitioning, same bytes
    val h1 = pagesDF.agg(expr("bit_xor(xxhash64(url, text, lang, warc_ts))")).head().getLong(0)
    val h2 = pages2.toDF().agg(expr("bit_xor(xxhash64(url, text, lang, warc_ts))")).head().getLong(0)
    assert(h1 == h2)
  }

  test("html → text extraction is byte-identical per url") {
    assert(Linkage.textInvariantViolations(pagesDF) == 0L)
    // kernel-level roundtrip too
    val p = PagesCorpus.page(PagesCorpus.layout(600, 42L), 7)._1
    assert(PagesCorpus.extractText(p.html) == p.text)
  }

  test("end-to-end pipeline hits pairwise F1 >= 0.99 at shared blocking keys") {
    val work = Files.createTempDirectory("graft-pipeline").toString
    val cfg = Pipeline.Config()
    val result = Pipeline.run(spark, pagesDF, work, cfg)

    val ex = Linkage.extract(pagesDF)
    val keys = Linkage.candidateKeys(ex, cfg.numHashes, cfg.bands, cfg.shingleK)
    val candidates = Linkage.candidatePairs(keys, cfg.bucketCap)
    val predicted = Linkage.matches(
      Linkage.score(candidates, ex), cfg.theta)
    val labeled = PagesCorpus.labeledMatches(truthDF)
    val (p, r, f1) = Linkage.pairwiseF1(predicted, labeled, candidates)
    info(f"precision=$p%.4f recall=$r%.4f F1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f below target (p=$p%.4f r=$r%.4f)")

    // clusters cover every url exactly once
    assert(result.clusters.count() == pagesDF.count())
    assert(result.clusters.select("url").distinct().count() == pagesDF.count())
  }

  test("resume: second run skips all stages and yields identical clusters") {
    val work = Files.createTempDirectory("graft-resume").toString
    val first = Pipeline.run(spark, pagesDF, work, Pipeline.Config())
    val firstClusters = first.clusters.collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val second = Pipeline.run(spark, pagesDF, work, Pipeline.Config())
    assert(second.stages.forall(_.resumed), "all stages should resume from checkpoint")
    val secondClusters = second.clusters.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(firstClusters == secondClusters)

    // kill-mid-pipeline simulation: nuke a middle stage; rerun recomputes it
    // (content-addressed fingerprints keep downstream checkpoints valid)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$work/04_scored")).deleteRecursively()
    val third = Pipeline.run(spark, pagesDF, work, Pipeline.Config())
    assert(!third.stages.find(_.name == "04_scored").get.resumed)
    val thirdClusters = third.clusters.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(firstClusters == thirdClusters)

    // config change invalidates checkpoints
    val fourth = Pipeline.run(spark, pagesDF, work, Pipeline.Config(theta = 1.7))
    assert(fourth.stages.count(!_.resumed) >= 1)
  }

  test("fellegi-sunter scorer: model is a checkpointed stage, resume covers it") {
    val work = Files.createTempDirectory("graft-fs-pipeline").toString
    val cfg = Pipeline.Config(scorer = "fellegi_sunter", fsPosteriorTheta = 0.5)
    val first = Pipeline.run(spark, pagesDF, work, cfg)
    val names = first.stages.map(_.name)
    assert(names.containsSlice(Seq("04_gammas", "04_model", "04_scored")))
    // the persisted model artifact is a loadable 3-field binary Model
    val model = FellegiSunter.loadModel(spark, s"$work/04_model")
    assert(model.m.size == 3 && model.u.size == 3)
    assert(model.lambda > 0.0 && model.lambda < 1.0)
    // scored stage carries the posterior as the scorer-agnostic `score`
    val scored = first.stages.find(_.name == "04_scored").get.df
    assert(scored.columns.contains("score") && scored.columns.contains("posterior"))
    // the FS match set still recovers the planted duplicates well
    val ex = Linkage.extract(pagesDF)
    val keys = Linkage.candidateKeys(ex, cfg.numHashes, cfg.bands, cfg.shingleK)
    val candidates = Linkage.candidatePairs(keys, cfg.bucketCap)
    val labeled = PagesCorpus.labeledMatches(truthDF)
    val predicted = first.stages.find(_.name == "05_matches").get.df
    val (p, r, f1) = Linkage.pairwiseF1(predicted, labeled, candidates)
    info(f"FS scorer: precision=$p%.4f recall=$r%.4f F1=$f1%.4f lambda=${model.lambda}%.4f")
    assert(f1 >= 0.9, f"FS-path F1 $f1%.4f (p=$p%.4f r=$r%.4f)")
    // resume: everything (including the model stage) comes from checkpoints
    val second = Pipeline.run(spark, pagesDF, work, cfg)
    assert(second.stages.forall(_.resumed))
    assert(second.clusters.collect().toSet == first.clusters.collect().toSet)
    // the FS config never collides with composite fingerprints: a
    // composite run in the same workDir recomputes its own scoring chain
    val comp = Pipeline.run(spark, pagesDF, work, Pipeline.Config())
    assert(!comp.stages.find(_.name == "04_scored").get.resumed)
  }

  test("salted grid self-join equals the naive self-join on a skewed fixture") {
    import spark.implicits._
    // one hot key (60 members), several cold ones
    val keys = ((1 to 60).map(i => (s"hot", s"u$i")) ++
      (1 to 5).map(i => ("cold1", s"c$i")) ++ Seq(("solo", "s1"))).toDF("key", "url")
    def naive(df: org.apache.spark.sql.DataFrame) = {
      val a = df.select(col("key"), col("url").as("url_a"))
      val b = df.select(col("key"), col("url").as("url_b"))
      a.join(b, "key").where(col("url_a") < col("url_b"))
        .select("url_a", "url_b").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    val expected = naive(keys)
    // force everything through the salted tier
    val salted = Linkage.candidatePairs(keys, bucketCap = 1, hardCap = 1000,
        saltGroups = 7)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted == expected, s"missing=${expected -- salted} extra=${salted -- expected}")
    // mixed tiers: cold via plain join, hot via salted — same union
    val mixed = Linkage.candidatePairs(keys, bucketCap = 10, hardCap = 1000,
        saltGroups = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(mixed == expected)
    // hardCap drops the hot bucket entirely
    val dropped = Linkage.candidatePairs(keys, bucketCap = 10, hardCap = 50)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dropped == naive(keys.where(col("key") =!= "hot")))
  }

  test("candidatePairs carries each side's name: same url pairs as bare keys, names as joined") {
    val ex = Linkage.extract(pagesDF)
    val keys = Linkage.candidateKeys(ex)
    assert(keys.columns.toSeq == Seq("url", "key", "name_norm"))
    val names = ex.select("url", "name_norm").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // cap 1 sends every bucket through the salted grid, whose sides swap
    for ((cap, salt) <- Seq((200, 16), (1, 4))) {
      val carried = Linkage.candidatePairs(keys, bucketCap = cap,
        hardCap = 100000, saltGroups = salt)
      assert(carried.columns.toSeq == Seq("url_a", "url_b", "name_norm_a", "name_norm_b"))
      val rows = carried.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      val bare = Linkage.candidatePairs(keys.select("url", "key"), bucketCap = cap,
        hardCap = 100000, saltGroups = salt)
      assert(bare.columns.toSeq == Seq("url_a", "url_b"))
      val bareSet = bare.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows.nonEmpty)
      assert(rows.length == bareSet.size, s"cap $cap: a url pair repeats")
      assert(rows.map(r => (r._1, r._2)).toSet == bareSet, s"cap $cap")
      rows.foreach { case (a, b, na, nb) =>
        assert(na == names(a) && nb == names(b), s"cap $cap: ($a, $b) got ($na, $nb)")
      }
    }
  }

  test("scoring over bare pairs (url joins) equals scoring over carried names") {
    val ex = Linkage.extract(pagesDF)
    val carried = Linkage.candidatePairs(Linkage.candidateKeys(ex))
    val bare = carried.select("url_a", "url_b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Linkage.score(carried, ex)) == rows(Linkage.score(bare, ex)))
    assert(rows(Linkage.fsComparisonVectors(carried, ex)) ==
      rows(Linkage.fsComparisonVectors(bare, ex)))
    val pre = rows(Linkage.scoreWithPrefilter(carried, ex, maxDist = 6))
    assert(pre.nonEmpty && pre == rows(Linkage.scoreWithPrefilter(bare, ex, maxDist = 6)))
  }

  test("hot-bucket dropping is observable, not silent") {
    val ex = Linkage.extract(pagesDF)
    val keys = Linkage.candidateKeys(ex)
    val droppedAt5 = Linkage.candidateCapped(keys, bucketCap = 200,
      hardCap = 5, saltGroups = 16).dropped
    assert(droppedAt5.count() > 0) // hot entities (40 variants) exceed cap 5
    val metricsHasDropped = {
      val work = Files.createTempDirectory("graft-metrics").toString
      val res = Pipeline.run(spark, pagesDF, work, Pipeline.Config())
      res.metrics.where(col("metric") === "dropped_buckets").count() == 1
    }
    assert(metricsHasDropped)
  }
}
