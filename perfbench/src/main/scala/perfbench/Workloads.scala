package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{ConnectedComponents, Linkage}
import graft.plans.CorpusPipeline
import graft.sources.PagesCorpus

/** What one run shares with its workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val cpus: Int, val workRoot: Path) {
  def traced: Boolean = tracer.enabled

  /** Metrics of the current pass; the runner clears it before each pass. */
  val passMetrics = mutable.LinkedHashMap.empty[String, Double]

  /** A span around one layer call. In the traced run its Spark jobs run
    * under job group `key` and its time is reported as `<key>_s`. */
  def phase[T](span: String, key: String)(body: => T): T =
    if (!traced) body
    else tracer.span(span) {
      val sc = spark.sparkContext
      sc.setJobGroup(key, key)
      val t0 = System.nanoTime()
      try body
      finally {
        passMetrics(s"${key}_s") = (System.nanoTime() - t0) / 1e9
        sc.clearJobGroup()
      }
    }

  /** In the traced run, computes `df` at a phase boundary and reports its
    * rows as `rowsMetric`, so each phase's cost lands in its own span. */
  def boundary(df: DataFrame, rowsMetric: String): DataFrame =
    if (!traced) df
    else {
      val m = df.localCheckpoint(eager = true)
      val n = m.count().toDouble
      tracer.count("rows", n)
      passMetrics(rowsMetric) = n
      m
    }
}

abstract class Workload(val name: String) {
  /** Passes discarded before timing: the first passes run cold code. */
  def warmupPasses: Int
  /** Pages of the seeded corpus one pass processes (pages_per_s). */
  def pagesPerPass: Double
  /** Pairs one pass scores (pairs_per_s); known once `finish` has run. */
  def pairsPerPass: Double

  /** Builds and caches this run's seeded inputs, replacing earlier ones. */
  def generate(ctx: Ctx): Unit
  /** One pass; returns its collected output. */
  def pass(ctx: Ctx): Array[Row]
  /** One output row as the string the pass digest hashes. */
  def rowKey(r: Row): String
  /** Untimed checks of a pass's output; returns failures. Per-pass metrics
    * go to `ctx.passMetrics`. */
  def check(ctx: Ctx, rows: Array[Row]): Seq[String]
  /** Untimed checks after the passes; returns failures. Also the place
    * for layer-only spans of the traced run; metrics go to
    * `ctx.passMetrics`. */
  def finish(ctx: Ctx): Seq[String]
}

object Workloads {
  val all: Seq[Workload] = Seq(new LinkInmem, new CorpusBuild)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Order-insensitive digest of a row set: row count and a wrapping sum
    * of a 64-bit hash of each row's key. */
  def digest(rows: Iterator[String]): String = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += (MurmurHash3.stringHash(r, 0x5bd1e995).toLong << 32) ^
        (MurmurHash3.stringHash(r, 0x1b873593) & 0xffffffffL)
    }
    f"$n:$h%016x"
  }

}

/** Blocking, scoring and clustering over the seeded pages, all in memory. */
final class LinkInmem extends Workload("link-inmem") {
  // its pass times keep falling until about the fifth pass
  def warmupPasses: Int = 4
  val nPages = 20000
  val theta = 1.6
  // seed-42 counts; keys and matches are counted only in the traced run
  val pinned42 = Map("linkage.keys_rows" -> 140000.0, "linkage.pairs_rows" -> 232933.0,
    "linkage.matches_rows" -> 32620.0, "cc.clusters" -> 7989.0)

  private var pages: DataFrame = _
  private var truth: DataFrame = _
  private var pairs = 0L
  private var lastCand: DataFrame = _
  private var lastMatched: DataFrame = _
  private var lastEx: DataFrame = _
  private var lastCC: ConnectedComponents.Result = _

  def pagesPerPass: Double = nPages
  def pairsPerPass: Double = pairs.toDouble

  def generate(ctx: Ctx): Unit = {
    if (pages != null) pages.unpersist(blocking = true)
    val (p, t) = PagesCorpus.generate(ctx.spark, nPages, ctx.seed, ctx.cpus)
    pages = p.toDF().cache()
    pages.count()
    truth = t.toDF()
  }

  def pass(ctx: Ctx): Array[Row] = {
    val ex = ctx.phase("operators.Linkage.extract", "linkage.extract")(
      ctx.boundary(Linkage.extract(pages), "linkage.extract_rows"))
    val keys = ctx.phase("operators.Linkage.candidateKeys", "linkage.keys")(
      ctx.boundary(Linkage.candidateKeys(ex), "linkage.keys_rows"))
    val cand = ctx.phase("operators.Linkage.candidatePairs", "linkage.pairs")(
      ctx.boundary(Linkage.candidatePairs(keys), "linkage.pairs_rows"))
    val scored = ctx.phase("operators.Linkage.score", "linkage.score")(
      ctx.boundary(Linkage.score(cand, ex), "linkage.score_rows"))
    val matched = ctx.phase("operators.Linkage.matches", "linkage.matches")(
      ctx.boundary(Linkage.matches(scored, theta), "linkage.matches_rows"))
    ctx.phase("operators.ConnectedComponents.clusterWithStats", "cc.cluster") {
      val (clusters, cc) = Linkage.clusterWithStats(matched, ex)
      lastCand = cand
      lastMatched = matched
      lastEx = ex
      lastCC = cc
      clusters.select(col("url"), col("cluster_id")).collect()
    }
  }

  def rowKey(r: Row): String = s"${r.getString(0)}\u0001${r.getLong(1)}"

  def check(ctx: Ctx, rows: Array[Row]): Seq[String] = {
    ctx.passMetrics ++= Seq("cc.clusters" -> rows.iterator.map(_.getLong(1)).toSet.size.toDouble,
      "cc.driver_finish" -> (if (lastCC.iterations == 0) 1.0 else 0.0))
    ctx.passMetrics.get("linkage.matches_rows").zip(ctx.passMetrics.get("linkage.pairs_rows"))
      .foreach { case (m, p) => ctx.passMetrics("linkage.match_yield") = m / p }
    val urls = rows.iterator.map(_.getString(0)).toSet.size
    val coverage =
      if (rows.length == nPages && urls == nPages) Nil
      else Seq(s"clusters give ${rows.length} rows for $urls urls of $nPages pages")
    val pinned = if (ctx.seed != 42L) Nil else pinned42.toSeq.flatMap { case (k, want) =>
      ctx.passMetrics.get(k).filter(_ != want).map(got => f"$k = $got%.0f at seed 42, expected $want%.0f")
    }
    coverage ++ pinned
  }

  /** Layer-only spans of the expression layer: the MinHash signature
    * projection over the extracted names, and the seven kernels over the
    * candidate name pairs, joined and cached first. */
  private def functionProbes(ctx: Ctx): Unit = {
    ctx.phase("functions.minhash_sig_chars", "functions.minhash_sig") {
      lastEx.select(minhash_sig_chars(col("name_norm"), 3, 12, "xxhash64").as("sig"))
        .write.format("noop").mode("overwrite").save()
    }
    val names = lastEx.select(col("url"), col("name_norm"))
    val named = lastCand.join(names.toDF("url_a", "a"), "url_a").join(names.toDF("url_b", "b"), "url_b")
      .select(col("a"), col("b")).cache()
    named.count()
    ctx.phase("functions.score7", "functions.score7") {
      named.select((levenshtein_sim(col("a"), col("b")) + damerau_levenshtein_sim(col("a"), col("b")) +
        hamming_sim(col("a"), col("b")) + jaro_sim(col("a"), col("b")) +
        jaro_winkler_sim(col("a"), col("b")) + jaccard_sim(col("a"), col("b")) +
        sorensen_dice_sim(col("a"), col("b"))).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    named.unpersist()
  }

  def finish(ctx: Ctx): Seq[String] = {
    if (!ctx.traced) {
      // candidate pairs of this seed, for pairs_per_s (untimed)
      pairs = Linkage.candidatePairs(Linkage.candidateKeys(Linkage.extract(pages))).count()
      return if (ctx.seed == 42L && pairs != pinned42("linkage.pairs_rows"))
        Seq(s"candidate pairs $pairs at seed 42, expected ${pinned42("linkage.pairs_rows")}") else Nil
    }
    // pairwise F1 of the matches on the true pairs that share a blocking
    // key, as the engine's end-to-end spec measures it
    val (_, _, f1) = Linkage.pairwiseF1(lastMatched, PagesCorpus.labeledMatches(truth), lastCand)
    ctx.passMetrics("linkage.pair_f1") = f1
    val errs = if (f1 < 0.99) Seq(f"pair_f1 $f1%.5f < 0.99") else Nil
    functionProbes(ctx)
    // the distributed large-star/small-star rounds that the default
    // driver finish skips at this size; a layer-only span
    val key = "graft.cc.driverFinishEdges"
    ctx.spark.conf.set(key, "0")
    try ctx.phase("operators.ConnectedComponents.runWithStats", "cc.dist") {
      val edges = lastMatched.select(xxhash64(col("url_a")).as("src"), xxhash64(col("url_b")).as("dst"))
      val cc = ConnectedComponents.runWithStats(edges)
      cc.assignment.write.format("noop").mode("overwrite").save()
      ctx.passMetrics("cc.rounds") = cc.iterations
    } finally ctx.spark.conf.unset(key)
    errs
  }
}

/** The training-corpus pipeline into a fresh work dir; after the passes, a
  * resumed run over the last one. */
final class CorpusBuild extends Workload("corpus-build") {
  // the second pass still runs faster than the first measured one would
  def warmupPasses: Int = 2
  val nDocs = 4000
  val pinned42Docs = 594
  val stageNames = Seq("01_signals", "02_clean", "03_exact", "04_neardup", "04_dropped", "05_corpus")

  private var docs: DataFrame = _
  private var textBytes = 0L
  private var passNo = 0
  private var lastDir: Path = _
  private var lastRun: CorpusPipeline.Result = _
  private var lastDigest = ""
  private var nearPairs = 0L

  def pagesPerPass: Double = nDocs
  def pairsPerPass: Double = nearPairs.toDouble

  def generate(ctx: Ctx): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    docs = PagesCorpus.generate(ctx.spark, nDocs, ctx.seed, ctx.cpus)._1.toDF()
      .select(xxhash64(col("url")).as("doc_id"), col("text"), col("lang"),
        regexp_extract(col("url"), "^https?://([^/?]+)", 1).as("source"))
      .cache()
    textBytes = docs.agg(sum(octet_length(col("text")))).head().getLong(0)
  }

  private def run(ctx: Ctx): Array[Row] = {
    lastRun = CorpusPipeline.run(ctx.spark, docs, lastDir.toString)
    lastRun.corpus.select(col("doc_id"), col("split_name"), col("shard")).collect()
  }

  def pass(ctx: Ctx): Array[Row] = {
    if (lastDir != null) Host.deleteTree(lastDir)
    passNo += 1
    lastDir = ctx.workRoot.resolve(s"corpus-$passNo")
    ctx.phase("plans.CorpusPipeline.run", "corpus.run")(run(ctx))
  }

  def rowKey(r: Row): String = s"${r.getLong(0)}\u0001${r.getString(1)}\u0001${r.getLong(2)}"

  def check(ctx: Ctx, rows: Array[Row]): Seq[String] = {
    val filesMb = Host.treeBytes(lastDir) / 1e6
    ctx.passMetrics("pass.files_mb") = filesMb
    val stages = lastRun.stages.map(s => s.name -> s).toMap
    for (s <- stageNames) {
      ctx.passMetrics(s"corpus.${s}_s") = stages(s).wallMs / 1e3
      ctx.passMetrics(s"corpus.${s}_rows") = stages(s).rows.toDouble
      ctx.passMetrics(s"plans.$s.written_mb") = Host.treeBytes(lastDir.resolve(s)) / 1e6
    }
    ctx.passMetrics("plans.write_amp") = filesMb * 1e6 / textBytes
    ctx.passMetrics("dedup.near_dups_removed") = (stages("03_exact").rows - stages("04_neardup").rows).toDouble
    lastDigest = Workloads.digest(rows.iterator.map(rowKey))
    Seq(
      if (stageNames.exists(s => stages(s).resumed)) Some("fresh run resumed a stage") else None,
      if (stages("01_signals").rows != nDocs) Some(s"01_signals has ${stages("01_signals").rows} rows, expected $nDocs") else None,
      if (ctx.seed == 42L && rows.length != pinned42Docs) Some(s"corpus has ${rows.length} docs at seed 42, expected $pinned42Docs") else None
    ).flatten
  }

  def finish(ctx: Ctx): Seq[String] = {
    // the resumed run over the last pass's work dir reads every stage back
    // and must give the same output
    val t0 = System.nanoTime()
    val rows = ctx.phase("plans.CorpusPipeline.resume", "corpus.resume")(run(ctx))
    ctx.passMetrics("plans.resume_s") = (System.nanoTime() - t0) / 1e9
    // verified near-duplicate pairs of this seed, for pairs_per_s (untimed)
    val exact = ctx.spark.read.parquet(lastDir.resolve("03_exact").toString)
    val cfg = CorpusPipeline.Config()
    nearPairs = graft.operators.Dedup.minhashLshPairs(exact, "doc_id", "text", cfg.tau,
      cfg.numHashes, cfg.bands, cfg.bucketCap, cfg.hashFamily).count()
    Host.deleteTree(lastDir)
    Seq(
      if (!lastRun.stages.forall(_.resumed)) Some("second run recomputed a stage") else None,
      if (Workloads.digest(rows.iterator.map(rowKey)) != lastDigest) Some("resumed output differs") else None,
      if (nearPairs == 0) Some("no near-duplicate pairs found") else None
    ).flatten
  }
}
