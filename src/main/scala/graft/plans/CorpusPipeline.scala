package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis}

/** Checkpointed, resumable TRAINING-CORPUS construction pipeline — the
  * companion to [[Pipeline]] (which links entities): this one turns a raw
  * document table into a deduplicated, quality-filtered, scrubbed,
  * split-assigned, pack-addressed training corpus, with every stage
  * checkpointed through the same content-addressed manifest machinery
  * ([[Pipeline.stage]]) so a killed run resumes mid-pipeline.
  *
  * Stage order is the standard web-corpus recipe (quality signals before
  * scrub: the signals must see the original text; exact dedup before
  * near-dup: hash groups are cheaper than banded joins and shrink the
  * LSH input):
  *
  *   01 signals    — quality score, language id, token counts, Gopher
  *                   repetition signals (one pass, zero shuffle)
  *   02 clean      — quality/repetition filter + PII scrub FUSED into one
  *                   stage (drop counts surface in metrics). The filter
  *                   and the scrub are a predicate and a projection: each
  *                   costs nothing to recompute from 01_signals, so
  *                   checkpointing them separately would buy no resume
  *                   value while paying two extra corpus-sized parquet
  *                   round-trips per run at 100 TB — fused, the corpus is
  *                   written once between the signals pass and the dedup
  *                   stages
  *   03 exact      — exact-hash canonicalization, keep one per group
  *   04 neardup    — MinHash-LSH + connected-components groups, keep the
  *                   canonical doc per near-dup cluster; the banding's
  *                   dropped buckets (the `dropped` of the same
  *                   [[Dedup.nearDupGroups]] call, read from the banding
  *                   it already materialized) checkpoint as their own
  *                   side stage (04_dropped) whose row count lands in
  *                   metrics (the cap is never silent INSIDE the
  *                   pipeline, and a resumed run reads the count from the
  *                   manifest)
  *   05 corpus     — train/val/test split + domain mixture sampling +
  *                   sequence-pack layout, all sha-derived (re-running
  *                   over a grown corpus never reassigns existing docs)
  */
object CorpusPipeline {

  case class Config(
      minQuality: Double = 0.3,
      maxDupLineFrac: Double = 0.9,
      tau: Double = 0.7,
      numHashes: Int = 16,
      bands: Int = 4,
      bucketCap: Int = 500,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      mixtureRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      seqLen: Int = 2048,
      packShards: Int = 64,
      seed: Long = 42L,
      // sha256 makes the WHOLE pipeline ANSI-SQL-reproducible (the
      // q_corpus_pipeline gate cell); xxhash64 is the production default
      hashFamily: String = "xxhash64") {
    def fingerprint: String =
      s"q=$minQuality;dl=$maxDupLineFrac;tau=$tau;h=$numHashes;b=$bands;" +
        s"cap=$bucketCap;sp=${splits.map(w => w._1 + ":" + w._2).mkString(",")};" +
        s"mx=${mixtureRates.toSeq.sorted.map(w => w._1 + ":" + w._2).mkString(",")};" +
        s"dr=$defaultRate;len=$seqLen;sh=$packShards;seed=$seed;" +
        // v=2: filter+scrub fused into the single 02_clean stage (round-3
        // checkpoints under the old 5-stage layout must not resume)
        s"fam=$hashFamily;v=2"
  }

  case class Result(corpus: DataFrame, stages: Seq[Pipeline.StageResult],
      metrics: DataFrame)

  private def sha(s: String): String = Pipeline.sha(s)

  /** docs: (doc_id, text, lang, source). Returns the final corpus frame
    * (doc_id, text, lang, source, split_name, shard, start_off,
    * first_seq, last_seq) plus per-stage metrics. */
  def run(spark: SparkSession, docs: DataFrame, workDir: String,
      cfg: Config = Config()): Result = {
    Files.createDirectories(Paths.get(workDir))
    // fingerprint the TEXT, not just the ids: text is what this pipeline
    // transforms, so a re-crawl that rewrites documents in place under
    // unchanged doc_ids must invalidate every checkpoint
    val inFp = Pipeline.inputFingerprint(docs, Seq("doc_id", "text"))
    val base = sha(cfg.fingerprint + ";" + inFp)

    val fpSig = sha(base + ":signals")
    val signals = Pipeline.stage(spark, workDir, "01_signals", fpSig) {
      val rep = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(rep.select(col("doc_id"), col("dup_line_frac")), "doc_id")
    }

    val fpCln = sha(fpSig + ":clean")
    // filter + scrub FUSED: one Exchange-free stage (a predicate and a
    // regexp projection) between the signals pass and the dedup stages.
    // The signal columns are consumed HERE; downstream checkpoints carry
    // only what later stages read (at corpus scale the dead columns would
    // be real I/O in every subsequent stage's parquet round-trip)
    val clean = Pipeline.stage(spark, workDir, "02_clean", fpCln)(
      signals.df.where(col("quality") >= cfg.minQuality &&
        col("dup_line_frac") <= cfg.maxDupLineFrac)
        .select(col("doc_id"),
          TextAnalysis.scrubPii(col("text")).as("text"),
          col("lang"), col("source")))

    val fpEx = sha(fpCln + ":exact")
    val exact = Pipeline.stage(spark, workDir, "03_exact", fpEx) {
      val groups = Dedup.exactGroups(clean.df, "doc_id", "text")
        .where(col("id") === col("canonical_id")).select(col("id"))
      clean.df.join(groups.withColumnRenamed("id", "doc_id"), "doc_id")
    }

    // planned only by a stage that recomputes: a resumed run plans nothing
    lazy val nearDup = Dedup.nearDupGroups(exact.df, "doc_id", "text",
      cfg.tau, cfg.numHashes, cfg.bands, cfg.bucketCap, cfg.hashFamily)
    val fpNd = sha(fpEx + ":neardup")
    val neardup = Pipeline.stage(spark, workDir, "04_neardup", fpNd) {
      val groups = nearDup.out
        .where(col("id") === col("canonical_id")).select(col("id"))
      exact.df.join(groups.withColumnRenamed("id", "doc_id"), "doc_id")
    }

    // the banding's dropped buckets are a CHECKPOINTED side stage: a
    // resumed run reads the count from the manifest, and a fresh one
    // filters the banding 04_neardup already materialized
    val fpDrop = sha(fpEx + ":dropped")
    val droppedStage = Pipeline.stage(spark, workDir, "04_dropped", fpDrop)(
      nearDup.dropped)

    val fpCor = sha(fpNd + ":corpus")
    val corpus = Pipeline.stage(spark, workDir, "05_corpus", fpCor) {
      val sampled = Sampling.mixtureSample(
        Sampling.splitAssign(neardup.df, "doc_id", cfg.splits, cfg.seed),
        "doc_id", "source", cfg.mixtureRates, cfg.defaultRate, cfg.seed + 1)
      val pack = Packing.packAssignments(sampled, "doc_id", "text",
        cfg.seqLen, cfg.packShards, cfg.seed)
        .select(col("id").as("doc_id"), col("shard"), col("start_off"),
          col("first_seq"), col("last_seq"))
      sampled.join(pack, "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("split_name"), col("shard"), col("start_off"),
          col("first_seq"), col("last_seq"))
    }

    val stages =
      Seq(signals, clean, exact, neardup, droppedStage, corpus)
    import spark.implicits._
    // the LSH cap is observable INSIDE the pipeline: its drop count is a
    // first-class metric (rows of the checkpointed 04_dropped stage), not
    // a separate query the caller must remember
    val metrics = (Pipeline.stageMetrics(stages) :+
      (("02_clean", "docs_dropped",
        (signals.rows - clean.rows).toDouble)) :+
      (("03_exact", "exact_dups_removed",
        (clean.rows - exact.rows).toDouble)) :+
      (("04_neardup", "near_dups_removed",
        (exact.rows - neardup.rows).toDouble)) :+
      (("04_neardup", "dropped_minhash_buckets", droppedStage.rows.toDouble)))
      .toDF("stage", "metric", "value")
    metrics.coalesce(1).write.mode("overwrite").parquet(s"$workDir/99_metrics")
    Result(corpus.df, stages, metrics)
  }
}
