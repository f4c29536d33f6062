package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.JsonStr
import graft.operators.Linkage

/** Checkpointed, resumable record-linkage pipeline (north rule: every stage
  * checkpoints with per-partition lineage + metrics so a killed job resumes
  * mid-pipeline).
  *
  * Each stage writes parquet to `workDir/<stage>/` and then a
  * `_manifest.json` (commit marker: written only after a successful write,
  * so a crash mid-write leaves no manifest and the stage recomputes).
  * Stage validity is CONTENT-ADDRESSED: a stage's fingerprint hashes the
  * pipeline config, the input fingerprint, and all upstream fingerprints —
  * so resume never needs timestamps, and a recomputed upstream with the
  * same fingerprint keeps downstream checkpoints valid (all stages are
  * deterministic functions).
  *
  * In-sandbox the sink is parquet; on a real cluster the same seam is where
  * an Iceberg catalog drops in (`spark.read.format("iceberg")` + snapshot
  * ids instead of content fingerprints) — no Iceberg runtime jar ships in
  * /opt/spark/jars, so the substitution is documented rather than linked.
  *
  * Cluster mode: set `spark.graft.cc.checkpointDir` (read as
  * `graft.cc.checkpointDir` from the session conf) so the clustering
  * stage's iterative rounds land on reliable storage instead of the
  * executor blocks of [[graft.operators.Frames]] — see
  * [[graft.operators.ConnectedComponents]].
  */
object Pipeline {

  case class Config(
      theta: Double = 1.6,
      numHashes: Int = 12,
      bands: Int = 6,
      shingleK: Int = 3,
      bucketCap: Int = 200,
      hardCap: Int = 100000,
      saltGroups: Int = 16,
      // scoring stage: "composite" (JW+Dice, θ on their sum) or
      // "fellegi_sunter" (EM-fitted probabilistic model; the fitted model
      // is itself a checkpointed stage artifact, so resume covers it and
      // downstream jobs can load it without re-fitting). FS fit is ONE
      // map-side-combined aggregate to ≤ 2^k pattern counts — it reads
      // every pair but moves almost nothing, so there is no sampled-fit
      // variant: sampling would only save that aggregate's constants and
      // cost bit-reproducibility of the fingerprinted model artifact.
      scorer: String = "composite",
      fsPosteriorTheta: Double = 0.5,
      fsIters: Int = 15) {
    require(scorer == "composite" || scorer == "fellegi_sunter",
      s"unknown scorer '$scorer'")
    // v bumps when stage SEMANTICS change (not just config): v=3 = the
    // fused xxhash64 MinHash band family replaced the exploded built-in
    // hashing, so round-1 key checkpoints must not resume.
    // The scorer suffix appears ONLY for non-default scorers, so every
    // pre-existing composite checkpoint fingerprint is byte-identical.
    def fingerprint: String =
      s"theta=$theta;h=$numHashes;b=$bands;k=$shingleK;cap=$bucketCap;" +
        s"hard=$hardCap;salt=$saltGroups;v=3" +
        (if (scorer == "composite") ""
         else s";scorer=$scorer;fsTheta=$fsPosteriorTheta;fsIters=$fsIters")
  }

  case class StageResult(name: String, df: DataFrame, fingerprint: String,
      resumed: Boolean, rows: Long, wallMs: Long)

  case class Result(clusters: DataFrame, stages: Seq[StageResult],
      metrics: DataFrame)

  private[plans] def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Run one checkpointed stage: skip when a valid manifest matches the
    * fingerprint, else compute, persist, and commit the manifest (with
    * per-partition row counts = the lineage record). */
  def stage(spark: SparkSession, workDir: String, name: String,
      fingerprint: String)(compute: => DataFrame): StageResult = {
    val dir = s"$workDir/$name"
    val manifestPath = Paths.get(dir, "_manifest.json")
    if (Files.exists(manifestPath)) {
      val m = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      val fpRe = """"fingerprint":\s*"([0-9a-f]+)"""".r
      val rowsRe = """"rows":\s*(\d+)""".r
      (fpRe.findFirstMatchIn(m), rowsRe.findFirstMatchIn(m)) match {
        case (Some(fp), Some(rows)) if fp.group(1) == fingerprint =>
          return StageResult(name, spark.read.parquet(dir), fingerprint,
            resumed = true, rows.group(1).toLong, 0L)
        case _ => // stale or corrupt manifest → recompute
      }
    }
    val t0 = System.nanoTime()
    compute.write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir)
    val partRows = out.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n")).collect()
    val rows = partRows.map(_.getLong(1)).sum
    val partCounts = partRows
      .map(r => s"""{"pid":${r.getInt(0)},"rows":${r.getLong(1)}}""")
    val wallMs = (System.nanoTime() - t0) / 1000000
    val manifest =
      s"""{"stage":${JsonStr(name)},"fingerprint":${JsonStr(fingerprint)},
         |"rows":$rows,"wallMs":$wallMs,
         |"partitions":[${partCounts.mkString(",")}]}""".stripMargin.replace("\n", "")
    Files.write(manifestPath, manifest.getBytes(StandardCharsets.UTF_8))
    StageResult(name, out, fingerprint, resumed = false, rows, wallMs)
  }

  /** Cheap content fingerprint of the input corpus: row count + an
    * order-insensitive xxhash64 fold over `cols` (single pruned scan).
    * Include every column whose change must invalidate checkpoints —
    * the linkage pipeline fingerprints `url` (its text invariant gate
    * separately reads the content); CorpusPipeline fingerprints
    * (doc_id, text) because text is exactly what it transforms. On
    * Iceberg this is the snapshot id instead. */
  def inputFingerprint(df: DataFrame, cols: Seq[String]): String = {
    val hashExpr = s"bit_xor(xxhash64(${cols.mkString(", ")}))"
    val r = df.agg(count(lit(1)), coalesce(expr(hashExpr), lit(0L))).head()
    sha(s"cols=${cols.mkString(",")};n=${r.getLong(0)};h=${r.getLong(1)}")
  }

  def inputFingerprint(pages: DataFrame): String =
    inputFingerprint(pages, Seq("url"))

  /** The per-stage metric triples both pipelines share. */
  private[plans] def stageMetrics(
      stages: Seq[StageResult]): Seq[(String, String, Double)] =
    stages.map(s => (s.name, "rows", s.rows.toDouble)) ++
      stages.map(s => (s.name, "wall_ms", s.wallMs.toDouble)) ++
      stages.map(s => (s.name, "resumed", if (s.resumed) 1.0 else 0.0))

  /** Full pipeline: extract → candidate keys → candidate pairs → score →
    * match → cluster, all checkpointed under workDir. */
  def run(spark: SparkSession, pages: DataFrame, workDir: String,
      cfg: Config = Config()): Result = {
    Files.createDirectories(Paths.get(workDir))
    val inFp = inputFingerprint(pages)
    val base = sha(cfg.fingerprint + ";" + inFp)

    // stage 0 invariant: extracted text must be byte-identical per url
    val violations = Linkage.textInvariantViolations(pages)
    require(violations == 0,
      s"text extraction invariant violated for $violations urls")

    val fpEx = sha(base + ":extract")
    val ex = stage(spark, workDir, "01_extracted", fpEx)(Linkage.extract(pages))

    val fpKeys = sha(fpEx + ":keys")
    val keys = stage(spark, workDir, "02_keys", fpKeys)(
      Linkage.candidateKeys(ex.df, cfg.numHashes, cfg.bands, cfg.shingleK))

    // planned only by a stage that recomputes: a resumed run plans nothing
    lazy val candidates = Linkage.candidateCapped(keys.df, cfg.bucketCap,
      cfg.hardCap, cfg.saltGroups)
    val fpPairs = sha(fpKeys + ":pairs")
    val pairs = stage(spark, workDir, "03_pairs", fpPairs)(candidates.out)

    // the hardCap's dropped buckets are a CHECKPOINTED side stage (same
    // contract as CorpusPipeline's 04_dropped): a resumed run reads the
    // count from the manifest, and a fresh one filters the bucket sizes
    // 03_pairs routed on
    val fpDrop = sha(fpKeys + ":dropped")
    val droppedStage = stage(spark, workDir, "03_dropped", fpDrop)(
      candidates.dropped)

    // scoring: composite JW+Dice projection, or the Fellegi-Sunter path —
    // comparison vectors (04_gammas) → EM fit persisted as a model stage
    // (04_model: the fit-once/score-many artifact — a resumed run, or any
    // later scoring job, loads it instead of re-running EM) → posterior
    // scoring projection. Both paths end in a frame with a `score` column
    // so the match/cluster stages downstream are scorer-agnostic.
    val (scorerStages, scored, matchTheta) =
      if (cfg.scorer == "composite") {
        val fpScored = sha(fpPairs + ":scored")
        val s0 = stage(spark, workDir, "04_scored", fpScored)(
          Linkage.score(pairs.df, ex.df))
        (Seq(s0), s0, cfg.theta)
      } else {
        val fs = graft.operators.FellegiSunter
        val fpGam = sha(fpPairs + ":fsgammas")
        val gam = stage(spark, workDir, "04_gammas", fpGam)(
          Linkage.fsComparisonVectors(pairs.df, ex.df))
        val fpModel = sha(fpGam + s":fsmodel;iters=${cfg.fsIters}")
        val modelStage = stage(spark, workDir, "04_model", fpModel)(
          fs.modelFrame(spark,
            fs.fit(gam.df, Linkage.fsGammaCols, iters = cfg.fsIters)))
        // the scoring stage consumes the PERSISTED artifact (bit-exact
        // round-trip), never the in-memory fit — the exact shape a
        // separate score-only job uses
        val model = fs.loadModel(spark, s"$workDir/04_model")
        val fpScored = sha(fpModel + ":fsscored")
        val s0 = stage(spark, workDir, "04_scored", fpScored)(
          fs.score(gam.df, Linkage.fsGammaCols, model)
            .withColumn("score", col("posterior")))
        (Seq(gam, modelStage, s0), s0, cfg.fsPosteriorTheta)
      }

    val fpMatch = sha(scored.fingerprint + ":matches")
    val matched = stage(spark, workDir, "05_matches", fpMatch)(
      Linkage.matches(scored.df, matchTheta))

    val fpClusters = sha(fpMatch + ":clusters")
    // CC convergence telemetry is a side output of the stage compute: on a
    // resume (manifest hit) the loop never runs, so the series is absent —
    // which is correct, nothing was computed
    var ccStats: Option[graft.operators.ConnectedComponents.Result] = None
    val clusters = stage(spark, workDir, "06_clusters", fpClusters) {
      val (df, cc) = Linkage.clusterWithStats(matched.df, ex.df)
      ccStats = Some(cc)
      df
    }

    val stages = Seq(ex, keys, pairs, droppedStage) ++ scorerStages ++
      Seq(matched, clusters)
    import spark.implicits._
    val ccMetrics = ccStats.toSeq.flatMap { cc =>
      ("06_clusters", "cc_rounds", cc.iterations.toDouble) +:
        cc.roundEdges.zipWithIndex.map { case (n, i) =>
          ("06_clusters", f"cc_round_${i + 1}%02d_edges", n.toDouble)
        }
    }
    val metrics = (stageMetrics(stages) ++
      ccMetrics :+
      (("02_keys", "dropped_buckets", droppedStage.rows.toDouble)) :+
      (("00_input", "text_invariant_violations", violations.toDouble)))
      .toDF("stage", "metric", "value")
    metrics.coalesce(1).write.mode("overwrite").parquet(s"$workDir/99_metrics")
    Result(clusters.df, stages, metrics)
  }
}
