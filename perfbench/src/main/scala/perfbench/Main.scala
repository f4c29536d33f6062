package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM: set-up, discarded
  * warm-up passes, then a closed loop of passes (each starts when the last
  * ends, one driver thread) until the passes have taken `--seconds`. Writes every
  * metric it measured, the checks' verdict and the noise record to `--out`
  * as JSON; with `--trace 1` also the spans to `--spans`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --out <file> --spans <file> --work <dir> --vectors <csv>
  */
object Main {
  /** Set-up repeats of input generation; set-up reports their median. */
  val setupReps = 3
  /** Phases whose task metrics the traced run reports per job group. */
  val listenedPhases = Seq("linkage.extract", "linkage.keys", "linkage.pairs",
    "linkage.score", "linkage.matches", "cc.cluster")

  private final case class Pass(wall: Double, gc: Double, diskMb: Double,
      metrics: Map[String, Double], selfByLayer: Map[String, Double])

  /** One driver with `cpus` task threads; every file it writes stays
    * under `workRoot`. */
  def session(cpus: Int, workRoot: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", workRoot.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", workRoot.resolve("warehouse").toString)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(opt.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; choose one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val workRoot = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(workRoot)
    val cpuAtStart = Host.cpuJiffies()
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(cpus, workRoot)
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, tracer, seed, cpus, workRoot)

    val generateS = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("sources.PagesCorpus.generate")(workload.generate(ctx))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(generateS)

    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var firstDigest: Option[String] = None

    /** Runs one pass; returns its time and, when its checks passed, its record. */
    def runPass(label: String): (Double, Option[Pass]) = {
      attempted += 1
      ctx.passMetrics.clear()
      listener.take(sc)
      val gc0 = Host.gcSeconds()
      val lastSpan = tracer.spans.size
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      try {
        val rows = tracer.span("bench.pass")(workload.pass(ctx))
        val wall = elapsed
        val gc = Host.gcSeconds() - gc0
        val digest = Workloads.digest(rows.iterator.map(workload.rowKey))
        val phases = listener.take(sc)
        val passSpans = tracer.spans.drop(lastSpan)
        val self = passSpans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(tracer.selfNs).sum / 1e9 }
        val errs = workload.check(ctx, rows) ++
          (if (firstDigest.forall(_ == digest)) Nil else Seq(s"output digest $digest differs from ${firstDigest.get}"))
        firstDigest = firstDigest.orElse(Some(digest))
        val metrics = ctx.passMetrics.toMap
        val phaseMetrics = if (!traced) Map.empty[String, Double] else
          listenedPhases.flatMap(p => phases.get(p).toSeq.flatMap { t =>
            Seq(s"$p.shuffle_read_mb" -> t.shuffleReadBytes / 1e6,
              s"$p.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
              s"$p.spill_mb" -> t.spillBytes / 1e6,
              s"$p.task_p50_s" -> t.taskP50s, s"$p.task_max_s" -> t.taskMaxs)
          }).toMap
        val diskMb = phases.values.map(_.diskBytes).sum / 1e6 + metrics.getOrElse("pass.files_mb", 0.0)
        println(f"$label wall=$wall%.3fs gc=$gc%.3fs disk=$diskMb%.2fMB digest=$digest" +
          (if (errs.isEmpty) "" else s" FAILED: ${errs.mkString("; ")}"))
        if (errs.nonEmpty) { failed += 1; errors ++= errs.map(e => s"$label: $e"); (wall, None) }
        else (wall, Some(Pass(wall, gc, diskMb, metrics ++ phaseMetrics, self)))
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$label threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          println(s"$label FAILED: ${errors.last}")
          (elapsed, None)
      }
    }

    val warm = (1 to workload.warmupPasses).map(i => runPass(s"warmup $i")._2)
    // the measured window is pass time only: the checks between passes do
    // not eat into it; a failure ends the run, which is already incorrect
    val passes = mutable.ArrayBuffer.empty[Pass]
    var measured = 0.0
    var n = 0
    while (n == 0 || (measured < seconds && failed == 0)) {
      n += 1
      val (t, p) = runPass(s"pass $n")
      measured += t
      p.foreach(passes += _)
    }

    ctx.passMetrics.clear()
    val finishErrors = try workload.finish(ctx) catch {
      case NonFatal(e) => Seq(s"final checks threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    errors ++= finishErrors
    val runMetrics = ctx.passMetrics.toMap
    val slotErrors = KernelTable.checkSlots(opt("vectors"))
    errors ++= slotErrors
    val kernelTable = if (traced) KernelTable.run(seed, tracer) else Nil

    spark.stop()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (passes.nonEmpty) {
      val wall = Stats.median(passes.map(_.wall).toSeq)
      metrics ++= Seq(
        "setup_s" -> setupS,
        "wall_s" -> wall,
        "pages_per_s" -> workload.pagesPerPass / wall,
        "pairs_per_s" -> workload.pairsPerPass / wall,
        "disk_written_mb" -> Stats.median(passes.map(_.diskMb).toSeq),
        "rss_peak_mb" -> Host.rssPeakMb())
      for (k <- passes.flatMap(_.metrics.keys).distinct)
        metrics(k) = Stats.median(passes.flatMap(_.metrics.get(k)).toSeq)
      for (l <- passes.flatMap(_.selfByLayer.keys).distinct)
        metrics(s"layer.$l.self_s") = Stats.median(passes.map(_.selfByLayer.getOrElse(l, 0.0)).toSeq)
      metrics("jvm.gc_s") = Stats.median(passes.map(_.gc).toSeq)
      metrics("trace.pass_s") = wall
    }
    metrics ++= runMetrics ++ kernelTable
    metrics ++= Seq("setup.session_s" -> sessionS, "sources.generate_s" -> Stats.median(generateS),
      "host.steal_pct" -> Host.stealPct(cpuAtStart, Host.cpuJiffies()))

    val correct = failed == 0 && errors.isEmpty && passes.nonEmpty
    val noise = Seq(
      s""""nproc":$cpus""",
      s""""jvm_args":[${Host.jvmArgs.map(Json.str).mkString(",")}]""",
      s""""generate_s":[${generateS.map(Json.num).mkString(",")}]""",
      s""""warmup_wall_s":[${warm.map(_.fold("null")(p => Json.num(p.wall))).mkString(",")}]""",
      s""""pass_wall_s":[${passes.map(p => Json.num(p.wall)).mkString(",")}]""",
      s""""pass_gc_s":[${passes.map(p => Json.num(p.gc)).mkString(",")}]""",
      s""""steal_pct":${Json.num(metrics("host.steal_pct"))}""").mkString(",")
    val result =
      s"""{"workload":${Json.str(workload.name)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
        s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""digest":${Json.str(firstDigest.getOrElse(""))},""" +
        s""""errors":[${errors.map(Json.str).mkString(",")}],"noise":{$noise},""" +
        s""""metrics":{${metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
        s""""kernel_checksum":${Json.num(KernelTable.checksum)}}"""
    Files.write(Paths.get(opt("out")), result.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(opt("spans")), tracer.toJson.getBytes(StandardCharsets.UTF_8))
    println(s"${workload.name} seed=$seed trace=${if (traced) 1 else 0}: attempted=$attempted failed=$failed correct=$correct")
    errors.foreach(e => println(s"  error: $e"))
    sys.exit(0)
  }
}
