package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round helper bench (guide §1.4): times a NAMED SUBSET of
  * SparkEntry.queries with the same methodology as [[Bench]] (same session
  * config, same `.count()` action, same sf dir), so per-query deltas can be
  * measured in minutes instead of re-running the full 210-query battery.
  * Optionally dumps `.explain("formatted")` per query to a directory.
  *
  * This is ADDITIVE tooling — [[Bench]] is the frozen driver contract and
  * is not touched.
  *
  * Usage:
  *   runMain graft.BenchExtra q_weakest_links q_truss ...
  *   runMain graft.BenchExtra --explain-dir plans/r06 --suffix _before q_truss
  *   runMain graft.BenchExtra --repeat 6 q_truss
  *
  * Timing discards JIT warm-up: a query is re-run until two consecutive
  * samples agree within 10% (at most `--repeat` runs), and the median and
  * IQR of the samples from that agreeing pair on are reported; the median
  * is the value in the JSON `queries` map. A query that never settles
  * reports its last sample, marked `unsettled`.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    var explainDir: Option[String] = None
    var suffix = ""
    var repeat = 1
    val confs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--explain-dir" => explainDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case "--repeat" => repeat = args(i + 1).toInt; i += 2
        case "--conf" => // k=v, set on the session after start
          val Array(k, v) = args(i + 1).split("=", 2); confs += ((k, v)); i += 2
        case "--plan-only" => repeat = 0; i += 1 // dump explains, skip timing
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }

    val qs = SparkEntry.queries
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    for (name <- names) {
      val fn = qs.getOrElse(name, sys.error(s"unknown query: $name"))
      explainDir.foreach { d =>
        new java.io.File(d).mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$d/$name$suffix.txt")
        try w.write(plan) finally w.close()
      }
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (times.length < repeat && settledAt(times).isEmpty) {
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        times += (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      val settled = settledAt(times)
      val kept = times.drop(settled.getOrElse(times.length - 1)).toSeq
      results(name) = kept
      val stats = if (kept.isEmpty) "" else f"  median ${quantile(kept, 0.5)}%.2f IQR " +
        f"${quantile(kept, 0.75) - quantile(kept, 0.25)}%.2f over ${kept.length}" +
        (if (settled.isEmpty) " unsettled" else "")
      println(f"TIMED $name%-34s ${times.map(t => f"$t%.2f").mkString(" ")}$stats")
    }
    val js = results.collect { case (k, v) if v.nonEmpty =>
      "\"" + k + "\":" + quantile(v, 0.5) }.mkString("{", ",", "}")
    println(s"""{"metric":"subset","unit":"sec","queries":$js,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }

  /** Index of the first of the first two consecutive samples within 10% of
    * each other: the samples before it are warm-up. */
  private def settledAt(times: collection.Seq[Double]): Option[Int] =
    (1 until times.length).find(i =>
      math.abs(times(i) - times(i - 1)) <= 0.1 * math.max(times(i), times(i - 1)))
      .map(_ - 1)

  /** Linear-interpolation quantile of a non-empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    s(lo) + (s(math.min(lo + 1, s.length - 1)) - s(lo)) * (pos - lo)
  }
}
