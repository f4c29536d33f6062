package perfbench

import java.nio.file.{Files, Paths}

/** Runs one pass of every workload so that a JVM started with
  * `-XX:ArchiveClassesAtExit` archives the classes the benchmark loads;
  * later runs map that archive instead of loading Spark class by class.
  *
  * Usage: perfbench.Train --work <dir> */
object Train {
  def main(args: Array[String]): Unit = {
    val workRoot = Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath
    Files.createDirectories(workRoot)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(cpus, workRoot)
    spark.sparkContext.setLogLevel("WARN")
    for (w <- Workloads.all) {
      val ctx = new Ctx(spark, new Tracer(false), 1L, cpus, workRoot)
      w.generate(ctx)
      w.check(ctx, w.pass(ctx))
    }
    spark.stop()
    sys.exit(0)
  }
}
