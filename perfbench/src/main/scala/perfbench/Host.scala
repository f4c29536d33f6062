package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Readings of the host and of this JVM that explain noise. */
object Host {
  /** Aggregate (steal, total) jiffies from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = Files.readAllLines(f).asScala.find(_.startsWith("cpu ")).getOrElse("cpu")
      val v = cpu.split("\\s+").drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal guest guest_nice;
      // guest time is already inside user and nice
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else 100.0 * (to._1 - from._1) / total
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def jvmArgs: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("--add-opens"))

  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
