package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task totals of one job group (one phase of a pass). */
final class PhaseTotals {
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def taskP50s: Double = Stats.median(taskMs.map(_.toDouble).toSeq) / 1e3
  def taskMaxs: Double = if (taskMs.isEmpty) 0.0 else taskMs.max / 1e3
  /** Bytes this phase put on local disk: shuffle files and spills. */
  def diskBytes: Long = shuffleWriteBytes + spillBytes
}

/** Sums task metrics per job group. Jobs outside any group count under "". */
final class PhaseListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val totals = mutable.LinkedHashMap.empty[String, PhaseTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new PhaseTotals)
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.taskMs += e.taskInfo.duration
    }
  }

  /** Returns the totals since the last call and starts new ones; waits for
    * the listener bus first so every finished task is counted. */
  def take(sc: SparkContext): Map[String, PhaseTotals] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = totals.toMap
      totals.clear()
      out
    }
  }
}
