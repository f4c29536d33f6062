package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Runs `f` with the session conf `key` set to `value`, then restores
    * the value it had (a key the session was built with, such as the
    * shuffle partitions, keeps its value for later suites). */
  def withConf[A](key: String, value: String)(f: => A): A = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `f`, returning its value and the number of jobs it started. */
  def jobsOf[A](f: => A): (A, Int) = {
    val (a, ids) = jobQueriesOf(f)
    (a, ids.size)
  }

  /** Runs `f`, returning its value and the number of SQL queries whose
    * jobs it started (an action's query counts once, however many jobs
    * its stages and incremental takes need; a plan built without running
    * counts zero). */
  def queriesOf[A](f: => A): (A, Int) = {
    val (a, ids) = jobQueriesOf(f)
    (a, ids.distinct.size)
  }

  /** `f`'s value and the SQL execution id of each job it started. */
  private def jobQueriesOf[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val ids = scala.collection.mutable.ArrayBuffer[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(
        ids += String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, l.synchronized(ids.toList))
    } finally sc.removeSparkListener(l)
  }
}

/** CSV vector loading (simple format: no quoted fields; values contain no
  * commas — asserted at generation time in tools/). */
object Vectors {
  case class Vec(kernel: String, a: String, b: String, expected: Double)

  def load(resource: String): Seq[Vec] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing test resource $resource")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines().drop(1).map { line =>
        val parts = line.split(",", -1)
        require(parts.length == 4, s"bad vector line: $line")
        Vec(parts(0), parts(1), parts(2), parts(3).toDouble)
      }.toList
    } finally src.close()
  }
}
