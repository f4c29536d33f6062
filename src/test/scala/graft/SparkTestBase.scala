package graft

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
