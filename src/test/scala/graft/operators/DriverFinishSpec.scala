package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkFunSuite

/** The shared driver-finish policy: the checked conf lookup, the gate,
  * and comparators that sort as Spark SQL's ORDER BY does (checked
  * against Spark's own sort of the same values). */
class DriverFinishSpec extends SparkFunSuite {

  import spark.implicits._

  private val key = "cc.driverFinishEdges"

  test("driver finish cap: default, both spellings, 0 disables the gate") {
    assert(DriverFinish.cap(spark, key) == DriverFinish.DefaultCap)
    assert(withConf(s"graft.$key", "7")(DriverFinish.cap(spark, key)) == 7L)
    assert(withConf(s"spark.graft.$key", "9")(DriverFinish.cap(spark, key)) == 9L)
    assert(DriverFinish.fits(5L, 5L) && !DriverFinish.fits(5L, 6L))
    assert(!DriverFinish.fits(0L, sys.error("a disabled gate must not count")))
  }

  test("driver finish cap: a non-numeric value is rejected with its key") {
    val e = intercept[IllegalArgumentException](
      withConf(s"graft.$key", "lots")(DriverFinish.cap(spark, key)))
    assert(e.getMessage.contains(s"graft.$key") && e.getMessage.contains("lots"))
  }

  test("driver finish cap: a negative value is rejected with its key") {
    val e = intercept[IllegalArgumentException](
      withConf(s"spark.graft.$key", "-1")(DriverFinish.cap(spark, key)))
    assert(e.getMessage.contains(s"spark.graft.$key"))
  }

  test("driver finish order: strings, doubles and nulls sort as Spark SQL sorts") {
    // BMP letters, both sides of the surrogate block (U+D7FF, U+E000,
    // U+FF21, U+FFFF), astral code points (U+1F600, U+10000), prefixes
    val strs = Seq("a", "", "ab", "\uD7FF", "\uE000", "\uFF21", "\uFFFF",
      "\uD83D\uDE00", "\uD83D\uDE00a", "\uD800\uDC00", null)
    val sparkStrs = strs.toDF("v").orderBy($"v").collect().map(_.getString(0))
    val strOrd = DriverFinish.ordering(StringType).get
    assert(strs.sorted(strOrd) == sparkStrs.toSeq)
    // by UTF-16 unit the astral code point would sort below U+FF21
    assert(strOrd.lt("\uFF21", "\uD83D\uDE00"))

    val doubles = Seq(0.0, -0.0, Double.NaN, Double.NegativeInfinity, 1.5,
      Double.PositiveInfinity, -2.0)
    val dblOrd = DriverFinish.ordering(DoubleType).get
    assert(dblOrd.compare(-0.0, 0.0) == 0)
    assert(dblOrd.compare(Double.NaN, Double.PositiveInfinity) > 0)
    // -0.0 and 0.0 tie, so compare with the sign of zero dropped
    def unsigned(ds: Seq[Any]) = ds.map(d => (d.asInstanceOf[Double] + 0.0).toString)
    val sparkDoubles = doubles.toDF("v").orderBy($"v").collect().map(_.getDouble(0))
    assert(unsigned(doubles.sorted(dblOrd)) == unsigned(sparkDoubles.toSeq))

    assert(DriverFinish.ordering(BinaryType).isEmpty)
  }

  test("driver finish order: booleans, dates, timestamps, decimals and structs sort as Spark SQL's orderBy") {
    def sortsAsSql(dt: DataType, vals: Any*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(vals.map(Row(_)), 3),
        new StructType().add("v", dt))
      val sql = df.orderBy(col("v")).collect().map(_.get(0)).toSeq
      val ord = DriverFinish.ordering(dt)
      assert(ord.isDefined, dt)
      assert(df.collect().map(_.get(0)).toSeq.sorted(ord.get) == sql, dt)
    }
    sortsAsSql(BooleanType, true, null, false, true)
    sortsAsSql(DateType, java.sql.Date.valueOf("2020-01-02"), null,
      java.sql.Date.valueOf("1969-12-31"), java.sql.Date.valueOf("1900-03-01"))
    sortsAsSql(TimestampType,
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000002"),
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000001"), null,
      java.sql.Timestamp.valueOf("1960-06-30 12:00:00"))
    sortsAsSql(TimestampNTZType,
      java.time.LocalDateTime.parse("2020-01-01T00:00:00.000002"), null,
      java.time.LocalDateTime.parse("1960-06-30T12:00:00"))
    sortsAsSql(DecimalType(10, 2), new java.math.BigDecimal("2.25"), null,
      new java.math.BigDecimal("-0.01"), new java.math.BigDecimal("-1.50"),
      new java.math.BigDecimal("0.00"))
    // fields in order, each nulls first; a null struct before them all
    sortsAsSql(new StructType().add("a", LongType).add("b", StringType),
      Row(1L, "b"), Row(null, "a"), Row(1L, null), Row(0L, "\uFFFF"),
      Row(0L, "\uD83D\uDE00"), null, Row(null, null))
    assert(DriverFinish.ordering(
      new StructType().add("a", LongType).add("b", BinaryType)).isEmpty)
  }

  test("driver finish row order: directions, tie-breaks, unsupported keys") {
    val schema = new StructType().add("s", DoubleType).add("id", StringType)
    import DriverFinish.{Asc, Desc}
    val ord = DriverFinish.rowOrdering(schema, "s" -> Desc, "id" -> Asc).get
    val rows = Seq(Row(0.0, "b"), Row(-0.0, "a"), Row(1.0, "z"), Row(null, "c"))
    assert(rows.sorted(ord).map(_.getString(1)) == Seq("z", "a", "b", "c"))
    assert(DriverFinish.rowOrdering(
      schema.add("d", BinaryType), "s" -> Desc, "d" -> Asc).isEmpty)
  }

  test("driver finish equality: binary ids give the same output at cap 0 and the default cap") {
    // binary ids are arrays on the JVM, equal only by reference: a replay
    // that hashes them must stay on the distributed rounds
    // (BlockingSelectionSpec pins the blocking-selection replay)
    def bin(df: DataFrame, cs: String*) = cs.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast("string").cast("binary")))
    val edges = bin(Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (1L, 3L, 0.7),
        (3L, 4L, 0.6), (4L, 5L, 0.5), (5L, 6L, 0.95), (4L, 6L, 0.4))
      .toDF("url_a", "url_b", "sim"), "url_a", "url_b")
    val asg = bin((1L to 6L).map(i => (i, 1L)).toDF("id", "cluster_id"), "id")
    def rows(df: => DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => v
    }).toSet
    def same(key: String)(df: => DataFrame) = {
      val dflt = rows(df)
      assert(dflt.nonEmpty && dflt == withConf(s"graft.$key", "0")(rows(df)), key)
      dflt
    }
    same("centers.driverFinishEdges")(
      CenterClustering.centers(edges, "url_a", "url_b", "sim"))
    val cores = same("core.driverFinishEdges")(GraphMetrics.coreNumbers(asg, edges))
    assert(cores.map(_(2)) == Set(2L))
    val truss = same("truss.driverFinishEdges")(GraphMetrics.trussEdges(asg, edges, 3))
    assert(truss.size == 6) // the two triangles 1-2-3 and 4-5-6
  }
}
