package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The materialization policy: a shared frame is evaluated once for all
  * of its consumers, an existing checkpoint is not copied, a round is
  * materialized and counted by one job with a plan estimate that does not
  * compound across rounds, and no code outside [[Frames]] materializes on
  * its own. */
class FramesSpec extends SparkFunSuite {

  /** `n` rows (id, key) whose every evaluation ticks the returned
    * accumulator once per row, whichever of the two columns is read. */
  private def counted(n: Long) = {
    val acc = spark.sparkContext.longAccumulator
    val tick = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
    val df = spark.range(0L, n, 1L, 8).select(tick(col("id")).as("id"))
      .select(col("id"), (col("id") % 1000L).as("key"))
    (df, acc)
  }

  test("shared: a sizing aggregate, its join-back and a second action evaluate the upstream once") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val n = 200000L
    val (up, acc) = counted(n)
    val s = Frames.shared(up)
    val joined = s.join(Tiers.sizes(s, Seq("key")), "key").count()
    val again = s.count()
    assert(joined == n && again == n)
    assert(acc.value == n)

    // the same consumers over the plain frame evaluate it per consumer
    val (plain, plainAcc) = counted(n)
    plain.join(Tiers.sizes(plain, Seq("key")), "key").count()
    assert(plainAcc.value > n)
  }

  test("shared: an already-checkpointed input comes back with the same plan") {
    val (up, _) = counted(100L)
    val s = Frames.shared(up)
    assert(s.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(Frames.shared(s).queryExecution.logical eq s.queryExecution.logical)
    val own = up.localCheckpoint(eager = false)
    assert(Frames.shared(own).queryExecution.logical eq own.queryExecution.logical)
  }

  test("round: one job materializes and counts, and the plan estimate does not grow over 10 rounds") {
    val (up, acc) = counted(1000L)
    val ((r, n), jobs) = jobsOf(Frames.round(up))
    assert(n == 1000L && acc.value == 1000L)
    // the same jobs as counting the materialized frame: no eager job
    val (again, countJobs) = jobsOf(r.count())
    assert(again == 1000L && acc.value == 1000L && jobs == countJobs)
    val (_, plainJobs) = withConf("spark.sql.adaptive.enabled", "false") {
      jobsOf(Frames.round(counted(10L)._1))
    }
    assert(plainJobs == 1)

    // the centers loop: alive edges annotated by two joins with the
    // assignment, the assignment grown by a union, both round state
    def rounds(mat: DataFrame => DataFrame): Seq[BigInt] = {
      val edges = spark.range(0L, 200L)
        .select(col("id").as("la"), (col("id") + 1L).as("lb"),
          (col("id") % 7L).cast("double").as("s"))
      var alive = mat(edges)
      var asg = mat(edges.limit(0).select(col("la").as("id"),
        col("lb").as("center_id")))
      (1 to 10).map { i =>
        val st = alive
          .join(asg.select(col("id").as("la"), col("center_id").as("ca")),
            Seq("la"), "left")
          .join(asg.select(col("id").as("lb"), col("center_id").as("cb")),
            Seq("lb"), "left")
        val size = st.queryExecution.optimizedPlan.stats.sizeInBytes
        alive = mat(st.where(col("la") % 10L =!= i).select("la", "lb", "s"))
        asg = mat(asg.union(alive.where(col("la") % 10L === i)
          .select(col("la").as("id"), col("la").as("center_id"))))
        size
      }
    }
    val viaRound = rounds(df => Frames.round(df)._1)
    assert(viaRound.forall(_ == viaRound.head))
    // a bare checkpoint keeps the estimate it came from, which compounds
    val viaShared = rounds(Frames.shared)
    assert(viaShared.sliding(2).forall { case Seq(a, b) => b > a })
    assert(viaShared.last > viaRound.head)
  }

  /** (file name, path:line) of each line of the Scala sources under
    * `root` that `re` finds. */
  private def scan(root: String, re: Regex): List[(String, String)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined =>
            (p.getFileName.toString, s"$p:${i + 1}")
        }
      }

  test("no materialization outside Frames in the main sources") {
    val hits = scan("src/main/scala",
      raw"\.localCheckpoint\(|\.cache\(\)|\.persist\(".r)
    assert(hits.exists(_._1 == "Frames.scala"))
    val outside = hits.filterNot(h => Set("Frames.scala", "Bench.scala")(h._1))
    assert(outside.isEmpty,
      outside.map(_._2).mkString("materialized outside Frames: ", ", ", ""))

    // a prefix sum keyed by spark_partition_id() reads one range exchange
    // per consumer; the operators use Frames.runningSums instead
    val pid = scan("src/main/scala/graft/operators", raw"spark_partition_id\(".r)
    assert(pid.isEmpty,
      pid.map(_._2).mkString("spark_partition_id in operators: ", ", ", ""))
  }

  test("runningSums: inclusive sums in the global order, totals, and a loud overflow") {
    import spark.implicits._
    val df = spark.range(0L, 1000L, 1L, 8)
      .select(col("id"), (col("id") % 3L).as("w"))
    val (out, totals) = Frames.runningSums(df,
      Seq("id" -> DriverFinish.Desc), Seq("one" -> lit(1L), "cw" -> col("w")),
      partitions = 5)
    val got = out.select("id", "w", "one", "cw").as[(Long, Long, Long, Long)]
      .collect().sortBy(-_._1).toSeq
    val ids = (999L to 0L by -1L)
    val cw = ids.map(_ % 3L).scanLeft(0L)(_ + _).tail
    assert(got == ids.indices.map(i => (ids(i), ids(i) % 3L, i + 1L, cw(i))))
    assert(totals == Seq(1000L, cw.last))

    val big = Seq((1L, Long.MaxValue), (2L, 1L)).toDF("id", "w")
    val e = intercept[Exception] {
      Frames.runningSums(big, Seq("id" -> DriverFinish.Asc),
        Seq("s" -> col("w")), partitions = 1)
    }
    assert(e.getMessage.contains("long overflow"))
  }
}
