package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import DriverFinish.{Desc, Direction}

/** The one materialization policy. A frame read by several consumers (a
  * sizing aggregate and its join-back, both sides of a self-join, a fit
  * and its scoring pass, two actions) is computed once; an iterative
  * round's state is cut from the lineage of the rounds before it. Every
  * operator and query materializes through one of two entry points, with
  * no option to pick:
  *
  *  - [[shared]]: a local checkpoint, lazy only in its final stage. The
  *    call plans the frame and already runs its broadcasts and, under
  *    AQE, its shuffle-map stages: `localCheckpoint(eager = false)`
  *    executes the physical plan when it builds the checkpoint RDD.
  *    SetSimJoinSpec's query count shows it: the probes' checkpoint in
  *    `prefixContainmentPairs` is one SQL execution of its own, run before
  *    any consumer (3 jobs under AQE, 1 with AQE off). The first
  *    consumer's job computes and stores the final stage's blocks; every
  *    later consumer, concurrent AQE stages included, reads them. ROADMAP
  *    direction 8 is the plan to make every stage lazy. A frame that
  *    already is a checkpoint (a `LogicalRDD` plan) comes back unchanged,
  *    so a caller's materialization is never copied a second time.
  *  - [[round]]: for round state a loop joins back to itself every round.
  *    One count materializes the frame and sizes it; it is then rebuilt
  *    from the stored blocks, which drops the size estimate of the plan
  *    it came from. A bare checkpoint carries that estimate into its
  *    `LogicalRDD`, and a loop that joins the previous round's checkpoint
  *    to itself compounds it round over round until planning the
  *    statistics alone costs minutes of driver CPU.
  *
  * Both keep their blocks on the executors, not on reliable storage;
  * [[ConnectedComponents]] keeps its own `checkpointDir` mode for
  * executor loss. Each call site says in one line why its frame has
  * several consumers. [[runningSums]], the one distributed prefix sum,
  * rebuilds its frame from one RDD as [[round]] does. */
private[graft] object Frames {

  /** `df` computed at most once for all of its consumers. */
  def shared(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case _: LogicalRDD => df
    case _ => df.localCheckpoint(eager = false)
  }

  /** `df` materialized and counted by one count action, rebuilt with
    * default plan statistics. */
  def round(df: DataFrame): (DataFrame, Long) = {
    val ck = df.localCheckpoint(eager = false)
    val n = ck.count()
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), n)
  }

  /** Inclusive running sums of `df` in the global `order` (column names
    * with their direction; nulls order as in ORDER BY): each
    * `(name, weight)` of `sums` becomes a long column `name`, the sum of
    * `weight` over this row and every row before it. Returns the frame
    * and each sum's total.
    *
    * `df` is range partitioned on `order` into `partitions` parts (0: the
    * session's shuffle partitions), sorted within each, and its RDD taken
    * once. One job collects each partition's sums (P rows); a second pass
    * over the same RDD adds each partition's offset to its local running
    * sums. Both read one shuffle whose bounds were sampled once, so the
    * sums do not depend on AQE, exchange reuse, caching or the partition
    * count, and every consumer of the frame reads the same rows.
    *
    * Preconditions: `order` is unique per row — the first job rejects two
    * adjacent equal keys (equal keys share a range partition), compared
    * as [[DriverFinish.rowOrdering]]; a key type without such an ordering
    * goes unchecked. A null weight or a sum past the long range fails the
    * job, as an ANSI `sum` does. */
  private[operators] def runningSums(df: DataFrame,
      order: Seq[(String, Direction)], sums: Seq[(String, Column)],
      partitions: Int = 0): (DataFrame, Seq[Long]) = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val keys = order.map { case (c, d) => if (d == Desc) col(c).desc else col(c).asc }
    val sorted = df.select(col("*") +: sums.map { case (n, w) => w.cast("long").as(n) }: _*)
      .repartitionByRange(p, keys: _*).sortWithinPartitions(keys: _*)
    val schema = sorted.schema
    val idx = sums.map { case (n, _) => schema.fieldIndex(n) }.toArray
    val same = DriverFinish.rowOrdering(schema, order: _*)
    val unique = s"order key (${order.map(_._1).mkString(", ")}) must be unique per row"
    val rows = sorted.rdd
    val partSums = rows.mapPartitions { it =>
      val s = new Array[Long](idx.length)
      var prev: Row = null
      it.foreach { r =>
        same.foreach(o => require(prev == null || o.compare(prev, r) != 0, unique))
        prev = r
        idx.indices.foreach(k => s(k) = Math.addExact(s(k), r.getLong(idx(k))))
      }
      Iterator.single(s)
    }.collect()
    val offsets = partSums.scanLeft(new Array[Long](idx.length))((a, b) =>
      a.zip(b).map { case (x, y) => Math.addExact(x, y) })
    val out = rows.mapPartitionsWithIndex { (i, it) =>
      val acc = offsets(i).clone()
      it.map { r =>
        val v = r.toSeq.toArray
        idx.indices.foreach { k =>
          acc(k) = Math.addExact(acc(k), r.getLong(idx(k)))
          v(idx(k)) = acc(k)
        }
        Row.fromSeq(v.toSeq)
      }
    }
    (spark.createDataFrame(out, schema), offsets.last.toSeq)
  }
}
