package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization policy. A frame read by several consumers (a
  * sizing aggregate and its join-back, both sides of a self-join, a fit
  * and its scoring pass, two actions) is computed once; an iterative
  * round's state is cut from the lineage of the rounds before it. Every
  * operator and query materializes through one of two entry points, with
  * no option to pick:
  *
  *  - [[shared]]: a lazy local checkpoint. The first consumer's job
  *    computes and stores the blocks; every later consumer, concurrent
  *    AQE stages included, reads them. A frame that already is a
  *    checkpoint (a `LogicalRDD` plan) comes back unchanged, so a caller's
  *    materialization is never copied a second time.
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
  * several consumers. */
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
}
