package graft.operators

import org.apache.spark.sql.SparkSession

/** The row cap under which an iterative operator collects its remaining
  * frontier and finishes on the driver instead of running further
  * distributed rounds. Read from `graft.<key>` or `spark.graft.<key>`;
  * default 1M rows; 0 disables the driver finish. */
private[operators] object DriverFinish {
  def cap(spark: SparkSession, key: String): Long =
    spark.conf.getOption(s"graft.$key")
      .orElse(spark.conf.getOption(s"spark.graft.$key"))
      .map(_.toLong).getOrElse(1000000L)
}
