package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals, the standard
  * technique for Spark extension libraries that expose custom Catalyst
  * expressions as `Column`s (Spark 4.x `Column` wraps a ColumnNode; the
  * Expression↔Column conversions live in
  * `org.apache.spark.sql.classic.ExpressionUtils`). This is the ONLY file
  * that reaches into the sql package namespace; everything else is public
  * API. The public-API alternative (`SparkSessionExtensions.injectFunction`)
  * is also provided — see [[graft.GraftExtensions]].
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an already-built session. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Spark's own error for a SQL function called with an argument count
    * outside `counts`. */
  def wrongNumArgs(name: String, counts: Seq[Int], actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.wrongNumArgsError(name, counts, actual)
}
