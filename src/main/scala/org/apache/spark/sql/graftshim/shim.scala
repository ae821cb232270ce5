package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Spark 4 moved classic Column<->Expression bridging behind
 * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils). This tiny
 * shim lives inside the `org.apache.spark.sql` package namespace so library
 * code can build Columns from custom Catalyst Expressions.
 */
object shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every listener-bus event posted so far has reached every
    * listener (`listenerBus` is private[spark]); throws a
    * TimeoutException after `timeoutMs`. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Register a function into an EXISTING session's registry (the
    * `spark.sql.extensions` path only applies at session construction;
    * `sessionState` is private[sql], hence here). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
