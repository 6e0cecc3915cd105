package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported classic-API seam for registering custom Catalyst
  * expressions as Columns (Spark 4 Columns wrap ColumnNodes, not
  * Expressions, so plain construction is no longer possible) — and
  * into the `private[spark]` listener bus. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Waits until every listener event posted so far has been delivered. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
