package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ⇄ Expression conversions
  * (Spark 4 removed the public `new Column(expr)` constructor) and for the
  * `private[spark]` listener-bus drain. This is the only place the engine
  * reaches into Spark's package-private surface; all custom expressions go
  * through here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far reached its listeners. */
  def drainListeners(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
