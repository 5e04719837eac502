package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` API: Column ⇄ Expression conversion
  * for registering custom Catalyst expressions from library code (the
  * conventional pattern for Spark-extension libraries — only these two
  * forwarders live inside the spark namespace).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
