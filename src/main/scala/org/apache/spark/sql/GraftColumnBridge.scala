package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed bridge exposing Spark's private[sql] Column↔Expression
  * converters to graft's native expressions (graft.expressions.*). The
  * alternative — registering every function in every session — would
  * make library Columns unusable in sessions the caller configures
  * without GraftExtensions. Kept to two one-line delegations; the only
  * other spot in Spark's package namespace is `GraftListenerBus`.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
