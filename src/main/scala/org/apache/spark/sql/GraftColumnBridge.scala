package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for graft's custom Catalyst
  * expressions. `classic.ExpressionUtils` is `private[sql]`, so this
  * one-file shim lives in the spark.sql package — the standard pattern
  * for libraries that ship native expressions (no Spark internals are
  * modified). The listener bus is `private[spark]` and reachable from
  * here too; the measurement tools read settled job counts through it.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
