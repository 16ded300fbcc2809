package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Same-package accessors for Spark internals: the Column ⇄
  * catalyst-Expression bridge for custom expressions (Spark 4 made
  * `Column.expr`/`new Column(expr)` private behind
  * `classic.ExpressionUtils`, which is `private[sql]` — the standard
  * extension-point idiom is a same-package accessor), and the listener
  * bus drain. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener has seen every event posted so far: the
    * task and stage events of the jobs that have returned. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
