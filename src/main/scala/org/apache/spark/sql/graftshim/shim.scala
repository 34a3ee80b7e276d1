package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal

/** Bridge between public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 made `Column` a thin wrapper over `ColumnNode`; the classic
  * converter lives in `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]` — this shim lives under `org.apache.spark.sql`
  * so graft's custom expressions (graft.fingerprint.*) can be exposed as
  * ordinary `Column`s.
  */
object shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort-order column (`col.desc`, `col.asc_nulls_last`, …) as (key,
    * descending, nulls last); None for a plain column.
    */
  def sortOrder(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case internal.SortOrder(child, direction, nulls, _) =>
      Some((new Column(child), direction == internal.SortOrder.Descending,
        nulls == internal.SortOrder.NullsLast))
    case _ => None
  }

  /** Drain the listener bus (private[spark]) — lets metric listeners read
    * their accumulated maxima deterministically after a job completes.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
