package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 hides these conversions
  * behind private[sql] (the Connect refactor split Column from catalyst), so
  * libraries shipping native expressions use a package-located shim — the
  * standard pattern for Catalyst extensions.
  */
object ColumnBridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst's bounded-heap collect aggregate (the engine behind
    * pandas-on-Spark `nlargest`) — private[sql], surfaced for graft's
    * per-group top-k. `reverse = true` keeps the k SMALLEST of the child's
    * type ordering and emits them ascending.
    */
  def collectTopK(child: Column, k: Int, reverse: Boolean): Column =
    column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopK
        .collectTopK(expression(child), k, reverse))

  /** (child, isDescending, nullsLast) when `c` wraps a sort-order node
    * (col.desc / asc_nulls_last / ...). Spark 4's Column wraps a lazy
    * ColumnNode, so SortOrder detection must match the node, not the
    * (unconverted) catalyst expression.
    */
  def sortOrder(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder =>
      import org.apache.spark.sql.internal.{SortOrder => SO}
      Some((
        new Column(so.child),
        so.sortDirection == SO.Descending,
        so.nullOrdering == SO.NullsLast))
    case _ => None
  }
}
