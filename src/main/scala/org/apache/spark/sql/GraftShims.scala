package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface: execute a LogicalPlan fragment
  * as a DataFrame (used by the UCT join-order rule to pull deterministic
  * per-leaf samples during optimization).
  */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst expression. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A copy of this thread's Spark local properties (execution id, job
    * group, scheduler pool, ...), for work this thread hands to another. */
  def localProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` under `props` (from [[localProperties]]) and restore this
    * thread's own properties afterwards. A pooled thread otherwise keeps the
    * properties it inherited from whichever thread created it, so its jobs
    * would be charged to a stale SQL execution. */
  def withLocalProperties[T](sc: org.apache.spark.SparkContext,
      props: java.util.Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }

  /** Decompose a possibly-`.desc`/`.asc_nulls_*` Column into
    * (bare key column, descending?, nullsFirst?). A plain column reads as
    * the Window.orderBy default: ascending, nulls first. Columns are
    * lazy ColumnNode wrappers in Spark 4, so the sort decoration must be
    * read off the node, not the (unconverted) catalyst expression. */
  def sortOrderParts(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: internal.SortOrder =>
      (Column(so.child),
        so.sortDirection == internal.SortOrder.Descending,
        so.nullOrdering == internal.SortOrder.NullsFirst)
    case _ => (c, false, true)
  }
}
