package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-package-private Column↔Expression converters — the
  * supported way for an extension library to expose custom Catalyst
  * expressions as Columns on Spark 4 (Column no longer carries `.expr`).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan — lets an optimizer rule
    * ANALYZE a Column-API expression against a plan's own attributes
    * (e.g. [[graft.plans.MvRewrite]] re-deriving the hash expression a
    * KMV view sketches, with matching exprIds via a LocalRelation over
    * the plan's output).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A child of `spark` that starts from a copy of its conf, temp views and
    * functions and shares its SparkContext and catalog; later conf changes
    * on either side stay on that side ([[graft.streaming.Replay]]'s scoped
    * overrides). `newSession()` would start from the defaults instead.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
