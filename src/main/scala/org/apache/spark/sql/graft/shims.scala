package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 made Column backend-agnostic and hid the
  * Expression constructor behind `private[sql]`; this shim lives in
  * the org.apache.spark.sql namespace solely to re-expose the two
  * conversions (the supported extension pattern for native
  * expressions without going through the string function registry).
  */
object shims {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) LogicalPlan — the standard
    * factory used by Spark extensions (Dataset#ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Milliseconds the ended execution's QueryPlanningTracker spent in
    * analysis, optimization and physical planning (0 when the event
    * carries no QueryExecution); the event's `qe` is private[sql]. */
  def planningMs(end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Long = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    Option(end.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(phases.get).map(_.durationMs).sum
    }.getOrElse(0L)
  }
}
