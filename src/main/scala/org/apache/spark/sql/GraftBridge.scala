package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into Spark's `private[sql]` API: the Column ↔
  * Expression converters, so graft's native Catalyst expressions (e.g.
  * `graft.functions.DotProduct`) can be exposed as user-facing Columns,
  * and the Dataset-from-plan factory and observed-metrics row behind
  * `graft.core.Lineage.reset`.
  * Standard extension-library pattern: nothing here but delegating calls.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The observed metrics in declaration order; blocks until reported. */
  def observedRow(o: Observation): Row = o.getRow

  /** A localCheckpointed frame as a new frame over the SAME checkpointed
    * RDD, with fresh attribute ids and the origin plan's statistics and
    * constraints dropped (size falls back to the engine default).
    */
  def withoutOriginStats(checkpointed: DataFrame): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          lr.newInstance().copy()(session, None, None))
    }
}
