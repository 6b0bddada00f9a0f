package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
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
    * RDD, with fresh attribute ids, the origin plan's constraints dropped
    * and its statistics replaced by the measured row count: `rowCount =
    * rows` and Spark's own size formula for it (rows × the output's
    * per-row width, 1 byte when empty) plus `extraBytes`.
    */
  def withMeasuredRows(checkpointed: DataFrame, rows: Long,
                       extraBytes: BigInt): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        val fresh = lr.newInstance()
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getOutputSize(fresh.output, BigInt(rows))
            + extraBytes,
          rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(session, fresh.copy()(session, Some(stats), None))
    }
}
