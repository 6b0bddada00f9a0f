package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{coalesce, count, lit, size, sum, when}
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The one owner of iteration state for loop-shaped jobs (clustering,
  * diffusion, PageRank-style scores, layouts):
  *
  * `Dataset.localCheckpoint` truncates the lineage but PRESERVES the
  * plan's estimated `sizeInBytes`. An iterative plan that references its
  * previous state twice (carry + push) therefore doubles that BigInt's
  * bit-length every round — after ~20 rounds Catalyst's stats visitor
  * spends minutes multiplying million-bit integers even though the data
  * is tiny. [[reset]] rewraps the checkpoint's own RDD with its MEASURED
  * size instead — the row count observed on the materializing pass, so
  * per-iteration planning is O(1) and a small state is planned as the
  * broadcast side of its joins (Pregelix: pick each iteration's join
  * from the state's actual size) — and [[release]] frees its blocks.
  * [[iterate]] is the loop built from the two.
  */
object Lineage {
  /** Materialize `df` as a frame that carries its measured size. */
  def reset(df: DataFrame): DataFrame = reset(df, Nil: _*)._1

  /** Materialize `df` and observe, on that one pass (`Dataset.observe`,
    * no second job), its row count, the element count of each top-level
    * array column (a null array counts 0) and the aggregate `metrics`.
    * The new frame's statistics are the measured ones: `rowCount` and
    * Spark's size formula for it (rows × per-row width, 1 byte when
    * empty), plus the array elements that formula leaves out — it
    * counts one element per array value, so a 50-double embedding
    * column would read 1/50 of its size. The returned row holds
    * `metrics` only, in order; with none it is empty.
    */
  def reset(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    // by attribute, not name: a frame may repeat a column name
    val arrays = df.queryExecution.analyzed.output.flatMap(a => a.dataType match {
      case ArrayType(elem, _) => Some((GraftBridge.column(a), elem.defaultSize))
      case _ => None
    })
    val elements = arrays.zipWithIndex.map { case ((c, _), i) =>
      coalesce(sum(when(c.isNull, 0L).otherwise(size(c))), lit(0L))
        .as(s"__lineage_elems$i")
    }
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("__lineage_rows"),
        elements ++ metrics: _*)
      .localCheckpoint()
    val all = GraftBridge.observedRow(obs)
    val rows = all.getLong(0)
    val extraBytes = arrays.zipWithIndex.map { case ((_, width), i) =>
      BigInt(all.getLong(i + 1) - rows) * width
    }.sum
    val skip = 1 + arrays.size
    val mine = new GenericRowWithSchema(all.toSeq.drop(skip).toArray,
      StructType(all.schema.fields.drop(skip)))
    (GraftBridge.withMeasuredRows(cp, rows, extraBytes), mine)
  }

  /** Free a checkpointed frame's blocks NOW. `Dataset.unpersist()` routes
    * through the CacheManager and is a no-op for checkpointed frames
    * (their persistence is RDD-level), so the plan's RDD leaves are
    * unpersisted directly; the CacheManager call covers plain cached
    * frames. Only call it on frames nothing will read again: a released
    * checkpoint cannot be recomputed.
    */
  def release(df: DataFrame): Unit = {
    val leaves = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (leaves.nonEmpty) leaves.foreach(_.unpersist(false))
    else df.unpersist()
  }

  /** Run `step(state, i)` for i = 0 until `maxIter`, resetting `init` and
    * every new state with `metrics` observed on it, and releasing each
    * state once its successor exists. After each step
    * `stop(previousMetrics, newMetrics)` may end the loop. Returns the
    * last state and whether `stop` fired. Since `init` is reset here,
    * only frames this loop created are ever released — never the
    * caller's.
    */
  def iterate(init: DataFrame, maxIter: Int, metrics: Column*)
             (step: (DataFrame, Int) => DataFrame)
             (stop: (Row, Row) => Boolean): (DataFrame, Boolean) = {
    var (cur, m) = reset(init, metrics: _*)
    var i = 0
    var stopped = false
    while (!stopped && i < maxIter) {
      val (next, m2) = reset(step(cur, i), metrics: _*)
      release(cur)
      stopped = stop(m, m2)
      cur = next
      m = m2
      i += 1
    }
    (cur, stopped)
  }
}
