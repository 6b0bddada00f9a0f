package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row}

/** The one owner of iteration state for loop-shaped jobs (clustering,
  * diffusion, PageRank-style scores, layouts):
  *
  * `Dataset.localCheckpoint` truncates the lineage but PRESERVES the
  * plan's estimated `sizeInBytes`. An iterative plan that references its
  * previous state twice (carry + push) therefore doubles that BigInt's
  * bit-length every round — after ~20 rounds Catalyst's stats visitor
  * spends minutes multiplying million-bit integers even though the data
  * is tiny. [[reset]] rewraps the checkpoint's own RDD without those
  * stats, making per-iteration planning O(1), and [[release]] frees its
  * blocks. [[iterate]] is the loop built from the two.
  */
object Lineage {
  /** Materialize `df` and drop its size estimate. */
  def reset(df: DataFrame): DataFrame =
    GraftBridge.withoutOriginStats(df.localCheckpoint())

  /** [[reset]] plus the aggregate `metrics` observed on the materializing
    * pass itself (`Dataset.observe`), so reading them costs no second
    * job. With no metrics the row is empty.
    */
  def reset(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    if (metrics.isEmpty) (reset(df), Row.empty)
    else {
      val obs = Observation()
      val out = reset(df.observe(obs, metrics.head, metrics.tail: _*))
      (out, GraftBridge.observedRow(obs))
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
