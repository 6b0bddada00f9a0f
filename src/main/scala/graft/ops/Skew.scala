package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4, "salting for skew"). A
  * heavy-hitter grouping key concentrates one reducer; two-phase salted
  * aggregation spreads it: phase 1 aggregates on (key, salt) — uniform
  * fan-out — phase 2 combines the `nSalts` partials per key. Correct for
  * any commutative re-aggregable statistic (sum/count/min/max, and
  * mean/variance via moments).
  *
  * AQE's skew-join splitting covers joins at runtime; salting is the
  * static pattern for aggregations and for engines without AQE. The
  * salted join is [[Joins.saltedJoin]].
  */
object Skew {

  /** Salted sum+count: exactly `df.groupBy(key).agg(sum, count)` but with
    * the shuffle spread over `nSalts` sub-keys.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     nSalts: Int): DataFrame =
    // Salt must be deterministic under task retry: derive it from row
    // content (all columns), never monotonically_increasing_id(), which can
    // differ on recompute and double-count / drop rows post-shuffle.
    // Fully-IDENTICAL duplicate rows all take one salt, but that does not
    // re-concentrate the reducer: identical (key, salt) rows pre-combine
    // MAP-SIDE in the phase-1 hash aggregation, so the shuffle carries at
    // most one partial row per input partition for them.
    df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(nSalts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_s"), count(lit(1)).as("_n"))
      .groupBy(col(key))
      .agg(sum(col("_s")).as("sum_value"), sum(col("_n")).as("n"))
}
