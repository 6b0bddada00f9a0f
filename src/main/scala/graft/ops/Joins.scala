package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-shaped kernels of the reference (SURVEY.md §2.5). */
object Joins {

  /** Feature alignment (scarf/mapping_utils.py:102-220): left-outer join of
    * source feature ids against target ids; misses get ordinal `-1`.
    * The target ordinal is a dense 0-based index in target-key order.
    * Target feature sets are bounded (|features| rows), so the ordinal
    * window and the join's build side are both small; Catalyst broadcasts.
    */
  def alignFeatures(source: DataFrame, sourceKey: String,
                    target: DataFrame, targetKey: String): DataFrame = {
    val ordinal = Windows.globalOrdinal(
        target.select(col(targetKey).as(sourceKey)).distinct(),
        Seq(col(sourceKey)), "_p")
      .withColumn("target_idx", (col("_p") - 1).cast("int")).drop("_p")
    source.join(broadcast(ordinal), Seq(sourceKey), "left")
      .withColumn("target_idx", coalesce(col("target_idx"), lit(-1)))
  }

  /** Interval-overlap join (scarf/meld_assay.py:223-298): pairs (a, b) with
    * `a.lo < b.hi AND a.hi > b.lo`. The right side is expected to be the
    * small interval set (bins/peak windows) → broadcast nested-loop with a
    * codegen'd predicate; for two large sides, pre-bucket both by
    * `floor(lo / binWidth)` and equi-join on the bucket first.
    */
  def overlapJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.join(broadcast(b), a("lo") < b("b_hi") && a("hi") > b("b_lo"))

  /** Skew-salted equi-join: the big (skewed) side gets a deterministic
    * position salt in [0, salts); the small side is replicated once per
    * salt; the join key becomes (key, salt) — a single hot key's rows now
    * spread across `salts` reducer partitions instead of one. Result set
    * is IDENTICAL to `big.join(small, key)` (every big row still meets
    * every matching small row, exactly once, because the small side
    * carries all salts). The manual form of what AQE's skew-join split
    * does at runtime — for when the skew is known ahead of time (a
    * boilerplate digest, a null-ish default key) or the join feeds an
    * operator AQE cannot split.
    *
    * The salt is the row's position — its partition-local index, phase-
    * offset by the partition id — not a content hash: fully identical
    * duplicate rows of a hot key then spread across all salts instead of
    * collapsing onto one, and unlike an aggregation a join has no
    * map-side pre-combine to absorb them. A position depends only on
    * (partition, row order), so the salt is stable under task retry
    * whenever the big side's per-partition order is (any file scan).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(monotonically_increasing_id() + spark_partition_id(), lit(salts)))
    val rep = small.crossJoin(
      broadcast(big.sparkSession.range(salts).select(col("id").as("_salt"))))
    saltedBig.join(rep, Seq(key, "_salt")).drop("_salt")
  }

  /** Union of two keyed sets with first-seen provenance
    * (scarf/merge.py:348-523): duplicate keys keep the lowest source tag —
    * a deterministic stand-in for the reference's first-seen order.
    */
  def unionDedup(ds1: DataFrame, ds2: DataFrame, key: String): DataFrame =
    ds1.withColumn("src", lit(1)).unionByName(ds2.withColumn("src", lit(2)))
      .groupBy(key).agg(min(col("src")).as("src"))

  /** Blacklist exclusion (scarf/assay.py:1023-1029): anti-join. */
  def exceptBlacklist(df: DataFrame, key: String, blacklist: DataFrame): DataFrame =
    df.join(broadcast(blacklist), Seq(key), "left_anti")
}
