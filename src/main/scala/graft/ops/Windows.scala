package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / ranking / ordering kernels (SURVEY.md §2.6). All partition by a
  * group key → one hash shuffle, per-partition sort, no global sort.
  */
object Windows {

  /** The one per-group top-k (scarf/knn_utils.py:213-235,
    * scarf/assay.py:1049-1053): the first `k` rows of each `groups`
    * group in `order`, with their 1-based position appended as the int
    * column `rn`. An empty `groups` is one global top-k. `order` must be
    * total (end it with an id column) so the cut is deterministic across
    * engines.
    *
    * No salting is needed to bound a hot group's task: for a literal
    * `k` up to `spark.sql.optimizer.windowGroupLimitThreshold` (1000)
    * Spark plans a Partial `WindowGroupLimit` below the Exchange, so each
    * map partition ships at most `k` rows per group, and it plans the
    * global case as `TakeOrderedAndProject`. Above 1000 no pre-cut is
    * planned and every row of a group reaches one task.
    * KernelEquivalenceSpec asserts both plan shapes.
    */
  def topKPerGroup(df: DataFrame, groups: Seq[String], k: Int,
                   order: Seq[Column]): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(groups.map(col): _*).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** Dense + average rank of `valueCol` within each group
    * (scarf/markers.py:137-139; pandas rank method='dense'/'average').
    * Average rank of a tie group = rank() + (tieCount − 1) / 2.
    */
  def ranks(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol))
    val tie = Window.partitionBy(groupCol, valueCol)
    df.withColumn("drank", dense_rank().over(w))
      .withColumn("arank",
        rank().over(w) + (count(lit(1)).over(tie) - lit(1)) / lit(2.0))
  }

  /** Centered rolling mean over an ordering within each group
    * (scarf/utils.py:234-252 rolling_window; scarf/assay.py:577-696).
    */
  def rollingMean(df: DataFrame, groupCol: String, order: Seq[Column],
                  valueCol: String, halfWidth: Int): DataFrame =
    df.withColumn("rolling_mean",
      avg(col(valueCol)).over(Window.partitionBy(groupCol).orderBy(order: _*)
        .rowsBetween(-halfWidth, halfWidth)))

  /** ntile binning + per-bin aggregation (save_aggregated_ordering,
    * scarf/assay.py:648-696): order rows, split into `n` equal chunks,
    * aggregate each.
    */
  def ntileBinAgg(df: DataFrame, order: Seq[Column], n: Int,
                  valueCol: String): DataFrame =
    ntileBin(df, order, n)
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        avg(col(valueCol)).as("bin_mean"))
      .orderBy("bin")

  /** NTILE(n) over a global ordering WITHOUT the single-partition window:
    * globalOrdinal rank + the closed-form ntile bucket. With c rows and
    * q = c div n, m = c mod n, the first m buckets hold q+1 rows:
    * bucket(r) = (r-1) div (q+1) + 1 while r <= m(q+1), else
    * m + (r - m(q+1) - 1) div q + 1. Identical to SQL NTILE given the same
    * total ordering — callers must pass a tie-broken `order`.
    */
  def ntileBin(df: DataFrame, order: Seq[Column], n: Int,
               binCol: String = "bin"): DataFrame = {
    // The total row count falls out of globalOrdinal's partition-count
    // pass — fold it in as literals instead of a second full scan
    // (count agg) + cross join, which doubled this operator's cost.
    val (ranked, c) = globalOrdinalWithCount(df, order, "_r")
    val q = c / n
    val m = c % n
    ranked
      .withColumn(binCol,
        when(col("_r") <= lit(m * (q + 1)),
          expr(s"(_r - 1) div ${q + 1}") + 1)
          .otherwise(lit(m) + expr(s"(_r - ${m * (q + 1)} - 1) div ${math.max(q, 1)}") + 1)
          .cast("int"))
      .drop("_r")
  }

  /** Global 1-based ordinal in `order`-column order WITHOUT a
    * single-partition window: range-partitioned sort, then per-partition
    * offsets from partition row counts (two cheap passes). The scalable
    * replacement for `row_number().over(Window.orderBy(...))` when the
    * frame is unbounded — used by the merge interleave; semantics are
    * identical given a total ordering.
    */
  def globalOrdinal(df: DataFrame, order: Seq[Column], out: String = "pos"): DataFrame =
    globalOrdinalWithCount(df, order, out)._1

  /** globalOrdinal plus the (already-computed) total row count — callers
    * needing both (ntileBin) avoid a second scan.
    */
  def globalOrdinalWithCount(df: DataFrame, order: Seq[Column],
                             out: String = "pos"): (DataFrame, Long) = {
    val sorted = df.orderBy(order: _*)
    val spark = df.sparkSession
    // Persist between the two passes: without it the range-partitioned sort
    // runs twice (once for the counts job, once for the data scan). The
    // ContextCleaner reclaims the block once the RDD is unreachable.
    val rdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2) // driver-bound: one row per partition
    val offsets = counts.scanLeft(0L)(_ + _)
    val withPos = rdd.mapPartitionsWithIndex { (i, it) =>
      var p = offsets(i)
      it.map { row => p += 1; org.apache.spark.sql.Row.fromSeq(row.toSeq :+ p) }
    }
    (spark.createDataFrame(withPos,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(out, org.apache.spark.sql.types.LongType, nullable = false))),
      offsets.last)
  }

  /** Exclusive running total of `valueCol` in `order`-column order WITHOUT
    * a single-partition window: the same two-pass range-partitioned trick
    * as globalOrdinal, accumulating partition value sums instead of row
    * counts. Output column holds the sum of all STRICTLY EARLIER rows.
    */
  def runningTotal(df: DataFrame, order: Seq[Column], valueCol: String,
                   out: String = "running"): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val spark = df.sparkSession
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // Same two-pass persist as globalOrdinal: avoid re-running the sort.
    val rdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.map(_.getAs[Number](vIdx).doubleValue()).sum))
    }.collect().sortBy(_._1).map(_._2) // driver-bound: one row per partition
    val offsets = sums.scanLeft(0.0)(_ + _)
    val withRun = rdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { row =>
        val r = org.apache.spark.sql.Row.fromSeq(row.toSeq :+ acc)
        acc += row.getAs[Number](vIdx).doubleValue()
        r
      }
    }
    spark.createDataFrame(withRun,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(out,
          org.apache.spark.sql.types.DoubleType, nullable = false)))
  }

  /** [[runningTotal]]'s LONG-exact sibling, additionally emitting the
    * global 1-based ordinal — both fall out of the same two
    * range-partitioned passes (sort + per-partition sums/counts), so a
    * caller needing a CDF grid (exclusive cum + position for a lead
    * self-join) pays one sort, not two. Value sums stay exact longs:
    * integer-exact statistics (KS/W1 numerators) must replay
    * engine-identically, which [[runningTotal]]'s double accumulator
    * cannot promise past 2⁵³. The scalable replacement for
    * `sum(...).over(Window.orderBy(...))` + `lead(...)` on an
    * unbounded (distinct-value-domain) frame.
    */
  def runningTotalLongWithPos(df: DataFrame, order: Seq[Column],
                              valueCol: String, out: String = "running",
                              posOut: String = "pos"): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val spark = df.sparkSession
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // long-only contract, enforced loudly: a fractional value column
    // would silently truncate under a Number coercion, so anything but
    // LongType is rejected up front (schema nullability can't be
    // required — aggregate outputs are nullable-typed even when never
    // null — so actual nulls fail per-row below instead of NPE-ing)
    val vField = sorted.schema(vIdx)
    require(vField.dataType == org.apache.spark.sql.types.LongType,
      s"runningTotalLongWithPos needs a LongType '$valueCol' " +
        s"(got ${vField.dataType}); cast upstream, " +
        "or use runningTotal for doubles")
    def long(row: org.apache.spark.sql.Row): Long = {
      if (row.isNullAt(vIdx))
        throw new IllegalArgumentException(
          s"runningTotalLongWithPos: null in '$valueCol' — the running " +
            "sum is defined over non-null longs; filter or fill upstream")
      row.getLong(vIdx)
    }
    // Same two-pass persist as globalOrdinal: avoid re-running the sort.
    val rdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val parts = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L; var s = 0L
      it.foreach { row => n += 1; s += long(row) }
      Iterator((i, n, s))
    }.collect().sortBy(_._1) // driver-bound: one row per partition
    val posOffsets = parts.map(_._2).scanLeft(0L)(_ + _)
    val sumOffsets = parts.map(_._3).scanLeft(0L)(_ + _)
    val withBoth = rdd.mapPartitionsWithIndex { (i, it) =>
      var p = posOffsets(i)
      var acc = sumOffsets(i)
      it.map { row =>
        p += 1
        val r = org.apache.spark.sql.Row.fromSeq(row.toSeq :+ acc :+ p)
        acc += long(row)
        r
      }
    }
    spark.createDataFrame(withBoth,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField(out,
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField(posOut,
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Winsorize at exact lower/upper percentiles (rescale_array,
    * scarf/utils.py:120-140; percentile clip in get_cell_vals,
    * scarf/datastore/base_datastore.py:501-511). Exact `percentile` (not
    * approx) so the result is engine-independent; the two quantiles are a
    * 1-row broadcast.
    */
  def winsorize(df: DataFrame, valueCol: String, loP: Double, hiP: Double): DataFrame = {
    val q = df.agg(
      expr(s"percentile($valueCol, $loP)").as("q_lo"),
      expr(s"percentile($valueCol, $hiP)").as("q_hi"))
    df.crossJoin(broadcast(q))
      .withColumn("clipped",
        least(greatest(col(valueCol), col("q_lo")), col("q_hi")))
      .drop("q_lo", "q_hi")
  }
}
