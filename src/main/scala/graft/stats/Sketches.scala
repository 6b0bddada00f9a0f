package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distinct-count sketching — the 100 TB path for
  * COUNT(DISTINCT) where the exact shuffle-distinct is the bottleneck.
  *
  * KMV (k-minimum-values, Bar-Yossef 2002): per group keep the k
  * smallest of a uniform 60-bit hash of the key; the k-th minimum m
  * estimates the distinct count as (k-1) * 2^60 / m. Unlike HLL the
  * sketch is deterministic and mergeable by "union then re-take min-k",
  * and every arithmetic step (md5, hex compare, IEEE divide) replays
  * bit-identically in any engine — so the estimate itself is oracle-able,
  * not just "approximately right".
  */
object Sketches {

  /** The k smallest hashes of each group: the KMV sketch itself. Hashes
    * are distinct within a group, so `hhex` alone orders totally.
    */
  private def minK(hashes: DataFrame, groups: Seq[String], k: Int): DataFrame =
    graft.ops.Windows.topKPerGroup(hashes, groups, k, Seq(col("hhex")))

  /** Bloom probe `j` of string `gram` in an `mBits`-bit filter. The
    * probes are md5-derived, so the filter and its false positives are
    * deterministic and replay in any engine. */
  private def bloomPos(gram: Column, j: Int, mBits: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$j:"), gram)), 1, 15), 16, 10)
      .cast("long"), lit(mBits.toLong))

  /** The `mBits`-bit bloom bitmap of the `shingle` column of `grams`, `k`
    * probes per gram: the distinct set positions are aggregated on the
    * executors, only they reach the driver. */
  private[graft] def bloomBitmap(grams: DataFrame, mBits: Int, k: Int): Array[Long] = {
    require(mBits % 64 == 0 && Integer.bitCount(mBits) == 1)
    val bitmap = new Array[Long](mBits / 64)
    grams.select(explode(array(
        (0 until k).map(bloomPos(col("shingle"), _, mBits)): _*)).as("p"))
      .distinct()
      .collect() // driver-bound: at most mBits positions
      .foreach { r => val p = r.getLong(0); bitmap((p / 64).toInt) |= 1L << (p % 64) }
    bitmap
  }

  /** True when all `k` probes of `gram` hit set bits of `bitmap` (one
    * literal array, so the probe is map-only). */
  private[graft] def bloomHit(gram: Column, bitmap: Array[Long], k: Int): Column = {
    val bm = typedlit(bitmap.toIndexedSeq)
    (0 until k).map { j =>
      val p = bloomPos(gram, j, bitmap.length * 64)
      call_function("shiftright", element_at(bm, shiftright(p, 6).cast("int") + 1),
        (p % 64).cast("int")).bitwiseAND(lit(1L))
    }.reduce(_ + _) === k
  }

  /** Mergeable fixed-bin histogram quantiles: nearest-rank percentile
    * ESTIMATES from `nBins` equal-width counters per group — the sketch
    * counterpart of `Analytics.groupQuantiles`' exact global-ordinal
    * path. The counter table is O(groups × nBins) regardless of corpus
    * size and merges by plain addition, so at 100 TB this is one
    * map-side-combinable aggregation and no global sort; the price is
    * resolution (an estimate is the upper edge of the bin holding the
    * target rank).
    *
    * Determinism: `binWidth` should be a power of two (value/2.0 is exact
    * in IEEE double), FLOOR and the clamp are integer-exact, and target
    * ranks use ceil(p·n/100) computed as FLOOR((n·p + 99)/100.0) — exact
    * below 2^53 — so the estimate replays bit-identically in any engine.
    */
  def histQuantiles(df: DataFrame, group: String, valueCol: String,
                    lo: Double = 0.0, binWidth: Double = 2.0, nBins: Int = 256,
                    pcts: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    val bin = least(greatest(floor((col(valueCol) - lo) / binWidth), lit(0)),
      lit(nBins - 1)).cast("int")
    val counts = df.groupBy(col(group).as("grp"), bin.as("bin"))
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(Window.partitionBy("grp").orderBy("bin")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("grp")))
    def rank(p: Int) =
      floor((col("n") * p + 99) / lit(100.0)).cast("long")
    val edge = lit(lo) + (col("bin") + 1) * binWidth
    val aggs = max(col("n")).as("n") +:
      pcts.map(p => min(when(col("cum") >= rank(p), edge)).as(s"p$p"))
    cum.groupBy("grp").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-`group` distinct count of `key`, exact and KMV-estimated.
    *
    * Shape: one distinct-aggregation on (group, hash) — the same shuffle
    * an exact distinct needs — then the k-minimum selection as one
    * [[graft.ops.Windows.topKPerGroup]] (each map partition ships at most
    * k hashes per group to the window). In a real 100 TB deployment the
    * exact column is dropped and the distinct-agg is replaced by a
    * partial min-k per partition (the sketch's whole point); it is kept
    * here so the oracle validates the estimator against the truth it
    * approximates. Groups with fewer than k distinct keys report the
    * exact count (the sketch is lossless below its capacity).
    */
  def kmvDistinct(df: DataFrame, group: String, key: String, k: Int): DataFrame = {
    // 60-bit uniform hash: first 15 md5 hex chars; lexicographic order on
    // the fixed-width hex string == numeric order, so ranking stays on
    // strings and only the k-th minimum is ever parsed to a number
    val hashes = df
      .select(col(group), md5(col(key).cast("string")).as("hhex"))
      .distinct()
    val survivors = minK(hashes, Seq(group), k)
    val sketch = survivors.groupBy(group).agg(
      max(conv(substring(col("hhex"), 1, 15), 16, 10).cast("long")).as("mk"),
      count(lit(1)).as("n_in_sketch"))
    val exact = hashes.groupBy(group).agg(count(lit(1)).as("n_exact"))
    exact.join(sketch, Seq(group))
      .select(col(group), col("n_exact"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
            / col("mk").cast("double"), 4))
          .as("kmv_est"))
  }

  /** HyperLogLog distinct counting (Flajolet 2007) with m = 64
    * registers, validated against the exact count. Register index = top
    * 6 bits of a 60-bit md5 hash; register value = position of the
    * leading 1-bit in the remaining 54 bits (`rho`); estimate =
    * `α·m²/Σ 2^(−rho)` with Flajolet's linear-counting correction below
    * 2.5·m. Duplicates never matter — `max(rho)` per register absorbs
    * them — so unlike KMV no distinct-aggregation is needed: the state
    * is 64 tiny integers per group, mergeable by element-wise max, which
    * is why HLL is THE 100 TB cardinality sketch.
    *
    * Engine-exactness: rho is pure integer bit arithmetic; the register
    * sum is computed as the EXACT integer `Σ 2^(55−rho)` (max 2⁶¹, no
    * float summation ever — a plain Σ2^(−rho) in doubles would be
    * order-sensitive once registers exceed 53 bits of spread); the final
    * estimate is one literal-chain multiply/divide off that integer, so
    * the sketch replays bit-for-bit in any engine.
    */
  def hllDistinct(df: DataFrame, group: String, key: String): DataFrame = {
    val hashed = df.select(col(group),
      conv(substring(md5(col(key).cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
    // idx = top 6 bits, w = low 54 bits; rho = 54 - floor(log2 w) via an
    // integer fold (ascending j keeps the HIGHEST set bit), 55 if w = 0
    val parts = hashed
      .withColumn("idx", expr("h div 18014398509481984L"))
      .withColumn("w", expr("h % 18014398509481984L"))
      .withColumn("_hb", expr(
        "aggregate(sequence(0, 53), cast(-1 as bigint), " +
          "(acc, j) -> IF(shiftright(w, j) > 0, cast(j as bigint), acc))"))
      .withColumn("rho",
        when(col("w") === 0, lit(55L)).otherwise(lit(54L) - col("_hb")))
    val reg = parts.groupBy(col(group), col("idx"))
      .agg(max(col("rho")).as("rho"))
    val allReg = df.select(col(group)).distinct()
      .select(col(group), explode(sequence(lit(0L), lit(63L))).as("idx"))
      .join(reg, Seq(group, "idx"), "left")
      .na.fill(0L, Seq("rho"))
    val sums = allReg.groupBy(group).agg(
      sum(expr("shiftleft(cast(1 as bigint), cast(55 - rho as int))")).as("s"),
      sum(when(col("rho") === 0, 1L).otherwise(0L)).as("n_zero_regs"))
    val est = sums.withColumn("_er",
      lit(0.709) * lit(4096.0) * pow(lit(2.0), lit(55))
        / col("s").cast("double"))
      .withColumn("hll_est", round(
        when(col("_er") <= 160.0 && col("n_zero_regs") > 0,
          lit(64.0) * log(lit(64.0) / col("n_zero_regs").cast("double")))
          .otherwise(col("_er")), 4))
    val exact = df.groupBy(group).agg(countDistinct(col(key)).as("n_exact"))
    exact.join(est, Seq(group))
      .select(col(group), col("n_exact"), col("n_zero_regs"), col("hll_est"))
  }

  /** KMV sketch set algebra (Beyer 2007): per group-PAIR union /
    * intersection / Jaccard ESTIMATES from the two groups' k-minimum-
    * value sketches alone — the "how much do two crawls / sources
    * overlap" question answered WITHOUT joining the corpora. Merge rule:
    * the k smallest hashes of the union of the two sketches form the
    * union sketch S; |A∪B| follows the plain KMV estimator on S, the
    * Jaccard estimate is the fraction of S present in BOTH input
    * sketches (ρ = |S ∩ skA ∩ skB| / |S|), and |A∩B| = ρ · |A∪B|.
    *
    * Shape: ONE distinct-aggregation on (group, hash) builds all
    * sketches (one per-group min-k cut); everything after operates on
    * k-row sketches expanded across the |G|²/2 pair table — G is the
    * report dimension (sources, snapshot versions), assumed small. Exact
    * columns ride along to validate the estimators; they cost one extra
    * pass over the hashes that the estimates never need. If the merged
    * sketch holds fewer than k hashes, BOTH input sketches were exhaustive and every "estimate" is exact — the same
    * lossless-below-capacity branch as [[kmvDistinct]].
    *
    * Determinism: md5 hashes, integer memberships, and two IEEE ops
    * (ρ as one divide; the union estimate divide) written identically in
    * the oracle — the ESTIMATES hash-match cross-engine, not just the
    * exact columns.
    */
  def kmvSetOps(df: DataFrame, group: String, key: String, k: Int): DataFrame = {
    val hashes = df
      .select(col(group).as("grp"), md5(col(key).cast("string")).as("hhex"))
      .distinct().localCheckpoint()
    val sk = minK(hashes, Seq("grp"), k).drop("rn").localCheckpoint()
    val groups = hashes.select("grp").distinct()
    val pairTab = broadcast(groups.select(col("grp").as("ga"))
      .join(groups.select(col("grp").as("gb")), col("ga") < col("gb")))
    // expand rows across the pairs they belong to, flag which side
    // (two broadcast equi-joins, not one OR-join — keeps codegen and
    // avoids a nested-loop plan)
    def sides(rows: DataFrame) = {
      val a = rows.join(pairTab, rows("grp") === pairTab("ga"))
        .select(col("ga"), col("gb"), col("hhex"),
          lit(1).as("in_a"), lit(0).as("in_b"))
      val b = rows.join(pairTab, rows("grp") === pairTab("gb"))
        .select(col("ga"), col("gb"), col("hhex"),
          lit(0).as("in_a"), lit(1).as("in_b"))
      a.unionByName(b).groupBy("ga", "gb", "hhex")
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    }
    val merged = minK(sides(sk), Seq("ga", "gb"), k) // union sketch, per pair
    val est = merged.groupBy("ga", "gb").agg(
      count(lit(1)).as("s_n"),
      max(conv(substring(col("hhex"), 1, 15), 16, 10).cast("long")).as("mk"),
      sum(col("in_a") * col("in_b")).as("inter_s"))
    val uEst = when(col("s_n") < k, col("s_n").cast("double"))
      .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
        / col("mk").cast("double"))
    val rho = col("inter_s").cast("double") / col("s_n").cast("double")
    val estOut = est.select(col("ga").as("src_a"), col("gb").as("src_b"),
      round(uEst, 4).as("union_est"),
      round(rho, 6).as("jaccard_est"),
      round(rho * uEst, 4).as("inter_est"))
    // the estimates above read only |G|·k sketch rows; the corpus-sized
    // pass below exists ONLY to validate them
    // Exact truth WITHOUT the |pairs|-fold row fan-out the former
    // sides(hashes) paid (every hash row replicated across every pair
    // involving its group): per-group sizes are one count, pair
    // intersections come from each hash's |G|-bounded sorted group set
    // (row-local pair explode, ga < gb by the sort), and the union is
    // the exact-integer identity |A|+|B|−|A∩B| — identical integers,
    // one |hashes|-row shuffle instead of ~2·|G| of them.
    val gc = hashes.groupBy("grp").agg(count(lit(1)).as("n_exact"))
    val inter = hashes.groupBy("hhex")
      .agg(sort_array(collect_list(col("grp"))).as("gs"))
      .filter(size(col("gs")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(gs) - 1), i ->
             transform(sequence(0, i - 1), j ->
               named_struct('ga', gs[j], 'gb', gs[i]))))""")).as("p"))
      .groupBy(col("p.ga").as("ga"), col("p.gb").as("gb"))
      .agg(count(lit(1)).as("inter_exact"))
    val exact = pairTab
      .join(gc.select(col("grp").as("ga"), col("n_exact").as("n_exact_a")),
        Seq("ga"))
      .join(gc.select(col("grp").as("gb"), col("n_exact").as("n_exact_b")),
        Seq("gb"))
      .join(inter, Seq("ga", "gb"), "left").na.fill(0L, Seq("inter_exact"))
      .withColumn("union_exact",
        col("n_exact_a") + col("n_exact_b") - col("inter_exact"))
    exact.select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("n_exact_a"), col("n_exact_b"), col("inter_exact"),
        col("union_exact"),
        round(col("inter_exact").cast("double")
          / col("union_exact").cast("double"), 6).as("jaccard_exact"))
      .join(estOut, Seq("src_a", "src_b"))
  }

  /** KMV mergeability under the gate: the distributed-rollup theorem —
    * merging per-group sketches (k smallest of the union of the groups'
    * k-minima) yields EXACTLY the sketch of the whole corpus, because
    * every global k-minimum is a k-minimum of its own group. This is
    * the property that lets 1000 executors sketch shards independently
    * and a coordinator fold them without touching data again; here it
    * is not assumed but CHECKED: both the merged and the direct
    * estimate are computed and compared, and the oracle replays both.
    */
  def kmvMergeCheck(df: DataFrame, group: String, key: String,
                    k: Int): DataFrame = {
    val hashes = df
      .select(col(group).as("grp"), md5(col(key).cast("string")).as("hhex"))
      .distinct().localCheckpoint()
    val sk = minK(hashes, Seq("grp"), k)
    def estimate(rows: DataFrame) = minK(rows.select(col("hhex")).distinct(), Nil, k)
      .agg(count(lit(1)).as("n_in"),
        max(conv(substring(col("hhex"), 1, 15), 16, 10).cast("long")).as("mk"))
      .select(when(col("n_in") < k, col("n_in").cast("double"))
        .otherwise(round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60))
          / col("mk").cast("double"), 4)).as("est"))
    val merged = estimate(sk).withColumnRenamed("est", "est_merged")
    val direct = estimate(hashes).withColumnRenamed("est", "est_direct")
    val nG = hashes.select("grp").distinct()
      .agg(count(lit(1)).as("n_groups"))
    nG.crossJoin(merged).crossJoin(direct)
      .select(lit(k).as("k"), col("n_groups"), col("est_merged"),
        col("est_direct"),
        (col("est_merged") === col("est_direct")).as("merged_equals_direct"))
  }

  /** Count-min frequency estimation (Cormode 2005), validated against
    * the exact counts: `depth` hash rows × `width` counters, estimate =
    * min over rows of the hashed-to counter. The counter table is
    * `depth·width` cells REGARDLESS of corpus size — the whole point at
    * 100 TB, where per-item exact counting shuffles the full vocabulary
    * but the sketch aggregates into a fixed-size, mergeable state. Hashes
    * are md5-derived, so estimates (and their one-sided collision
    * inflation) replay bit-identically in any engine.
    *
    * Output: one row per distinct item with exact count ≥ `minCount`
    * (the exact side exists here to oracle the estimator; a production
    * deployment keeps only the counters and point-queries them).
    */
  def countMinCompare(items: DataFrame, itemCol: String, depth: Int,
                      width: Int, minCount: Long): DataFrame = {
    // Count first, hash the DISTINCT item domain after: the sketch cell
    // of an item is occurrence-independent, so counter(r, cell) =
    // Σ c_true over the items hashing there — identical integers to
    // hashing every occurrence, at depth·|distinct| md5 calls instead
    // of depth·|occurrences| (and no corpus-sized distinct pass).
    // EAGER checkpoint: three consumers first touched inside one final
    // job (counters, est, the exact filter) — the lazy form would race
    // (the q201 double-compute gotcha); the frame is |distinct| rows.
    val exactAll = items.groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("c_true"))
      .localCheckpoint()
    val cells = exactAll.select(col("item"), col("c_true"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("cell",
        pmod(conv(substring(md5(concat_ws(":", col("r"), col("item"))), 1, 15),
          16, 10).cast("long"), lit(width.toLong)))
    val counters = cells.groupBy("r", "cell").agg(sum(col("c_true")).as("c"))
    val est = cells.select("item", "r", "cell")
      .join(counters, Seq("r", "cell"))
      .groupBy("item").agg(min(col("c")).as("cm_est"))
    exactAll.filter(col("c_true") >= minCount).join(est, Seq("item"))
      .withColumn("inflated", col("cm_est") > col("c_true"))
  }
}
