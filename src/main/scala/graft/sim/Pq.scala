package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Sample

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the codebook compression path between
  * q80's int8 scalar quantization and a full ANN index: vectors split
  * into `m` subvectors, each subspace trained to a `k`-centroid
  * codebook with the deterministic Lloyd protocol
  * ([[graft.pipeline.Cluster.lloydWithCenters]] — md5-ordered
  * distinct-vector init, 9 dp-rounded means), every vector encoded as
  * `m` one-byte codes (m·log₂k bits ≈ 16× compression at m=4, k=16 on
  * 128-dim float), and queries scored by Asymmetric Distance
  * Computation: per query, an m×k table of exact sub-distances, then a
  * table-lookup sum per candidate.
  *
  * Scale shape: training touches subvectors only (m sequential Lloyd
  * runs — each one aggregation per iteration, centers-only driver
  * traffic); the scoring join is (codes ⋈ table) keyed by (sub, code) —
  * the table is m·k rows per query (BROADCAST), so the corpus side is
  * one map-side join + one (qid, dst) aggregation, never a vector-space
  * crossing. The ADC sums run in exact integer nano-units (the q105/
  * q134 associative-escape-hatch trick), so ranking has no
  * reassociation knife edge and the whole chain — Lloyd training
  * included — replays engine-exact in the DuckDB oracle.
  */
object Pq {

  /** Each query's `n` nearest IVF lists by squared centroid distance,
    * list id breaking ties: `(qid, list, d2, rn)`.
    */
  private def nearestLists(qs: DataFrame, centDf: DataFrame, n: Int): DataFrame =
    graft.ops.Windows.topKPerGroup(
      qs.crossJoin(broadcast(centDf))
        .select(col("qid"), col("list"),
          // codegen'd fold, IEEE-identical to aggregate(zip_with(...))
          graft.functions.SqDiffSum.column(col("v"), col("lc")).as("d2")),
      Seq("qid"), n, Seq(col("d2"), col("list")))

  /** One PQ encoding of `vecs (vec_id, v)`: the checkpointed vectors, the
    * capped query sample `qs (qid, v)`, the codes `(s, cell_id, cid)` and
    * the per-query ADC tables `(s, qid, cid, d2m)`. */
  private case class Encoded(cached: DataFrame, qs: DataFrame,
                             codes: DataFrame, tab: DataFrame)

  private def encode(vecs: DataFrame, m: Int, k: Int, iters: Int, seed: Long,
                     queryMod: Int): Encoded = {
    val dim = vecs.agg(max(size(col("v"))).as("d")).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m subvectors")
    // feeds every Lloyd training + the query slice — materialize once
    val cached = vecs.select(col("vec_id"), col("v")).localCheckpoint()
    val qs = Sample.capped(cached, "vec_id", queryMod)
      .select(col("vec_id").as("qid"), col("v"))
    val (codes, cents) = trainCodebooks(cached, dim, m, k, iters, seed)
    Encoded(cached, qs, codes, adcTable(qs, dim, m, cents))
  }

  /** The coarse quantizer: `nLists`-centroid deterministic Lloyd on the
    * full vectors of `vecs (vec_id, v)` → `(lists (dst, list), centDf
    * (list, lc))`, lists numbered from 1. */
  private def coarse(vecs: DataFrame, nLists: Int, iters: Int,
                     seed: Long): (DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (asgn, centers) = graft.pipeline.Cluster.lloydWithCenters(
      vecs.select(col("vec_id").as("cell_id"), col("v").as("latent")),
      nLists, iters, seed)
    (asgn.select(col("cell_id").as("dst"), col("cluster").cast("int").as("list")),
      centers.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }
        .toSeq.toDF("list", "lc"))
  }

  /** Top-k ADC neighbors of every `queryMod`-sampled vector.
    * `vecs (vec_id, v: array<double>)` → `(qid, dst, adc_dist, rn)`.
    */
  def pqSelfTopK(vecs: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 5,
                 seed: Long = 77L, queryMod: Int = 50, topK: Int = 5): DataFrame = {
    val enc = encode(vecs, m, k, iters, seed, queryMod)
    // BROADCAST the m·k-per-query ADC table: the broadcast build
    // materializes d2m once per table row. Un-broadcast, the codegen'd
    // join deferred the streamed side's non-key d2m expression into the
    // per-MATCH loop — the quantized fold ran per scored row
    // (|codes|·|queries| times) instead of per table row, measured 2.2×
    // on q143 when the fold became codegen-able.
    val adc = enc.codes.join(broadcast(enc.tab), Seq("s", "cid"))
      .filter(col("cell_id") =!= col("qid"))
      .groupBy(col("qid"), col("cell_id").as("dst"))
      .agg(sum(col("d2m")).as("adc_micro"))
    rankAdc(adc, Seq("qid"), topK)
  }

  /** IVF + PQ — the two stages composed into the production-shape index
    * (Jégou 2011 §VII "IVFADC", here on raw vectors, not residuals, so
    * both trainings stay independently oracle-able): a coarse `nLists`-
    * centroid quantizer on the FULL vectors routes every query to its
    * `nProbe` nearest inverted lists, and only the vectors IN those
    * lists are ADC-scored against the PQ tables. At 100 TB this is the
    * decisive composition: PQ compresses the scan 16×, IVF cuts it to
    * `nProbe/nLists` of the corpus — the candidate set is built BEFORE
    * any distance work (probes ⋈ lists, id-only), so the plan never
    * touches the unprobed lists at all.
    *
    * Determinism: both trainings are the deterministic-Lloyd protocol;
    * probe selection ranks the same float d2 the assignment uses (ties
    * break on list id); ADC is exact integer micros. The whole chain
    * replays in DuckDB.
    */
  def ivfPqTopK(vecs: DataFrame, nLists: Int = 8, nProbe: Int = 2,
                m: Int = 4, k: Int = 16, iters: Int = 5,
                seedIvf: Long = 55L, seedPq: Long = 77L,
                queryMod: Int = 50, topK: Int = 5): DataFrame =
    ivfPqPass(vecs, Seq(nProbe), nLists, m, k, iters, seedIvf, seedPq,
      queryMod, topK).drop("nprobe")

  /** The one IVF-PQ scoring pass: encode once, train the coarse lists
    * once, ADC-score every candidate of the widest budget once, then rank
    * the top `topK` per query for each probe budget in `budgets` →
    * `(nprobe, qid, dst, adc_dist, rn)`. Each candidate carries the probe
    * rank of its list in its query's centroid order, so "nprobe = t" is
    * a filter, not a re-run. Every vector sits in exactly one list, so
    * the budget `nLists` is the flat [[pqSelfTopK]] ranking (same
    * codebooks, queries, candidates and exact integer sums).
    */
  private[graft] def ivfPqPass(vecs: DataFrame, budgets: Seq[Int],
                               nLists: Int = 8, m: Int = 4, k: Int = 16,
                               iters: Int = 5, seedIvf: Long = 55L,
                               seedPq: Long = 77L, queryMod: Int = 50,
                               topK: Int = 5): DataFrame =
    score(encode(vecs, m, k, iters, seedPq, queryMod), budgets, nLists,
      iters, seedIvf, topK)

  private def score(enc: Encoded, budgets: Seq[Int], nLists: Int, iters: Int,
                    seedIvf: Long, topK: Int): DataFrame = {
    val (lists, centDf) = coarse(enc.cached, nLists, iters, seedIvf)
    // id-only candidate set: probed lists' members, before any scoring
    val cand = nearestLists(enc.qs, centDf, budgets.max)
      .select(col("qid"), col("list"), col("rn").as("prank"))
      .join(lists, Seq("list"))
      .select(col("qid"), col("dst"), col("prank"))
      .filter(col("qid") =!= col("dst"))
    val adc = cand
      .join(enc.codes.select(col("cell_id").as("dst"), col("s"), col("cid")),
        Seq("dst"))
      .join(broadcast(enc.tab), Seq("qid", "s", "cid"))
      .groupBy("qid", "dst")
      .agg(sum(col("d2m")).as("adc_micro"), min(col("prank")).as("prank"))
    budgets match {
      // one budget is the probe cut itself: no per-budget copies, and the
      // unused probe rank is pruned from the plan
      case Seq(b) => rankAdc(adc, Seq("qid"), topK).withColumn("nprobe", lit(b))
      case _ => rankAdc(
        adc.withColumn("nprobe", explode(array(budgets.map(lit): _*)))
          .filter(col("prank") <= col("nprobe")),
        Seq("nprobe", "qid"), topK)
    }
  }

  /** IVF probe-count sweep: recall@`topK` vs exact ground truth for
    * every probe budget `1..maxProbe`, from ONE scoring pass
    * ([[ivfPqPass]]). This is the latency/recall knob report: at 100 TB
    * the scan cost is ~nprobe/nLists of the corpus, and this curve says
    * what each increment buys.
    */
  def ivfPqProbeSweep(vecs: DataFrame, nLists: Int = 8, maxProbe: Int = 4,
                      m: Int = 4, k: Int = 16, iters: Int = 5,
                      seedIvf: Long = 55L, seedPq: Long = 77L,
                      queryMod: Int = 50, topK: Int = 5): DataFrame = {
    val enc = encode(vecs, m, k, iters, seedPq, queryMod)
    val swept = score(enc, 1 to maxProbe, nLists, iters, seedIvf, topK)
      .select("nprobe", "qid", "dst")
    // exact ground truth over the same query sample
    val ex = Similarity.l2TopK(enc.qs.toDF("qid", "qvec"),
        enc.cached.toDF("vec_id", "embedding"), topK)
      .select(col("qid"), col("vec_id").as("dst"))
    val hits = ex.join(swept, Seq("qid", "dst"), "inner")
      .groupBy("nprobe", "qid").agg(count(lit(1)).as("h"))
    val base = ex.select("qid").distinct()
      .select(col("qid"), explode(sequence(lit(1), lit(maxProbe))).as("nprobe"))
    base.join(hits, Seq("nprobe", "qid"), "left").na.fill(0, Seq("h"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_queries"),
        round(sum(col("h")).cast("double")
          / (lit(topK.toDouble) * count(lit(1)).cast("double")), 6)
          .as("recall_mean"),
        sum(when(col("h") === topK, 1L).otherwise(0L)).as("n_perfect"))
  }

  /** IVF list-occupancy balance report — tail latency in an IVF index
    * follows its most-loaded list (every probe of it scans |list|
    * candidates), so the balance of the coarse partition is an
    * operational gate, not a nicety. Per list: member count and corpus
    * share; plus the lists-used count (empty lists waste nProbe budget)
    * and the max/min occupancy ratio over non-empty lists. Same coarse
    * training as [[ivfPqTopK]], one count aggregation on top.
    */
  def ivfBalance(vecs: DataFrame, nLists: Int = 8, iters: Int = 5,
                 seedIvf: Long = 55L): DataFrame = {
    val counts = coarse(vecs, nLists, iters, seedIvf)._1.groupBy("list")
      .agg(count(lit(1)).as("n_vecs")).localCheckpoint()
    val tot = counts.agg(sum(col("n_vecs")).as("_t"),
      max(col("n_vecs")).as("_mx"), min(col("n_vecs")).as("_mn"),
      count(lit(1)).as("n_lists_used"))
    counts.crossJoin(broadcast(tot))
      .select(col("list"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("_t").cast("double"), 6)
          .as("share"),
        col("n_lists_used"),
        round(col("_mx").cast("double") / col("_mn").cast("double"), 6)
          .as("imbalance"))
  }

  /** Incremental IVF maintenance: assign a NEW vector snapshot to the
    * EXISTING coarse lists without retraining — the crawl-refresh path
    * (retraining moves every list boundary and invalidates the stored
    * codes; assignment is one broadcast argmin per new vector). The
    * report per list: old members, new arrivals, growth ratio, and the
    * mean distance of new members to the stored centroid in exact
    * integer micros (per-vector distances quantize FIRST, so the mean
    * is one IEEE division — an unquantized float sum would be
    * order-sensitive). A list whose mean new-member distance jumps is
    * the drift signal that schedules the retrain.
    */
  def ivfAssignDelta(oldVecs: DataFrame, newVecs: DataFrame,
                     nLists: Int = 8, iters: Int = 5,
                     seedIvf: Long = 55L): DataFrame = {
    val (lists, centDf) = coarse(oldVecs, nLists, iters, seedIvf)
    val oldCounts = lists.groupBy("list").agg(count(lit(1)).as("n_old"))
    val newAsg = nearestLists(
        newVecs.select(col("vec_id").as("qid"), col("v")), centDf, 1)
      .select(col("list"),
        round(sqrt(col("d2")) * lit(1000000.0)).cast("long").as("dist_micro"))
    val newCounts = newAsg.groupBy("list")
      .agg(count(lit(1)).as("n_new"), sum(col("dist_micro")).as("_sd"))
    oldCounts.join(newCounts, Seq("list"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .select(col("list"), col("n_old"), col("n_new"),
        when(col("n_old") > 0, round(col("n_new").cast("double")
          / col("n_old").cast("double"), 6)).as("growth"),
        when(col("n_new") > 0, round(col("_sd").cast("double")
          / col("n_new").cast("double") / lit(1000000.0), 6))
          .as("mean_new_dist"))
  }

  /** The m per-subspace deterministic-Lloyd trainings:
    * `(codes (s, cell_id, cid), cents (s, cid, c))`. */
  private def trainCodebooks(cached: DataFrame, dim: Int, m: Int, k: Int,
                             iters: Int, seed: Long): (DataFrame, DataFrame) = {
    val spark = cached.sparkSession
    import spark.implicits._
    val w = dim / m
    val parts = (0 until m).map { s =>
      val sub = cached.select(col("vec_id").as("cell_id"),
        expr(s"slice(v, ${s * w + 1}, $w)").as("latent"))
      val (assigned, centers) =
        graft.pipeline.Cluster.lloydWithCenters(sub, k, iters, seed + s)
      val codes = assigned.select(lit(s).as("s"), col("cell_id"),
        col("cluster").cast("int").as("cid"))
      val centersDf = centers.zipWithIndex
        .map { case (c, i) => (s, i + 1, c.toSeq) }.toSeq
        .toDF("s", "cid", "c")
      (codes, centersDf)
    }
    (parts.map(_._1).reduce(_ unionByName _),
      parts.map(_._2).reduce(_ unionByName _))
  }

  /** The per-query ADC distance tables `(s, qid, cid, d2m)` in
    * fixed-point: components quantize to integer micros FIRST (the q115
    * trick), so the squared sub-distances and their sums are exact
    * integer arithmetic — a float fold would differ from another
    * engine's at the ULP, and the ranking quantization captures every
    * ULP. */
  private def adcTable(qs: DataFrame, dim: Int, m: Int,
                       cents: DataFrame): DataFrame = {
    val w = dim / m
    val qsub = qs.select(col("qid"), explode(expr(
        s"""transform(sequence(0, ${m - 1}),
              s -> named_struct('s', s, 'qv', slice(v, s * $w + 1, $w)))"""))
        .as("e"))
      .select(col("qid"), col("e.s").as("s"), col("e.qv").as("qv"))
    // QuantSqDiffSum = the same fixed-point fold as a native codegen
    // kernel (guide §4): per element round(x·1e6)→long exactly as
    // Spark's round (BigDecimal HALF_UP) + non-ANSI cast, difference
    // squared and summed in long — bit-identical to the interpreted
    // aggregate(zip_with(...)) HOF chain it replaces (QuantSqDiffSumSpec
    // pins the equality, including .5 rounding knife edges).
    qsub.join(broadcast(cents), Seq("s"))
      .select(col("s"), col("qid"), col("cid"),
        graft.functions.QuantSqDiffSum.column(col("qv"), col("c"), 1e6)
          .as("d2m"))
  }

  /** The top `topK` of `adc (…, dst, adc_micro)` per `groups` value →
    * `(groups…, dst, adc_dist, rn)`. */
  private def rankAdc(adc: DataFrame, groups: Seq[String], topK: Int): DataFrame =
    graft.ops.Windows.topKPerGroup(adc, groups, topK,
        Seq(col("adc_micro"), col("dst")))
      .select(groups.map(col) ++ Seq(col("dst"),
        round(sqrt(col("adc_micro") / lit(1e12)), 6).as("adc_dist"),
        col("rn").cast("int").as("rn")): _*)
}
