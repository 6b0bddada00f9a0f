package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopACeDo-style cell sketching (run_topacedo_sampler,
  * scarf/datastore/graph_datastore.py:1586-1727). The reference delegates
  * to the external `topacedo` package (as it does for tSNE); this is the
  * in-engine equivalent of its documented behavior: per-cluster sampling
  * rates modulated down by neighbourhood density and up for low-SNN
  * (loosely knit) clusters, clamped to [minRate, maxRate] with a
  * min-cells floor; seeded deterministic draws; plus connector cells
  * picked by a real prize-collecting Steiner tree pass ([[Pcst]], the
  * Goemans–Williamson scheme behind the pcst_fast library topacedo
  * uses) at the reference's documented defaults for seed_reward,
  * non_seed_reward, edge_cost_multiplier and edge_cost_bandwidth
  * (graph_datastore.py:1599-1602). Edge costs: a KNN edge of weight w
  * costs `EdgeCostMultiplier · EdgeCostBandwidth^(1 − w/w_max)` —
  * strong edges are cheap to traverse, weak ones exponentially dear,
  * matching the docstring's "bandwidth raised to edge cost" shaping.
  *
  * The PCST pass collects the (deduped) edge list on the driver — the
  * same boundary as the reference, whose pcst_fast is single-node C++
  * over the full CSR. Above [[graft.pipeline.Scale.pcstMaxDriverEdges]]
  * edges it falls back to the relational connector heuristic (a
  * non-seed adjacent to ≥ 2 seeds of its own cluster joins the sketch),
  * which never collects; at that
  * scale [[graft.pipeline.Paris.sketchedCut]]'s anchor contraction is
  * the intended host for an exact PCST.
  */
object Sketch {

  // density / SNN rate shaping and the PCST prize and cost knobs, fixed
  // at the reference's defaults (no caller tunes them)
  private val DensityDepth = 2
  private val DensityBandwidth = 5.0
  private val SnnBandwidth = 5.0
  private val SeedReward = 3.0
  private val NonSeedReward = 0.0
  private val EdgeCostMultiplier = 1.0
  private val EdgeCostBandwidth = 10.0

  /** Neighbourhood density (calc_neighbourhood_density): node degree,
    * then `depth` rounds of summing neighbours' values — depth 0 = own
    * degree, depth d = degree mass reachable in d hops.
    */
  def neighbourhoodDensity(edges: DataFrame, depth: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val (dens, _) = graft.core.Lineage.iterate(
        sym.groupBy("src").agg(count(lit(1)).cast("double").as("density"))
          .withColumnRenamed("src", "cell_id"), depth) { (dens, _) =>
      sym.join(dens.withColumnRenamed("cell_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("cell_id"))
        .agg(sum(col("density")).as("density"))
    } { (_, _) => false }
    dens
  }

  /** Sketch the dataset: returns `(cell_id, is_seed, sketched)`.
    * `clusters(cell_id, cluster)`; `edges` = the KNN graph.
    * `usePcst = false` keeps the connector pass relational at any size
    * (never collects — [[graft.pipeline.Paris.sketchedCut]]'s contract).
    */
  def topacedo(edges: DataFrame, clusters: DataFrame,
               maxRate: Double = 0.05, minRate: Double = 0.01,
               minCellsPerGroup: Int = 3, seed: Long = 4466L,
               usePcst: Boolean = true): DataFrame = {
    val dens = neighbourhoodDensity(edges, DensityDepth)
    // per-cluster mean density, min-max normalized across clusters
    val cdens = clusters.join(dens, Seq("cell_id"), "left")
      .na.fill(0.0, Seq("density"))
      .groupBy("cluster").agg(avg("density").as("mean_density"),
        count(lit(1)).as("sz"))
    val bounds = cdens.agg(min("mean_density").as("lo"), max("mean_density").as("hi"))
    // per-cluster mean SNN consistency from the KNN neighbour lists
    val snn = GraphOps.snn(edges.select("src", "dst"), 1)
    val snnNorm = snn.agg(max("shared").as("snn_max"))
    val csnn = clusters.join(
        snn.select(col("i").as("cell_id"), col("shared"))
          .unionByName(snn.select(col("j").as("cell_id"), col("shared")))
          .groupBy("cell_id").agg(avg("shared").as("cell_snn")),
        Seq("cell_id"), "left")
      .na.fill(0.0, Seq("cell_snn"))
      .groupBy("cluster").agg(avg("cell_snn").as("mean_snn"))
    val rates = cdens.crossJoin(broadcast(bounds))
      .join(csnn, Seq("cluster"))
      .crossJoin(broadcast(snnNorm))
      .withColumn("dnorm",
        when(col("hi") > col("lo"),
          (col("mean_density") - col("lo")) / (col("hi") - col("lo"))).otherwise(0.0))
      .withColumn("snorm", col("mean_snn") / greatest(col("snn_max").cast("double"), lit(1.0)))
      // dense neighbourhoods → fewer samples; high-SNN (tightly knit)
      // clusters → fewer samples (their structure is redundant)
      .withColumn("rate", greatest(lit(minRate), least(lit(maxRate),
        lit(maxRate) * pow(lit(DensityBandwidth), -col("dnorm"))
          * pow(lit(SnnBandwidth), -col("snorm")))))
      .withColumn("n_take", greatest(lit(minCellsPerGroup),
        ceil(col("rate") * col("sz"))).cast("int"))
      .select("cluster", "rate", "n_take")
    // seeded deterministic per-cluster draw
    val ranked = clusters.join(broadcast(rates), Seq("cluster"))
      .withColumn("rn", row_number().over(Window.partitionBy("cluster")
        .orderBy(md5(concat(lit(s"$seed:"), col("cell_id"))), col("cell_id"))))
    val seeds = ranked.filter(col("rn") <= col("n_take"))
      .select(col("cell_id"), col("cluster"))
    // connector pass: exact GW prize-collecting Steiner forest between
    // the seeds (driver-side at the reference's own pcst_fast boundary),
    // falling back to the relational >= 2-seed-neighbours heuristic when
    // the edge list is too large to collect
    val connectors =
      if (usePcst && graft.pipeline.Scale.pcstOnDriver(edges.count()))
        pcstConnectors(edges, clusters, seeds)
      else relationalConnectors(edges, clusters, seeds)
    clusters.select("cell_id")
      .join(seeds.select(col("cell_id"), lit(true).as("is_seed")), Seq("cell_id"), "left")
      .join(connectors.withColumn("is_conn", lit(true)), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"),
        (coalesce(col("is_seed"), lit(false)) || coalesce(col("is_conn"), lit(false)))
          .as("sketched"))
  }

  /** GW-PCST connectors: seeds carry `SeedReward` prizes, every other
    * cell `NonSeedReward`; an edge of weight w costs
    * `EdgeCostMultiplier · EdgeCostBandwidth^(1 − w/w_max)`. Kept
    * Steiner nodes that are not seeds become connectors. Seeds are never
    * dropped from the sketch even if pruning forfeits them (the caller
    * unions seeds back in).
    */
  private def pcstConnectors(edges: DataFrame, clusters: DataFrame,
                             seeds: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val hasW = edges.columns.contains("weight")
    // driver-bound: caller Scale.pcstOnDriver gate: the cells of a ≤ 5M-edge graph
    val cells = clusters.select(col("cell_id").cast("long")).as[Long].collect().sorted
    val idx = cells.zipWithIndex.toMap
    val collected = (if (hasW) edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double"))
      else edges.select(col("src").cast("long"), col("dst").cast("long"), lit(1.0).as("weight")))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("weight"))
      .groupBy("a", "b").agg(max("weight").as("w"))
      // driver-bound: caller Scale.pcstOnDriver gate (≤ 5M edges)
      .as[(Long, Long, Double)].collect()
      .filter(t => idx.contains(t._1) && idx.contains(t._2))
      .sortBy(t => (t._1, t._2)) // collect order is not deterministic; event ids are
    // driver-bound: the seeds are a subset of the gated cells above
    val seedIds = seeds.select(col("cell_id").cast("long")).as[Long].collect().toSet
    val prize = cells.map(c => if (seedIds(c)) SeedReward else NonSeedReward)
    val wMax = if (collected.isEmpty) 1.0 else math.max(collected.map(_._3).max, 1e-300)
    val src = new Array[Int](collected.length)
    val dst = new Array[Int](collected.length)
    val cost = new Array[Double](collected.length)
    var i = 0
    while (i < collected.length) {
      val (a, b, w) = collected(i)
      src(i) = idx(a); dst(i) = idx(b)
      cost(i) = EdgeCostMultiplier * math.pow(EdgeCostBandwidth, 1.0 - w / wMax)
      i += 1
    }
    val (kept, _) = Pcst.gw(cells.length, src, dst, cost, prize)
    kept.map(cells).filterNot(seedIds).toSeq.toDF("cell_id")
  }

  /** Scale fallback (never collects): a non-seed adjacent to ≥ 2 seeds
    * of its own cluster joins the sketch to keep seed neighbourhoods
    * linked.
    */
  private def relationalConnectors(edges: DataFrame, clusters: DataFrame,
                                   seeds: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    sym
      .join(seeds.withColumnRenamed("cell_id", "dst"), Seq("dst"))
      .join(clusters.withColumnRenamed("cell_id", "src")
        .withColumnRenamed("cluster", "c_src"), Seq("src"))
      .filter(col("cluster") === col("c_src"))
      .groupBy(col("src").as("cell_id")).agg(countDistinct(col("dst")).as("n_seed_nbrs"))
      .filter(col("n_seed_nbrs") >= 2)
      .join(seeds.select(col("cell_id")), Seq("cell_id"), "left_anti")
      .select("cell_id")
  }
}
