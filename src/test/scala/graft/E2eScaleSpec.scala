package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end pipeline at 50k cells — the "does the auto-sized ANN path
  * actually carry a real store through graph → Leiden → UMAP" proof the
  * small fixture specs can't give. The synthetic store has 5 planted
  * blocks; each cell expresses 30 draws from its block's 40-feature
  * band PLUS 20 draws from the whole feature space (deterministic
  * xxhash64 — no RNG). The uniform background matters: it gives every
  * cell idiosyncratic loadings on ALL principal components, so the
  * within-block latent cloud has genuine spread — the geometry
  * `planesFor`'s uniform-occupancy rule (and any real scRNA manifold)
  * assumes. A generator without it collapses each block to one latent
  * point, every block shares one LSH bucket, and the in-bucket join
  * goes |block|² — the degenerate regime the hot-bucket-capped dedup
  * detectors guard against but a recall-preserving KNN must not be fed.
  *
  * Scale semantics exercised (and asserted, not assumed):
  *  - makeGraph auto-selects the LSH-bucketed ANN (50k rows is above
  *    `Scale.ann`'s 10k-row bound) with planes auto-sized from COUNT(*)
  *    — the same decision a 1000-executor run takes; exact O(n²) KNN
  *    never runs;
  *  - the KNN edge list stays n·k-bounded (the driver-side Leiden
  *    collect is n·k, the documented bounded boundary);
  *  - Leiden recovers the planted blocks (NMI), UMAP lays out every
  *    graph node finitely;
  *  - wall-clock per stage is printed to stderr for PERF.md.
  */
@org.scalatest.tags.Slow
class E2eScaleSpec extends SparkSpec {
  import spark.implicits._

  // GRAFT_SCALE_MULT scales the store for one-off slope measurements
  // (PERF.md scale rows) — assertions are all val-relative. Shuffle
  // partitions scale with it too (the DedupScaleSpec spill lesson).
  // The conf override mutates the SHARED session — sound only under
  // sequential suite execution (the committed ScalaTest config).
  private val mult = sys.env.getOrElse("GRAFT_SCALE_MULT", "1").toInt
  private var savedPartitions: String = _
  override def beforeAll(): Unit = {
    super.beforeAll()
    savedPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", (4 * mult).toString)
  }
  override def afterAll(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", savedPartitions)
    super.afterAll()
  }

  private val nCells = 50000L * mult
  private val nBlocks = 5
  private val bandWidth = 40 // features per block band; 5 × 40 = 200 total
  private val bandDraws = 30
  private val bgDraws = 20

  private lazy val store: DataStore = {
    val cellsR = spark.range(nCells).select(col("id").as("cell_id"))
    val band = cellsR
      .withColumn("block", col("cell_id") % nBlocks)
      .crossJoin(spark.range(bandDraws).select(col("id").as("j")))
      .select(col("cell_id"),
        (col("block") * bandWidth +
          pmod(xxhash64(lit("f"), col("cell_id"), col("j")), lit(bandWidth)))
          .as("feat_id"))
    val bg = cellsR
      .crossJoin(spark.range(bgDraws).select(col("id").as("j")))
      .select(col("cell_id"),
        pmod(xxhash64(lit("g"), col("cell_id"), col("j")),
          lit(nBlocks.toLong * bandWidth)).as("feat_id"))
    val coo = band.unionByName(bg)
      .withColumn("value",
        lit(1.0) + pmod(xxhash64(lit("v"), col("cell_id"), col("feat_id")),
          lit(5)).cast("double"))
      .groupBy("cell_id", "feat_id").agg(sum("value").as("value"))
    val cells = cellsR.select(col("cell_id"), lit(true).as("I"))
    val feats = spark.range(nBlocks.toLong * bandWidth)
      .select(col("id").as("feat_id"), lit(true).as("I"),
        concat(lit("f"), col("id")).as("name"))
    DataStore(cells, feats, coo)
  }

  test("50k-cell e2e: QC -> HVG -> auto-ANN graph -> clustering -> UMAP recovers planted blocks") {
    val t0 = System.nanoTime()
    val graphed = store.withQcStats
      .filterCells(Seq("n_counts"), Seq(1.0), Seq(1e9))
      .markHvgs(topN = 150, minCells = 20)
      .makeGraph(dims = 8, k = 8)
    val edges = graphed.caches("edges")
    val nEdges = edges.count()
    val tGraph = (System.nanoTime() - t0) / 1e9

    // the auto-decision: 50k > Scale's 10k-row bound means the bucketed ANN built
    // this graph; its output is k-bounded per node by construction —
    // assert it (n·k is the bound the driver-side solvers rely on)
    assert(nEdges > 0)
    assert(nEdges <= nCells * 8)
    assert(edges.groupBy("src").count().agg(max("count")).head().getLong(0) <= 8)
    // every active cell made it into the graph
    val srcN = edges.select("src").distinct().count()
    assert(srcN === nCells)

    // the FACADE call, so the distributed-twin auto-gate itself is under
    // test: < 100k active cells (mult=1) takes the driver-side solver,
    // ≥ 100k (mult≥2) switches to DistributedLouvain multi-level +
    // Leiden-style refine — both paths must recover the plant
    val distSwitch = !Scale.driverGraph(nCells)
    val t1 = System.nanoTime()
    val clustered0 = graphed.runClustering(0, louvain = true)
    // cache + materialize: the stage timing stops here, and the NMI /
    // UMAP actions below must not re-run the clustering lineage
    val clustered = clustered0.copy(cells = clustered0.cells.cache())
    clustered.cells.foreach(_ => ())
    val tLeiden = (System.nanoTime() - t1) / 1e9

    // Leiden must recover the plant: NMI(cluster, planted block) high.
    // 0.7 leaves room for the 20 background draws blurring block edges,
    // ANN recall < 1, and sub-community splits (NMI, unlike ARI, does
    // not punish a block splitting into two pure communities).
    val withBlock = clustered.cells
      .withColumn("block", col("cell_id") % nBlocks)
      .filter(col("cluster").isNotNull)
    assert(withBlock.count() === nCells)
    val nmi = graft.stats.Pseudobulk
      .ariNmi(withBlock, "cluster", "block").head()
    System.err.println(f"[e2e-50k] clustering NMI vs plant = ${nmi.getDouble(1)}%.4f" +
      s" (path=${if (distSwitch) "distributed" else "driver"})")
    assert(nmi.getDouble(1) > 0.7,
      s"clustering NMI vs planted blocks = ${nmi.getDouble(1)}")

    val t2 = System.nanoTime()
    val laid = clustered.runUmap(nEpochs = 5).cells
      .filter(col("umap1").isNotNull)
    val nLaid = laid.count()
    val tUmap = (System.nanoTime() - t2) / 1e9

    assert(nLaid === nCells)
    assert(laid.filter(isnan(col("umap1")) || isnan(col("umap2"))).count() === 0)
    System.err.println(
      f"[e2e-50k] graph=$tGraph%.1fs cluster=$tLeiden%.1fs umap=$tUmap%.1fs " +
        f"total=${tGraph + tLeiden + tUmap}%.1fs edges=$nEdges " +
        s"path=${if (distSwitch) "distributed" else "driver"}")
  }
}
