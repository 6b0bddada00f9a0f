package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end §7.2 minimum slice on the sf0.001 test tables:
  * open → QC → filter → HVG → graph (PCA + exact KNN + smoothing) →
  * clustering → UMAP → markers. Invariant/shape checks in the style of
  * the reference's own CI (SURVEY.md §5).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val ds = DataStore.fromTestData(spark, "/root/testdata/sf0.001")
    .withQcStats
    .filterCells(Seq("n_counts"), Seq(1), Seq(1e9))
    .markHvgs(topN = 30, minCells = 5)
    .makeGraph(dims = 5, k = 6)

  test("QC stats populate and the mask filters") {
    assert(ds.cells.filter($"I").count() > 0)
    assert(ds.cells.columns.contains("n_counts"))
  }

  test("HVG selection marks exactly topN features") {
    assert(ds.feats.filter($"hvg").count() === 30)
  }

  test("latent space has the requested dims for every active cell") {
    val lat = ds.caches("latent")
    assert(lat.select(size($"latent")).distinct().as[Int].head() === 5)
  }

  test("exact KNN returns k neighbors per cell, no self edges") {
    val knn = ds.caches("knn")
    val counts = knn.groupBy("src").count().select("count").distinct().as[Long].collect()
    assert(counts.toSeq === Seq(6L))
    assert(knn.filter($"src" === $"dst").count() === 0)
  }

  test("smoothed edge weights are in (0, 1] and nearest neighbor gets ~1") {
    val e = ds.caches("edges")
    val mm = e.agg(min("weight"), max("weight")).head()
    assert(mm.getDouble(0) > 0 && mm.getDouble(1) <= 1.0 + 1e-9)
  }

  test("kmeans clustering labels all active cells, 1-based") {
    val c = ds.runClustering(4)
    val labels = c.cells.filter($"cluster".isNotNull).select("cluster")
    assert(labels.agg(min("cluster")).head().getLong(0) === 1L)
    assert(labels.distinct().count() === 4)
  }

  test("louvain clustering is deterministic and covers the graph") {
    val l1 = Cluster.louvain(ds.caches("edges"))
    val l2 = Cluster.louvain(ds.caches("edges"))
    assert(rows(l1.orderBy("cell_id")) === rows(l2.orderBy("cell_id")))
    assert(l1.count() === ds.caches("latent").count())
  }

  test("umap layout yields finite 2-D coords for every cell") {
    val u = ds.runUmap(nEpochs = 5)
    val bad = u.cells.filter($"umap1".isNotNull &&
      (isnan($"umap1") || isnan($"umap2"))).count()
    assert(bad === 0)
  }

  test("marker search runs against cluster labels") {
    val m = ds.runClustering(3).runMarkerSearch
    assert(m.select("group").distinct().count() === 3)
    assert(m.filter($"p_value" < 0 || $"p_value" > 2).count() === 0)
  }

  test("smooth_knn_dist kernel: nearest neighbor weight is exactly 1") {
    val w = Knn.membershipStrengths(Seq(0.5, 1.0, 2.0, 3.0))
    assert(approx(w.head, 1.0))
    assert(w === w.sorted.reverse)
  }

  test("lisi kernel: uniform mixture of 2 labels approaches 2") {
    val l = Metrics.lisiKernel(
      Seq.fill(10)(1.0), (0 until 10).map(i => if (i % 2 == 0) "a" else "b"), 5.0)
    assert(l > 1.8 && l <= 2.000001)
  }

  test("lisi kernel: single label gives 1") {
    val l = Metrics.lisiKernel(Seq.fill(10)(1.0), Seq.fill(10)("a"), 5.0)
    assert(approx(l, 1.0, 1e-3))
  }

  test("recall of exact KNN against itself is 1") {
    val knn = ds.caches("knn")
    assert(approx(Knn.recall(knn, knn), 1.0))
  }

  test("facade: autoFilter, percentFeature, pseudotime, paris") {
    import spark.implicits._
    val ds2 = ds.addPercentFeature("rod|bolt", "pct_rod")
      .autoFilterCells("n_counts")
    assert(ds2.cells.columns.contains("pct_rod"))
    assert(ds2.cells.filter($"I").count() > 0)
    val src = ds.caches("latent").select("cell_id").limit(1)
    val pt = ds.runPseudotime(src)
    assert(pt.cells.filter($"pseudotime".isNotNull).count() > 0)
    val pc = ds.runParis(3)
    assert(pc.cells.filter($"cluster".isNotNull).select("cluster").distinct().count() === 3)
    // the scale path runParis takes from 100k active cells on: the
    // sketched contraction gives every graph node (cells with >= 1 HVG
    // feature) a label without a full-graph collect
    val graphNodes = ds.caches("latent").count()
    val ps = Paris.sketchedCut(ds.caches("edges"),
      ds.cells.select($"cell_id", lit(1L).as("cluster")), 3)
    assert(ps.filter($"cluster".isNotNull).count() === graphNodes)
    // densMAP-flavoured layout stays finite for every graph node
    val du = ds.runUmap(nEpochs = 5, densLambda = 2.0)
    assert(du.cells.filter($"umap1".isNotNull && !isnan($"umap1")).count() ===
      graphNodes)
  }

  test("makeGraph's scale path (ANN self-KNN): no O(n²) join, recall ≥ 0.95") {
    // the layer makeGraph runs once active cells exceed 10k, on the
    // fixture's own latent
    val knn = Knn.bucketedSelfKnn(ds.caches("latent"), 6)
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(Knn.recall(knn, ds.caches("knn")) >= 0.95)
    // below the gate makeGraph stays exact (recall 1.0 vs ds)
    assert(Knn.recall(ds.caches("knn"), ds.caches("knn")) == 1.0)
  }

  test("Scale gate: exact KNN to 10k rows; driver graph solvers below 100k active cells") {
    assert(!Scale.ann(10000L) && Scale.ann(10001L))
    assert(Scale.pcstOnDriver(5000000L) && !Scale.pcstOnDriver(5000001L))
    // runClustering, runUmap and runParis all take their path from this
    // one count of the ACTIVE cells: 99 999 stays on the driver, 100 000
    // goes distributed (sketched, for Paris)
    def store(active: Long) = DataStore(
      spark.range(100000L).select($"id".as("cell_id"), ($"id" < active).as("I")),
      ds.feats, ds.coo)
    assert(store(99999L).graphOnDriver)
    assert(!store(100000L).graphOnDriver)
  }

  test("getUnifiedUmap gate: driver SGD below 100k reference + target nodes") {
    // getUnifiedUmap applies runUmap's rule to the unified graph: active
    // reference cells plus projected targets — 99 999 stay on the driver,
    // 100 000 go distributed. Only the gate's counts run here.
    val proj = (0 until 20).map(i => (200000L + i, 0L, 1)).toDF("target_id", "ref_id", "rank")
    def store(nodes: Long) = DataStore(
      spark.range(100000L).select($"id".as("cell_id"), ($"id" < nodes - 20).as("I")),
      ds.feats, ds.coo, Map("projection:t" -> proj))
    assert(store(99999L).unifiedOnDriver("t"))
    assert(!store(100000L).unifiedOnDriver("t"))
  }

  // Duplicate-free dense store for the mapping e2e: the TPC-H fixture
  // has proportional sparse rows that lib-size-normalize to IDENTICAL
  // vectors, making "self is the unique nearest neighbor" untestable.
  private lazy val mapSrc = {
    val n = 60; val m = 8
    val coo = (for { i <- 1 to n; j <- 1 to m } yield
      (i.toLong, j.toLong, math.abs(math.sin(i * 7.3 + j * 1.7)) * 5 + 0.5))
      .toDF("cell_id", "feat_id", "value")
    val cells = (1 to n).map(i =>
      (i.toLong, true, if (i % 2 == 0) "A" else "B")).toDF("cell_id", "I", "grp")
    val feats = (1 to m).map(j => (j.toLong, true, s"f$j")).toDF("feat_id", "I", "name")
    DataStore(cells, feats, coo)
      .markHvgs(topN = m, minCells = 1)
      .makeGraph(dims = 3, k = 4)
  }

  private lazy val tgt = {
    val tgtCells = mapSrc.cells.filter($"cell_id" % 3 === 0)
    mapSrc.copy(cells = tgtCells,
      coo = mapSrc.coo.join(tgtCells.select("cell_id"), Seq("cell_id")))
  }
  private lazy val mapped = mapSrc.runMapping(tgt, "t1", saveK = 3, dims = 3)

  test("runMapping facade: target projects onto itself at rank 1, score + classes + unified flow") {
    // target = every 3rd source cell with the same data → each target
    // cell's rank-1 reference hit must be ITSELF at dist 0 — the
    // reference tutorial's sanity check for mapping a store onto its
    // own reference
    val hits = mapped.caches("projection:t1")
    val r1 = hits.filter($"rank" === 1)
    assert(r1.count() === 20)
    assert(r1.filter($"target_id" =!= $"ref_id").count() === 0,
      "a target cell's best hit is not itself")
    assert(r1.agg(max("dist")).head().getDouble(0) < 1e-9)
    // every projected target has exactly saveK hits
    assert(hits.groupBy("target_id").count()
      .filter($"count" =!= 3).count() === 0)
    // get_mapping_score: both groups present, scores positive
    val groups = tgt.cells.select($"cell_id".as("target_id"), $"grp".as("group"))
    val score = mapped.getMappingScore("t1", groups)
    assert(score.select("group").distinct().count() === 2)
    assert(score.filter($"score" <= 0).count() === 0)
    // get_target_classes: the self-hit at dist 0 carries weight 1 and
    // the farthest of k hits weight 0, so every target's assigned label
    // is its own group
    val refLabels = mapSrc.cells.select($"cell_id".as("ref_id"), $"grp".as("label"))
    val classes = mapped.getTargetClasses("t1", refLabels, threshold = 0.4)
    val own = tgt.cells.select($"cell_id".as("target_id"), $"grp".as("own"))
    assert(classes.join(own, Seq("target_id"))
      .filter($"assigned" =!= $"own").count() === 0)
    // unified UMAP: one finite row per ref graph node + projected target
    val uni = mapped.getUnifiedUmap("t1", nEpochs = 2)
    val refN = mapSrc.caches("latent").count()
    assert(uni.count() === refN + 20)
    assert(uni.filter(isnan($"umap1") || isnan($"umap2")).count() === 0)
    // CORAL path: correction is computed from the TARGET's own
    // covariance, so it is ≈ identity only when the domains match as
    // DISTRIBUTIONS — use the full store as target (a 20-cell subset's
    // empirical covariance differs and CORAL would legitimately warp it)
    val coralMapped = mapSrc.runMapping(mapSrc, "t2", saveK = 2, dims = 3,
      runCoral = true)
    val cr1 = coralMapped.caches("projection:t2").filter($"rank" === 1)
    assert(cr1.filter($"target_id" =!= $"ref_id").count() === 0)
    // the ANN path runMapping takes above 10k target cells agrees at
    // rank 1: the target cells carry the reference's own data, so their
    // projected latents are the reference latent's rows
    val refLatent = mapped.caches.collectFirst {
      case (k, v) if k.startsWith("maplatent:") => v }.get
    val annHits = Knn.bucketedKnn(refLatent.filter($"cell_id" % 3 === 0),
      refLatent, 2)
    assert(annHits.columns.toSet === Set("src", "dst", "dist", "rn"))
    assert(annHits.filter($"rn" === 1)
      .filter($"src" =!= $"dst").count() === 0)
  }

  test("getUnifiedTsne facade: one finite row per reference graph node and projected target") {
    val uni = mapped.getUnifiedTsne("t1", nIter = 20)
    assert(uni.count() === mapSrc.caches("latent").count() + 20)
    assert(uni.filter($"origin" === "target").count() === 20)
    assert(uni.filter(isnan($"tsne1") || isnan($"tsne2")).count() === 0)
  }

  test("runMapping reuses the reference latent across targets sharing a feature set") {
    val tgtCells = mapSrc.cells.filter($"cell_id" % 3 === 0)
    val tgt = mapSrc.copy(cells = tgtCells,
      coo = mapSrc.coo.join(tgtCells.select("cell_id"), Seq("cell_id")))
    val once = mapSrc.runMapping(tgt, "a", saveK = 2, dims = 3)
    val refKeys = once.caches.keys.filter(k =>
      k.startsWith("mapvecs:") || k.startsWith("maplatent:")).toSeq
    assert(refKeys.size === 2, s"expected mapvecs+maplatent keys, got $refKeys")
    // second target with the SAME feature universe: the cached frames
    // must be the IDENTICAL objects (structural reuse, not a rebuild)
    val twice = once.runMapping(tgt, "b", saveK = 2, dims = 3)
    refKeys.foreach { k =>
      assert(twice.caches(k) eq once.caches(k), s"$k was rebuilt")
    }
    // and the reused-latent projection is identical to the fresh one
    val a = once.caches("projection:a").orderBy("target_id", "rank").collect().toSeq
    val b = twice.caches("projection:b").orderBy("target_id", "rank").collect().toSeq
    assert(a === b)
    // a DIFFERENT dims gets a different key — no false sharing
    val other = once.runMapping(tgt, "c", saveK = 2, dims = 2)
    assert(other.caches.keys.count(_.startsWith("maplatent:")) === 2)
  }

  test("runMapping does NOT reuse the reference latent after the mask changes") {
    val tgtCells = mapSrc.cells.filter($"cell_id" % 3 === 0)
    val tgt = mapSrc.copy(cells = tgtCells,
      coo = mapSrc.coo.join(tgtCells.select("cell_id"), Seq("cell_id")))
    val once = mapSrc.runMapping(tgt, "a", saveK = 2, dims = 3)
    // mutate the reference's active mask; `caches` rides along through
    // copy(), so a stale key would silently serve pre-filter vectors
    val filtered = once.copy(cells = once.cells
      .withColumn("I", $"I" && $"cell_id" % 2 === 0))
    val again = filtered.runMapping(tgt, "b", saveK = 2, dims = 3)
    assert(again.caches.keys.count(_.startsWith("maplatent:")) === 2,
      "a mask change must mint a NEW reference-latent key, not reuse the old")
    // and the post-filter projection only ever hits active reference cells
    val active = again.cells.filter($"I").select($"cell_id".as("ref_id"))
    val hits = again.caches("projection:b")
    assert(hits.join(active, Seq("ref_id"), "left_anti").count() === 0,
      "projection hit a reference cell that is no longer active")
  }

  test("runMapping cacheRoot: reference latent survives a fresh session") {
    val dir = java.nio.file.Files.createTempDirectory("graftmap").toString
    val tgtCells = mapSrc.cells.filter($"cell_id" % 3 === 0)
    val tgt = mapSrc.copy(cells = tgtCells,
      coo = mapSrc.coo.join(tgtCells.select("cell_id"), Seq("cell_id")))
    val first = mapSrc.runMapping(tgt, "a", saveK = 2, dims = 3, cacheRoot = Some(dir))
    val a = first.caches("projection:a").orderBy("target_id", "rank").collect().toSeq
    val manifests = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".manifest.json"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(manifests.nonEmpty, "maplatent must persist to the cache root")
    // a FRESH store (no in-session caches — a restarted mapping server)
    // must reload the reference latent from disk, not restamp it
    val fresh = mapSrc.copy(caches = Map.empty)
    val second = fresh.runMapping(tgt, "b", saveK = 2, dims = 3, cacheRoot = Some(dir))
    val b = second.caches("projection:b").orderBy("target_id", "rank").collect().toSeq
    assert(a === b)
    val manifests2 = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".manifest.json"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(manifests === manifests2, "unchanged inputs must not restamp manifests")
    assert(new graft.core.CacheStore(dir).latest("maplatent").isDefined)
  }

  test("subsetActive re-indexes cells densely and resets the mask") {
    import spark.implicits._
    val filtered = ds.copy(cells = ds.cells.withColumn("I",
      $"cell_id" % 2 === 0))
    val sub = filtered.subsetActive()
    val n = sub.cells.count()
    assert(n === filtered.cells.filter($"I").count())
    // dense 1..n ids, mask reset to all-true
    assert(sub.cells.agg(min("cell_id"), max("cell_id")).head().toSeq === Seq(1L, n))
    assert(sub.cells.filter(!$"I").count() === 0)
    assert(sub.coo.select("cell_id").distinct().count() <= n)
  }
}
