package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** End-to-end specs for the round-7 DataStore facade surface — the 10
  * methods a migrating scarf user calls first (run_tsne, get_imputed,
  * run_cell_cycle_scoring, mark_hto_identities, make_bulk,
  * integrate_assays, run_topacedo_sampler, metric_lisi,
  * metric_silhouette, metric_integration), each driven through the
  * fixture store the way the reference's own test suite drives them
  * (scarf/tests/test_datastore.py:103-228). Also pins the round-8
  * semantics fixes: score_features on NORMALIZED data
  * (scarf/assay.py:726-745) and get_imputed over the SYMMETRIZED graph
  * (scarf/datastore/graph_datastore.py:1780-1804).
  */
class FacadeSpec extends SparkSpec {
  import spark.implicits._

  lazy val ds = DataStore.fromTestData(spark, "/root/testdata/sf0.001")
    .withQcStats
    .filterCells(Seq("n_counts"), Seq(1), Seq(1e9))
    .markHvgs(topN = 30, minCells = 5)
    .makeGraph(dims = 5, k = 6)
  lazy val clustered = ds.runClustering(3)
  lazy val graphNodes = ds.caches("latent").count()

  // ── runTsne ────────────────────────────────────────────────────────

  test("runTsne writes finite tsne1/tsne2 for every graph node") {
    val t = ds.runTsne(nIter = 15)
    assert(t.cells.columns.contains("tsne1"))
    val laid = t.cells.filter($"tsne1".isNotNull)
    assert(laid.count() === graphNodes)
    assert(laid.filter(isnan($"tsne1") || isnan($"tsne2")).count() === 0)
  }

  // ── getImputed ─────────────────────────────────────────────────────

  test("symmetrizeProb is the exact w1 + w2 − w1·w2 fuzzy union") {
    val e = Seq((1L, 2L, 0.5), (2L, 1L, 0.5), (1L, 3L, 0.4))
      .toDF("src", "dst", "weight")
    val sym = graft.graph.GraphOps.symmetrizeProb(e)
      .orderBy("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sym.toSeq === Seq(
      (1L, 2L, 0.75), (1L, 3L, 0.4), (2L, 1L, 0.75), (3L, 1L, 0.4)))
  }

  test("getImputed diffuses within convex bounds over every graph node") {
    val fset = ds.feats.filter($"hvg").select("feat_id").limit(5)
    val imp = ds.getImputed(fset, t = 2).cache()
    // diffusion output covers exactly the graph's source nodes
    val srcs = ds.caches("edges").select($"src".as("cell_id")).distinct()
    assert(imp.count() === srcs.count())
    // each step is a row-stochastic (convex) combination: the imputed
    // range cannot escape the initial signal's range
    val sig0 = graft.norm.Normalize.libSize(
        ds.coo.join(ds.cells.filter($"I").select("cell_id"), Seq("cell_id")))
      .join(fset, Seq("feat_id"))
      .groupBy("cell_id").agg(sum("normed").as("x"))
    val mx0 = sig0.agg(max("x")).head().getDouble(0)
    val mm = imp.agg(min("x"), max("x")).head()
    assert(mm.getDouble(0) >= -1e-9)
    assert(mm.getDouble(1) <= mx0 + 1e-9)
  }

  // ── runCellCycleScoring: normalized-data semantics ─────────────────

  // Library-size-skewed fixture: 6 cells share one composition scaled
  // by wildly different library sizes (1× … 1000×). Under the
  // reference's NORMALIZED scoring every cell gets the IDENTICAL score
  // (lib-size cancels); raw-count scoring would scale scores by the
  // library size. Feature values are arranged so every sampling bin
  // holds one set feature + three equal-valued controls, making the
  // expected score hand-computable from the documented md5 draw.
  private val ccBase: Map[Long, Double] = Map(
    1L -> 10, 2L -> 20, 3L -> 30, 4L -> 40,           // sSet = {1,2}, g2m = {3,4}
    5L -> 12, 6L -> 12, 7L -> 12,                     // bin mates of f1
    8L -> 22, 9L -> 22, 10L -> 22,                    // bin mates of f2
    11L -> 32, 12L -> 32, 13L -> 32,                  // bin mates of f3
    14L -> 42, 15L -> 42, 16L -> 42)                  // bin mates of f4

  private lazy val ccStore = {
    val libs = Seq(1L -> 1.0, 2L -> 3.0, 3L -> 10.0, 4L -> 50.0,
      5L -> 100.0, 6L -> 1000.0)
    val coo = (for { (c, s) <- libs; (f, v) <- ccBase }
      yield (c, f, s * v)).toDF("cell_id", "feat_id", "value")
    val cells = libs.map { case (c, _) => (c, true) }.toDF("cell_id", "I")
    val feats = ccBase.keys.toSeq.sorted.map(f => (f, true, s"f$f"))
      .toDF("feat_id", "I", "name")
    DataStore(cells, feats, coo)
  }

  /** Replay the kernel's documented seeded draw: top-`n` ids of a bin by
    * (md5("seed:id"), id) — the deterministic sampling rule binnedSampling
    * states, recomputed independently via JVM MessageDigest.
    */
  private def md5Pick(ids: Seq[Long], n: Int, seed: Long): Seq[Long] = {
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    ids.sortBy(id => (hex(s"$seed:$id"), id)).take(n)
  }

  test("runCellCycleScoring scores NORMALIZED data: identical scores across a 1000× library-size skew, matching the hand computation") {
    val sSet = Seq(1L, 2L).toDF("feat_id")
    val g2m = Seq(3L, 4L).toDF("feat_id")
    val scored = ccStore.runCellCycleScoring(sSet, g2m, nBins = 5)
    val got = scored.cells
      .select($"cell_id", round($"s_score", 6).as("s"),
        round($"g2m_score", 6).as("g"), $"cell_cycle_phase")
      .collect()
    assert(got.length === 6)
    // lib-size independence: ONE distinct (s, g2m) value across all cells
    assert(got.map(r => (r.getDouble(1), r.getDouble(2))).distinct.length === 1,
      "normalized scoring must cancel library size")
    // hand computation: normed_j = sf·base_j/B; rank bins (nItems = 4)
    // put {f1,5,6,7} {f2,8,9,10} {f3,11,12,13} {f4,14,15,16} together;
    // ctrl = top-2 md5 draw per bin minus the set feature
    val sf = 10000.0
    val b = ccBase.values.sum
    def expScore(set: Seq[Long], bins: Seq[Seq[Long]]): Double = {
      val ctrl = bins.flatMap(ids => md5Pick(ids, 2, 4466L)).filterNot(set.contains)
      sf / b * (set.map(ccBase).sum / set.size - ctrl.map(ccBase).sum / ctrl.size)
    }
    val expS = expScore(Seq(1L, 2L), Seq(Seq(1L, 5L, 6L, 7L), Seq(2L, 8L, 9L, 10L)))
    val expG = expScore(Seq(3L, 4L), Seq(Seq(3L, 11L, 12L, 13L), Seq(4L, 14L, 15L, 16L)))
    assert(approx(got.head.getDouble(1), expS, 1e-5),
      s"s_score ${got.head.getDouble(1)} != expected $expS")
    assert(approx(got.head.getDouble(2), expG, 1e-5),
      s"g2m_score ${got.head.getDouble(2)} != expected $expG")
    // set means sit below their equal-valued bin mates → both negative → G1
    assert(expS < 0 && expG < 0)
    assert(got.forall(_.getString(3) == "G1"))
  }

  test("runCellCycleScoring on the fixture store emits well-formed phases") {
    val feats = ds.feats.filter($"hvg").select("feat_id").orderBy("feat_id")
    val scored = ds.runCellCycleScoring(
      feats.limit(5), feats.orderBy($"feat_id".desc).limit(5), nBins = 10)
    val phases = scored.cells.filter($"cell_cycle_phase".isNotNull)
    assert(phases.count() === ds.cells.filter($"I").count())
    assert(phases.select("cell_cycle_phase").distinct().as[String].collect()
      .toSet.subsetOf(Set("S", "G2M", "G1")))
  }

  // ── markHtoIdentities ──────────────────────────────────────────────

  test("markHtoIdentities calls every active cell into {Negative, Doublet, tags}") {
    val n = 30
    val coo = (for { c <- 1 to n; h <- 1 to 3 } yield
      (c.toLong, h.toLong,
        if (h == (c % 3) + 1) 100.0 + c else 1.0 + (c % 2)))
      .toDF("cell_id", "feat_id", "value")
    val cells = (1 to n).map(c => (c.toLong, true)).toDF("cell_id", "I")
    val feats = (1 to 3).map(h => (h.toLong, true, s"hto$h"))
      .toDF("feat_id", "I", "name")
    val marked = DataStore(cells, feats, coo).markHtoIdentities()
    val calls = marked.cells.filter($"hto_identity".isNotNull)
    assert(calls.count() === n)
    val allowed = Set("Negative", "Doublet", "hto1", "hto2", "hto3")
    assert(calls.select("hto_identity").distinct().as[String].collect()
      .toSet.subsetOf(allowed))
  }

  // ── makeBulk ───────────────────────────────────────────────────────

  test("makeBulk conserves mass per group and splits pseudo-reps exactly") {
    val bulk = clustered.makeBulk("cluster").cache()
    assert(bulk.columns.toSet === Set("group", "feat_id", "sum_value", "frac_exp"))
    val activeTotal = clustered.coo
      .join(clustered.cells.filter($"I" && $"cluster".isNotNull).select("cell_id"),
        Seq("cell_id"))
      .agg(sum("value")).head().getDouble(0)
    assert(approx(bulk.agg(sum("sum_value")).head().getDouble(0), activeTotal, 1e-6))
    assert(bulk.filter($"frac_exp" < 0 || $"frac_exp" > 1).count() === 0)
    // pseudo-reps: every group splits into _Rep1/_Rep2 whose totals
    // re-aggregate to the unsplit group totals
    val reps = clustered.makeBulk("cluster", pseudoReps = 2)
    val rejoined = reps
      .withColumn("group", regexp_replace($"group", "_Rep[0-9]+$", ""))
      .groupBy("group", "feat_id").agg(sum("sum_value").as("sum_value"))
    val diff = bulk.select("group", "feat_id", "sum_value")
      .join(rejoined.withColumnRenamed("sum_value", "sv2"), Seq("group", "feat_id"))
      .filter(abs($"sum_value" - $"sv2") > 1e-6)
    assert(diff.count() === 0)
  }

  // ── integrateAssays ────────────────────────────────────────────────

  test("integrateAssays merges edges, drops stale latent/knn, and downstream ops behave") {
    val other = DataStore.fromTestData(spark, "/root/testdata/sf0.001")
      .withQcStats
      .filterCells(Seq("n_counts"), Seq(1), Seq(1e9))
      .markHvgs(topN = 15, minCells = 3)
      .makeGraph(dims = 4, k = 6)
    val integrated = ds.integrateAssays(Seq(other), k = 6)
    val e = integrated.caches("edges")
    assert(e.columns.toSet === Set("src", "dst", "weight"))
    assert(e.groupBy("src").count().agg(max("count")).head().getLong(0) <= 6)
    // stale single-assay artifacts are gone and their consumers fail
    // fast with an actionable message instead of silently scoring
    // un-integrated data
    assert(!integrated.caches.contains("latent"))
    assert(!integrated.caches.contains("knn"))
    val err = intercept[IllegalStateException](integrated.runClustering(3))
    assert(err.getMessage.contains("integrateAssays"))
    // edge-consuming downstream ops still run: louvain + random-init
    // UMAP and t-SNE (the one init choice both layouts share)
    val lv = integrated.runClustering(0, louvain = true)
    assert(lv.cells.filter($"cluster".isNotNull).count() > 0)
    val nodes =
      e.select($"src".as("c")).unionByName(e.select($"dst".as("c"))).distinct().count()
    val um = integrated.runUmap(nEpochs = 3)
    val laid = um.cells.filter($"umap1".isNotNull)
    assert(laid.count() === nodes)
    assert(laid.filter(isnan($"umap1") || isnan($"umap2")).count() === 0)
    val ts = integrated.runTsne(nIter = 5).cells.filter($"tsne1".isNotNull)
    assert(ts.count() === nodes)
    assert(ts.filter(isnan($"tsne1") || isnan($"tsne2")).count() === 0)
  }

  // ── runTopacedoSampler ─────────────────────────────────────────────

  test("runTopacedoSampler sketches a subset of active cells with seeds inside it") {
    val sk = clustered.runTopacedoSampler()
    assert(sk.cells.columns.contains("is_seed"))
    val sketched = sk.cells.filter($"sketched")
    assert(sketched.count() > 0)
    assert(sketched.count() < sk.cells.filter($"I").count())
    // sketched cells are active; every seed is part of the sketch
    assert(sk.cells.filter($"sketched" && !$"I").count() === 0)
    assert(sk.cells.filter($"is_seed" && !$"sketched").count() === 0)
  }

  // ── metricLisi ─────────────────────────────────────────────────────

  test("metricLisi scores per cell within [1, n_labels] and drops null labels") {
    val withBatch = clustered.copy(cells = clustered.cells
      .withColumn("batchy",
        when($"cell_id" % 5 === 0, lit(null).cast("string"))
          .otherwise(($"cell_id" % 2).cast("string"))))
    val lisi = withBatch.metricLisi(Seq("batchy")).cache()
    assert(lisi.columns.toSet === Set("cell_id", "label_col", "lisi"))
    assert(lisi.select("label_col").distinct().as[String].collect().toSeq === Seq("batchy"))
    // two labels → LISI ∈ [1, 2]; null labels must not form a third
    // category (which could push LISI above 2)
    val mm = lisi.agg(min("lisi"), max("lisi")).head()
    assert(mm.getDouble(0) >= 1.0 - 1e-9)
    assert(mm.getDouble(1) <= 2.0 + 1e-9)
    assert(lisi.filter(isnan($"lisi")).count() === 0)
    assert(lisi.count() <= graphNodes)
  }

  // ── metricSilhouette ───────────────────────────────────────────────

  test("metricSilhouette yields one score per cluster in [-1, 1]") {
    val sil = clustered.metricSilhouette(k = 4).cache()
    val n = sil.count()
    assert(n > 0 && n <= 3)
    assert(sil.filter($"silhouette" < -1 || $"silhouette" > 1).count() === 0)
  }

  // ── metricIntegration ──────────────────────────────────────────────

  test("metricIntegration: perfect label agreement gives ARI = NMI = 1") {
    val two = clustered.copy(cells = clustered.cells
      .withColumn("cluster2", $"cluster"))
    val m = two.metricIntegration("cluster", "cluster2").head()
    assert(approx(m.getDouble(0), 1.0, 1e-6))
    assert(approx(m.getDouble(1), 1.0, 1e-6))
    // permuted-but-equivalent labels keep agreement at 1 (ARI is
    // permutation-invariant); a constant second column degrades it
    val perm = clustered.copy(cells = clustered.cells
      .withColumn("cluster2", ($"cluster" % 3) * 7 + 1))
    assert(approx(perm.metricIntegration("cluster", "cluster2").head().getDouble(0),
      1.0, 1e-6))
  }
}
