package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Unified, UmapLayout}

/** Unified mapping embedding (mapping_datastore.py:366-668) and the
  * distributed UMAP epoch loop.
  */
class UnifiedUmapSpec extends SparkSpec {

  // two reference cliques: {0,1,2} and {10,11,12}
  private def refEdges = {
    import spark.implicits._
    Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0),
      (10L, 11L, 1.0), (10L, 12L, 1.0), (11L, 12L, 1.0))
      .toDF("src", "dst", "weight")
  }

  // targets 100, 101: 100 projects onto clique A, 101 onto clique B
  private def hits = {
    import spark.implicits._
    Seq((100L, 0L, 1), (100L, 1L, 2), (100L, 2L, 3),
      (101L, 10L, 1), (101L, 11L, 2), (101L, 12L, 3))
      .toDF("target_id", "ref_id", "rank")
  }

  private def refInit = {
    import spark.implicits._
    Seq((0L, -5.0, 0.0), (1L, -5.2, 0.3), (2L, -4.8, -0.3),
      (10L, 5.0, 0.0), (11L, 5.2, 0.3), (12L, 4.8, -0.3))
      .toDF("cell_id", "x", "y")
  }

  test("unifiedGraph offsets targets and bounds their edges by useK") {
    val (edges, mapping) = Unified.unifiedGraph(refEdges, hits, useK = 2, targetWeight = 0.1)
    assert(edges.count() == 6 + 4) // 6 ref + 2 targets × 2 edges
    val m = mapping.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(m.count(_._2 == "ref") == 6 && m.count(_._2 == "target") == 2)
    val tIds = m.filter(_._2 == "target").map(_._1)
    assert(tIds.forall(_ > 12L), s"target unified ids $tIds must be offset past ref ids")
    val tEdges = edges.filter(col("weight") === 0.1).collect()
    assert(tEdges.forall(r => tIds.contains(r.getLong(0))))
  }

  test("unifiedUmap keeps targets embedded beside their reference clique") {
    val out = Unified.unifiedUmap(refEdges, hits, refInit,
      useK = 2, targetWeight = 0.5, nEpochs = 30)
    val rows = out.collect().map(r =>
      (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 8)
    val pos = rows.map { case (o, id, x, y) => (s"$o$id", (x, y)) }.toMap
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.hypot(a._1 - b._1, a._2 - b._2)
    // target 100 must sit nearer clique A's centroid than clique B's
    val cA = ((pos("ref0")._1 + pos("ref1")._1 + pos("ref2")._1) / 3,
      (pos("ref0")._2 + pos("ref1")._2 + pos("ref2")._2) / 3)
    val cB = ((pos("ref10")._1 + pos("ref11")._1 + pos("ref12")._1) / 3,
      (pos("ref10")._2 + pos("ref11")._2 + pos("ref12")._2) / 3)
    assert(dist(pos("target100"), cA) < dist(pos("target100"), cB))
    assert(dist(pos("target101"), cB) < dist(pos("target101"), cA))
  }

  test("unifiedTsne keeps targets embedded beside their reference clique") {
    val out = Unified.unifiedTsne(refEdges, hits, refInit,
      useK = 2, targetWeight = 0.5, nIter = 120)
    val rows = out.collect().map(r =>
      (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 8)
    rows.foreach { case (_, _, x, y) => assert(!x.isNaN && !y.isNaN) }
    val pos = rows.map { case (o, id, x, y) => (s"$o$id", (x, y)) }.toMap
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val cA = ((pos("ref0")._1 + pos("ref1")._1 + pos("ref2")._1) / 3,
      (pos("ref0")._2 + pos("ref1")._2 + pos("ref2")._2) / 3)
    val cB = ((pos("ref10")._1 + pos("ref11")._1 + pos("ref12")._1) / 3,
      (pos("ref10")._2 + pos("ref11")._2 + pos("ref12")._2) / 3)
    assert(dist(pos("target100"), cA) < dist(pos("target100"), cB))
    assert(dist(pos("target101"), cB) < dist(pos("target101"), cA))
  }

  test("unifiedTsne is deterministic (init-seeded, no RNG in the descent)") {
    def run() = Unified.unifiedTsne(refEdges, hits, refInit,
        useK = 2, targetWeight = 0.5, nIter = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("initFromLatent maps a component that is zero on every cell to 0") {
    import spark.implicits._
    // identical cells, and a second component that is 0 everywhere: under
    // ANSI mode a 0/0 rescale would raise DIVIDE_BY_ZERO
    val latent = Seq((1L, Seq(2.0, 0.0, 5.0)), (2L, Seq(-1.0, 0.0, 5.0)),
      (3L, Seq(-1.0, 0.0, 5.0))).toDF("cell_id", "latent")
    val got = UmapLayout.initFromLatent(latent).orderBy("cell_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 10.0, 0.0), (2L, -5.0, 0.0), (3L, -5.0, 0.0)))
    val one = UmapLayout.initFromLatent(Seq((9L, Seq(0.0, 0.0))).toDF("cell_id", "latent"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(one == Seq((9L, 0.0, 0.0)))
  }

  test("distributedLayout separates two cliques from a mixed init") {
    import spark.implicits._
    val edges = refEdges
    // interleaved initial positions: cliques NOT pre-separated
    val init = Seq((0L, 0.1, 0.0), (10L, -0.1, 0.05), (1L, 0.2, -0.1),
      (11L, -0.15, -0.05), (2L, 0.0, 0.1), (12L, 0.05, -0.12))
      .toDF("cell_id", "x", "y")
    // batch-synchronous updates need a damped step: both endpoints of a
    // symmetrized edge move each epoch, so lr 1.0 overshoots
    val out = UmapLayout.distributedLayout(edges, init, nEpochs = 60,
        negPerCell = 2, learningRate = 0.15)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val intra = Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L), (10L, 12L), (11L, 12L))
      .map { case (i, j) => dist(out(i), out(j)) }
    val inter = Seq((0L, 10L), (1L, 11L), (2L, 12L), (0L, 12L))
      .map { case (i, j) => dist(out(i), out(j)) }
    assert(intra.max < inter.min,
      s"clusters not separated: intra ${intra.max} vs inter ${inter.min}")
    out.values.foreach { case (x, y) => assert(!x.isNaN && !y.isNaN) }
  }

  test("distributedLayout is deterministic for a fixed seed") {
    import spark.implicits._
    val init = Seq((0L, 0.1, 0.0), (1L, 0.2, -0.1), (2L, 0.0, 0.1))
      .toDF("cell_id", "x", "y")
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 0.5)).toDF("src", "dst", "weight")
    val r1 = UmapLayout.distributedLayout(e, init, nEpochs = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    val r2 = UmapLayout.distributedLayout(e, init, nEpochs = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(r1 == r2)
  }

  // --- densMAP (Narayan, Berger & Cho 2021; scarf/umap.py:15-38) -------

  // two 8-node rings with chords, identical topology and weights; ring A
  // is DENSE in the original space (edge dist 0.1), ring B SPARSE (2.0)
  private def densFixture = {
    import spark.implicits._
    def ring(off: Long) = (0 until 8).flatMap { i =>
      Seq((off + i, off + (i + 1) % 8), (off + i, off + (i + 2) % 8))
    }
    val edges = (ring(0) ++ ring(10L)).map { case (s, d) => (s, d, 1.0) }
      .toDF("src", "dst", "weight")
    val dists = (ring(0).map { case (s, d) => (s, d, 0.1) } ++
      ring(10L).map { case (s, d) => (s, d, 2.0) })
      .toDF("src", "dst", "dist")
    val init = (0 until 8).map { i =>
      val t = 2 * math.Pi * i / 8
      (i.toLong, -5.0 + math.cos(t), math.sin(t))
    } ++ (0 until 8).map { i =>
      val t = 2 * math.Pi * i / 8
      (10L + i, 5.0 + math.cos(t), math.sin(t))
    }
    (edges, dists, init.toDF("cell_id", "x", "y"))
  }

  // mean embedded distance over each ring's own edges
  private def ringRadii(out: Map[Long, (Double, Double)]) = {
    def ring(off: Long) = (0 until 8).flatMap { i =>
      Seq((off + i, off + (i + 1) % 8), (off + i, off + (i + 2) % 8))
    }
    def mean(es: Seq[(Long, Long)]) = es.map { case (s, d) =>
      math.hypot(out(s)._1 - out(d)._1, out(s)._2 - out(d)._2)
    }.sum / es.size
    (mean(ring(0)), mean(ring(10L)))
  }

  test("densMAP: original-space density shows up as embedding radius; " +
    "densLambda = 0 is the identical plain-UMAP path") {
    val (edges, dists, init) = densFixture
    def run(lambda: Double, withDists: Boolean) =
      UmapLayout.layout(edges, init, nEpochs = 200, densLambda = lambda,
          densFrac = 0.6, dists = if (withDists) Some(dists) else None)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val plain = run(0.0, withDists = false)
    val plainD = run(0.0, withDists = true)
    assert(plain == plainD, "densLambda = 0 must ignore dists entirely")
    val (pa, pb) = ringRadii(plain)
    val dens = run(5.0, withDists = true)
    val (da, db) = ringRadii(dens)
    // plain UMAP normalizes the density difference away; densMAP must
    // systematically expand the sparse ring relative to the dense one
    val plainRatio = pb / pa
    val densRatio = db / da
    assert(densRatio > plainRatio * 1.25,
      s"densMAP ratio $densRatio not above plain ratio $plainRatio")
    dens.values.foreach { case (x, y) => assert(!x.isNaN && !y.isNaN) }
  }

  test("distributedLayout densMAP: same radius separation on the scale path") {
    val (edges, dists, init) = densFixture
    def run(lambda: Double) =
      UmapLayout.distributedLayout(edges, init, nEpochs = 80,
          negPerCell = 2, learningRate = 0.15,
          densLambda = lambda, densFrac = 0.6,
          dists = if (lambda > 0) Some(dists) else None)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val plain = run(0.0)
    val dens = run(4.0)
    val (pa, pb) = ringRadii(plain)
    val (da, db) = ringRadii(dens)
    assert(db / da > (pb / pa) * 1.15,
      s"distributed densMAP ratio ${db / da} not above plain ${pb / pa}")
    dens.values.foreach { case (x, y) => assert(!x.isNaN && !y.isNaN) }
  }
}
