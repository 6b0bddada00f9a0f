package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UMAP-style 2-D layout (SURVEY.md §2.11). Like the reference — which
  * hands umap-learn's SGD a CSR graph built in-process
  * (scarf/umap.py:41-164) — the optimization runs on the driver over the
  * collected edge list (n·k edges; the per-cell state is 2 doubles).
  * Graph prep (symmetrize, weights) is distributed; only the O(n·k) SGD
  * is driver-side, with a seeded deterministic schedule.
  *
  * Curve params (a, b) default to UMAP's fitted values for
  * min_dist = 0.1, spread = 1.0.
  */
object UmapLayout {

  /** densMAP local-radius terms (Narayan, Berger & Cho 2021; the
    * reference enables them through umap-learn's densmap_kwds,
    * scarf/umap.py:15-38 calc_dens_map_params). With `densLambda` > 0 the
    * loss adds λ·Corr(log original local radius, log embedding local
    * radius); `dists` must then supply the original-space distances for
    * the graph edges as `(src, dst, dist)`. densLambda = 0 (default) is
    * bit-identical to plain UMAP — the dens code neither runs nor
    * consumes RNG draws.
    */
  def layout(edges: DataFrame, init: DataFrame, nEpochs: Int = 50,
             a: Double = 1.576943, b: Double = 0.895061,
             learningRate: Double = 1.0, negSamples: Int = 5,
             seed: Long = 4444L,
             densLambda: Double = 0.0, densFrac: Double = 0.3,
             densVarShift: Double = 0.1,
             dists: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)].collect()
    val coords = scala.collection.mutable.Map[Long, Array[Double]]()
    init.select("cell_id", "x", "y").as[(Long, Double, Double)].collect()
      .foreach { case (id, x, y) => coords(id) = Array(x, y) }
    es.foreach { case (s, d, _) =>
      coords.getOrElseUpdate(s, Array(0.0, 0.0))
      coords.getOrElseUpdate(d, Array(0.0, 0.0))
    }
    val ids = coords.keys.toArray.sorted
    val idIdx = ids.zipWithIndex.toMap
    val rnd = new scala.util.Random(seed)
    val wMax = es.map(_._3).foldLeft(1e-12)(math.max)

    def clip(x: Double): Double = math.max(-4.0, math.min(4.0, x))

    // --- densMAP originals: mu_sum and standardized log radius R -------
    val nV = ids.length
    val eps = 1e-8
    val muSum = new Array[Double](nV)
    val densR = new Array[Double](nV)
    val muTot = es.map(_._3).sum
    if (densLambda > 0) {
      val dMap = dists.getOrElse(throw new IllegalArgumentException(
          "densLambda > 0 requires original-space dists (src, dst, dist)"))
        .select("src", "dst", "dist").as[(Long, Long, Double)].collect()
        .map { case (s, d, v) => (s, d) -> v }.toMap
      val ro = new Array[Double](nV)
      es.foreach { case (s, d, mu) =>
        val dd = dMap.getOrElse((s, d), dMap.getOrElse((d, s), 0.0))
        val j = idIdx(s); val k = idIdx(d)
        val dsq = dd * dd
        ro(j) += mu * dsq; ro(k) += mu * dsq
        muSum(j) += mu; muSum(k) += mu
      }
      var i = 0
      while (i < nV) {
        ro(i) = math.log(eps + (if (muSum(i) > 0) ro(i) / muSum(i) else 0.0))
        i += 1
      }
      val mean = ro.sum / nV
      val sd = math.sqrt(ro.map(x => (x - mean) * (x - mean)).sum / nV)
      i = 0
      while (i < nV) { densR(i) = if (sd > 0) (ro(i) - mean) / sd else 0.0; i += 1 }
    }
    val reSum = new Array[Double](nV) // log embedding radius, per dens epoch
    val phiSum = new Array[Double](nV)
    var reMean = 0.0; var reStd = 1.0; var reCov = 0.0

    var epoch = 0
    while (epoch < nEpochs) {
      val alpha = learningRate * (1.0 - epoch.toDouble / nEpochs)
      // densMAP epoch init: embedding local radii from the current
      // coords (re_sum, phi_sum), then the correlation statistics
      val densOn = densLambda > 0 && epoch.toDouble / nEpochs >= 1.0 - densFrac
      if (densOn) {
        java.util.Arrays.fill(reSum, 0.0); java.util.Arrays.fill(phiSum, 0.0)
        es.foreach { case (s, d, _) =>
          val cs = coords(s); val cd = coords(d)
          val dx = cs(0) - cd(0); val dy = cs(1) - cd(1)
          val d2 = dx * dx + dy * dy
          val phi = 1.0 / (1.0 + a * math.pow(d2, b))
          val j = idIdx(s); val k = idIdx(d)
          reSum(j) += phi * d2; reSum(k) += phi * d2
          phiSum(j) += phi; phiSum(k) += phi
        }
        var i = 0
        while (i < nV) {
          reSum(i) = math.log(eps + (if (phiSum(i) > 0) reSum(i) / phiSum(i) else 0.0))
          i += 1
        }
        reMean = reSum.sum / nV
        val v = reSum.map(x => (x - reMean) * (x - reMean)).sum / nV
        reStd = math.sqrt(v + densVarShift)
        reCov = reSum.zip(densR).map { case (x, r) => x * r }.sum / (nV - 1) / reStd
      }
      es.foreach { case (s, d, w) =>
        if (rnd.nextDouble() < w / wMax) {
          val cs = coords(s); val cd = coords(d)
          val d2 = {
            val dx = cs(0) - cd(0); val dy = cs(1) - cd(1); dx * dx + dy * dy
          }
          // attractive gradient of the (a, b) curve
          val gradCo = if (d2 > 0) (-2.0 * a * b * math.pow(d2, b - 1)) /
            (1.0 + a * math.pow(d2, b)) else 0.0
          // densMAP correlation gradient (local-radius chain rule)
          val corCo = if (densOn && d2 > 0) {
            val j = idIdx(s); val k = idIdx(d)
            val phi = 1.0 / (1.0 + a * math.pow(d2, b))
            val dphiTerm = a * b * math.pow(d2, b - 1) / (1.0 + a * math.pow(d2, b))
            val qjk = phi / phiSum(k)
            val qkj = phi / phiSum(j)
            val drk = qjk * ((1.0 - b * (1.0 - phi)) / math.exp(reSum(k)) + dphiTerm)
            val drj = qkj * ((1.0 - b * (1.0 - phi)) / math.exp(reSum(j)) + dphiTerm)
            val reStdSq = reStd * reStd
            val wK = densR(k) - reCov * (reSum(k) - reMean) / reStdSq
            val wJ = densR(j) - reCov * (reSum(j) - reMean) / reStdSq
            densLambda * muTot * (wK * drk + wJ * drj) / (w * nV)
          } else 0.0
          var i = 0
          while (i < 2) {
            var g = clip(gradCo * (cs(i) - cd(i)))
            if (densOn) g += clip(2.0 * corCo * (cs(i) - cd(i)))
            cs(i) += alpha * g
            cd(i) -= alpha * g
            i += 1
          }
          // negative sampling: repulse from random nodes
          var ns = 0
          while (ns < negSamples) {
            val other = coords(ids(rnd.nextInt(ids.length)))
            val r2 = {
              val dx = cs(0) - other(0); val dy = cs(1) - other(1); dx * dx + dy * dy
            }
            val rep = (2.0 * b) / ((0.001 + r2) * (1.0 + a * math.pow(r2, b)))
            var j = 0
            while (j < 2) {
              cs(j) += alpha * clip(rep * (cs(j) - other(j)))
              j += 1
            }
            ns += 1
          }
        }
      }
      epoch += 1
    }
    ids.map(id => (id, coords(id)(0), coords(id)(1)))
      .toSeq.toDF("cell_id", "umap1", "umap2")
  }

  /** Distributed UMAP epoch loop: batch-synchronous SGD — the scale-up
    * path the driver SGD lacks. Per epoch, every edge contributes its
    * attractive gradient (Bernoulli-sampled by weight via a deterministic
    * hash of (src, dst, epoch)) and every cell repulses against the other
    * members of a per-epoch random hash bucket (bucketed negative
    * sampling, ~`negPerCell` negatives each). Forces are summed per cell
    * with one aggregation and applied once — parameter-averaged batch
    * updates rather than sequential per-edge ones (the standard
    * synchronous relaxation of UMAP's async SGD; converges to the same
    * attractor layout). Everything is joins + aggregations; no driver
    * state, any graph size.
    */
  def distributedLayout(edges: DataFrame, init: DataFrame, nEpochs: Int = 30,
                        negPerCell: Int = 8,
                        a: Double = 1.576943, b: Double = 0.895061,
                        learningRate: Double = 1.0, seed: Long = 4444L,
                        densLambda: Double = 0.0, densFrac: Double = 0.3,
                        densVarShift: Double = 0.1,
                        dists: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max("weight").as("weight"))
    val symCk = graft.core.Lineage.reset(sym)
    val wMax = symCk.agg(max("weight")).head().getDouble(0).max(1e-12)
    val nCells = init.count()
    val nBuckets = math.max(1L, nCells / (negPerCell + 1))
    def clip(c: org.apache.spark.sql.Column) = greatest(lit(-4.0), least(lit(4.0), c))

    // densMAP originals (distributed twin of the driver path): per-cell
    // mu_sum and standardized log original radius R — one join + one
    // aggregation over the symmetric edges, broadcast-joined thereafter
    val eps = 1e-8
    val muTot = if (densLambda > 0) symCk.agg(sum("weight")).head().getDouble(0) else 0.0
    val densR: Option[DataFrame] = if (densLambda > 0) {
      val dd = dists.getOrElse(throw new IllegalArgumentException(
          "densLambda > 0 requires original-space dists (src, dst, dist)"))
        .select(col("src"), col("dst"), col("dist"))
      val symD = dd.unionByName(
          dd.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
        .groupBy("src", "dst").agg(max("dist").as("dist"))
      val ro = symCk.join(symD, Seq("src", "dst"), "left")
        .na.fill(0.0, Seq("dist"))
        .groupBy(col("src").as("cell_id"))
        .agg(sum(col("weight") * col("dist") * col("dist")).as("rosum"),
          sum(col("weight")).as("mu_sum"))
        .withColumn("ro", log(lit(eps) +
          when(col("mu_sum") > 0, col("rosum") / col("mu_sum")).otherwise(0.0)))
      val st = ro.agg(avg("ro").as("rm"), stddev_pop(col("ro")).as("rs"))
      Some(graft.core.Lineage.reset(
        ro.crossJoin(broadcast(st))
          .select(col("cell_id"),
            when(col("rs") > 0, (col("ro") - col("rm")) / col("rs")).otherwise(0.0).as("r_orig"),
            col("mu_sum"))))
    } else None

    val (coords, _) = graft.core.Lineage.iterate(
        init.select("cell_id", "x", "y"), nEpochs) { (coords, epoch) =>
      val alpha = learningRate * (1.0 - epoch.toDouble / nEpochs)
      val cs = coords.select(col("cell_id").as("src"), col("x").as("sx"), col("y").as("sy"))
      val cd = coords.select(col("cell_id").as("dst"), col("x").as("dx"), col("y").as("dy"))
      val densOn = densLambda > 0 && epoch.toDouble / nEpochs >= 1.0 - densFrac
      // densMAP epoch stats: embedding local radii (re, phi sums) from
      // the current coords, then the correlation scalars — one extra
      // aggregation per dens epoch, joined back per-cell
      val densCols: Option[(DataFrame, Double, Double, Double)] = if (densOn) {
        val re0 = symCk.join(cs, Seq("src")).join(cd, Seq("dst"))
          .withColumn("d2", (col("sx") - col("dx")) * (col("sx") - col("dx"))
            + (col("sy") - col("dy")) * (col("sy") - col("dy")))
          .withColumn("phi", lit(1.0) / (lit(1.0) + lit(a) * pow(col("d2"), b)))
          .groupBy(col("src").as("cell_id"))
          .agg(sum(col("phi") * col("d2")).as("resum"), sum(col("phi")).as("phisum"))
          .withColumn("re", log(lit(eps) +
            when(col("phisum") > 0, col("resum") / col("phisum")).otherwise(0.0)))
          .join(densR.get, Seq("cell_id"))
        val reCk = graft.core.Lineage.reset(re0)
        val strow = reCk.agg(avg("re").as("rm"), var_pop(col("re")).as("rv"),
          (sum(col("re") * col("r_orig")) / (nCells - 1)).as("rcov0")).head()
        val reMean = strow.getDouble(0)
        val reStd = math.sqrt(strow.getDouble(1) + densVarShift)
        val reCov = strow.getDouble(2) / reStd
        Some((reCk, reMean, reStd, reCov))
      } else None
      // attraction: per-edge Bernoulli by weight, deterministic in epoch
      val attBase = symCk
        .withColumn("u", (pmod(hash(col("src"), col("dst"), lit(epoch), lit(seed)), lit(100000)) / 100000.0))
        .filter(col("u") < col("weight") / wMax)
        .join(cs, Seq("src")).join(cd, Seq("dst"))
        .withColumn("d2", (col("sx") - col("dx")) * (col("sx") - col("dx"))
          + (col("sy") - col("dy")) * (col("sy") - col("dy")))
        .withColumn("g", when(col("d2") > 0,
          (lit(-2.0 * a * b) * pow(col("d2"), b - 1)) / (lit(1.0) + lit(a) * pow(col("d2"), b)))
          .otherwise(0.0))
      val att = (densCols match {
        case Some((re, reMean, reStd, reCov)) =>
          val reS = re.select(col("cell_id").as("src"), col("re").as("re_s"),
            col("r_orig").as("r_s"), col("phisum").as("ph_s"))
          val reD = re.select(col("cell_id").as("dst"), col("re").as("re_d"),
            col("r_orig").as("r_d"), col("phisum").as("ph_d"))
          val reStdSq = reStd * reStd
          attBase.join(reS, Seq("src")).join(reD, Seq("dst"))
            .withColumn("phi", lit(1.0) / (lit(1.0) + lit(a) * pow(col("d2"), b)))
            .withColumn("dphi", lit(a * b) * pow(col("d2"), b - 1)
              / (lit(1.0) + lit(a) * pow(col("d2"), b)))
            .withColumn("drd", (col("phi") / col("ph_d")) *
              ((lit(1.0) - lit(b) * (lit(1.0) - col("phi"))) / exp(col("re_d")) + col("dphi")))
            .withColumn("drs", (col("phi") / col("ph_s")) *
              ((lit(1.0) - lit(b) * (lit(1.0) - col("phi"))) / exp(col("re_s")) + col("dphi")))
            .withColumn("wtd", col("r_d") - lit(reCov) * (col("re_d") - lit(reMean)) / lit(reStdSq))
            .withColumn("wts", col("r_s") - lit(reCov) * (col("re_s") - lit(reMean)) / lit(reStdSq))
            .withColumn("cor", lit(densLambda * muTot) *
              (col("wtd") * col("drd") + col("wts") * col("drs"))
              / (col("weight") * lit(nCells.toDouble)))
            // separate clips for the UMAP and correlation terms, matching
            // the driver SGD twin
            .select(col("src").as("cell_id"),
              (clip(col("g") * (col("sx") - col("dx"))) +
                clip(lit(2.0) * col("cor") * (col("sx") - col("dx")))).as("fx"),
              (clip(col("g") * (col("sy") - col("dy"))) +
                clip(lit(2.0) * col("cor") * (col("sy") - col("dy")))).as("fy"))
        case None => attBase
          .select(col("src").as("cell_id"),
            clip(col("g") * (col("sx") - col("dx"))).as("fx"),
            clip(col("g") * (col("sy") - col("dy"))).as("fy"))
      })
      // bucketed negative sampling: random per-epoch buckets, all-pairs
      // repulsion within a bucket (bucket size ≈ negPerCell + 1)
      val bucketed = coords.withColumn("bucket",
        pmod(hash(col("cell_id"), lit(epoch + 7919), lit(seed)), lit(nBuckets)))
      val bA = bucketed.select(col("bucket"), col("cell_id"), col("x").as("sx"), col("y").as("sy"))
      val bB = bucketed.select(col("bucket"), col("cell_id").as("other"),
        col("x").as("ox"), col("y").as("oy"))
      val rep = bA.join(bB, Seq("bucket"))
        .filter(col("cell_id") =!= col("other"))
        .withColumn("r2", (col("sx") - col("ox")) * (col("sx") - col("ox"))
          + (col("sy") - col("oy")) * (col("sy") - col("oy")))
        .withColumn("g", lit(2.0 * b) /
          ((lit(0.001) + col("r2")) * (lit(1.0) + lit(a) * pow(col("r2"), b))))
        .select(col("cell_id"),
          clip(col("g") * (col("sx") - col("ox"))).as("fx"),
          clip(col("g") * (col("sy") - col("oy"))).as("fy"))
      val force = att.unionByName(rep)
        .groupBy("cell_id").agg(sum("fx").as("fx"), sum("fy").as("fy"))
      coords.join(force, Seq("cell_id"), "left")
        .select(col("cell_id"),
          (col("x") + lit(alpha) * coalesce(col("fx"), lit(0.0))).as("x"),
          (col("y") + lit(alpha) * coalesce(col("fy"), lit(0.0))).as("y"))
    } { (_, _) => false }
    coords.select(col("cell_id"), col("x").as("umap1"), col("y").as("umap2"))
  }

  /** PCA-based init (reference seeds layouts from reduced space,
    * _get_ini_embed, scarf/datastore/graph_datastore.py:427-457): first
    * two latent components, rescaled to ~[-10, 10].
    */
  /** Deterministic hash-random init in [-10, 10]²: md5-derived uniforms
    * per cell (the engine's seeded-RNG-free sampling pattern), for
    * layouts with no usable latent — e.g. after integrateAssays drops
    * the single-assay latent and the SGD runs on merged edges alone.
    */
  def randomInit(nodes: DataFrame, seed: Long = 4444L): DataFrame = {
    def u(tag: String) =
      conv(substring(md5(concat(lit(s"$tag$seed:"),
        col("cell_id").cast("string"))), 1, 6), 16, 10).cast("double") /
        lit(0xFFFFFF.toDouble) * 20 - 10
    nodes.select(col("cell_id"), u("ux").as("x"), u("uy").as("y"))
  }

  def initFromLatent(latent: DataFrame): DataFrame = {
    val xy = latent.select(col("cell_id"),
      element_at(col("latent"), 1).as("x0"),
      element_at(col("latent"), 2).as("y0"))
    val stats = xy.agg(
      max(abs(col("x0"))).as("mx"), max(abs(col("y0"))).as("my"))
    xy.crossJoin(broadcast(stats))
      .select(col("cell_id"),
        (col("x0") / col("mx") * 10).as("x"),
        (col("y0") / col("my") * 10).as("y"))
  }
}
