package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Graph-affinity t-SNE 2-D layout (SURVEY.md §2.11; run_tsne and
  * run_unified_tsne, scarf/datastore/graph_datastore.py:1088-1150 and
  * mapping_datastore.py:573-668). The reference exports the KNN graph
  * plus an init embedding to the external SG-tSNE-Π binary; here that
  * step runs on the driver: P is the symmetrized, mass-normalized edge
  * weights, held as the edge list itself (O(n + nnz) memory), and
  * descent starts from the caller's init.
  *
  * Each iteration is the exact van der Maaten (2008) full gradient
  * 4·Σⱼ (exag·pᵢⱼ − qᵢⱼ)·wᵢⱼ·(yᵢ − yⱼ) with wᵢⱼ = 1/(1 + |yᵢ − yⱼ|²) and
  * qᵢⱼ = wᵢⱼ/Z: one O(n²) pass accumulates Z and the repulsive sums
  * Σⱼ wᵢⱼ²(yᵢ − yⱼ) without storing Q, one O(nnz) pass the attractive
  * sums, and no point moves before the whole gradient is known. The
  * step is n/12, the node count over the early exaggeration (Belkina et
  * al. 2019; Linderman & Steinerberger 2019): a fixed step of 200
  * oscillates and diverges below a few thousand nodes. The O(n²) time
  * per iteration caps the kernel at [[Scale.driverGraph]]'s bound; above
  * it [[DataStore.runUmap]]'s distributed layout is the embedding path.
  */
object TsneLayout {

  /** Lays out `edges(src, dst, weight)` from `init(cell_id, x, y)`.
    * Nodes present in `init` but absent from `edges` feel only
    * repulsion; every edge endpoint must carry an init row. Throws
    * IllegalArgumentException at or above [[Scale.driverGraphMaxCells]]
    * init rows, before any edge is collected. Output:
    * (cell_id, tsne1, tsne2).
    */
  def layout(edges: DataFrame, init: DataFrame, nIter: Int = 300): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = init.select("cell_id", "x", "y").as[(Long, Double, Double)]
      .collect().sortBy(_._1)
    val n = rows.length
    require(n >= 3, "t-SNE needs at least 3 points")
    if (!Scale.driverGraph(n))
      throw new IllegalArgumentException(
        s"t-SNE over $n nodes: the exact kernel costs O(n²) time per " +
          s"iteration and runs below ${Scale.driverGraphMaxCells} nodes; " +
          "use runUmap, whose distributed layout is the scale path")
    val ids = rows.map(_._1)
    val idx = ids.zipWithIndex.toMap
    // P as a symmetric edge list: one entry per non-self edge stands for
    // both pᵢⱼ and pⱼᵢ; parallel edges stay separate entries (the
    // gradient is linear in P), and a pair with no edge has p = 0
    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)]
      .collect().filter { case (s, d, _) =>
        require(idx.contains(s) && idx.contains(d),
          s"edge endpoint without an init row: ($s, $d)")
        s != d
      }
    val tot = 2 * es.map(_._3).sum
    val src = es.map(e => idx(e._1))
    val dst = es.map(e => idx(e._2))
    val p = es.map(e => if (tot > 0) e._3 / tot else 0.0)
    // rescale the init to std 1e-4 (openTSNE's convention for informed
    // inits): the descent's step sizes assume a near-origin start, and a
    // wide init makes the early-exaggeration phase diverge. Relative
    // geometry — the only thing the init carries — is preserved.
    val y = rows.map(r => Array(r._2, r._3))
    val mx = Array(y.map(_(0)).sum / n, y.map(_(1)).sum / n)
    val sd = math.sqrt(y.map(r => {
      val a = r(0) - mx(0); val b = r(1) - mx(1); a * a + b * b
    }).sum / (2 * n))
    val sc = if (sd > 0) 1e-4 / sd else 1.0
    y.foreach { r => r(0) = (r(0) - mx(0)) * sc; r(1) = (r(1) - mx(1)) * sc }
    descend(src, dst, p, y, nIter)
    ids.indices.map(i0 => (ids(i0), y(i0)(0), y(i0)(1)))
      .toSeq.toDF("cell_id", "tsne1", "tsne2")
  }

  /** Early-exaggerated momentum gradient descent with gains on the
    * Student-t Q (van der Maaten 2008), P as the edge list (src, dst, p)
    * — mutates `y` in place. */
  private def descend(src: Array[Int], dst: Array[Int], p: Array[Double],
                      y: Array[Array[Double]], nIter: Int): Unit = {
    val n = y.length
    val earlyExag = 12.0
    val learningRate = n / earlyExag
    val dy = Array.fill(n, 2)(0.0)
    val gains = Array.fill(n, 2)(1.0)
    var iter = 0
    while (iter < nIter) {
      val exag = if (iter < 100) earlyExag else 1.0
      val momentum = if (iter < 250) 0.5 else 0.8
      val att = Array.fill(n, 2)(0.0)
      val rep = Array.fill(n, 2)(0.0)
      // repulsion: Z and Σⱼ wᵢⱼ²(yᵢ − yⱼ), one pass over the pairs
      var z = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val dx = y(i)(0) - y(j)(0); val dyy = y(i)(1) - y(j)(1)
          val q = 1.0 / (1.0 + dx * dx + dyy * dyy)
          z += 2 * q
          val q2 = q * q
          rep(i)(0) += q2 * dx; rep(i)(1) += q2 * dyy
          rep(j)(0) -= q2 * dx; rep(j)(1) -= q2 * dyy
          j += 1
        }
        i += 1
      }
      // attraction: Σⱼ pᵢⱼ·wᵢⱼ(yᵢ − yⱼ), one pass over P's edges
      var e = 0
      while (e < p.length) {
        val a = src(e); val b = dst(e)
        val dx = y(a)(0) - y(b)(0); val dyy = y(a)(1) - y(b)(1)
        val pq = p(e) / (1.0 + dx * dx + dyy * dyy)
        att(a)(0) += pq * dx; att(a)(1) += pq * dyy
        att(b)(0) -= pq * dx; att(b)(1) -= pq * dyy
        e += 1
      }
      // the whole gradient is known: move every point
      i = 0
      while (i < n) {
        var k = 0
        while (k < 2) {
          val g = 4 * (exag * att(i)(k) - rep(i)(k) / z)
          gains(i)(k) = math.max(0.01,
            if (math.signum(g) != math.signum(dy(i)(k))) gains(i)(k) + 0.2
            else gains(i)(k) * 0.8)
          dy(i)(k) = momentum * dy(i)(k) - learningRate * gains(i)(k) * g
          y(i)(k) += dy(i)(k)
          k += 1
        }
        i += 1
      }
      iter += 1
    }
  }
}
