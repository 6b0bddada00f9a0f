package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.Pseudotime

/** PBA potential (the reference's actual Laplacian pseudo-inverse,
  * graph_datastore.py:1818-2003) and its agreement with the distributed
  * PPR substitute used by q55.
  */
class PseudotimeSpec extends SparkSpec {

  private def chain(n: Int) = {
    import spark.implicits._
    val e = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong, 1.0), ((i + 1).toLong, i.toLong, 1.0)))
    e.toDF("src", "dst", "weight")
  }

  /** The PBA potential exactly as the reference computes it
    * (run_pseudotime_scoring, scarf/datastore/graph_datastore.py:
    * 1818-2003; Weinreb 2017 PNAS): random-walk Laplacian
    * L_rw = I − A·D⁻¹ of the symmetric graph, Moore-Penrose
    * pseudo-inverse applied to the source/sink vector (−1 sources, +1
    * sinks, balancing value elsewhere so the vector sums to 0), min-max
    * normalized. The reference collects the CSR and runs scipy `svds` of
    * the k smallest triplets on one machine; this collects the edge list
    * and uses Breeze's SVD-based `pinv` — the exact pseudo-inverse the
    * svds call approximates: a dense n×n matrix, so test-scale n only.
    * [[Pseudotime.score]] is the distributed substitute; this spec
    * checks their rank agreement.
    */
  private def pbaPotential(edges: DataFrame, sources: Seq[Long], sinks: Seq[Long]): DataFrame = {
    import breeze.linalg.{svd, DenseMatrix, DenseVector}
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)].collect()
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val a = DenseMatrix.zeros[Double](n, n)
    es.foreach { case (s0, d0, w) => if (s0 != d0) a(idx(s0), idx(d0)) += w }
    val colSums = DenseVector.tabulate(n)(j => (0 until n).map(i => a(i, j)).sum)
    val lrw = DenseMatrix.tabulate(n, n) { (i, j) =>
      val aij = if (colSums(j) != 0) a(i, j) / colSums(j) else 0.0
      (if (i == j) 1.0 else 0.0) - aij
    }
    val r = DenseVector.zeros[Double](n)
    sources.foreach(s0 => idx.get(s0).foreach(r(_) = -1.0))
    sinks.foreach(s0 => idx.get(s0).foreach(r(_) = 1.0))
    val nSS = sources.count(idx.contains) + sinks.count(idx.contains)
    if (n > nSS) {
      val fill = -breeze.linalg.sum(r) / (n - nSS)
      (0 until n).foreach(i => if (r(i) == 0.0) r(i) = fill)
    }
    // Moore-Penrose applied to r via full SVD: L⁺r = V·S⁺·Uᵀr with
    // singular values below the numpy-style relative tolerance zeroed
    // (Breeze's pinv is not the true min-norm inverse on singular L_rw)
    val s3 = svd(lrw)
    val tol = n * 2.220446049250313e-16 * breeze.linalg.max(s3.singularValues)
    val utr = s3.leftVectors.t * r
    val scaled = DenseVector.tabulate(n)(i =>
      if (s3.singularValues(i) > tol) utr(i) / s3.singularValues(i) else 0.0)
    val ptime0 = s3.rightVectors.t * scaled
    val lo = breeze.linalg.min(ptime0)
    val shifted = ptime0 - lo
    val hi = breeze.linalg.max(shifted)
    val ptime = if (hi > 0) shifted / hi else shifted
    nodes.indices.map(i => (nodes(i), ptime(i))).toDF("cell_id", "pseudotime")
  }

  test("pbaPotential is monotone along the chain interior (numpy-checked shape)") {
    // The exact reference computation (column-normalized L_rw) distorts
    // the two degree-1 endpoints — verified against a numpy
    // pinv(I - A/D) @ r solve, which yields the same shape:
    // [0.1944, 0, 0.1111, ..., 1, 0.8056] on a 12-chain.
    val pt = pbaPotential(chain(12), sources = Seq(0L), sinks = Seq(11L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(approx(pt(1L), 0.0, 1e-9) && approx(pt(10L), 1.0, 1e-9))
    (1 until 10).foreach(i =>
      assert(pt(i.toLong) < pt((i + 1).toLong),
        s"not monotone at $i: ${pt(i.toLong)} !< ${pt((i + 1).toLong)}"))
    assert(approx(pt(0L), 0.1944, 1e-3) && approx(pt(11L), 0.8056, 1e-3))
  }

  test("ss_vec balancing: potential sums respect the zero-sum source/sink vector") {
    // with sources={0}, sinks={9}, middle cells get the balancing value;
    // the solve must produce finite values for every node
    val pt = pbaPotential(chain(10), Seq(0L), Seq(9L))
      .collect().map(_.getDouble(1))
    assert(pt.length == 10 && pt.forall(v => !v.isNaN && !v.isInfinite))
    assert(pt.min == 0.0 && pt.max == 1.0)
  }

  test("PPR substitute rank-agrees with the exact PBA potential on a chain") {
    import spark.implicits._
    val edges = chain(12)
    val exact = pbaPotential(edges, Seq(0L), Seq(11L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val src = Seq(0L).toDF("cell_id")
    val approx0 = Pseudotime.score(edges, src, iters = 30)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Spearman rank correlation of the two orderings
    def ranks(m: Map[Long, Double]): Map[Long, Double] = {
      val sorted = m.toSeq.sortBy(_._2).map(_._1).zipWithIndex
      sorted.map { case (k, i) => k -> i.toDouble }.toMap
    }
    val (ra, rb) = (ranks(exact), ranks(approx0))
    val keys = exact.keys.toSeq
    val n = keys.size
    val d2 = keys.map(k => math.pow(ra(k) - rb(k), 2)).sum
    val rho = 1.0 - 6 * d2 / (n * (n * n - 1.0))
    assert(rho >= 0.9, s"Spearman rho $rho below 0.9")
  }
}
