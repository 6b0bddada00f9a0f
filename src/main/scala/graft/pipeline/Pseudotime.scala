package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Pseudotime scoring (SURVEY.md §2.11; run_pseudotime_scoring,
  * scarf/datastore/graph_datastore.py:1818-2003). The reference solves a
  * random-walk Laplacian potential (PBA) with a driver-side sparse
  * eigensolver; here the potential is computed as the steady
  * source-to-cell diffusion distance: iterate `x ← α·P·x + s` (P = row-
  * normalized transition matrix, s = source indicator) to convergence —
  * a personalized-PageRank potential, then min-max normalized. Monotone
  * along graph geodesics from the sources, deterministic, and entirely
  * driver-free: each iteration is one join+aggregate on the edge table.
  */
object Pseudotime {

  def score(edges: DataFrame, sources: DataFrame, alpha: Double = 0.85,
            iters: Int = 30): DataFrame = {
    // materialize the loop inputs once (Lineage.reset truncates their
    // upstream lineage — the edge table may sit atop a deep pipeline plan,
    // and re-walking it in every iteration's analysis/stats is wasted work)
    val norm = Lineage.reset(edges
      .groupBy("src").agg(sum("weight").as("row_sum"))
      .join(edges, Seq("src"))
      .select(col("src"), col("dst"), (col("weight") / col("row_sum")).as("p")))
    val cells = edges.select(col("src").as("cell_id"))
      .union(edges.select(col("dst"))).distinct()
    val s = Lineage.reset(
      cells.join(sources.withColumn("m", lit(1.0)), Seq("cell_id"), "left")
        .select(col("cell_id"), coalesce(col("m"), lit(0.0)).as("s")))
    // lazy personalized-PageRank x ← (1−α)·s + α·(x + Pᵀx)/2: the lazy
    // walk (half the mass stays put) makes scores decay monotonically
    // with graph distance from the sources regardless of degree skew
    // x is referenced twice per round (push + carry): the loop resets
    // the lineage and swaps the compounding size estimate for the
    // measured one (see core.Lineage)
    val (x, _) = Lineage.iterate(
        s.withColumnRenamed("s", "x"), iters) { (x, _) =>
      val push = norm.join(x.withColumnRenamed("cell_id", "src")
          .withColumnRenamed("x", "xs"), Seq("src"))
        .groupBy(col("dst").as("cell_id"))
        .agg(sum(col("p") * col("xs")).as("pushed"))
      s.join(push, Seq("cell_id"), "left")
        .join(x.withColumnRenamed("x", "x_prev"), Seq("cell_id"), "left")
        .select(col("cell_id"),
          (lit(1 - alpha) * col("s") + lit(alpha) *
            (coalesce(col("x_prev"), lit(0.0)) + coalesce(col("pushed"), lit(0.0))) / 2).as("x"))
    } { (_, _) => false }
    // potential → pseudotime: far from source = high; min-max normalize
    val pot = x.select(col("cell_id"), (-log1p(col("x"))).as("pot"))
    val mm = pot.agg(min("pot").as("lo"), max("pot").as("hi"))
    pot.crossJoin(broadcast(mm))
      .select(col("cell_id"),
        ((col("pot") - col("lo")) / (col("hi") - col("lo"))).as("pseudotime"))
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
    * svds call approximates. Same single-node boundary, test-scale n.
    * [[score]] is the distributed substitute; PseudotimeSpec checks their
    * rank agreement.
    */
  def pbaPotential(edges: DataFrame, sources: Seq[Long], sinks: Seq[Long]): DataFrame = {
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
}
