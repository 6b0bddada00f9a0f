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
  * The exact PBA potential (a dense n×n pseudo-inverse) is kept in
  * PseudotimeSpec as the oracle [[score]] is rank-checked against.
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
}
