package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.dot_product

/** Harmony-style iterative batch correction (SURVEY.md §2.10;
  * scarf/harmony.py): soft k-means in the latent space, then per-cluster
  * removal of batch-specific centroid offsets, iterated. This keeps the
  * Harmony E/M skeleton (the diversity-penalty term is omitted —
  * documented divergence) and makes every step distributed:
  *
  *  - E-step: soft assignments against broadcast centroids using the
  *    native dot_product expression;
  *  - M-step: position-exploded (long-form) weighted moments — scalar
  *    aggregations keyed by (cluster, pos) / (cell, pos), never a
  *    collect_list of whole vectors per cluster;
  *  - correction: x ← x − Σ_c r_c · offset(c, batch).
  *
  * Inputs: `latent(cell_id, latent)`, `batches(cell_id, batch)`.
  */
object Harmony {

  private def toArray(grouped: DataFrame, key: Seq[String], value: String): DataFrame =
    grouped.groupBy(key.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col(value)))),
        s => s.getField(value)).as(value))

  def correct(latent: DataFrame, batches: DataFrame, k: Int,
              iters: Int = 3, sigma: Double = 0.3, seed: Long = 4466L,
              theta: Double = 0.0): DataFrame = {
    // batch priors Pr_b for the diversity penalty (harmony.py:185-276)
    val nAll = batches.count()
    val prB = batches.groupBy("batch")
      .agg((count(lit(1)) / nAll.toDouble).as("pr_b"))

    val (out, _) = graft.core.Lineage.iterate(
        latent.join(batches, Seq("cell_id")), iters) { (cur, _) =>
      // hard kmeans seed -> centroid arrays (k rows, broadcastable)
      val labels = Cluster.kmeans(cur.select("cell_id", "latent"), k, seed)
      val centLong = labels.join(cur, Seq("cell_id"))
        .select(col("cluster"), posexplode(col("latent")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg(col("x")).as("centroid"))
      val centroids = toArray(centLong, Seq("cluster"), "centroid")

      // E-step: responsibilities via squared distance to each centroid
      val assigned0 = cur.crossJoin(broadcast(centroids))
        .withColumn("d2",
          dot_product(col("latent"), col("latent"))
            - lit(2) * dot_product(col("latent"), col("centroid"))
            + dot_product(col("centroid"), col("centroid")))
        // log-space softmax: subtract the per-cell min d2 before exp so a
        // cell far from every centroid never underflows to 0/0 = NaN.
        .withColumn("d2min", min(col("d2")).over(Window.partitionBy("cell_id")))
        .withColumn("aff", exp(-(col("d2") - col("d2min")) / lit(sigma)))
        .withColumn("r0", col("aff") / sum(col("aff")).over(Window.partitionBy("cell_id")))
      // diversity penalty (Korsunsky 2019; harmony.py update_R): scale
      // responsibilities by ((E_kb+1)/(O_kb+1))^θ — O = observed soft
      // batch mass per cluster, E = expected under the batch prior —
      // then renormalize per cell. θ = 0 recovers plain soft kmeans.
      // (Synchronous variant of the reference's block-wise update.)
      val assigned = {
        if (theta == 0.0)
          assigned0.withColumnRenamed("r0", "r")
            .select("cell_id", "batch", "cluster", "r", "latent")
        else {
          val o = assigned0.groupBy("cluster", "batch").agg(sum("r0").as("o_kb"))
          val rk = assigned0.groupBy("cluster").agg(sum("r0").as("r_k"))
          val pen = o.join(rk, Seq("cluster")).join(broadcast(prB), Seq("batch"))
            .select(col("cluster"), col("batch"),
              pow((col("r_k") * col("pr_b") + 1) / (col("o_kb") + 1), theta).as("pen"))
          assigned0.join(broadcast(pen), Seq("cluster", "batch"))
            .withColumn("rp", col("r0") * col("pen"))
            .withColumn("r", col("rp") / sum(col("rp")).over(Window.partitionBy("cell_id")))
            .select("cell_id", "batch", "cluster", "r", "latent")
        }
      }

      // M-step in long form: weighted means per (cluster[, batch], pos)
      val long = assigned
        .select(col("cell_id"), col("batch"), col("cluster"), col("r"),
          posexplode(col("latent")).as(Seq("pos", "x")))
      val global = long.groupBy("cluster", "pos")
        .agg((sum(col("r") * col("x")) / sum(col("r"))).as("mu"))
      val perBatch = long.groupBy("cluster", "batch", "pos")
        .agg((sum(col("r") * col("x")) / sum(col("r"))).as("mu_b"))
      val offsets = perBatch.join(global, Seq("cluster", "pos"))
        .select(col("cluster"), col("batch"), col("pos"),
          (col("mu_b") - col("mu")).as("off"))

      // correction: subtract the responsibility-weighted batch offsets
      val correctedLong = long
        .join(offsets, Seq("cluster", "batch", "pos"), "left")
        .groupBy("cell_id", "batch", "pos")
        .agg(first(col("x")).as("x0"),
          sum(col("r") * coalesce(col("off"), lit(0.0))).as("shift"))
        .select(col("cell_id"), col("batch"), col("pos"),
          (col("x0") - col("shift")).as("latent"))
      toArray(correctedLong, Seq("cell_id", "batch"), "latent")
    } { (_, _) => false }
    out.select("cell_id", "latent")
  }
}
