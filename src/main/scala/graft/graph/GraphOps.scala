package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph kernels over edge-list DataFrames (SURVEY.md §2.7, §2.11).
  * Edge list schema: `(src, dst, weight)` — the KNN graph form the
  * reference stores (scarf/datastore/graph_datastore.py:556-575).
  */
object GraphOps {

  /** Shared-nearest-neighbor counts (scarf/knn_utils.py:195-210):
    * |N(i) ∩ N(j)| via self-join of the neighbor list on the shared
    * neighbor, aggregated per pair. `minShared` prunes the long tail early.
    * Skewed hub nodes are the scale hazard: at cluster scale pre-salt the
    * join key or cap per-node degree (k is bounded in KNN graphs, so the
    * join fan-out is ≤ k per (node, neighbor) row).
    */
  def snn(edges: DataFrame, minShared: Long): DataFrame = {
    val a = edges.select(col("src").as("i"), col("dst"))
    val b = edges.select(col("src").as("j"), col("dst"))
    a.join(b, Seq("dst"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Symmetrize a directed weighted graph as `g + gᵀ − g∘gᵀ` restricted to
    * max-combine (load_graph, scarf/datastore/graph_datastore.py:1052-1055):
    * union with swapped endpoints, keep max weight per pair.
    */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select("src", "dst", "weight")
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(max(col("weight")).as("weight"))

  /** Probabilistic-OR symmetrization — the exact `g + gᵀ − g∘gᵀ` fuzzy
    * union the reference's load_graph(symmetric=True) computes before
    * building the MAGIC operator (scarf/datastore/graph_datastore.py:
    * 1780-1804): a pair present in both directions combines as
    * w₁ + w₂ − w₁·w₂, a one-directional pair keeps its weight. Each
    * (src, dst) appears at most once per direction in a KNN edge list,
    * so max/min within the union recover the two weights exactly.
    */
  def symmetrizeProb(edges: DataFrame): DataFrame =
    edges.select("src", "dst", "weight")
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst")
      .agg(max(col("weight")).as("wa"), min(col("weight")).as("wb"),
        count(lit(1)).as("c"))
      .select(col("src"), col("dst"),
        when(col("c") === 2, col("wa") + col("wb") - col("wa") * col("wb"))
          .otherwise(col("wa")).as("weight"))

  /** load_graph's full option set (scarf/datastore/graph_datastore.py:
    * 1021-1076): per-node truncation to the top `useK` outgoing edges by
    * weight, optional symmetrization, optional upper-triangle-only output.
    */
  def loadGraph(edges: DataFrame, symmetric: Boolean = true, useK: Int = -1,
                upperOnly: Boolean = false): DataFrame = {
    val truncated =
      if (useK > 0)
        graft.ops.Windows.topKPerGroup(edges.select("src", "dst", "weight"),
          Seq("src"), useK, Seq(col("weight").desc, col("dst"))).drop("rn")
      else edges.select("src", "dst", "weight")
    val sym = if (symmetric) symmetrize(truncated) else truncated
    if (upperOnly) sym.filter(col("src") < col("dst")) else sym
  }

  /** Weighted-Jaccard cluster similarity (calculate_weighted_cluster_
    * similarity, scarf/metrics.py:178-245): inter-cluster edge mass
    * (symmetrized halves), per-cluster totals, similarity =
    * w(i,j) / (tot_i + tot_j − w(i,j)). Output: (ca, cb, sim) for all
    * ordered pairs including the diagonal.
    */
  def clusterSimilarity(edges: DataFrame, clusters: DataFrame): DataFrame = {
    val cl = clusters.select(col("cell_id"), col("cluster"))
    val pair = edges
      .join(cl.withColumnRenamed("cell_id", "src").withColumnRenamed("cluster", "ca"), Seq("src"))
      .join(cl.withColumnRenamed("cell_id", "dst").withColumnRenamed("cluster", "cb"), Seq("dst"))
      .groupBy("ca", "cb").agg(sum("weight").as("w"))
    // symmetrize: (W + Wᵀ)/2
    val symPair = pair.unionByName(
        pair.select(col("cb").as("ca"), col("ca").as("cb"), col("w")))
      .groupBy("ca", "cb").agg((sum("w") / 2).as("w"))
    val tot = symPair.groupBy("ca").agg(sum("w").as("tot"))
    symPair
      .join(broadcast(tot), Seq("ca"))
      .join(broadcast(tot.withColumnRenamed("ca", "cb").withColumnRenamed("tot", "tot_b")), Seq("cb"))
      .select(col("ca"), col("cb"),
        when(col("tot") + col("tot_b") - col("w") > 0,
          col("w") / (col("tot") + col("tot_b") - col("w"))).otherwise(0.0).as("sim"))
  }

  /** One step of MAGIC-style diffusion (scarf/datastore/graph_datastore.py:
    * 1729-1816): row-normalize the adjacency to a transition matrix and
    * apply it to a per-cell signal: `x' = D⁻¹A · x`.
    * `signal(cell_id, x)`. Matrix power t = t repeated applications.
    */
  def diffuse(edges: DataFrame, signal: DataFrame): DataFrame = {
    val norm = edges
      .withColumn("row_sum", sum(col("weight")).over(Window.partitionBy("src")))
      .withColumn("p", col("weight") / col("row_sum"))
    norm.join(signal.withColumnRenamed("cell_id", "dst"), Seq("dst"))
      .groupBy("src").agg(sum(col("p") * col("x")).as("x"))
      .withColumnRenamed("src", "cell_id")
  }

  /** Mapping score (scarf/datastore/mapping_datastore.py:211-285): per
    * reference cell, sum over projection hits of `1/(log1p(dist)+1)`,
    * grouped by the target cells' group label.
    * `hits(ref_id, target_id, dist)`, `targetGroups(target_id, group)`.
    */
  def mappingScore(hits: DataFrame, targetGroups: DataFrame): DataFrame =
    hits.join(targetGroups, Seq("target_id"))
      .groupBy("ref_id", "group")
      .agg(sum(lit(1.0) / (log1p(col("dist")) + 1)).as("score"))

  /** Weighted-KNN label transfer (get_target_classes,
    * scarf/datastore/mapping_datastore.py:287-364): weights `1 − d/d_max`,
    * per-target label weight shares; assign the top label iff its share
    * exceeds `threshold`, else "NA". `hits(target_id, ref_id, dist)`,
    * `refLabels(ref_id, label)`.
    */
  def labelTransfer(hits: DataFrame, refLabels: DataFrame,
                    threshold: Double): DataFrame = {
    val dMax = hits.agg(max(col("dist")).as("d_max"))
    val weighted = hits.crossJoin(broadcast(dMax))
      .withColumn("w", lit(1.0) - col("dist") / col("d_max"))
      .join(broadcast(refLabels), Seq("ref_id"))
    val shares = weighted.groupBy("target_id", "label")
      .agg(sum(col("w")).as("w_label"))
      .withColumn("share",
        col("w_label") / sum(col("w_label")).over(Window.partitionBy("target_id")))
    shares
      .withColumn("rn", row_number().over(Window.partitionBy("target_id")
        .orderBy(col("share").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("target_id"),
        when(col("share") > threshold, col("label")).otherwise(lit("NA"))
          .as("assigned"),
        round(col("share"), 6).as("share"))
  }
}
