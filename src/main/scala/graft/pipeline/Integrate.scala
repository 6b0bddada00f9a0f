package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-assay graph integration (SURVEY.md §2.11; integrate_assays).
  *
  * SNN flavor (merge_graphs, scarf/knn_utils.py:238-274): concat each
  * cell's neighbor lists from all assay graphs, score every candidate
  * edge as weight + SNN-overlap share, dedupe (keep best per (src, dst)),
  * keep top k — all window/groupBy work, no driver state.
  */
object Integrate {

  /** `graphs`: per-assay KNN edge tables `(src, dst, weight)`.
    * Returns the integrated `(src, dst, weight, rn)` top-k edges.
    */
  def snnIntegrate(graphs: Seq[DataFrame], k: Int): DataFrame = {
    val all = graphs.map(_.select("src", "dst", "weight")).reduce(_ unionByName _)
    // SNN overlap on the union graph: |N(i) ∩ N(j)| / (k-1)
    val nbrs = all.select("src", "dst").distinct()
    val snn = nbrs.select(col("src").as("i"), col("dst"))
      .join(nbrs.select(col("src").as("j"), col("dst")), Seq("dst"))
      .filter(col("i") =!= col("j"))
      .groupBy("i", "j").agg((count(lit(1)) / (k - 1).toDouble).as("snn"))
      .withColumnRenamed("i", "src").withColumnRenamed("j", "dst")
    val scored = all
      .groupBy("src", "dst").agg(max(col("weight")).as("weight"))
      .join(snn, Seq("src", "dst"), "left")
      .withColumn("score", col("weight") + coalesce(col("snn"), lit(0.0)))
    graft.ops.Windows.topKPerGroup(scored, Seq("src"), k,
        Seq(col("score").desc, col("dst")))
      .select(col("src"), col("dst"), col("score").as("weight"), col("rn"))
  }

  /** WNN modality weighting (Hao 2021 shape, scarf/knn_utils.py:277-354),
    * reduced to its relational core: per cell, each modality's affinity is
    * the mean edge weight of its k neighbors; modality weights are the
    * softmax of affinities; integrated edges re-rank by the weighted sum
    * of per-modality weights.
    */
  def wnnIntegrate(g1: DataFrame, g2: DataFrame, k: Int): DataFrame = {
    def cellAffinity(g: DataFrame, out: String) =
      g.groupBy("src").agg(avg(col("weight")).as(out))
    val aff = cellAffinity(g1, "a1").join(cellAffinity(g2, "a2"), Seq("src"), "outer")
      .na.fill(0.0, Seq("a1", "a2"))
      .withColumn("w1", exp(col("a1")) / (exp(col("a1")) + exp(col("a2"))))
      .withColumn("w2", lit(1.0) - col("w1"))
    val e1 = g1.select(col("src"), col("dst"), col("weight").as("e1"))
    val e2 = g2.select(col("src"), col("dst"), col("weight").as("e2"))
    val weighted = e1.join(e2, Seq("src", "dst"), "outer")
      .na.fill(0.0, Seq("e1", "e2"))
      .join(aff.select("src", "w1", "w2"), Seq("src"))
      .withColumn("weight", col("w1") * col("e1") + col("w2") * col("e2"))
    graft.ops.Windows.topKPerGroup(weighted, Seq("src"), k,
        Seq(col("weight").desc, col("dst")))
      .select("src", "dst", "weight", "rn")
  }
}
