package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation metrics (SURVEY.md §2.13). LISI's per-cell kernel is a pure
  * function of the cell's neighbor distances + labels (scarf/metrics.py:
  * 21-149): Gaussian weights calibrated to a target perplexity by beta
  * bisection, then inverse Simpson over the label distribution.
  * Distributed as a UDF over `(array<dist>, array<label>)` — one
  * collect_list aggregation per cell, k-bounded arrays.
  */
object Metrics {

  def lisiKernel(dists: Seq[Double], labels: Seq[String],
                 perplexity: Double = 30.0, nIter: Int = 64): Double = {
    val n = dists.length
    if (n == 0) return Double.NaN
    val logU = math.log(perplexity)
    var beta = 1.0
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    val d2 = dists.map(d => d * d)
    var p = Array.fill(n)(0.0)
    var i = 0
    while (i < nIter) {
      val w = d2.map(d => math.exp(-beta * d)).toArray
      val sum = w.sum
      if (sum <= 0) { p = Array.fill(n)(1.0 / n); i = nIter }
      else {
        val h = math.log(sum) + beta * (d2, w).zipped.map(_ * _).sum / sum
        p = w.map(_ / sum)
        if (math.abs(h - logU) < 1e-5) i = nIter
        else {
          if (h > logU) { lo = beta; beta = if (hi.isPosInfinity) beta * 2 else (beta + hi) / 2 }
          else { hi = beta; beta = if (lo.isNegInfinity) beta / 2 else (beta + lo) / 2 }
          i += 1
        }
      }
    }
    val byLabel = labels.zip(p).groupBy(_._1).values.map(_.map(_._2).sum)
    val simpson = byLabel.map(x => x * x).sum
    if (simpson <= 0) Double.NaN else 1.0 / simpson
  }

  /** Per-cell LISI over a KNN edge table `(src, dst, dist)` and a label
    * table `(cell_id, label)`: returns `(cell_id, lisi)`.
    */
  def lisi(knn: DataFrame, labels: DataFrame, perplexity: Double = 30.0): DataFrame = {
    val kernel = udf((d: Seq[Double], l: Seq[String]) => lisiKernel(d, l, perplexity))
    knn.join(labels.withColumnRenamed("cell_id", "dst"), Seq("dst"))
      .groupBy("src")
      .agg(collect_list(struct(col("dist"), col("dst"), col("label"))).as("nbrs"))
      .select(col("src").as("cell_id"),
        kernel(
          transform(array_sort(col("nbrs")), x => x.getField("dist")),
          transform(array_sort(col("nbrs")), x => x.getField("label"))).as("lisi"))
  }

  /** Full sampled graph silhouette (silhouette_scoring, scarf/metrics.py:
    * 260-433): per cluster, two disjoint seeded samples of k cells;
    * self-distance = mean of each sample-1 cell's top-(k−1) latent
    * distances into sample 2; nearest cluster by weighted-Jaccard graph
    * similarity; other-distance = same against the nearest cluster's
    * sample; score = (other − self) / max(self, other). The reference
    * shuffles with numpy and adjusts k to half the smallest cluster;
    * sampling here is seeded md5 order (engine-reproducible), k adjusted
    * identically. All pair computations are k-bounded per cluster.
    * `latent(cell_id, latent)`, `clusters(cell_id, cluster)`,
    * `edges(src, dst, weight)`.
    */
  def silhouetteScores(edges: DataFrame, clusters: DataFrame, latent: DataFrame,
                       k0: Int = 11, seed: Long = 4466L): DataFrame = {
    val spark = edges.sparkSession
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("sz"))
    val minSz = sizes.agg(min("sz")).head().getLong(0)
    val k = math.min(k0.toLong, minSz / 2).toInt
    require(k >= 2, s"smallest cluster too small for silhouette (k = $k)")

    // nearest cluster by weighted-Jaccard similarity (ties → higher id,
    // matching np.argsort's last-position pick)
    val sim = graft.graph.GraphOps.clusterSimilarity(edges, clusters)
      .filter(col("ca") =!= col("cb"))
    val nearest = sim.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("ca")
          .orderBy(col("sim").desc, col("cb").desc)))
      .filter(col("rn") === 1)
      .select(col("ca").as("cluster"), col("cb").as("near"))

    // seeded 2k sample per cluster, split into sample 1 and sample 2
    val sampled = graft.ops.Windows.topKPerGroup(
        clusters.join(latent, Seq("cell_id")),
        Seq("cluster"), 2 * k,
        Seq(md5(concat(lit(s"$seed:"), col("cell_id"))), col("cell_id")))
    val s1 = sampled.filter(col("rn") <= k)
      .select(col("cluster"), col("cell_id").as("a_id"), col("latent").as("va"))
    val s2 = sampled.filter(col("rn") > k)
      .select(col("cluster"), col("cell_id").as("b_id"), col("latent").as("vb"))

    // the shared engine-reproducible distance kernel (Similarity.l2)
    def l2 = graft.sim.Similarity.l2 _

    def meanTopK(pairs: DataFrame): DataFrame =
      graft.ops.Windows.topKPerGroup(pairs, Seq("cluster", "a_id"), k - 1,
          Seq(col("d"), col("b_id")))
        .groupBy("cluster").agg(avg("d").as("md"))

    val selfD = meanTopK(s1.join(s2, Seq("cluster"))
        .select(col("cluster"), col("a_id"), col("b_id"), l2(col("va"), col("vb")).as("d")))
      .withColumnRenamed("md", "self_d")
    val otherD = meanTopK(s1.join(nearest, Seq("cluster"))
        .join(s1.select(col("cluster").as("near"), col("a_id").as("b_id"),
          col("va").as("vb")), Seq("near"))
        .select(col("cluster"), col("a_id"), col("b_id"), l2(col("va"), col("vb")).as("d")))
      .withColumnRenamed("md", "other_d")
    selfD.join(otherD, Seq("cluster"))
      .select(col("cluster"),
        ((col("other_d") - col("self_d")) / greatest(col("self_d"), col("other_d")))
          .as("silhouette"))
  }

  /** Graph silhouette ingredient (scarf/metrics.py:152-433): inter-cluster
    * affinity = summed edge weight between cluster pairs, normalized by
    * the geometric mean of intra-cluster weights.
    */
  def clusterAffinity(edges: DataFrame, clusters: DataFrame): DataFrame = {
    val cl = clusters.select(col("cell_id"), col("cluster"))
    val e = edges
      .join(cl.withColumnRenamed("cell_id", "src").withColumnRenamed("cluster", "c_src"), Seq("src"))
      .join(cl.withColumnRenamed("cell_id", "dst").withColumnRenamed("cluster", "c_dst"), Seq("dst"))
    val pair = e.groupBy("c_src", "c_dst").agg(sum("weight").as("w"))
    val intra = pair.filter(col("c_src") === col("c_dst"))
      .select(col("c_src").as("c"), col("w").as("w_intra"))
    pair.filter(col("c_src") < col("c_dst"))
      .join(intra.withColumnRenamed("c", "c_src").withColumnRenamed("w_intra", "wa"), Seq("c_src"))
      .join(intra.withColumnRenamed("c", "c_dst").withColumnRenamed("w_intra", "wb"), Seq("c_dst"))
      .select(col("c_src"), col("c_dst"),
        (col("w") / sqrt(col("wa") * col("wb"))).as("affinity"))
  }
}
