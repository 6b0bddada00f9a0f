package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** run_pseudotime_aggregation composed end-to-end (SURVEY.md §2.9;
  * scarf/datastore/datastore.py:496-597 → scarf/markers.py:323-439):
  * pseudotime-binned feature profiles → feature self-KNN → Paris linkage →
  * cut_straight → cluster ids reordered by the median argmax-bin position,
  * so module 1 peaks earliest in pseudotime and module C latest.
  *
  * The relational bin stage is the oracled q56 core; the KNN stage takes
  * its strategy from the engine's one gate ([[Scale.ann]] over the
  * feature count: exact up to 10k features, LSH-bucketed ANN above — the
  * reference's HNSW boundary); Paris runs on the driver over the
  * |features|·k edge list, the same in-process boundary as the
  * reference's sknetwork call.
  */
object PtimeAgg {

  /** save_aggregated_ordering core (scarf/assay.py:577-696): densify the
    * selected feature slice over pseudotime-ordered cells, centered
    * rolling mean (window = 2·halfWidth+1), per-feature z-scale, ntile
    * binning along the ordering, per-(feature, bin) mean. All windows
    * partition by `feat_id` — one hash shuffle, no global sort.
    *
    * `coo` must be pre-aggregated to unique (cell_id, feat_id);
    * `ptime(cell_id, ptime)`; `sel(feat_id)` the feature subset.
    * Returns `(feat_id, bin, z_mean)` with unrounded doubles.
    */
  def binnedProfiles(coo: DataFrame, ptime: DataFrame, sel: DataFrame,
                     halfWidth: Int = 2, nBins: Int = 20): DataFrame = {
    val dense = ptime.crossJoin(broadcast(sel))
      .join(coo, Seq("cell_id", "feat_id"), "left")
      .select(col("cell_id"), col("feat_id"), col("ptime"),
        coalesce(col("value"), lit(0.0)).as("v"))
    val w = Window.partitionBy("feat_id").orderBy("ptime", "cell_id")
    // cached: the rolled frame feeds the stats aggregation AND the z/bin
    // pass — uncached, the |cells|·|sel| window sort runs twice
    val rolled = dense.withColumn("r",
        avg(col("v")).over(w.rowsBetween(-halfWidth, halfWidth)))
      .cache()
    val stats = rolled.groupBy("feat_id").agg(
      avg(col("r")).as("mu"), stddev_samp(col("r")).as("sd"))
    rolled.join(broadcast(stats), Seq("feat_id"))
      // flat profiles (sd = 0) z-scale to 0 rather than dividing by zero
      .withColumn("z", when(col("sd") =!= 0.0,
        (col("r") - col("mu")) / col("sd")).otherwise(lit(0.0)))
      .withColumn("bin", ntile(nBins).over(w))
      .groupBy("feat_id", "bin")
      .agg(avg(col("z")).as("z_mean"))
  }

  /** knn_clustering (scarf/markers.py:323-439) over binned profiles
    * `(feat_id, bin, z_mean)`:
    *
    *  1. assemble each feature's bin-ordered profile vector;
    *  2. self-KNN in l2 space ([[Scale.ann]] picks the bucketed ANN
    *     above 10k features — the reference's HNSW default — and exact
    *     blocked top-k at or below);
    *  3. binary (weight 1) KNN adjacency → Paris dendrogram →
    *     cut_straight to `nClusters` (Paris.cut; mutual edges carry
    *     weight 2 after symmetrization, exactly A + Aᵀ of the ones-CSR);
    *  4. fix_cluster_order: per-feature argmax bin (first max, as numpy
    *     argmax), per-cluster interpolated median, clusters relabeled
    *     1..C ascending in that median (tie-break on the pre-order id).
    *
    * Returns `(feat_id, cluster)` with clusters 1..nClusters.
    */
  def knnClustering(profiles: DataFrame, k: Int = 11,
                    nClusters: Int = 10): DataFrame = {
    val vecs = profiles.groupBy("feat_id").agg(
      transform(array_sort(collect_list(struct(col("bin"), col("z_mean")))),
        x => x.getField("z_mean")).as("profile"))
      .cache()
    val latent = vecs.select(col("feat_id").as("cell_id"),
      col("profile").as("latent"))
    val knn = if (Scale.ann(latent.count())) Knn.bucketedSelfKnn(latent, k)
              else Knn.exactSelfKnn(latent, k)
    val edges = knn.select(col("src"), col("dst"), lit(1.0).as("weight"))
    val labels0 = Paris.cut(edges, nClusters)
      .withColumnRenamed("cell_id", "feat_id")
    val argmax = vecs.select(col("feat_id"),
      array_position(col("profile"), array_max(col("profile"))).as("_amax"))
    val med = labels0.join(argmax, Seq("feat_id"))
      .groupBy("cluster").agg(expr("percentile(_amax, 0.5)").as("_med"))
    val order = graft.ops.Windows.globalOrdinal(
      med, Seq(col("_med"), col("cluster")), "_new")
    labels0
      .join(broadcast(order.select(col("cluster"), col("_new"))), Seq("cluster"))
      .select(col("feat_id"), col("_new").as("cluster"))
  }

  /** The full operator: bin → cluster. `coo` pre-aggregated to unique
    * (cell_id, feat_id) pairs.
    */
  def runPseudotimeAggregation(coo: DataFrame, ptime: DataFrame, sel: DataFrame,
                               halfWidth: Int = 2, nBins: Int = 20,
                               k: Int = 11, nClusters: Int = 10): DataFrame =
    knnClustering(binnedProfiles(coo, ptime, sel, halfWidth, nBins), k, nClusters)
}
