package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unified (reference + projected target) embeddings — the main consumer
  * of run_mapping (scarf/datastore/mapping_datastore.py:366-668):
  * the reference KNN graph is augmented with each projected target cell's
  * top-`useK` reference neighbors at a constant `targetWeight`, target
  * cells are initialized at their best reference neighbor's coordinates,
  * and the combined graph is laid out with the same UMAP or t-SNE
  * machinery as run_umap and run_tsne.
  */
object Unified {

  /** load_unified_graph: reference edges + target→reference projection
    * edges. `hits` is the run_mapping output `(target_id, ref_id, rank)`
    * (rank 1 = best). Target cells get unified ids `refOffset + ordinal`
    * (dense, in target_id order — scale-safe globalOrdinal). Returns
    * (edges, mapping) where mapping = (unified_id, origin, orig_id).
    */
  def unifiedGraph(refEdges: DataFrame, hits: DataFrame, useK: Int,
                   targetWeight: Double): (DataFrame, DataFrame) = {
    val refCells = refEdges.select(col("src").as("cell_id"))
      .unionByName(refEdges.select(col("dst").as("cell_id"))).distinct()
    val refOffset = refCells.agg(max("cell_id")).head().getLong(0) + 1
    val targets = graft.ops.Windows.globalOrdinal(
        hits.select(col("target_id")).distinct(), Seq(col("target_id")), "ord")
      .select(col("target_id"), (col("ord") - 1 + refOffset).as("unified_id"))
    val tEdges = hits.filter(col("rank") <= useK)
      .join(broadcast(targets), Seq("target_id"))
      .select(col("unified_id").as("src"), col("ref_id").as("dst"),
        lit(targetWeight).as("weight"))
    val edges = refEdges.select("src", "dst", "weight").unionByName(tEdges)
    val mapping = refCells
      .select(col("cell_id").as("unified_id"), lit("ref").as("origin"),
        col("cell_id").as("orig_id"))
      .unionByName(targets.select(col("unified_id"), lit("target").as("origin"),
        col("target_id").as("orig_id")))
    (edges, mapping)
  }

  /** _get_uni_ini_embed: targets start at their rank-1 reference
    * neighbor's init coordinates; references keep their own. */
  private def unifiedInit(mapping: DataFrame, hits: DataFrame,
                          refInit: DataFrame): DataFrame = {
    val targetInit = hits.filter(col("rank") === 1)
      .join(mapping.filter(col("origin") === "target")
        .select(col("orig_id").as("target_id"), col("unified_id")), Seq("target_id"))
      .join(refInit.withColumnRenamed("cell_id", "ref_id"), Seq("ref_id"))
      .select(col("unified_id").as("cell_id"), col("x"), col("y"))
    refInit.select("cell_id", "x", "y").unionByName(targetInit)
  }

  /** run_unified_umap: targets start at their rank-1 reference neighbor's
    * init coordinates (_get_uni_ini_embed), then the union graph is laid
    * out — by the driver SGD when `onDriver`, else by
    * [[UmapLayout.distributedLayout]]. `refInit(cell_id, x, y)`. Output:
    * (unified_id, origin, orig_id, umap1, umap2).
    */
  def unifiedUmap(refEdges: DataFrame, hits: DataFrame, refInit: DataFrame,
                  useK: Int = 3, targetWeight: Double = 0.1,
                  nEpochs: Int = 50, seed: Long = 4444L,
                  onDriver: Boolean = true): DataFrame = {
    val (edges, mapping) = unifiedGraph(refEdges, hits, useK, targetWeight)
    val init = unifiedInit(mapping, hits, refInit)
    (if (onDriver) UmapLayout.layout(edges, init, nEpochs = nEpochs, seed = seed)
     else UmapLayout.distributedLayout(edges, init, nEpochs = nEpochs, seed = seed))
      .join(mapping.withColumnRenamed("unified_id", "cell_id"), Seq("cell_id"))
      .select(col("cell_id").as("unified_id"), col("origin"), col("orig_id"),
        col("umap1"), col("umap2"))
  }

  /** run_unified_tsne (scarf/datastore/mapping_datastore.py:573-668):
    * the same unified graph + rank-1 init, laid out with the graph-
    * affinity t-SNE kernel instead of UMAP (the reference processes the
    * loaded graph "the same way as run_tsne", feeding it to SG-tSNE-Π).
    * Reference defaults: use_k = 3, target_weight = 0.5. Output:
    * (unified_id, origin, orig_id, tsne1, tsne2).
    */
  def unifiedTsne(refEdges: DataFrame, hits: DataFrame, refInit: DataFrame,
                  useK: Int = 3, targetWeight: Double = 0.5,
                  nIter: Int = 300): DataFrame = {
    val (edges, mapping) = unifiedGraph(refEdges, hits, useK, targetWeight)
    val init = unifiedInit(mapping, hits, refInit)
    TsneLayout.layout(edges, init, nIter = nIter)
      .join(mapping.withColumnRenamed("unified_id", "cell_id"), Seq("cell_id"))
      .select(col("cell_id").as("unified_id"), col("origin"), col("orig_id"),
        col("tsne1"), col("tsne2"))
  }
}
