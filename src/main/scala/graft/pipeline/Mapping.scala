package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The projection kernel of run_mapping
  * (scarf/datastore/mapping_datastore.py:31-209): every TARGET cell's
  * top-`saveK` nearest REFERENCE cells in the reference's latent space —
  * the step the reference runs through its saved ANN index and stores
  * under `projections/<target_name>`. [[DataStore.runMapping]] composes
  * the full chain (align → normalize → optional CORAL → reduce →
  * project).
  */
object Mapping {

  /** Project `target(cell_id, latent)` against `ref(cell_id, latent)`.
    *
    * Strategy comes from [[Scale.ann]] over the target count, the same
    * gate as [[DataStore.makeGraph]]: exact l2 top-k up to its 10k-row
    * bound (the query side broadcasts — the reference's `transform_ann`
    * over a small batch, recall 1.0); above it, the bucketed-LSH
    * cross-KNN ([[Knn.bucketedKnn]]) — no O(|target|·|ref|) stage. Both
    * paths rank by euclidean distance like the reference's 'l2'-space
    * HNSW index — crucially not magnitude-blind, so a target identical to
    * a reference cell strictly beats every merely-collinear one.
    *
    * Output `(target_id, ref_id, dist, rank)`. By default id-equal
    * pairs are KEPT — a target cell identical to a reference cell
    * legitimately hits it, exactly as the reference's index returns it;
    * pass `excludeSelf = true` when the queries are drawn FROM the
    * reference itself.
    */
  def project(target0: DataFrame, ref: DataFrame, saveK: Int,
              excludeSelf: Boolean = false): DataFrame = {
    // the gate needs a count — cache the target latent FIRST so the
    // count doesn't execute the whole target-side normalize/assemble/
    // transform plan once and the chosen path a second time.
    // bucketedKnn re-caches the same plan (CacheManager no-op),
    // checkpoints its k-bounded output and unpersists it; the exact path
    // releases after an eager checkpoint of its k-bounded output.
    val target = target0.cache()
    if (Scale.ann(target.count()))
      Knn.bucketedKnn(target, ref, saveK, excludeSelf = excludeSelf)
        .select(col("src").as("target_id"), col("dst").as("ref_id"),
          col("dist"), col("rn").as("rank"))
    else {
      val out = graft.sim.Similarity.l2TopK(
          target.select(col("cell_id").as("qid"), col("latent").as("qvec")),
          ref.select(col("cell_id").as("vec_id"), col("latent").as("embedding")),
          saveK, excludeSelf = excludeSelf)
        .select(col("qid").as("target_id"), col("vec_id").as("ref_id"),
          col("dist"), col("rn").as("rank"))
        .localCheckpoint()
      target.unpersist()
      out
    }
  }
}
