package graft.pipeline

import org.apache.spark.ml.feature.{PCA, StandardScaler}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dimensionality reduction (SURVEY.md §2.10): COO → per-cell feature
  * vector → z-scale → PCA, mirroring scarf's normalize → (mu, sigma) →
  * IncrementalPCA path (scarf/ann.py:191-256) with Spark ML's
  * deterministic SVD-based PCA.
  *
  * The vector assembly keys features by a dense 0-based ordinal (window
  * over the selected feature set — |features| rows, broadcastable), so
  * the per-cell vectors have a fixed layout regardless of partitioning.
  */
object Reduce {

  /** Map selected features to dense ordinals `(feat_id, feat_idx)`. */
  def featureIndex(selected: DataFrame): DataFrame =
    graft.ops.Windows.globalOrdinal(
        selected.select("feat_id").distinct(), Seq(col("feat_id")), "_p")
      .withColumn("feat_idx", (col("_p") - 1).cast("int")).drop("_p")

  /** Assemble per-cell ml Vectors from the COO slice restricted to the
    * selected features. Cells with no selected feature are dropped (same
    * as slicing a dense matrix to zero columns would not).
    */
  def assembleVectors(coo: DataFrame, featIdx: DataFrame, valueCol: String = "value"): DataFrame = {
    val nFeats = featIdx.count().toInt
    val spark = coo.sparkSession
    import spark.implicits._
    coo.join(broadcast(featIdx), Seq("feat_id"))
      .select(col("cell_id"), col("feat_idx"), col(valueCol).as("v"))
      .as[(Long, Int, Double)]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        // duplicate (cell, feat) entries sum, matching a counts matrix
        val pairs = it.map(t => (t._2, t._3)).toSeq
          .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
        (cell, Vectors.sparse(nFeats, pairs.map(_._1).toArray, pairs.map(_._2).toArray))
      }
      .toDF("cell_id", "features")
  }

  /** z-scale + PCA to `dims` components; returns `(cell_id, latent)` with
    * `latent: Array[Double]`. Deterministic given the input (SVD-based).
    */
  def pca(vectors: DataFrame, dims: Int, withStd: Boolean = true): DataFrame = {
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled")
      .setWithMean(true).setWithStd(withStd)
    val scaled = scaler.fit(vectors).transform(vectors)
    val pcaModel = new PCA().setInputCol("scaled").setOutputCol("pc")
      .setK(dims).fit(scaled)
    val toArr = udf((v: Vector) => v.toArray)
    pcaModel.transform(scaled)
      .select(col("cell_id"), toArr(col("pc")).as("latent"))
  }

  /** Fit the z-scale + PCA reducer on `train` and return a projector
    * applicable to ANY vector frame over the same feature index —
    * run_mapping's "project through the SOURCE's reducer" step
    * (scarf/datastore/mapping_datastore.py:152-176; ref_mu/ref_sigma=True
    * semantics: the scaler's moments come from the train side only, never
    * from the frame being projected).
    */
  def pcaReducer(train: DataFrame, dims: Int,
                 withStd: Boolean = true): DataFrame => DataFrame = {
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled")
      .setWithMean(true).setWithStd(withStd)
      .fit(train)
    val pcaModel = new PCA().setInputCol("scaled").setOutputCol("pc")
      .setK(dims).fit(scaler.transform(train))
    val toArr = udf((v: Vector) => v.toArray)
    df => pcaModel.transform(scaler.transform(df))
      .select(col("cell_id"), toArr(col("pc")).as("latent"))
  }

  /** Deterministic z-scale + PCA — cross-engine replayable (backs the
    * q53 oracle the way [[graft.pipeline.Cluster.lloyd]] backs q60's).
    * MLlib's PCA is deterministic within Spark but its SVD is
    * engine-private; this variant is defined purely in terms an external
    * engine can replay bit-for-bit:
    *
    *  - dense per-cell vectors over the d selected features;
    *  - per-feature mean and sample std (moment form), ROUNDED to 5 dp —
    *    float-summation-order noise across engines is ~1e-11, far below
    *    the 5e-6 grain, so both engines see identical moments;
    *  - covariance of the z-scaled data (d×d, 5 dp-rounded, same
    *    argument);
    *  - top-`dims` eigenvectors by fixed-count subspace iteration with
    *    classical Gram-Schmidt from the identity init — pure
    *    +,*,/,sqrt in a fixed order, all correctly-rounded IEEE ops, so
    *    identical covariance bits give identical basis bits on any
    *    engine;
    *  - latent = scaled row · basis, ascending-index dot products.
    *
    * Only the d×d covariance reaches the driver; everything row-scale is
    * joins/aggregations. Intended for d ≤ ~100 (covariance eigensolve —
    * the same regime where MLlib PCA also materializes the Gramian).
    */
  def pcaDeterministic(vectors: DataFrame, dims: Int, iters: Int = 300): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // feeds moments + covariance + projection (4 actions)
    val dense = vectors.select(col("cell_id"), col("features"))
      .as[(Long, Vector)].map { case (c, v) => (c, v.toArray) }
      .cache()
    val d = dense.head()._2.length
    val n = dense.count()
    // 5 dp-rounded per-feature moments (moment-form sample std)
    val moments = dense.flatMap { case (_, xs) =>
        xs.iterator.zipWithIndex.map { case (x, i) => (i, x, x * x) }
      }.toDF("i", "x", "xx")
      .groupBy("i").agg(
        round(sum(col("x")) / n, 5).as("m"),
        round(sqrt((sum(col("xx")) - sum(col("x")) * sum(col("x")) / n) / (n - 1)), 5).as("s"))
      // driver-bound: features (one moment row per input dimension d)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val ms = moments.map(_._2)
    val ss = moments.map(_._3)
    def scale(xs: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => if (ss(i) > 0) (xs(i) - ms(i)) / ss(i) else 0.0)
    // 5 dp-rounded covariance of the scaled data (d×d to the driver)
    val cov = Array.ofDim[Double](d, d)
    dense.flatMap { case (_, xs) =>
        val z = scale(xs)
        for (i <- 0 until d; j <- i until d) yield (i, j, z(i) * z(j))
      }.toDF("i", "j", "p")
      .groupBy("i", "j").agg(round(sum(col("p")) / (n - 1), 5).as("c"))
      // driver-bound: features (the d×d covariance)
      .as[(Int, Int, Double)].collect()
      .foreach { case (i, j, c) => cov(i)(j) = c; cov(j)(i) = c }
    // subspace iteration, classical Gram-Schmidt, fixed order
    var v = Array.tabulate(dims)(j => Array.tabulate(d)(i => if (i == j) 1.0 else 0.0))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i) * b(i); i += 1 }
      s
    }
    for (_ <- 1 to iters) {
      val w = v.map(col0 => Array.tabulate(d)(i => dot(cov(i), col0)))
      val nv = new Array[Array[Double]](dims)
      for (j <- 0 until dims) {
        val u = w(j).clone()
        for (l <- 0 until j) {
          val dl = dot(w(j), nv(l))
          var i = 0
          while (i < d) { u(i) -= dl * nv(l)(i); i += 1 }
        }
        val nrm = math.sqrt(dot(u, u))
        nv(j) = if (nrm > 0) u.map(_ / nrm) else u
      }
      v = nv
    }
    val basis = v
    dense.map { case (c, xs) =>
      val z = scale(xs)
      (c, basis.map(col0 => dot(z, col0)).toSeq)
    }.toDF("cell_id", "latent")
  }

  /** LSI (scarf/ann.py:258-288): SVD of the (TF-IDF-normalized) matrix
    * WITHOUT centering — the ATAC path. Computes `dims + 1` components
    * and drops the first (depth-correlated) one when `skipFirst`, the
    * reference's `lsi_skip_first` semantic.
    */
  def lsi(vectors: DataFrame, dims: Int, skipFirst: Boolean = true): DataFrame = {
    val k = if (skipFirst) dims + 1 else dims
    // uncentered projection: PCA without mean removal == right singular
    // vectors of the raw matrix; use RowMatrix SVD for exactness
    val spark = vectors.sparkSession
    import spark.implicits._
    val rows = vectors.select("cell_id", "features")
      .map { r =>
        (r.getLong(0), org.apache.spark.mllib.linalg.Vectors.fromML(
          r.getAs[Vector](1)))
      }
    val mat = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows.rdd.map(_._2))
    val svd = mat.computeSVD(k, computeU = false)
    val v = svd.V // (nFeats x k)
    val proj = udf { (vec: Vector) =>
      val out = new Array[Double](k)
      vec.foreachActive { (i, x) =>
        var j = 0
        while (j < k) { out(j) += x * v(i, j); j += 1 }
      }
      (if (skipFirst) out.drop(1) else out).toSeq
    }
    vectors.select(col("cell_id"), proj(col("features")).as("latent"))
  }
}
