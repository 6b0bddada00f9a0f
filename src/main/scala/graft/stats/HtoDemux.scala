package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HTO demultiplexing with the reference's Seurat-style statistical
  * machinery (hto_demux, scarf/feat_utils.py:95-162): CLR-normalize the
  * HTO count matrix, KMeans into nHTO+1 clusters, per HTO take the
  * cluster with minimum average expression as background, fit a negative
  * binomial to the background counts by maximum likelihood, cut at its
  * 0.99 quantile, then classify Negative / singlet (argmax HTO) / Doublet.
  *
  * Distributed: CLR + cluster means + discretization are joins/aggs;
  * clustering is [[graft.pipeline.Cluster.lloyd]] (deterministic seeded
  * Lloyd's — the reference's sklearn n_init=100 RNG is unmatchable by
  * any engine, and a deterministic clustering makes the WHOLE demux
  * chain replayable by the q60 DuckDB oracle); the only driver-side
  * step is the NB fit, which sees only the background-cluster count
  * histogram per HTO.
  */
object HtoDemux {

  // Lanczos log-gamma (public constants, Numerical Recipes form)
  private val g = Array(676.5203681218851, -1259.1392167224028, 771.32342877765313,
    -176.61502916214059, 12.507343278686905, -0.13857109526572012,
    9.9843695780195716e-6, 1.5056327351493116e-7)

  def lgamma(x0: Double): Double = {
    if (x0 < 0.5) {
      math.log(math.Pi / math.sin(math.Pi * x0)) - lgamma(1 - x0)
    } else {
      val x = x0 - 1
      var a = 0.99999999999980993
      val t = x + 7.5
      g.zipWithIndex.foreach { case (c, i) => a += c / (x + i + 1) }
      0.5 * math.log(2 * math.Pi) + (x + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** NB2 log-likelihood for counts with mean mu and dispersion alpha
    * (r = 1/alpha, p = r/(r+mu)) — the model NegativeBinomial(...).fit
    * estimates for an intercept-only design. Weighted form: counts are
    * discrete, so the data arrives as (value, multiplicity) pairs — the
    * likelihood over millions of cells costs |distinct values| lgammas.
    */
  private def nbLogLik(vals: Array[(Double, Long)], mu: Double, alpha: Double): Double = {
    val r = 1.0 / alpha
    val p = r / (r + mu)
    // ln(1 - p) rather than log1p(-p): identical bits to the DuckDB
    // oracle's LN(1.0 - p) (q60); p is never close enough to 1 for the
    // log1p precision edge to matter here
    vals.map { case (y, m) =>
      m * (lgamma(y + r) - lgamma(r) - lgamma(y + 1) + r * math.log(p) + y * math.log(1.0 - p))
    }.sum
  }

  /** Background cutoff (get_background_cutoff): NB MLE on the background
    * counts (mu = sample mean — the intercept-only MLE; alpha by golden
    * section on log scale), then round(mu + ppf(q)) mirroring the
    * reference's nbinom(n, p, loc=mu).ppf(quantile).
    */
  def nbCutoff(vals0: Array[Double], quantile: Double = 0.99): Long =
    nbCutoffWeighted(vals0.groupBy(identity).map { case (v, a) => (v, a.length.toLong) }
      .toArray.sortBy(_._1), quantile)

  def nbCutoffWeighted(vals: Array[(Double, Long)], quantile: Double = 0.99): Long = {
    require(vals.nonEmpty)
    val nTot = vals.map(_._2).sum
    val mu = math.max(vals.map { case (v, m) => v * m }.sum / nTot, 1e-8)
    // golden-section maximize ll over log-alpha in [-12, 8]
    var lo = -12.0; var hi = 8.0
    val phi = (math.sqrt(5.0) - 1) / 2
    var c = hi - phi * (hi - lo)
    var d = lo + phi * (hi - lo)
    var fc = nbLogLik(vals, mu, math.exp(c))
    var fd = nbLogLik(vals, mu, math.exp(d))
    var i = 0
    while (i < 80 && hi - lo > 1e-9) {
      if (fc > fd) { hi = d; d = c; fd = fc; c = hi - phi * (hi - lo); fc = nbLogLik(vals, mu, math.exp(c)) }
      else { lo = c; c = d; fc = fd; d = lo + phi * (hi - lo); fd = nbLogLik(vals, mu, math.exp(d)) }
      i += 1
    }
    val alpha = math.exp((lo + hi) / 2)
    val r = 1.0 / alpha
    val p = r / (r + mu)
    // ppf via cumulative pmf in log space
    var k = 0L
    var logPmf = r * math.log(p) // pmf(0)
    var cdf = math.exp(logPmf)
    while (cdf < quantile && k < 1000000L) {
      // pmf(k+1)/pmf(k) = (k + r)/(k + 1) · (1−p)
      logPmf += math.log((k + r) / (k + 1.0)) + math.log(1.0 - p)
      cdf += math.exp(logPmf)
      k += 1
    }
    math.round(mu + k)
  }

  /** Full demux over narrow counts `(cell_id, hto, count)` →
    * `(cell_id, call)` where call ∈ {Negative, Doublet, <hto name>}.
    */
  def demux(counts: DataFrame, seed: Long = 4466L, quantile: Double = 0.99): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    // driver-bound: one row per hashtag oligo
    val htos = counts.select("hto").distinct().as[String].collect().sorted
    val k = htos.length + 1
    // densify: sparse inputs (COO-derived) may omit zero (cell, hto)
    // rows; ragged CLR vectors would crash KMeans on mixed dimensions
    // cached: feeds the CLR stage, the background fit and the
    // discretization — three separate actions
    val denseCounts = counts.select("cell_id").distinct()
      .crossJoin(broadcast(counts.select("hto").distinct()))
      .join(counts, Seq("cell_id", "hto"), "left")
      .na.fill(0.0, Seq("count"))
      .cache()
    // CLR: f(hto) = exp(Σ_cells ln(1+x) / nCells); clr = ln(x / f + 1).
    // f is rounded to 6 dp and ln(1+·) is spelled as ln(x+1) (not log1p)
    // so the DuckDB oracle (q60) sees bit-identical inputs: counts are
    // integer-valued, making x+1 exact, while the Σ ln term's float
    // summation order differs between engines — the 6 dp round absorbs
    // that wobble before it can shift every CLR value coherently
    val nCells = denseCounts.select("cell_id").distinct().count()
    val f = denseCounts.groupBy("hto")
      .agg(round(exp(sum(log(col("count") + 1)) / nCells), 6).as("f"))
    val clr = denseCounts.join(broadcast(f), Seq("hto"))
      .select(col("cell_id"), col("hto"), log(col("count") / col("f") + 1).as("clr"))
    // assemble fixed-order CLR vectors and cluster
    val hIdx = htos.zipWithIndex.toMap
    val idxCol = udf((h: String) => hIdx(h))
    val vecs = clr.withColumn("pos", idxCol(col("hto")))
      .groupBy("cell_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("clr")))),
        s => s.getField("clr")).as("latent"))
    // deterministic Lloyd's rather than MLlib KMeans: the reference's
    // sklearn n_init=100 RNG is unmatchable either way, and a fully
    // deterministic clustering makes the whole demux chain (CLR →
    // cluster → NB-MLE cutoff → classify) replayable by the DuckDB
    // oracle (q60)
    val clusters = graft.pipeline.Cluster.lloyd(vecs, k, iters = 25, seed = seed)
    // per-HTO background cluster = argmin of mean CLR
    val avgExp = clr.join(clusters, Seq("cell_id"))
      .groupBy("hto", "cluster").agg(avg(col("clr")).as("m"))
    val bg = avgExp.withColumn("rn", row_number().over(
        Window.partitionBy("hto").orderBy(col("m"), col("cluster"))))
      .filter(col("rn") === 1).select(col("hto"), col("cluster").as("bg_cluster"))
    // NB cutoffs from background count HISTOGRAMS (counts are discrete —
    // only (value, multiplicity) pairs reach the driver, so the fit costs
    // |distinct values| regardless of cell count)
    val bgVals = denseCounts.join(clusters, Seq("cell_id"))
      .join(broadcast(bg), Seq("hto"))
      .filter(col("cluster") === col("bg_cluster"))
      .groupBy(col("hto"), col("count").cast("double").as("v"))
      .agg(count(lit(1)).as("m"))
      // driver-bound: one row per (hashtag, distinct count value)
      .as[(String, Double, Long)].collect().groupBy(_._1)
    val cutoffs = htos.map(h =>
      h -> nbCutoffWeighted(
        bgVals.getOrElse(h, Array.empty).map(t => (t._2, t._3)).sortBy(_._1),
        quantile)).toMap
    val cutDf = cutoffs.toSeq.toDF("hto", "cutoff")
    classify(denseCounts, cutDf)
  }

  /** The discretize-and-classify tail given per-HTO cutoffs (the pure-
    * relational back half of hto_demux, scarf/feat_utils.py:140-162):
    * mark each (cell, hto) positive above its cutoff, then call
    * Negative (0 positives) / Doublet (>1) / the argmax-count HTO
    * (ties break to the lexicographically first HTO name). Split out of
    * [[demux]] so this half is independently oracle-checkable — the
    * KMeans+NB-MLE front half is the only unoracled remainder.
    */
  def classify(denseCounts: DataFrame, cutoffs: DataFrame): DataFrame = {
    val disc = denseCounts.join(broadcast(cutoffs), Seq("hto"))
      .select(col("cell_id"), col("hto"), col("count"),
        (col("count") > col("cutoff")).cast("int").as("pos"))
    val best = disc.withColumn("rn", row_number().over(
        Window.partitionBy("cell_id").orderBy(col("count").desc, col("hto"))))
      .filter(col("rn") === 1).select(col("cell_id"), col("hto").as("top_hto"))
    disc.groupBy("cell_id").agg(sum(col("pos")).as("n_pos"))
      .join(best, Seq("cell_id"))
      .select(col("cell_id"),
        when(col("n_pos") === 0, "Negative")
          .when(col("n_pos") > 1, "Doublet")
          .otherwise(col("top_hto")).as("call"))
  }
}
