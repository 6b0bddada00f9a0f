package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LOWESS (locally weighted scatterplot smoothing) — the published
  * Cleveland 1979 algorithm as statsmodels implements it (tricube-weighted
  * local linear regression with bisquare robustifying iterations), used by
  * the reference's HVG trend removal (scarf/feat_utils.py:11-46).
  *
  * The fit runs on the ≤ nBins bin-representative points, i.e. driver-side
  * on a handful of values — exactly the boundary the reference draws.
  */
object Lowess {

  /** Fitted values at each input x (return_sorted=False semantics). */
  def fit(xs: Array[Double], ys: Array[Double], frac: Double, iters: Int = 3): Array[Double] = {
    val n = xs.length
    if (n == 0) return Array.empty
    if (n == 1) return Array(ys(0))
    val order = xs.indices.sortBy(xs(_)).toArray
    val sx = order.map(xs(_))
    val sy = order.map(ys(_))
    val k = math.max(2, math.min(n, math.ceil(frac * n).toInt))
    val delta = Array.fill(n)(1.0)
    var fitted = new Array[Double](n)

    def localFit(): Unit = {
      var i = 0
      while (i < n) {
        // k-nearest window of sx(i) in sorted order
        var lo = i; var hi = i
        while (hi - lo + 1 < k) {
          if (lo == 0) hi += 1
          else if (hi == n - 1) lo -= 1
          else if (sx(i) - sx(lo - 1) <= sx(hi + 1) - sx(i)) lo -= 1
          else hi += 1
        }
        val h = math.max(sx(hi) - sx(i), sx(i) - sx(lo))
        var sw = 0.0; var swx = 0.0; var swy = 0.0; var swxx = 0.0; var swxy = 0.0
        var j = lo
        while (j <= hi) {
          val d = if (h > 0) math.abs(sx(j) - sx(i)) / h else 0.0
          val t = 1.0 - d * d * d
          val w0 = if (d >= 1.0) 0.0 else t * t * t
          val w = w0 * delta(j)
          sw += w; swx += w * sx(j); swy += w * sy(j)
          swxx += w * sx(j) * sx(j); swxy += w * sx(j) * sy(j)
          j += 1
        }
        fitted(i) =
          if (sw <= 0) sy(i)
          else {
            val det = sw * swxx - swx * swx
            if (math.abs(det) < 1e-12 * math.max(1.0, swxx * sw)) swy / sw
            else {
              val b = (sw * swxy - swx * swy) / det
              val a = (swy - b * swx) / sw
              a + b * sx(i)
            }
          }
        i += 1
      }
    }

    localFit()
    val maxAbsY = sy.map(math.abs).foldLeft(0.0)(math.max)
    var it = 0
    while (it < iters) {
      val res = Array.tabulate(n)(i => sy(i) - fitted(i))
      val absRes = res.map(math.abs).sorted
      // floor the robust scale: on near-exact data the median residual is
      // machine epsilon and every point would be down-weighted to zero
      val s = math.max(
        if (n % 2 == 1) absRes(n / 2) else (absRes(n / 2 - 1) + absRes(n / 2)) / 2,
        1e-9 * maxAbsY)
      if (s <= 0) it = iters
      else {
        var i = 0
        while (i < n) {
          val u = res(i) / (6.0 * s)
          delta(i) = if (math.abs(u) >= 1.0) 0.0 else { val t = 1 - u * u; t * t }
          i += 1
        }
        localFit()
        it += 1
      }
    }
    // un-sort back to input order
    val out = new Array[Double](n)
    order.zipWithIndex.foreach { case (orig, si) => out(orig) = fitted(si) }
    out
  }

  /** fit_lowess-faithful corrected variance (scarf/feat_utils.py:11-46):
    * log both moments, bin log-mean into nBins equal-width bins (last edge
    * stretched to include the max), per-bin representative = the feature
    * with minimum log-variance, LOWESS through the representatives, then
    * corrected = exp(log sigma − trend(bin)). Only the ≤ nBins
    * representatives ever reach the driver. Input columns: feat_id, avg,
    * sigmas. Output: feat_id + c_var_lowess.
    */
  def correctedVar(stats: DataFrame, nBins: Int, frac: Double): DataFrame = {
    val s = stats.filter(col("avg") > 0 && col("sigmas") > 0)
      .withColumn("la", log(col("avg")))
      .withColumn("lb", log(col("sigmas")))
    val bounds = s.agg(min(col("la")).as("lo"), max(col("la")).as("hi"))
    // greatest(0, …): bin is mathematically ≥ 0 (la ≥ lo), but the min-la
    // feature sits exactly on the boundary, where float jitter between
    // separate evaluations of the stats subtree could push it to −1
    val binned = s.crossJoin(broadcast(bounds))
      .withColumn("bin",
        greatest(least(floor((col("la") - col("lo")) / ((col("hi") - col("lo")) / nBins)),
          lit(nBins - 1)), lit(0)).cast("int"))
    val reps = binned.groupBy("bin")
      .agg(min_by(struct(col("lb"), col("la")), struct(col("lb"), col("feat_id"))).as("r"))
      .select(col("bin"), col("r.la").as("ra"), col("r.lb").as("rb"))
      // driver-bound: at most nBins rows
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val bcf = fit(reps.map(_._2), reps.map(_._3), frac, iters = 100)
    val corr = reps.map(_._1).zip(bcf).toMap
    val spark = stats.sparkSession
    import spark.implicits._
    val corrDf = corr.toSeq.toDF("bin", "bcf")
    binned.join(broadcast(corrDf), Seq("bin"))
      .select(col("feat_id"), exp(col("lb") - col("bcf")).as("c_var_lowess"))
  }
}
