package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics staples: ordered funnel progression and cohort
  * retention. Both are per-user aggregations over a single hash
  * partitioning of the log — at 100 TB each is one shuffle on user_id
  * (AQE-coalesced), with the per-user state a handful of timestamps.
  */
object Analytics {

  /** Ordered funnel: for each user, the earliest time of step 1, the
    * earliest step-2 event STRICTLY AFTER that, the earliest step-3
    * event strictly after that, and the step count reached. The strict
    * ordering is what makes it a funnel (a purchase before the first
    * view does not count) — a plain per-type min would overcount.
    *
    * Shape: one conditional aggregation per step over the same user_id
    * partitioning — step n's aggregation joins step n-1's times back on
    * user_id (same key → Catalyst reuses the exchange), never a window
    * over the whole log.
    */
  def funnel(ev: DataFrame, steps: Seq[String], typeCol: String = "event_type",
             tsCol: String = "ts_us", userCol: String = "user_id"): DataFrame = {
    require(steps.nonEmpty)
    val s1 = ev.filter(col(typeCol) === steps.head)
      .groupBy(userCol).agg(min(col(tsCol)).as("t1"))
    val withTimes = steps.zipWithIndex.drop(1).foldLeft(s1) {
      case (acc, (step, i)) =>
        val cur = s"t${i + 1}"
        val nxt = ev.filter(col(typeCol) === step)
          .join(acc.select(col(userCol), col(s"t$i")), Seq(userCol))
          .filter(col(tsCol) > col(s"t$i"))
          .groupBy(userCol).agg(min(col(tsCol)).as(cur))
        acc.join(nxt, Seq(userCol), "left")
    }
    val reached = (1 to steps.length).map(i => when(col(s"t$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    withTimes.withColumn("steps_reached", reached)
  }

  /** Cohort retention: users grouped by the period of their first event
    * (the cohort); per (cohort, period-offset) the count of distinct
    * users active in that period. `periodUs` is the bucket width (e.g.
    * 7 days in µs). Three aggregations: first-seen per user, distinct
    * (user, period), then the cohort×offset matrix — all keyed on
    * user_id then small grouped output.
    */
  def retention(ev: DataFrame, periodUs: Long, tsCol: String = "ts_us",
                userCol: String = "user_id"): DataFrame = {
    val period = expr(s"$tsCol div ${periodUs}L")
    val first = ev.groupBy(userCol)
      .agg(min(period).as("cohort"))
    val active = ev.select(col(userCol), period.as("p")).distinct()
    active.join(first, Seq(userCol))
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  /** Split-conformal calibration (Vovk 2005 / Papadopoulos 2002) of an
    * integer nonconformity score — the finite-sample-valid acceptance
    * threshold a filtering pipeline puts in front of a model score:
    * with n calibration points, the threshold is the
    * k = ⌈(n+1)(1−α)⌉-th smallest calibration score, and P(new score ≤
    * threshold) ≥ 1−α holds with NO distributional assumption. Exact
    * throughout: k = ((n+1)(b−a) + b − 1) div b for α = a/b (integer),
    * the order statistic rides the range-partitioned global ordinal
    * (never a single-partition sort), and the held-out coverage check
    * reports raw integer counts next to the one final division. When
    * k > n (α too small for the calibration size) the threshold is the
    * max calibration score — the standard accept-all degeneracy,
    * clamped rather than undefined.
    * Output per α: `(a_num, a_den, n_cal, k, q_score, n_test,
    * n_covered, coverage)`.
    */
  def conformal(df: DataFrame, score: Column, isCal: Column,
                alphas: Seq[(Int, Int)]): DataFrame = {
    val base = df.select(score.cast("long").as("s"), isCal.as("_cal"))
    val cal = base.filter(col("_cal")).select("s")
    // degenerate inputs fail loudly instead of degrading silently: an
    // empty calibration set would make max(_g) NULL and the k/q_score
    // join vanish (an empty result that LOOKS like "no coverage"), and
    // n_test = 0 would null the coverage division
    require(!cal.isEmpty,
      "conformal() requires a nonempty calibration partition (isCal matched no rows)")
    val ord = graft.ops.Windows.globalOrdinal(cal, Seq(col("s")), "_g")
      .localCheckpoint()
    val nCal = ord.agg(max(col("_g")).as("n_cal"))
    val test = base.filter(!col("_cal"))
      .agg(count(lit(1)).as("n_test")).localCheckpoint()
    require(test.head().getLong(0) > 0,
      "conformal() requires a nonempty test partition (every row was calibration)")
    val ks = nCal.select(col("n_cal"),
      explode(array(alphas.map { case (a, b) =>
        struct(lit(a.toLong).as("a"), lit(b.toLong).as("b")) }: _*)).as("t"))
      .select(col("n_cal"), col("t.a").as("a_num"), col("t.b").as("b_den"),
        least(expr("((n_cal + 1) * (t.b - t.a) + t.b - 1) div t.b"),
          col("n_cal")).as("k"))
    // keyed on BOTH halves of α — different alphas can share a numerator
    val qk = ks.join(ord, ks("k") === ord("_g"))
      .select(col("a_num"), col("b_den").as("a_den"), col("n_cal"),
        col("k"), col("s").as("q_score"))
      .localCheckpoint()
    val cov = base.filter(!col("_cal")).select("s")
      .crossJoin(broadcast(qk.select(col("a_num").as("_an"),
        col("a_den").as("_ad"), col("q_score").as("_q"))))
      .filter(col("s") <= col("_q"))
      .groupBy(col("_an").as("a_num"), col("_ad").as("a_den"))
      .agg(count(lit(1)).as("n_covered"))
    qk.crossJoin(broadcast(test))
      .join(cov, Seq("a_num", "a_den"), "left")
      .na.fill(0L, Seq("n_covered"))
      .select(col("a_num"), col("a_den"), col("n_cal"), col("k"),
        col("q_score"), col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double")
          / col("n_test").cast("double"), 6).as("coverage"))
  }

  /** Kaplan–Meier product-limit survival of user activity lifetimes
    * (right-censored at the observation cutoff) — the principled
    * retention curve next to [[retention]]'s cohort grid: a user's
    * lifetime is last-active-day − first-active-day, users whose last
    * activity falls ON the corpus's final day are CENSORED (alive at
    * the data edge), everyone else churned. Per distinct lifetime t:
    * deaths d_t, censored c_t, at-risk n_t = Σ_{s≥t}(d_s + c_s), and
    * S(t) = Π_{s≤t}(1 − d_s/n_s). Each factor's log is micro-nat
    * quantized BEFORE the integer running sum (the q243 LN discipline),
    * so the curve's state is the exact integer `cum_ln_micro`;
    * `survival` does one final exp + 6 dp round. An all-deaths tail
    * (d = n_risk) takes a −10⁶-nat sentinel → survival exactly 0.
    * Scale: one (user)-keyed aggregation over the events, then
    * everything runs on the distinct-lifetime domain — bounded by the
    * corpus's day span, so the unpartitioned running-sum windows are
    * the documented bounded-domain kind, never user-scale.
    */
  def kaplanMeier(ev: DataFrame, tsCol: String = "ts_us",
                  userCol: String = "user_id"): DataFrame = {
    val day = expr(s"$tsCol div 86400000000L")
    val u = ev.groupBy(userCol).agg(min(day).as("d0"), max(day).as("d1"))
    val cut = u.agg(max(col("d1")).as("cutoff"))
    val dur = u.crossJoin(broadcast(cut))
      .select((col("d1") - col("d0")).as("t"),
        when(col("d1") < col("cutoff"), 1L).otherwise(0L).as("death"))
    val per = dur.groupBy("t").agg(
      sum(col("death")).as("d"),
      sum(lit(1L) - col("death")).as("c"))
    val w = Window.orderBy("t")
    val tot = per.agg(sum(col("d") + col("c")).as("n_tot"))
    val risked = per.crossJoin(broadcast(tot))
      .withColumn("_cum", coalesce(sum(col("d") + col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("n_tot") - col("_cum"))
    val lnTerm = when(col("d") === 0, lit(0L))
      .when(col("d") >= col("n_risk"), lit(-1000000000000L))
      .otherwise(round(log((col("n_risk") - col("d")).cast("double")
        / col("n_risk").cast("double")) * 1e6, 0).cast("long"))
    risked.withColumn("_ln", lnTerm)
      .withColumn("cum_ln_micro", sum(col("_ln")).over(w))
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("n_deaths"), col("c").as("n_censored"),
        col("cum_ln_micro"),
        round(exp(col("cum_ln_micro").cast("double") / 1e6), 6)
          .as("survival"))
  }

  /** Changelog compaction (CDC "latest state per key"): the newest row
    * per (user, event_type), ties on the timestamp broken by the larger
    * event id — the total order every log-structured table maintenance
    * job needs before a snapshot read. One keyed window (millions of
    * small partitions, never a global sort); values pass through
    * untouched, so the result is bit-identical by construction.
    */
  def latestState(ev: DataFrame, tsCol: String = "ts_us",
                  userCol: String = "user_id",
                  typeCol: String = "event_type",
                  idCol: String = "event_id"): DataFrame =
    ev.withColumn("_rn", row_number().over(
        Window.partitionBy(userCol, typeCol)
          .orderBy(col(tsCol).desc, col(idCol).desc)))
      .filter(col("_rn") === 1)
      .select(col(userCol), col(typeCol), col("value").as("last_value"),
        col(tsCol).as("last_ts_us"), col(idCol).as("last_event_id"))

  /** Key-skew report: the top-`k` heaviest keys with their event counts
    * and corpus share — the diagnosis a shuffle-heavy job runs BEFORE
    * picking salting factors or trusting AQE's skew split. Per-key
    * counts are one map-side-combinable aggregation; the top-k is one
    * global [[graft.ops.Windows.topKPerGroup]] cut, planned as a
    * per-partition top-k and a merge of ≤ k rows per partition, so no
    * single task ever sees the whole key table.
    */
  def keySkew(ev: DataFrame, keyCol: String, k: Int): DataFrame = {
    val c = ev.groupBy(keyCol).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    graft.ops.Windows.topKPerGroup(c, Nil, k, Seq(col("n").desc, col(keyCol)))
      .crossJoin(broadcast(tot))
      .select(col("rn").as("rank"), col(keyCol), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        col("n_keys"))
  }

  /** Exact per-group quantiles (nearest-rank: the value at rank
    * `max(1, ceil(p·n))` — no interpolation, so the result is a real data
    * point and replays engine-exact). The p50/p95/p99 observability
    * shape, computed WITHOUT a per-group window: one global
    * range-partitioned ordinal over (group, value) — groups share the
    * sort, no group ever lands in a single task — then per-group ranks
    * from a small (|groups|-row) offset join.
    */
  def groupQuantiles(df: DataFrame, group: String, valueCol: String,
                     ps: Seq[Double]): DataFrame = {
    val ordered = graft.ops.Windows.globalOrdinal(
      df.select(col(group), col(valueCol)),
      Seq(col(group), col(valueCol)), "pos")
    val bounds = ordered.groupBy(group)
      .agg(min(col("pos")).as("p0"), count(lit(1)).as("cnt"))
    val targets = bounds
      .select(col(group), col("p0"), col("cnt"),
        explode(typedlit(ps)).as("p"))
      .withColumn("target_rk",
        greatest(lit(1L), ceil(col("p") * col("cnt")).cast("long")))
    ordered.join(broadcast(targets), Seq(group))
      .filter(col("pos") - col("p0") + 1 === col("target_rk"))
      .select(col(group), col("p"), col(valueCol).as("q_value"))
  }

  /** SCD2 history build: the changelog → interval-table transform
    * behind slowly-changing-dimension reads — every (key, type) change
    * row becomes a validity interval `[valid_from, valid_to)` with
    * `valid_to` = the next change's timestamp under the (ts, id) total
    * order (NULL = current). The companion to [[latestState]] (which
    * keeps only the last interval): one lead() per key partition, a
    * single shuffle, zero-length intervals for equal-ts changes are
    * preserved (they are real changelog facts, and dropping them would
    * make the transform lossy).
    */
  def scd2(ev: DataFrame, tsCol: String = "ts_us",
           idCol: String = "event_id", userCol: String = "user_id",
           typeCol: String = "event_type", valCol: String = "value"): DataFrame = {
    val w = Window.partitionBy(userCol, typeCol)
      .orderBy(col(tsCol), col(idCol))
    ev.select(col(userCol), col(typeCol), col(idCol), col(tsCol),
        round(col(valCol), 6).as("value"))
      .withColumn("valid_to_us", lead(col(tsCol), 1).over(w))
      .select(col(userCol), col(typeCol), col(idCol), col("value"),
        col(tsCol).as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** Per-event sliding-window rate: for every event, how many events the
    * same user produced in the trailing `windowUs` (value-RANGE frame,
    * so equal-timestamp peers are all in-frame in every engine) plus
    * their value sum. The value sum is accumulated in exact integer
    * micro-units — a RANGE frame gives no summation-order guarantee,
    * and integer addition is the associative escape hatch (the q105
    * exact-binary-fraction trick, applied to arbitrary doubles by
    * quantizing first). Per-user partitions only — a hot user bounds a
    * task, never the whole log.
    */
  def slidingRate(ev: DataFrame, windowUs: Long, tsCol: String = "ts_us",
                  userCol: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol))
      .rangeBetween(-windowUs, 0)
    ev.select(col("event_id"), col(userCol), col(tsCol),
        round(col("value") * 1e6).cast("long").as("_vmicro"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window",
        round(sum(col("_vmicro")).over(w).cast("double") / 1e6, 6))
      .drop("_vmicro")
  }

  /** Gap-based sessionization: consecutive events of a user belong to
    * one session while the inter-event gap stays ≤ `gapUs`; a larger gap
    * starts a new session. Output is one row per session with its event
    * count, start/end and duration.
    *
    * Shape: ONE shuffle on `userCol` — the lag + running-sum windows and
    * the per-session aggregation all share the user partitioning, so
    * Catalyst plans a single exchange. Per-user windows are bounded by a
    * user's own activity (never the whole log), which is the property
    * that survives a 1000-executor deployment; there is no global window
    * anywhere. The `(ts, id)` ordering is total per user (ids unique), so
    * session numbering is deterministic including simultaneous events.
    */
  def sessionize(ev: DataFrame, gapUs: Long, tsCol: String = "ts_us",
                 userCol: String = "user_id", idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col(tsCol) - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("_new")).over(run))
      .groupBy(col(userCol), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_us"),
        max(col(tsCol)).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** Top user journeys: sliding `n`-event event-type sequences per user
    * under the (ts, id) total order, counted corpus-wide with their
    * share — the order-(n−1) extension of [[transitions]] (the common
    * paths report behind funnel design). One lead() window per user
    * partition + one count aggregation; integral counts make the share
    * a single IEEE division.
    */
  def journeys(ev: DataFrame, typeCol: String = "event_type",
               tsCol: String = "ts_us", userCol: String = "user_id",
               idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val seqs = ev
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
    val tot = seqs.agg(sum(col("n")).as("tot"))
    seqs.crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("share"))
  }

  /** First-order (Markov) event-type transition matrix: for each ordered
    * per-user consecutive event pair, the count and conditional
    * probability P(to | from). The per-user `lead` shares the same single
    * user_id shuffle as [[sessionize]]; the matrix itself is
    * |types|² rows regardless of log size. The probability is ONE
    * integer-over-integer IEEE division, so it replays engine-exact.
    */
  def transitions(ev: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts_us", userCol: String = "user_id",
                  idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = ev.withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .withColumn("prob",
        round(col("n").cast("double") / col("n_from").cast("double"), 6))
  }

  /** Per-user activity-rate anomalies: bucket events into `periodUs`
    * periods, zero-fill the user's own active span, and flag periods
    * whose count deviates from that user's mean by ≥ `threshold`
    * population standard deviations.
    *
    * Determinism by construction: the moments are EXACT integer sums
    * (Σc, Σc²), and mean/variance/z are then fixed expression trees over
    * them — `(ss - s·s/k)/k` and `(c - s/k)/sqrt(var)` — built from
    * individually correctly-rounded IEEE ops (divide, multiply, sqrt),
    * so the z-scores and the threshold cut replay bit-identically in any
    * engine; no float aggregation ever happens. Zero-variance users
    * (perfectly uniform) have no z-score and are dropped.
    *
    * Shape: two aggregations and a span-explode, all keyed on user_id;
    * the zero-fill explode is bounded by horizon/period per user.
    */
  def rateAnomaly(ev: DataFrame, periodUs: Long, threshold: Double,
                  tsCol: String = "ts_us", userCol: String = "user_id"): DataFrame = {
    val period = expr(s"$tsCol div ${periodUs}L")
    val perP = ev.groupBy(col(userCol), period.as("p"))
      .agg(count(lit(1)).as("c"))
    val full = perP.groupBy(userCol)
      .agg(min(col("p")).as("_p0"), max(col("p")).as("_p1"))
      .select(col(userCol), explode(sequence(col("_p0"), col("_p1"))).as("p"))
      .join(perP, Seq(userCol, "p"), "left")
      .na.fill(0L, Seq("c"))
    val stats = full.groupBy(userCol).agg(
      count(lit(1)).as("_k"), sum(col("c")).as("_s"),
      sum(col("c") * col("c")).as("_ss"))
    val k = col("_k").cast("double")
    val s = col("_s").cast("double")
    val ss = col("_ss").cast("double")
    full.join(stats, Seq(userCol))
      .withColumn("_var", (ss - s * s / k) / k)
      .filter(col("_var") > 0)
      .withColumn("_z", (col("c").cast("double") - s / k) / sqrt(col("_var")))
      .filter(abs(col("_z")) >= threshold)
      .select(col(userCol), col("p"), col("c"), round(col("_z"), 6).as("z"))
  }

  /** Exponentially-decayed activity counters: per user,
    * `Σ_events 0.5^age` where age is the event's distance (in whole
    * `periodUs` periods) from the corpus's latest period — the trending/
    * recency score with half-life one period. One aggregation after a
    * 1-row broadcast of the reference period.
    *
    * Engine-exactness by construction: every term is a power of two, so
    * the per-user sum is an exact binary fraction (n·lsb well under 53
    * bits at any realistic horizon) — no rounding step needed, the
    * double replays bit-for-bit under ANY summation order. That also
    * makes the counter mergeable across partitions/engines without
    * drift, unlike an e^{-λt} decay.
    */
  def decayedCounts(ev: DataFrame, periodUs: Long, tsCol: String = "ts_us",
                    userCol: String = "user_id"): DataFrame = {
    val period = expr(s"$tsCol div ${periodUs}L")
    val ref = ev.agg(max(period).as("ref_p"))
    ev.crossJoin(broadcast(ref))
      .withColumn("_age", (col("ref_p") - period).cast("double"))
      .groupBy(userCol)
      .agg(count(lit(1)).as("n_events"),
        sum(pow(lit(0.5), col("_age"))).as("decayed"))
  }

  /** Deterministic Poisson-bootstrap confidence interval for a corpus
    * mean (Chamandy 2012, "Estimating uncertainty for massive data
    * streams"): every row carries `reps` hash-derived replica weights
    * approximating Poisson(1) (a byte of md5(b:id) against the
    * 256-quantized Poisson CDF), so the whole bootstrap is ONE pass of
    * integer accumulators — no resampling shuffle, no RNG state,
    * mergeable across partitions, and identical on every replay/engine.
    * Replica means quantize to integer micros (integer div), the
    * across-replica variance is the exact r·Σm²−(Σm)² integer form,
    * and the CI is a fixed IEEE chain. The per-row cost is `reps` md5s
    * — map-side, the price of error bars at 100 TB.
    */
  def hashBootstrapCi(df: DataFrame, id: Column, value: Column,
                      reps: Int = 32): DataFrame = {
    val t = df.select(id.cast("string").as("id"), value.cast("long").as("v"))
      .localCheckpoint()
    val rep = t.select(col("id"), col("v"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .withColumn("_byte", conv(substring(md5(concat(
        col("b").cast("string"), lit(":"), col("id"))), 1, 2), 16, 10)
        .cast("int"))
      // 256-quantized Poisson(1) pmf: 94/94/47/16/4/1 of 256
      .withColumn("w", when(col("_byte") <= 93, 0L)
        .when(col("_byte") <= 187, 1L).when(col("_byte") <= 234, 2L)
        .when(col("_byte") <= 250, 3L).when(col("_byte") <= 254, 4L)
        .otherwise(5L))
    val repStats = rep.groupBy("b")
      .agg(sum(col("w") * col("v")).as("s"), sum(col("w")).as("nw"))
      .filter(col("nw") > 0)
      .select(expr("(s * 1000000) div nw").as("m"))
    val boot = repStats.agg(count(lit(1)).as("r"), sum(col("m")).as("sm"),
      sum(col("m").cast("decimal(38,0)") * col("m").cast("decimal(38,0)"))
        .as("sm2"))
    val point = t.agg(count(lit(1)).as("n_rows"),
      expr("(sum(v) * 1000000) div count(1)").as("pm"))
    val pmD = col("pm").cast("double") / lit(1000000.0)
    val seD = sqrt((col("r").cast("decimal(38,0)") * col("sm2")
      - col("sm").cast("decimal(38,0)") * col("sm").cast("decimal(38,0)"))
      .cast("double")
      / (col("r") * (col("r") - 1)).cast("double")) / lit(1000000.0)
    point.crossJoin(boot)
      .select(col("n_rows"), col("r").as("n_reps"),
        round(pmD, 6).as("mean_v"),
        round(seD, 6).as("boot_se"),
        round(pmD - lit(1.96) * seD, 6).as("ci_lo"),
        round(pmD + lit(1.96) * seD, 6).as("ci_hi"))
  }

  /** CUPED variance-reduction report (Deng 2013): how much of the
    * per-user metric variance a pre-exposure covariate removes —
    * θ = cov(x,y)/var(x) and the reduction fraction ρ². Here the
    * covariate is the user's metric over an INDEPENDENT event slice
    * (even event ids) against the measurement slice (odd ids) — the
    * engine-exact stand-in for a pre-period, exercising the identical
    * arithmetic. Exact: values quantize to integer centi-units, the
    * per-user sums and all five moment sums stay integral, θ is one
    * IEEE division of two integers and ρ² one division of two exact
    * decimal(38) products — engine-exact with no float accumulation.
    * One user-keyed aggregation + one global fold.
    */
  def cupedReport(events: DataFrame): DataFrame = {
    val centi = round(col("value") * 100).cast("long")
    val perUser = events.select(col("user_id"),
        when(col("event_id") % 2 === 0, centi).otherwise(0L).as("x"),
        when(col("event_id") % 2 =!= 0, centi).otherwise(0L).as("y"))
      .groupBy("user_id")
      .agg(sum(col("x")).as("x"), sum(col("y")).as("y"))
    val s = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    s.select(col("n").as("n_users"),
      when(varX > 0, round(covN.cast("double") / varX.cast("double"), 6))
        .as("theta"),
      when(varX > 0 && varY > 0,
        round((dec(covN) * dec(covN)).cast("double")
          / (dec(varX) * dec(varY)).cast("double"), 6)).as("rho2"))
  }

  /** Time-bounded funnel: like [[funnel]], but each step must land
    * within `windowUs` of the previous step's time (strictly after it,
    * at most window later) — the conversion-window semantics product
    * funnels actually use (a purchase three weeks after the click is
    * not attributable). Same plan shape as [[funnel]]: one conditional
    * aggregation per step on the user_id key, never a whole-log window;
    * the window predicate is integer-µs arithmetic, engine-exact.
    */
  def funnelWithin(ev: DataFrame, steps: Seq[String], windowUs: Long,
                   typeCol: String = "event_type", tsCol: String = "ts_us",
                   userCol: String = "user_id"): DataFrame = {
    require(steps.nonEmpty)
    val s1 = ev.filter(col(typeCol) === steps.head)
      .groupBy(userCol).agg(min(col(tsCol)).as("t1"))
    val withTimes = steps.zipWithIndex.drop(1).foldLeft(s1) {
      case (acc, (step, i)) =>
        val cur = s"t${i + 1}"
        val nxt = ev.filter(col(typeCol) === step)
          .join(acc.select(col(userCol), col(s"t$i")), Seq(userCol))
          .filter(col(tsCol) > col(s"t$i") &&
            col(tsCol) <= col(s"t$i") + lit(windowUs))
          .groupBy(userCol).agg(min(col(tsCol)).as(cur))
        acc.join(nxt, Seq(userCol), "left")
    }
    val reached = (1 to steps.length)
      .map(i => when(col(s"t$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    withTimes.withColumn("steps_reached", reached)
  }

  /** Robust per-group outlier gate: median + MAD (median absolute
    * deviation) by exact nearest-rank, and the count of rows whose
    * absolute deviation exceeds `k`·MAD. The robust alternative to the
    * z-score gate (one wild outlier inflates a stddev but not a MAD).
    * Both medians ride [[groupQuantiles]]'s global range-partitioned
    * ordinal — no per-group window task; with integral inputs every
    * comparison is exact integer arithmetic (k is an integer multiplier),
    * so the flag replays engine-exact with no rounding knife edge.
    */
  def madOutliers(df: DataFrame, group: String, valueCol: String,
                  k: Int): DataFrame = {
    val med = groupQuantiles(df.select(col(group), col(valueCol)),
        group, valueCol, Seq(0.5))
      .select(col(group), col("q_value").as("med"))
    val dev = df.select(col(group), col(valueCol))
      .join(broadcast(med), Seq(group))
      .withColumn("adev", abs(col(valueCol) - col("med")))
      .localCheckpoint()
    val mad = groupQuantiles(dev.select(col(group), col("adev")),
        group, "adev", Seq(0.5))
      .select(col(group), col("q_value").as("mad"))
    dev.join(broadcast(mad), Seq(group))
      .groupBy(group).agg(count(lit(1)).as("n"),
        min(col("med")).as("median"), min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(k.toLong) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** k-anonymity audit over a quasi-identifier tuple: for each k in
    * `ks`, how many equivalence classes have fewer than k members and
    * how many rows sit inside them (the re-identification exposure a
    * metadata release carries). One groupBy on the quasi-identifier —
    * the class table is tiny; the per-k report explodes it, never the
    * corpus. Pure integer counts.
    */
  def kAnonymity(df: DataFrame, quasi: Seq[Column], ks: Seq[Int]): DataFrame = {
    val g = df.groupBy(quasi: _*).agg(count(lit(1)).as("gn"))
    g.select(explode(typedlit(ks.map(_.toLong))).as("k"), col("gn"))
      .groupBy("k").agg(count(lit(1)).as("n_groups"),
        sum(when(col("gn") < col("k"), 1L).otherwise(0L)).as("groups_below"),
        sum(when(col("gn") < col("k"), col("gn")).otherwise(0L))
          .as("rows_at_risk"))
  }

  /** Minimum detectable effect per event type for a two-sample test at
    * α = 0.05 / power 0.8 on the per-USER value total (the experiment
    * unit): MDE = (z_{0.975} + z_{0.8})·σ·√(2/n) with the z-sum pinned
    * as the single literal 2.801585 so both engines evaluate the
    * identical chain — the "is this experiment even worth running"
    * pre-check next to q185's CUPED variance reduction. Moments are
    * exact decimal(38) over integer cents; σ is ONE correctly-rounded
    * sqrt micro-quantized before the MDE chain. Output per type: n
    * (users), mean_cents, sd_cents, mde_cents, mde_rel.
    */
  def mdeReport(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val pu = events
      .select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "user_id").agg(sum(col("c")).as("x"))
    val a = pu.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("x").cast(d38)).cast(d38).as("sx"),
      sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("sxx"))
    val sdMicro = round(sqrt(
      (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
        .cast("double")
        / (col("n") * col("n")).cast("double")) * 1000000.0).cast("long")
    a.select(col("event_type"), col("n"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean_cents"),
        sdMicro.as("sd_micro"))
      .select(col("event_type"), col("n"), col("mean_cents"),
        round(col("sd_micro").cast("double") / 1000000.0, 6).as("sd_cents"),
        round(lit(2.801585) * (col("sd_micro").cast("double") / 1000000.0)
          * sqrt(lit(2.0) / col("n").cast("double")), 6).as("mde_cents"),
        round(lit(2.801585) * (col("sd_micro").cast("double") / 1000000.0)
          * sqrt(lit(2.0) / col("n").cast("double")) / col("mean_cents"), 6)
          .as("mde_rel"))
  }

  /** l-diversity audit, the companion gate to [[kAnonymity]]: a
    * quasi-identifier class that is large (k-anonymous) but carries
    * only one sensitive value still discloses it — this counts, per
    * required diversity l, the classes whose SENSITIVE attribute takes
    * fewer than l distinct values and the rows inside them. One
    * grouped aggregation + an |ls|-way explode of the class table.
    */
  def lDiversity(df: DataFrame, quasi: Seq[Column], sensitive: Column,
                 ls: Seq[Int]): DataFrame = {
    val g = df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("gn"), countDistinct(sensitive).as("dv"))
    g.select(explode(typedlit(ls.map(_.toLong))).as("l"), col("gn"),
        col("dv"))
      .groupBy("l").agg(count(lit(1)).as("n_classes"),
        sum(when(col("dv") < col("l"), 1L).otherwise(0L))
          .as("classes_below"),
        sum(when(col("dv") < col("l"), col("gn")).otherwise(0L))
          .as("rows_at_risk"))
  }

  /** t-closeness (Li et al. 2007) of a categorical sensitive attribute
    * within quasi-identifier classes — the third privacy gate after
    * [[kAnonymity]] (class size) and [[lDiversity]] (distinct values):
    * a class can be large AND diverse yet still leak through its
    * sensitive-value DISTRIBUTION diverging from the corpus's. For a
    * categorical attribute the EMD under unit ground distance is the
    * total variation distance ½·Σ_v |p_class(v) − p_corpus(v)|,
    * computed here as the exact integer numerator
    * Σ_v |n_cv·N − n_v·gn| over denominator 2·gn·N (decimal(38)
    * products — no 64-bit overflow at any corpus size; ONE final IEEE
    * division before the 6 dp round), with absent values materialized
    * from the class × value grid so the sum runs over the full domain.
    * Each threshold t = a/b decides violation by pure integer
    * cross-multiplication (num·b > 2·gn·N·a) — no float knife edge.
    * Scale shape: two keyed aggregations over the corpus + a
    * |classes|×|values| grid join (both sides small after
    * aggregation); nothing row-scale crosses.
    * Output per threshold: `(t_num, t_den, n_classes, classes_above,
    * rows_at_risk, max_tvd)`.
    */
  def tCloseness(df: DataFrame, quasi: Seq[Column], sensitive: Column,
                 ts: Seq[(Int, Int)]): DataFrame = {
    val base = df.select(quasi :+ sensitive.as("_sv"): _*)
    val qNames = base.columns.dropRight(1).toSeq
    val dec = "decimal(38,0)"
    val cls = base.groupBy(qNames.map(col): _*).agg(count(lit(1)).as("gn"))
    val cv = base.groupBy(qNames.map(col) :+ col("_sv"): _*)
      .agg(count(lit(1)).as("ncv"))
    val vTot = base.groupBy("_sv").agg(count(lit(1)).as("nv"))
    val nTot = base.agg(count(lit(1)).as("nn"))
    val grid = cls.crossJoin(broadcast(vTot))
      .join(cv, qNames :+ "_sv", "left").na.fill(0L, Seq("ncv"))
      .crossJoin(broadcast(nTot))
    val per = grid.groupBy(qNames.map(col) :+ col("gn") :+ col("nn"): _*)
      .agg(sum(abs(col("ncv").cast(dec) * col("nn").cast(dec)
        - col("nv").cast(dec) * col("gn").cast(dec))).as("tnum"))
    per
      .select(col("gn"), col("nn"), col("tnum"),
        explode(array(ts.map { case (a, b) =>
          struct(lit(a.toLong).as("a"), lit(b.toLong).as("b")) }: _*)).as("t"))
      .withColumn("_viol",
        col("tnum") * col("t.b").cast(dec) >
          col("gn").cast(dec) * col("nn").cast(dec) * lit(2).cast(dec)
            * col("t.a").cast(dec))
      .groupBy(col("t.a").as("t_num"), col("t.b").as("t_den"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("_viol"), 1L).otherwise(0L)).as("classes_above"),
        sum(when(col("_viol"), col("gn")).otherwise(0L)).as("rows_at_risk"),
        max(round(col("tnum").cast("double")
          / (lit(2.0) * col("gn") * col("nn")), 6)).as("max_tvd"))
  }

  /** Benford first-digit probabilities log10(1 + 1/d), pinned to 12 dp
    * as shared literals so both engines evaluate the identical doubles
    * (never a per-engine log10 call).
    */
  val benfordPpt: Seq[(Int, Double)] = Seq(
    1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
    4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
    7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)

  /** Leading-digit profile of a metric per event type with a Benford
    * chi-square score — the numeric data-quality gate (fabricated or
    * unit-mixed value columns betray themselves in the first digit
    * long before distribution tests fire). The digit is extracted from
    * the INTEGER cent representation's decimal string (q185's exact
    * centi-unit quantization), so no log10/pow is ever applied to the
    * value; each chi-square term is micro-quantized before the 9-term
    * integer sum (no float accumulation order). Zero-count digits are
    * materialized from the type × 1..9 domain so the statistic is over
    * all nine cells. Output per (event_type, digit): n, share,
    * p_benford, chi2 (per-type, repeated).
    */
  def leadingDigitProfile(events: DataFrame): DataFrame = {
    val cents = events
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .filter(col("c") > 0)
    val counts = cents
      .select(col("event_type"),
        substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("event_type", "digit").agg(count(lit(1)).as("n0"))
    val domain = counts.select("event_type").distinct()
      .crossJoin(broadcast(
        counts.sparkSession.range(1, 10).select(col("id").cast("int")
          .as("digit"))))
    val p = benfordPpt.foldLeft(lit(null).cast("double")) {
      case (acc, (d, pd)) => when(col("digit") === d, lit(pd)).otherwise(acc)
    }
    val full = domain.join(counts, Seq("event_type", "digit"), "left")
      .select(col("event_type"), col("digit"),
        coalesce(col("n0"), lit(0L)).as("n"), p.as("p_benford"))
    val tot = full.groupBy("event_type").agg(sum(col("n")).as("n_tot"))
    val terms = full.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("digit"), col("n"), col("p_benford"),
        col("n_tot"),
        // (obs − exp)²/exp micro-quantized per digit, THEN integer-summed
        round((col("n").cast("double")
          - col("n_tot").cast("double") * col("p_benford"))
          * (col("n").cast("double")
            - col("n_tot").cast("double") * col("p_benford"))
          / (col("n_tot").cast("double") * col("p_benford"))
          * 1000000.0).cast("long").as("term_micro"))
      .localCheckpoint() // two consumers: chi2 rollup + per-digit rows
    val chi2 = terms.groupBy(col("event_type").as("et2"))
      .agg(sum(col("term_micro")).as("chi2_micro"))
    terms.join(broadcast(chi2), col("event_type") === col("et2"))
      .select(col("event_type"), col("digit"), col("n"),
        round(col("n").cast("double") / col("n_tot").cast("double"), 6)
          .as("share"),
        col("p_benford"),
        round(col("chi2_micro").cast("double") / 1000000.0, 6).as("chi2"))
  }

  /** Hour-of-day seasonality profile per event type: count and share of
    * each type's events by UTC hour, plus the peak-hour flag — the
    * calendar baseline behind rate-anomaly thresholds (q109's weekly
    * z-scores alarm on volume; this is the intra-day shape they must
    * not alarm on). One (type, hour) aggregation, a |types|-row max
    * join-back for the peak (never a window over the log), integer
    * counts with one final division.
    */
  def hourProfile(events: DataFrame): DataFrame = {
    val byHour = events
      .groupBy(col("event_type"),
        // epoch-ns → UTC hour in pure integer arithmetic (ts_ns > 0,
        // so div/% agree with DuckDB's // on EPOCH_US)
        expr("(ts_ns div 3600000000000) % 24").as("hr"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // three consumers: totals, peak, result
    val totals = byHour.groupBy("event_type")
      .agg(sum(col("n")).as("total"), max(col("n")).as("max_n"))
    byHour.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("hr"), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        (col("n") === col("max_n")).as("is_peak"))
  }
}
