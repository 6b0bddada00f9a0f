package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.AsOf
import graft.stats.Sketches
import graft.text.TextOps

/** Driver-verified queries for the temporal-join and sketching surface:
  * point-in-time (as-of) join, bounded-window range self-join, KMV
  * distinct-count sketching, and collocation mining. The joins are the
  * two event-log shapes Spark has no native operator for; both rewrite
  * to single-shuffle plans (union+window / binned equi-join) in
  * [[graft.ops.AsOf]].
  */
object TemporalQueries {

  private def ev(s: SparkSession, d: String) =
    Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** 6 hours in microseconds — the q95 pair window (≈37 qualifying
    * successors per user-month at the generator's event density). */
  private val pairWindowUs = 21600000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // point-in-time join: each view event annotated with the latest
    // prior-or-simultaneous purchase of the same user (feature backfill
    // at label time — the leak-free training-data join). One shuffle on
    // user_id, no join operator at all: union + ordered carry-forward
    "q94_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts_us")
      val buys = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "value")
      AsOf.asofJoin(views, buys, "user_id", "ts_us", "event_id", "value")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("asof_value"), 6).as("asof_value"),
          (col("ts_us") - col("asof_ts")).as("lag_us"))
        .orderBy("event_id")
    }),

    // q94 with a staleness budget: a matched purchase older than 24 h at
    // the view's timestamp is nulled — the feature-freshness cap every
    // point-in-time feature store applies. Same single-shuffle plan
    "q138_asof_within" -> ((s, d) => {
      val e = ev(s, d)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts_us")
      val buys = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "value")
      AsOf.asofJoinWithin(views, buys, "user_id", "ts_us", "event_id",
          "value", toleranceUs = 86400000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("asof_value"), 6).as("asof_value"),
          (col("ts_us") - col("asof_ts")).as("lag_us"))
        .orderBy("event_id")
    }),

    // top user journeys: per-user event-type trigrams under the (ts, id)
    // total order, counted corpus-wide with share — the paths report
    // behind funnel design (order-2 extension of q108's transitions)
    "q139_journeys" -> ((s, d) =>
      graft.analytics.Analytics.journeys(ev(s, d))
        .orderBy("t1", "t2", "t3")),

    // bounded-window range self-join: per user, every ordered event pair
    // within 6 hours — binned to window-width buckets so the per-user
    // cross product never materializes; aggregated to per-user burst
    // statistics (the retention/abuse-detection shape)
    "q95_range_pairs" -> ((s, d) =>
      AsOf.rangePairs(ev(s, d).select("user_id", "ts_us", "event_id"),
          "user_id", "ts_us", "event_id", pairWindowUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("gap")).as("sum_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .orderBy("user_id")),

    // KMV distinct-count sketch: per event_type distinct users, exact vs
    // the (k-1)·2^60/m_k estimate — k=64 sits below the sf0.01+ user
    // count (estimator exercised) and above sf0.001's (exact branch)
    "q96_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(
          Tables.t(s, d, "events").select("event_type", "user_id"),
          "event_type", "user_id", k = 64)
        .orderBy("event_type")),

    // collocation mining: PMI of adjacent token pairs with a min-count
    // gate (25 keeps 718 of 916 sf0.01 bigrams — the gate is exercised)
    "q97_collocations" -> ((s, d) =>
      TextOps.collocations(docs(s, d), minCount = 25)
        .orderBy("w1", "w2")),

    // ordered funnel: view → later click → later purchase per user;
    // strict ordering (a purchase before the first view doesn't count),
    // one conditional aggregation per step on the same user_id key
    "q98_funnel" -> ((s, d) =>
      graft.analytics.Analytics
        .funnel(ev(s, d), Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          col("steps_reached"))
        .orderBy("user_id")),

    // weekly cohort retention: users bucketed by first-seen week,
    // distinct-active counts per (cohort, week offset)
    "q99_retention" -> ((s, d) =>
      graft.analytics.Analytics.retention(ev(s, d), 604800000000L)
        .orderBy("cohort", "offset")),

    // Kaplan–Meier survival of user activity lifetimes, right-censored
    // at the corpus's final day — the churn curve q99's cohort grid
    // approximates; exact integer death/at-risk counts, micro-nat
    // product-limit state, one final exp
    "q246_kaplan_meier" -> ((s, d) =>
      graft.analytics.Analytics.kaplanMeier(ev(s, d))
        .orderBy("t_days")),

    // count-min frequency sketch over word bigrams: 4×256 counters —
    // deliberately under-sized vs the 916-bigram domain so one-sided
    // collision inflation is exercised, and the md5-derived estimate
    // replays bit-for-bit in the oracle
    "q100_count_min" -> ((s, d) => {
      // concat, not stringGrams' concat_ws: it keeps `item` nullable
      val bigrams = docs(s, d).select(TextOps.tokensCol.as("w"))
        .select(explode(transform(TextOps.windowStarts(col("w"), 2),
          i => concat(element_at(col("w"), i + 1), lit(" "),
            element_at(col("w"), i + 2)))).as("item"))
      Sketches.countMinCompare(bigrams, "item", depth = 4, width = 256,
        minCount = 1L).orderBy("item")
    }),

    // Z-order layout report: events clustered on the (user, time) Morton
    // curve, split into 16 equal z-ranges ("files"); each bucket's
    // bounding box is what a parquet footer would min/max-prune on
    "q101_zorder" -> ((s, d) =>
      graft.ops.Layout.zOrderStats(
          ev(s, d).select(col("user_id"), col("ts_us")),
          "user_id", "ts_us", bucketBits = 4)
        .orderBy("bucket")),

    // BM25 retrieval: top-10 docs for 4 queries — postings join the
    // broadcast query-term set first, top-k per query is salted
    // two-phase, ranking orders by the ROUNDED score (+doc_id) so the
    // cut is deterministic cross-engine
    "q102_bm25" -> ((s, d) =>
      TextOps.bm25TopK(docs(s, d), bm25Queries, topK = 10)
        .orderBy("q_id", "rank")),

    // nDCG@10 of the BM25 ranking against phrase-graded relevance —
    // grading by adjacency measures what a bag-of-words ranker cannot
    // see (term-presence grading saturates at 1.0: measured); integer
    // DCG gains via shared driver-computed coefficients
    "q200_ndcg" -> ((s, d) =>
      TextOps.ndcgEval(docs(s, d), bm25Queries, topK = 10)
        .orderBy("q_id")),

    // bloom-filter decontamination: eval = every 97th doc (planted
    // self-contamination), 2^18-bit bitmap built driver-side from the
    // eval shingles and shipped as ONE literal — the corpus side is a
    // map-only codegen'd bit test, no join; md5-derived probes make the
    // false positives themselves deterministic and oracle-checked
    "q103_bloom_decontam" -> ((s, d) => {
      val all = docs(s, d).select("doc_id", "text")
      graft.dedup.Dedup.bloomDecontaminate(
          all, all.filter(col("doc_id") % 97 === 0), n = 5,
          mBits = 1 << 18, k = 3)
        .orderBy("doc_id")
    }),

    // exact per-group latency-style quantiles (nearest-rank p50/p95/p99
    // of value per event_type): one global range-partitioned ordinal
    // shared by all groups — no per-group window task at any group size
    "q104_group_quantiles" -> ((s, d) =>
      graft.analytics.Analytics.groupQuantiles(
          ev(s, d).select(col("event_type"), col("value")),
          "event_type", "value", Seq(0.5, 0.95, 0.99))
        .orderBy("event_type", "p")),

    // exponentially-decayed activity counters (half-life one week):
    // every term a power of two so the sum is an exact binary fraction
    // — bit-identical under any summation order, no rounding step
    "q105_decayed_counts" -> ((s, d) =>
      graft.analytics.Analytics.decayedCounts(ev(s, d), 604800000000L)
        .orderBy("user_id")),

    // positional phrase search: postings filtered to the phrase terms
    // before n-1 (doc, pos) equi-joins verify adjacency
    "q106_phrase_search" -> ((s, d) =>
      TextOps.phraseSearch(docs(s, d),
          Seq((1, "hash join"), (2, "big data"), (3, "fast scan")))
        .orderBy("phrase_id", "doc_id")),

    // gap-based sessionization (6 h gap — the q95 window): one shuffle
    // on user_id shared by the lag window, the running session counter
    // and the per-session aggregation; 5.7k sessions, max length 10 at
    // sf0.01 (the gap is exercised both ways)
    "q107_sessionize" -> ((s, d) =>
      graft.analytics.Analytics.sessionize(ev(s, d), pairWindowUs)
        .orderBy("user_id", "session_seq")),

    // first-order event-type transition matrix: per-user lead over the
    // same user_id shuffle, |types|^2-row output, probability = one
    // integer/integer IEEE division
    "q108_transitions" -> ((s, d) =>
      graft.analytics.Analytics.transitions(ev(s, d))
        .orderBy("from_type", "to_type")),

    // per-user daily-rate anomalies (|z| >= 2 vs the user's own
    // zero-filled daily series): moments are exact integer sums, so the
    // z-scores and the threshold cut replay bit-identically
    "q109_rate_anomaly" -> ((s, d) =>
      graft.analytics.Analytics.rateAnomaly(ev(s, d), 86400000000L, 2.0)
        .orderBy("user_id", "p")),

    // HyperLogLog distinct users per event_type (m=64) vs exact: rho is
    // pure integer bit arithmetic and the register sum is an exact
    // integer, so the estimate replays bit-for-bit; sf0.001 lands in the
    // linear-counting branch, sf0.01+ in the raw-estimate branch
    "q112_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(
          Tables.t(s, d, "events").select("event_type", "user_id"),
          "event_type", "user_id")
        .orderBy("event_type")),

    // SCD2 history build: every (user, type) change row becomes a
    // validity interval under the (ts, id) total order — the
    // interval-table companion to q128's latest-state compaction
    "q146_scd2" -> ((s, d) =>
      graft.analytics.Analytics.scd2(ev(s, d))
        .orderBy("user_id", "event_type", "valid_from_us", "event_id")),

    // the SAME estimate through the typed Aggregator (the custom-UDAF
    // extension-surface leg): one 64-byte mergeable buffer per group,
    // usable identically in streaming windowed aggregations
    "q145_hll_aggregator" -> ((s, d) =>
      Tables.t(s, d, "events").select("event_type", "user_id")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          graft.stats.HllAggregator.column(col("user_id").cast("string"))
            .as("hll_est"))
        .orderBy("event_type")),

    // CDC changelog compaction: latest row per (user, type) under the
    // (ts desc, event_id desc) total order — the snapshot-read primitive
    "q128_latest_state" -> ((s, d) =>
      graft.analytics.Analytics.latestState(ev(s, d))
        .orderBy("user_id", "event_type")),

    // key-skew report: top-10 heaviest users + corpus share via one
    // global top-k cut — the pre-salting shuffle diagnosis
    "q129_key_skew" -> ((s, d) =>
      graft.analytics.Analytics.keySkew(ev(s, d), "user_id", 10)
        .orderBy("rank")),

    // mergeable 256-bin histogram quantile sketch (the O(bins) scale
    // path next to q104's exact global-ordinal quantiles); power-of-two
    // bin width keeps every edge and rank integer/IEEE-exact
    "q119_hist_quantiles" -> ((s, d) =>
      Sketches.histQuantiles(
          Tables.t(s, d, "events").select("event_type", "value"),
          "event_type", "value")
        .select(col("grp").as("event_type"), col("n"),
          col("p50"), col("p95"), col("p99"))
        .orderBy("event_type")))

  private val bm25Queries = Seq(
    (1, "data table scan"), (2, "hash join order"),
    (3, "fast query filter"), (4, "stream window agg"))

  /** The shared BM25 scoring chain (t/tf/dl/st/dfreq/qd/sc/rk CTEs) —
    * q102 reads the ranking, q200 grades it against phrase relevance.
    */
  private def bm25ChainSql: String =
    """t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         tf AS (
           SELECT doc_id, x AS term, COUNT(*) AS tf
           FROM (SELECT doc_id, UNNEST(w) AS x FROM t) GROUP BY 1, 2),
         dl AS (SELECT doc_id, LEN(w) AS dl FROM t),
         st AS (
           SELECT COUNT(*) AS n_docs,
                  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM dl),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         qv(q_id, qtext) AS (VALUES (1, 'data table scan'),
                                    (2, 'hash join order'),
                                    (3, 'fast query filter'),
                                    (4, 'stream window agg')),
         qd AS (
           SELECT DISTINCT q_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(qtext, '\s+')) AS term
           FROM qv),
         sc AS (
           SELECT qd.q_id, tf.doc_id,
             ROUND(SUM(
               LN(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))
             ), 6) AS score
           FROM tf JOIN qd USING (term) JOIN dfreq d USING (term)
           JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY 1, 2),
         rk AS (
           SELECT q_id, doc_id, score,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY score DESC, doc_id) AS "rank"
           FROM sc)"""

  /** q200's replay: the BM25 chain + phrase-graded relevance (3 =
    * adjacent phrase, 2 = adjacent query bigram, 1 = all terms) and the
    * shared integer DCG coefficients — gains are integer sums, one
    * division per query.
    */
  private def q200OracleSql: String = {
    val cv = graft.text.TextOps.ndcgCoeffs(10).zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c})" }.mkString(", ")
    s"""WITH $bm25ChainSql,
  pt AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents),
  am AS (
    SELECT qd.q_id, tf.doc_id, COUNT(DISTINCT tf.term) AS nmatch
    FROM tf JOIN qd USING (term) GROUP BY 1, 2),
  nqt AS (SELECT q_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS nq
          FROM qd GROUP BY 1),
  qb AS (SELECT q_id, w[i] || ' ' || w[i+1] AS bg
         FROM (SELECT q_id, REGEXP_SPLIT_TO_ARRAY(qtext, '\\s+') AS w
               FROM qv) t2,
              LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
  rel AS (
    SELECT a.q_id, a.doc_id,
           CASE WHEN INSTR(p.pt, ' ' || qv.qtext || ' ') > 0 THEN 3
                WHEN EXISTS (SELECT 1 FROM qb WHERE qb.q_id = a.q_id
                             AND INSTR(p.pt, ' ' || qb.bg || ' ') > 0) THEN 2
                WHEN a.nmatch = n.nq THEN 1 ELSE 0 END AS rel
    FROM am a JOIN pt p ON p.doc_id = a.doc_id
    JOIN qv ON qv.q_id = a.q_id JOIN nqt n ON n.q_id = a.q_id),
  relp AS MATERIALIZED (SELECT * FROM rel WHERE rel > 0),
  cw(r, c) AS (VALUES $cv),
  dcg AS (
    SELECT rk.q_id,
           CAST(SUM(COALESCE(relp.rel, 0) * cw.c) AS BIGINT) AS dcg_num
    FROM rk JOIN cw ON cw.r = rk."rank"
    LEFT JOIN relp ON relp.q_id = rk.q_id AND relp.doc_id = rk.doc_id
    WHERE rk."rank" <= 10 GROUP BY 1),
  irk AS (SELECT q_id, doc_id, rel,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY rel DESC, doc_id) AS rnk
          FROM relp),
  idcg AS (SELECT q_id, CAST(SUM(rel * cw.c) AS BIGINT) AS idcg_num
           FROM irk JOIN cw ON cw.r = irk.rnk
           WHERE rnk <= 10 GROUP BY 1),
  ro AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_rel,
                CAST(MAX(rel) AS BIGINT) AS max_rel FROM relp GROUP BY 1)
  SELECT dcg.q_id, ro.n_rel, ro.max_rel, dcg.dcg_num, idcg.idcg_num,
         ROUND(CAST(dcg.dcg_num AS DOUBLE)
               / CAST(idcg.idcg_num AS DOUBLE), 6) AS ndcg
  FROM dcg JOIN idcg USING (q_id) JOIN ro USING (q_id) ORDER BY dcg.q_id"""
  }

  /** q112's HLL chain up to the per-type register sums / exact counts —
    * shared by q112 (relational form, with n_zero_regs) and q145 (the
    * typed-Aggregator form, estimate only).
    */
  private[queries] val hllChainSql =
    """hs AS (
           SELECT event_type,
                  CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS h
           FROM events),
         p AS (
           SELECT event_type, h // 18014398509481984 AS idx,
                  h % 18014398509481984 AS w
           FROM hs),
         jb AS (
           SELECT event_type, idx, w,
                  MAX(CASE WHEN (w >> j) > 0 THEN j END) AS hbj
           FROM p, LATERAL (SELECT UNNEST(RANGE(0, 54)) AS j)
           GROUP BY 1, 2, 3),
         reg AS (
           SELECT event_type, idx,
                  MAX(CASE WHEN w = 0 THEN 55 ELSE 54 - hbj END) AS rho
           FROM jb GROUP BY 1, 2),
         ar AS (
           SELECT g.event_type, i.idx, COALESCE(reg.rho, 0) AS rho
           FROM (SELECT DISTINCT event_type FROM events) g
           CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS idx) i
           LEFT JOIN reg ON reg.event_type = g.event_type AND reg.idx = i.idx),
         s AS (
           SELECT event_type,
                  CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - rho AS INT)) AS BIGINT)
                    AS sm,
                  CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_zero_regs
           FROM ar GROUP BY 1),
         e AS (
           SELECT event_type, n_zero_regs,
                  0.709 * 4096.0 * POW(CAST(2.0 AS DOUBLE), 55)
                    / CAST(sm AS DOUBLE) AS er
           FROM s),
         ex AS (
           SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
           FROM events GROUP BY 1)"""

  def oracle: Map[String, String] = Map(

    "q94_asof_join" ->
      """WITH ev AS (
           SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type, value
           FROM events),
         u AS (
           SELECT event_id, user_id, ts_us, 1 AS side,
                  NULL::DOUBLE AS rv, NULL::BIGINT AS rts
           FROM ev WHERE event_type = 'view'
           UNION ALL
           SELECT event_id, user_id, ts_us, 0, value, ts_us
           FROM ev WHERE event_type = 'purchase'),
         w AS (
           SELECT *,
             LAST_VALUE(rv IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av,
             LAST_VALUE(rts IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at
           FROM u)
         SELECT event_id, user_id, ts_us, ROUND(av, 6) AS asof_value,
                ts_us - at AS lag_us
         FROM w WHERE side = 1 ORDER BY event_id""",

    "q138_asof_within" ->
      """WITH ev AS (
           SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type, value
           FROM events),
         u AS (
           SELECT event_id, user_id, ts_us, 1 AS side,
                  NULL::DOUBLE AS rv, NULL::BIGINT AS rts
           FROM ev WHERE event_type = 'view'
           UNION ALL
           SELECT event_id, user_id, ts_us, 0, value, ts_us
           FROM ev WHERE event_type = 'purchase'),
         w AS (
           SELECT *,
             LAST_VALUE(rv IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av,
             LAST_VALUE(rts IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at
           FROM u),
         f AS (
           SELECT event_id, user_id, ts_us,
                  CASE WHEN at IS NOT NULL AND ts_us - at <= 86400000000
                       THEN av END AS av,
                  CASE WHEN at IS NOT NULL AND ts_us - at <= 86400000000
                       THEN at END AS at
           FROM w WHERE side = 1)
         SELECT event_id, user_id, ts_us, ROUND(av, 6) AS asof_value,
                ts_us - at AS lag_us
         FROM f ORDER BY event_id""",

    "q139_journeys" ->
      """WITH ev AS (
           SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type
           FROM events),
         s AS (
           SELECT user_id, event_type AS t1,
                  LEAD(event_type, 1) OVER w AS t2,
                  LEAD(event_type, 2) OVER w AS t3
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         c AS (
           SELECT t1, t2, t3, COUNT(*) AS n FROM s
           WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
         SELECT t1, t2, t3, n,
                ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
         FROM c CROSS JOIN t ORDER BY t1, t2, t3""",

    "q95_range_pairs" ->
      """WITH ev AS (
           SELECT event_id, user_id, EPOCH_US(ts) AS ts_us FROM events)
         SELECT a.user_id, COUNT(*) AS n_pairs,
                CAST(SUM(b.ts_us - a.ts_us) AS BIGINT) AS sum_gap_us,
                MAX(b.ts_us - a.ts_us) AS max_gap_us
         FROM ev a JOIN ev b ON a.user_id = b.user_id
           AND b.ts_us - a.ts_us <= 21600000000
           AND (b.ts_us > a.ts_us
                OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
         GROUP BY a.user_id ORDER BY a.user_id""",

    // the engine's min-k is the same single-window form
    "q96_kmv_distinct" ->
      """WITH h AS (
           SELECT DISTINCT event_type, MD5(CAST(user_id AS VARCHAR)) AS hhex
           FROM events),
         ex AS (SELECT event_type, COUNT(*) AS n_exact FROM h GROUP BY 1),
         rk AS (
           SELECT event_type, hhex,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hhex) AS r
           FROM h),
         sk AS (
           SELECT event_type,
                  MAX(CAST('0x' || SUBSTR(hhex, 1, 15) AS BIGINT)) AS mk,
                  COUNT(*) AS n_in
           FROM rk WHERE r <= 64 GROUP BY 1)
         SELECT e.event_type, e.n_exact,
                CASE WHEN s.n_in < 64 THEN CAST(s.n_in AS DOUBLE)
                     ELSE ROUND(CAST(63.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                                / CAST(s.mk AS DOUBLE), 4) END AS kmv_est
         FROM ex e JOIN sk s USING (event_type) ORDER BY event_type""",

    "q97_collocations" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         uc AS (
           SELECT x AS tok, COUNT(*) AS c
           FROM (SELECT UNNEST(w) AS x FROM t) GROUP BY x),
         nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uc),
         bg AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM (
             SELECT w[i] AS w1, w[i+1] AS w2
             FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i))
           GROUP BY w1, w2),
         nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_big FROM bg)
         SELECT b.w1, b.w2, b.c12,
                ROUND(LN(CAST(b.c12 AS DOUBLE) * CAST(nu.n_uni AS DOUBLE)
                           * CAST(nu.n_uni AS DOUBLE)
                         / (CAST(nb.n_big AS DOUBLE) * CAST(u1.c AS DOUBLE)
                            * CAST(u2.c AS DOUBLE))), 6) AS pmi
         FROM bg b
         JOIN uc u1 ON b.w1 = u1.tok
         JOIN uc u2 ON b.w2 = u2.tok
         CROSS JOIN nu CROSS JOIN nb
         WHERE b.c12 >= 25
         ORDER BY b.w1, b.w2""",

    "q98_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, EPOCH_US(ts) AS ts_us FROM events),
         s1 AS (
           SELECT user_id, MIN(ts_us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT e.user_id, MIN(ts_us) AS t2 FROM ev e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
         s3 AS (
           SELECT e.user_id, MIN(ts_us) AS t3 FROM ev e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
         SELECT s1.user_id, t1, t2, t3,
                1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
                  AS steps_reached
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY user_id""",

    "q99_retention" ->
      """WITH ev AS (
           SELECT user_id, EPOCH_US(ts) // 604800000000 AS p FROM events),
         f AS (SELECT user_id, MIN(p) AS cohort FROM ev GROUP BY 1),
         a AS (SELECT DISTINCT user_id, p FROM ev)
         SELECT cohort, p - cohort AS "offset",
                COUNT(DISTINCT user_id) AS n_active
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q246_kaplan_meier" ->
      """WITH e AS (
           SELECT user_id, EPOCH_US(ts) // 86400000000 AS day FROM events),
         u AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
               FROM e GROUP BY 1),
         cut AS (SELECT MAX(d1) AS cutoff FROM u),
         dur AS (
           SELECT d1 - d0 AS t,
                  CASE WHEN d1 < cut.cutoff THEN 1 ELSE 0 END AS death
           FROM u CROSS JOIN cut),
         per AS (
           SELECT t, CAST(SUM(death) AS BIGINT) AS d,
                  CAST(SUM(1 - death) AS BIGINT) AS c
           FROM dur GROUP BY 1),
         tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_tot FROM per),
         rk AS (
           SELECT per.t, per.d, per.c,
                  CAST(tot.n_tot - COALESCE(SUM(d + c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
           FROM per CROSS JOIN tot),
         ln AS (
           SELECT *, CASE WHEN d = 0 THEN 0
                          WHEN d >= n_risk THEN -1000000000000
                          ELSE CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE)
                            / n_risk) * 1000000) AS BIGINT) END AS lnt
           FROM rk),
         km AS (
           SELECT t, n_risk, d, c,
                  CAST(SUM(lnt) OVER (ORDER BY t) AS BIGINT) AS cum_ln_micro
           FROM ln)
         SELECT t AS t_days, n_risk, d AS n_deaths, c AS n_censored,
                cum_ln_micro,
                ROUND(EXP(CAST(cum_ln_micro AS DOUBLE) / 1000000.0), 6)
                  AS survival
         FROM km ORDER BY t_days""",

    "q100_count_min" ->
      """WITH t AS (
           SELECT REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         items AS (
           SELECT w[i] || ' ' || w[i+1] AS item
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
         cells AS (
           SELECT item, r,
                  CAST('0x' || SUBSTR(MD5(r || ':' || item), 1, 15) AS BIGINT)
                    % 256 AS cell
           FROM items, LATERAL (SELECT UNNEST(RANGE(0, 4)) AS r)),
         counters AS (
           SELECT r, cell, COUNT(*) AS c FROM cells GROUP BY 1, 2),
         exact AS (
           SELECT item, COUNT(*) AS c_true FROM items GROUP BY 1
           HAVING COUNT(*) >= 1),
         est AS (
           SELECT d.item, MIN(co.c) AS cm_est
           FROM (SELECT DISTINCT item, r, cell FROM cells) d
           JOIN counters co USING (r, cell)
           GROUP BY 1)
         SELECT e.item, e.c_true, s.cm_est, s.cm_est > e.c_true AS inflated
         FROM exact e JOIN est s USING (item)
         ORDER BY e.item""",

    "q101_zorder" -> {
      val zterms = (0 until 16).map { i =>
        s"((((xq >> $i) & 1) << ${2 * i}) + (((yq >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" + ")
      s"""WITH ev AS (
           SELECT user_id AS x, EPOCH_US(ts) AS y FROM events),
         b AS (SELECT MIN(x) AS x_min0, MAX(x) AS x_max0,
                      MIN(y) AS y_min0, MAX(y) AS y_max0 FROM ev),
         q AS (
           SELECT ((x - x_min0) * 65535) // (x_max0 - x_min0) AS xq,
                  ((y - y_min0) * 65535) // (y_max0 - y_min0) AS yq
           FROM ev CROSS JOIN b),
         z AS (SELECT xq, yq, $zterms AS z FROM q)
         SELECT z >> 28 AS bucket, COUNT(*) AS n,
                MIN(xq) AS xq_min, MAX(xq) AS xq_max,
                MIN(yq) AS yq_min, MAX(yq) AS yq_max
         FROM z GROUP BY 1 ORDER BY 1"""
    },

    // literals written as the same ops Scala performs (1.2 + 1.0, not
    // 2.2) so every IEEE intermediate is bit-identical
    "q102_bm25" ->
      s"""WITH $bm25ChainSql
         SELECT q_id, doc_id, score, "rank" FROM rk
         WHERE "rank" <= 10 ORDER BY q_id, "rank" """,

    "q200_ndcg" -> q200OracleSql,

    "q103_bloom_decontam" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         trsh AS (
           SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                    AS shingle
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         evsh AS (
           SELECT DISTINCT shingle FROM trsh WHERE doc_id % 97 = 0),
         pos AS (
           SELECT DISTINCT
             CAST('0x' || SUBSTR(MD5(j || ':' || shingle), 1, 15) AS BIGINT)
               % 262144 AS p
           FROM evsh, LATERAL (SELECT UNNEST(RANGE(0, 3)) AS j)),
         probe AS (
           SELECT doc_id, shingle,
             CAST('0x' || SUBSTR(MD5(j || ':' || shingle), 1, 15) AS BIGINT)
               % 262144 AS pj
           FROM trsh, LATERAL (SELECT UNNEST(RANGE(0, 3)) AS j)),
         bits AS (
           SELECT doc_id, shingle, COUNT(*) AS nb
           FROM probe JOIN pos ON probe.pj = pos.p
           GROUP BY 1, 2),
         bloom AS (
           SELECT t2.doc_id, COUNT(*) AS n_shingles,
                  COUNT(*) FILTER (b.nb = 3) AS n_bloom_hits
           FROM trsh t2 LEFT JOIN bits b
             ON t2.doc_id = b.doc_id AND t2.shingle = b.shingle
           GROUP BY 1),
         tru AS (
           SELECT doc_id, COUNT(*) AS n_true_hits FROM trsh
           WHERE shingle IN (SELECT shingle FROM evsh) GROUP BY 1)
         SELECT b.doc_id, b.n_shingles, b.n_bloom_hits,
                COALESCE(u.n_true_hits, 0) AS n_true_hits,
                b.n_bloom_hits - COALESCE(u.n_true_hits, 0) AS n_false_pos
         FROM bloom b LEFT JOIN tru u USING (doc_id)
         ORDER BY b.doc_id""",

    "q104_group_quantiles" ->
      """WITH ev AS (SELECT event_type, value AS v FROM events),
         r AS (
           SELECT event_type, v,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk,
                  COUNT(*) OVER (PARTITION BY event_type) AS cnt
           FROM ev)
         SELECT event_type, p, v AS q_value
         FROM r JOIN (SELECT UNNEST([0.5, 0.95, 0.99]) AS p) ps
           ON rk = GREATEST(1, CEIL(p * cnt))
         ORDER BY event_type, p""",

    "q105_decayed_counts" ->
      """WITH ev AS (
           SELECT user_id, EPOCH_US(ts) // 604800000000 AS p FROM events),
         r AS (SELECT MAX(p) AS ref_p FROM ev)
         SELECT user_id, COUNT(*) AS n_events,
                SUM(POW(0.5, CAST(ref_p - p AS DOUBLE))) AS decayed
         FROM ev CROSS JOIN r
         GROUP BY user_id ORDER BY user_id""",

    "q107_sessionize" ->
      """WITH ev AS (
           SELECT user_id, event_id, EPOCH_US(ts) AS ts_us FROM events),
         l AS (
           SELECT *, LAG(ts_us) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id) AS pts
           FROM ev),
         f AS (
           SELECT *, CASE WHEN pts IS NULL OR ts_us - pts > 21600000000
                          THEN 1 ELSE 0 END AS nf
           FROM l),
         s AS (
           SELECT *, CAST(SUM(nf) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_seq
           FROM f)
         SELECT user_id, session_seq, COUNT(*) AS n_events,
                MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
                MAX(ts_us) - MIN(ts_us) AS duration_us
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""",

    "q108_transitions" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type, EPOCH_US(ts) AS ts_us
           FROM events),
         l AS (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
           FROM ev),
         p AS (
           SELECT from_type, to_type, COUNT(*) AS n
           FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
               FROM p GROUP BY 1)
         SELECT p.from_type, p.to_type, p.n, t.n_from,
                ROUND(CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE), 6) AS prob
         FROM p JOIN t USING (from_type)
         ORDER BY from_type, to_type""",

    // moments as exact integer sums; mean/var/z written as the SAME
    // expression trees Spark builds, so the threshold cut replays exactly
    "q109_rate_anomaly" ->
      """WITH ev AS (
           SELECT user_id, EPOCH_US(ts) // 86400000000 AS p FROM events),
         perp AS (SELECT user_id, p, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         span AS (SELECT user_id, MIN(p) AS p0, MAX(p) AS p1
                  FROM perp GROUP BY 1),
         sp AS (SELECT user_id, UNNEST(RANGE(p0, p1 + 1)) AS p FROM span),
         fl AS (
           SELECT sp.user_id, sp.p, COALESCE(perp.c, 0) AS c
           FROM sp LEFT JOIN perp
             ON perp.user_id = sp.user_id AND perp.p = sp.p),
         st AS (SELECT user_id, COUNT(*) AS k, CAST(SUM(c) AS BIGINT) AS s,
                       CAST(SUM(c * c) AS BIGINT) AS ss
                FROM fl GROUP BY 1),
         z AS (
           SELECT fl.user_id, fl.p, fl.c,
                  (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE) AS v,
                  (CAST(fl.c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                    AS num
           FROM fl JOIN st USING (user_id))
         SELECT user_id, p, CAST(c AS BIGINT) AS c,
                ROUND(num / SQRT(v), 6) AS z
         FROM z WHERE v > 0 AND ABS(num / SQRT(v)) >= 2.0
         ORDER BY user_id, p""",

    "q112_hll_distinct" ->
      s"""WITH $hllChainSql
         SELECT ex.event_type, ex.n_exact, e.n_zero_regs,
                ROUND(CASE WHEN er <= 160.0 AND n_zero_regs > 0
                           THEN 64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE))
                           ELSE er END, 4) AS hll_est
         FROM ex JOIN e USING (event_type) ORDER BY event_type""",

    "q145_hll_aggregator" ->
      s"""WITH $hllChainSql
         SELECT ex.event_type, ex.n_exact,
                ROUND(CASE WHEN er <= 160.0 AND n_zero_regs > 0
                           THEN 64.0 * LN(64.0 / CAST(n_zero_regs AS DOUBLE))
                           ELSE er END, 4) AS hll_est
         FROM ex JOIN e USING (event_type) ORDER BY event_type""",

    "q146_scd2" ->
      """WITH ev AS (
           SELECT user_id, event_type, event_id, EPOCH_US(ts) AS ts_us,
                  ROUND(value, 6) AS value
           FROM events)
         SELECT user_id, event_type, event_id, value,
                ts_us AS valid_from_us,
                LEAD(ts_us, 1) OVER (PARTITION BY user_id, event_type
                  ORDER BY ts_us, event_id) AS valid_to_us,
                LEAD(ts_us, 1) OVER (PARTITION BY user_id, event_type
                  ORDER BY ts_us, event_id) IS NULL AS is_current
         FROM ev
         ORDER BY user_id, event_type, valid_from_us, event_id""",

    "q106_phrase_search" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         bg AS (
           SELECT doc_id, w[i] || ' ' || w[i+1] AS s
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
         ph AS (SELECT * FROM (VALUES (1, 'hash join'), (2, 'big data'),
                                      (3, 'fast scan')) v(phrase_id, phrase))
         SELECT ph.phrase_id, bg.doc_id, COUNT(*) AS n_matches
         FROM bg JOIN ph ON bg.s = ph.phrase
         GROUP BY 1, 2 ORDER BY phrase_id, doc_id""",

    "q128_latest_state" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, value, EPOCH_US(ts) AS ts_us
           FROM events),
         r AS (
           SELECT user_id, event_type, value AS last_value,
                  ts_us AS last_ts_us, event_id AS last_event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts_us DESC, event_id DESC) AS rn
           FROM e)
         SELECT user_id, event_type, last_value, last_ts_us, last_event_id
         FROM r WHERE rn = 1 ORDER BY user_id, event_type""",

    "q129_key_skew" ->
      """WITH c AS (
           SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                      COUNT(*) AS n_keys FROM c),
         r AS (
           SELECT user_id, n,
                  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS INT)
                    AS rank
           FROM c)
         SELECT r.rank, r.user_id, r.n,
                ROUND(CAST(r.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
                  AS share,
                t.n_keys
         FROM r CROSS JOIN t WHERE r.rank <= 10 ORDER BY r.rank""",

    "q119_hist_quantiles" ->
      """WITH b AS (
           SELECT event_type,
                  CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 2.0), 0), 255)
                    AS INT) AS bin
           FROM events),
         c AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
         cum AS (
           SELECT event_type, bin, c,
                  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin)
                    AS BIGINT) AS cum,
                  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM c)
         SELECT event_type, MAX(n) AS n,
                MIN(CASE WHEN cum >= CAST(FLOOR((n * 50 + 99) / 100.0) AS BIGINT)
                         THEN 0.0 + (bin + 1) * 2.0 END) AS p50,
                MIN(CASE WHEN cum >= CAST(FLOOR((n * 95 + 99) / 100.0) AS BIGINT)
                         THEN 0.0 + (bin + 1) * 2.0 END) AS p95,
                MIN(CASE WHEN cum >= CAST(FLOOR((n * 99 + 99) / 100.0) AS BIGINT)
                         THEN 0.0 + (bin + 1) * 2.0 END) AS p99
         FROM cum GROUP BY event_type ORDER BY event_type""")
}
