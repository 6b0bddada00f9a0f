package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.text.TextOps
import graft.analytics.Analytics

/** Round-6 ninth tail: corpus-audit operators — edit-distance blocked
  * near-dup, robust (median/MAD) outlier gating, association-rule
  * co-occurrence mining, k-anonymity exposure, time-bounded funnels and
  * HTML boilerplate extraction. Each query pairs with an
  * independently-written DuckDB oracle below.
  */
object AuditQueries {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")
  private def ev(s: SparkSession, d: String) =
    Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))

  /** 24 h in µs — the conversion-attribution window for q191. */
  private val dayUs = 86400000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // edit-distance near-dup under prefix blocking: planted copies with
    // ONE mid-token substituted (past the blocking prefix) must pair at
    // dist <= 10; natural same-prefix pairs sit far above the threshold
    // so the gate is exercised in both directions
    "q187_edit_neardup" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val copies = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^((?:\\S+\\s+){5})\\S+", "$1qz")
            .as("text"))
      Dedup.editDistanceNearDup(base.unionByName(copies), maxDist = 10)
        .orderBy("a", "b")
    }),

    // robust per-source length gate: exact nearest-rank median + MAD of
    // the token count, rows beyond 3·MAD flagged — integer arithmetic
    // end to end, both medians on the global range-partitioned ordinal
    "q188_mad_outliers" -> ((s, d) =>
      Analytics.madOutliers(
          docs(s, d).select(col("source"),
            size(TextOps.tokensCol).cast("long").as("v")),
          "source", "v", k = 3)
        .orderBy("source")),

    // association rules over per-doc distinct token sets: support >= 3/5
    // (binds at every SF: 30-38 of 465 pairs filtered), confidence and
    // lift from integral counts — which terms travel together (the
    // co-occurrence layer under topic-mix diagnostics)
    "q189_assoc_rules" -> ((s, d) =>
      TextOps.associationRules(docs(s, d), supNum = 3, supDen = 5)
        .orderBy("a", "b")),

    // k-anonymity exposure of the (lang, source, n_chars/8) quasi-
    // identifier tuple: equivalence classes below k and the rows inside
    // them, for k in {2, 5, 10, 25}
    "q190_k_anonymity" -> ((s, d) =>
      Analytics.kAnonymity(docs(s, d),
          Seq(col("lang"), col("source"), expr("n_chars div 8").as("bucket")),
          Seq(2, 5, 10, 25))
        .orderBy("k")),

    // time-bounded funnel: view -> click within 24 h -> purchase within
    // 24 h of the click; the window binds (60 of 150 users convert step 2
    // at sf0.01 vs 150 unbounded in q98)
    "q191_funnel_within" -> ((s, d) =>
      Analytics.funnelWithin(ev(s, d), Seq("view", "click", "purchase"),
          windowUs = dayUs)
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          col("steps_reached"))
        .orderBy("user_id")),

    // greedy max-coverage selection: 8 documents picked to maximize the
    // union of distinct 3-gram shingles (the (1-1/e) submodular greedy) —
    // the text-side coreset sampler next to q161's embedding k-centers;
    // each pick's marginal gain is strictly the uncovered-shingle count
    "q194_max_coverage" -> ((s, d) =>
      Dedup.maxCoverageSelect(
          Dedup.shingles(docs(s, d).select("doc_id", "text"), 3), k = 8)
        .orderBy("rank")),

    // per-document n-gram novelty (memorization-risk gate): fraction of
    // a doc's distinct 5-grams that appear in no other document
    "q195_ngram_novelty" -> ((s, d) =>
      TextOps.ngramNovelty(docs(s, d).select("doc_id", "text"), n = 5)
        .orderBy("doc_id")),

    // incremental novelty of a refresh snapshot vs the old corpus, with
    // the corpus-independent bloom probe (the streaming twin's plan)
    // validated against the exact join side by side; plants: modified
    // docs gain a few tail grams, appended exact copies gain none,
    // reversed-token docs are near-fully novel
    "q197_incremental_novelty" -> ((s, d) => {
      val v1 = docs(s, d).select("doc_id", "source", "text")
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" rev2 fresh span")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            col("text")))
        .unionByName(v1.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
            concat_ws(" ", reverse(TextOps.tokensCol)).as("text")))
      TextOps.incrementalNovelty(v1, v2, n = 5, mBits = 1 << 20)
        .orderBy("source")
    }),

    // Population Stability Index per source vs the corpus length
    // distribution — global exact rank-decile bins (one two-pass
    // ordinal), add-one smoothing, nano-quantized terms
    "q198_psi_drift" -> ((s, d) =>
      TextOps.psiDrift(docs(s, d).select(col("source"),
          size(TextOps.tokensCol).cast("long").as("v")),
        "source", "v", bins = 10).orderBy("source")),

    // BPE vocabulary-size sweep: fertility / chars-per-token / in-use
    // vocab after 2, 4, 8 merges — all cuts read from ONE training run
    "q199_bpe_sweep" -> ((s, d) =>
      TextOps.bpeFertilitySweep(docs(s, d), Seq(2, 4, 8))
        .orderBy("merges")),

    // unigram-LM EM tokenizer training (hard EM, 2 iterations):
    // substring-seeded vocabulary, integer micro-nat Viterbi E-step,
    // count re-estimation M-step. Natural corpus converges at iteration
    // 1 (measured: 0 changes) so the iteration-2 branch is PLANTED at a
    // count-derived weight: H = floor(sqrt(total substring occurrences))
    // copies of 'qx' and 'zj' plus one 'qxzj' — iteration 1 keeps the
    // rare whole word (2/T > H²/T²), the M-step collapses T to the
    // piece total, and iteration 2 flips it to 'qx zj' (H² > 2T') at
    // every SF; n_words_changed reads exactly 1, never vacuously
    "q201_unigram_em" -> ((s, d) => {
      import s.implicits._
      val base = docs(s, d).select("doc_id", "text")
      val tsub = base.select(explode(TextOps.tokensCol).as("w"))
        .select(expr("cast(least(4, length(w)) * (length(w) + 1)" +
          " - (least(4, length(w)) * (least(4, length(w)) + 1)) div 2" +
          " as bigint)").as("f"))
        .agg(sum(col("f"))).head.getLong(0)
      val h = math.floor(math.sqrt(tsub.toDouble)).toInt
      val plant = Seq(
        (9000001L, Seq.fill(h)("qx").mkString(" ")),
        (9000002L, Seq.fill(h)("zj").mkString(" ")),
        (9000003L, "qxzj")).toDF("doc_id", "text")
      TextOps.unigramEmTrain(base.unionByName(plant), emIters = 2)
        .orderBy("iter")
    }),

    // temperature-scaled mixture weights per language (the mBERT/XLM-R
    // p^alpha smoothing): en holds 43% of tokens raw and the alpha
    // sweep visibly flattens it — dyadic exponents via sqrt chains,
    // micro-quantized before the normalizing sums
    "q203_temperature_mix" -> ((s, d) =>
      graft.text.Mix.temperatureMix(docs(s, d), col("lang"))
        .withColumnRenamed("grp", "lang").orderBy("lang")),

    // LSH banding planner: expected S-curve detections per (bands, rows)
    // split of the 8-hash budget over the sweep universe's COMPLETE
    // exact-Jaccard pair distribution — expected TP/FP per design, the
    // calculator run before q170 measures the chosen scheme's actual PR
    "q196_lsh_planner" -> ((s, d) =>
      Dedup.lshPlanner(TrainingQueries.sweepShingles(s, d),
          configs = Seq((8, 1), (4, 2), (2, 4), (1, 8)))
        .orderBy("rpb")),

    // HTML-to-text extraction: documents wrapped in a deterministic page
    // shell (nav/style/script/footer boilerplate, '<' inside the script
    // body); extraction must round-trip the original text for EVERY doc
    // and the keep ratio reports the boilerplate share
    "q193_html_extract" -> ((s, d) => {
      val w = docs(s, d).select(col("source"), col("text"),
        concat(
          lit("<html><head><title>d</title><style>p{color:red}</style>" +
            "</head><body><nav>home | about | contact</nav><p>"),
          col("text"),
          lit("</p><script>var x = 1 < 2;</script>" +
            "<footer>(c) corp 2026</footer></body></html>")).as("h"))
      val e = w.withColumn("x", TextOps.htmlExtract(col("h")))
        .withColumn("norm",
          trim(regexp_replace(col("text"), "\\s+", " ")))
      e.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("x") === col("norm"), 1L).otherwise(0L))
            .as("n_roundtrip"),
          sum(length(col("h"))).as("chars_raw"),
          sum(length(col("x"))).as("chars_text"))
        .withColumn("keep_ratio",
          round(col("chars_text").cast("double")
            / col("chars_raw").cast("double"), 6))
        .orderBy("source")
    }))

  /** q194's replay: 8 unrolled greedy stages — per stage, the uncovered-
    * shingle count per unpicked doc, the (gain desc, doc_id) argmax, and
    * the covered-set union.
    */
  private def q194OracleSql: String = {
    val k = 8
    val stages = (2 to k).map { i =>
      s"""
  c_$i AS (
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS g
    FROM sh s ANTI JOIN cov_${i - 1} c USING (shingle)
    WHERE s.doc_id NOT IN (SELECT doc_id FROM pk_${i - 1})
    GROUP BY 1),
  p_$i AS (SELECT $i AS rank, doc_id, g FROM c_$i
           ORDER BY g DESC, doc_id LIMIT 1),
  pk_$i AS (SELECT * FROM pk_${i - 1} UNION ALL SELECT * FROM p_$i),
  cov_$i AS MATERIALIZED (
    SELECT shingle FROM cov_${i - 1}
    UNION SELECT s.shingle FROM sh s JOIN p_$i USING (doc_id))"""
    }.mkString(",")
    s"""WITH sh AS MATERIALIZED (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
          FROM documents) t,
         LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
  c_1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM sh GROUP BY 1),
  p_1 AS (SELECT 1 AS rank, doc_id, g FROM c_1 ORDER BY g DESC, doc_id LIMIT 1),
  pk_1 AS (SELECT * FROM p_1),
  cov_1 AS MATERIALIZED (
    SELECT DISTINCT s.shingle FROM sh s JOIN p_1 USING (doc_id)),$stages
  SELECT rank, doc_id, g AS gain,
         CAST(SUM(g) OVER (ORDER BY rank) AS BIGINT) AS cum_covered
  FROM pk_$k ORDER BY rank"""
  }

  /** q196's replay: the sweep universe's df-capped exact-Jaccard pairs,
    * each config's S-curve probability as the SAME shape-pinned
    * multiplication chain the Spark side executes ([[Dedup.powChainSql]]),
    * quantized to integer ppm before any summation.
    */
  private def q196OracleSql: String = {
    val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
    val cfgRows = configs.map { case (b, r) =>
      val inner = Dedup.powChainSql("j", r)
      val p = s"(1.0 - ${Dedup.powChainSql(s"(1.0 - $inner)", b)})"
      s"""SELECT $b AS bands, $r AS rpb, istrue,
           CAST(ROUND($p * 1000000.0) AS BIGINT) AS ppm FROM jp"""
    }.mkString(" UNION ALL ")
    s"""WITH ${TrainingQueries.sweepChainSql},
  shc AS (SELECT * FROM psh WHERE shingle IN (
    SELECT shingle FROM psh GROUP BY 1 HAVING COUNT(*) <= 10000)),
  sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY 1),
  ip AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(COUNT(*) AS BIGINT) AS inter
         FROM shc a JOIN shc b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
  jp AS (SELECT CAST(i.inter AS DOUBLE)
                / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS j,
                CASE WHEN i.inter * 5 >= (sa.sz + sb.sz - i.inter) * 2
                     THEN 1 ELSE 0 END AS istrue
         FROM ip i JOIN sz sa ON sa.doc_id = i.ida
         JOIN sz sb ON sb.doc_id = i.idb),
  cfg AS ($cfgRows)
  SELECT bands, rpb, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(istrue) AS BIGINT) AS n_true,
         ROUND(CAST(SUM(ppm) AS DOUBLE) / 1000000.0, 6) AS exp_detected,
         ROUND(CAST(SUM(CASE WHEN istrue = 1 THEN ppm ELSE 0 END) AS DOUBLE)
               / 1000000.0, 6) AS exp_tp,
         ROUND(CAST(SUM(CASE WHEN istrue = 0 THEN ppm ELSE 0 END) AS DOUBLE)
               / 1000000.0, 6) AS exp_fp
  FROM cfg GROUP BY 1, 2 ORDER BY rpb"""
  }

  private val gram5Sql =
    "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]"

  /** q197's replay: plant CTEs, the old corpus's distinct grams and
    * their bloom bit positions (same md5 layout as the Spark side), the
    * per-gram 3-probe membership test, and the per-source rollup.
    */
  private def q197OracleSql: String = {
    val m = 1 << 20
    def posSql(j: Int, g: String) =
      s"CAST('0x' || SUBSTR(MD5('$j:' || $g), 1, 15) AS BIGINT) % $m"
    val hitConds = (0 until 3).map(j =>
      s"EXISTS (SELECT 1 FROM pos WHERE pos.p = ${posSql(j, "ds.shingle")})")
      .mkString("\n     AND ")
    s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
  v2 AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 13 = 0 THEN text || ' rev2 fresh span'
                ELSE text END AS text
    FROM v1 WHERE doc_id % 17 != 0
    UNION ALL
    SELECT doc_id + 1000000, source, text FROM v1 WHERE doc_id % 19 = 0
    UNION ALL
    SELECT doc_id + 2000000, source,
           ARRAY_TO_STRING(LIST_REVERSE(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')),
             ' ')
    FROM v1 WHERE doc_id % 29 = 0),
  og AS MATERIALIZED (
    SELECT DISTINCT $gram5Sql AS shingle
    FROM (SELECT REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w FROM v1) t,
         LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
  pos AS MATERIALIZED (
    SELECT DISTINCT
      CAST('0x' || SUBSTR(MD5(j || ':' || shingle), 1, 15) AS BIGINT) % $m
        AS p
    FROM og, LATERAL (SELECT UNNEST([0, 1, 2]) AS j)),
  ng AS MATERIALIZED (
    SELECT DISTINCT doc_id, source, $gram5Sql AS shingle
    FROM (SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
          FROM v2) t,
         LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
  ds AS (SELECT DISTINCT shingle FROM ng),
  bh AS MATERIALIZED (
    SELECT shingle FROM ds
    WHERE $hitConds),
  fl AS (
    SELECT ng.doc_id, ng.source,
           CASE WHEN og.shingle IS NULL THEN 1 ELSE 0 END AS unseen,
           CASE WHEN bh.shingle IS NULL THEN 1 ELSE 0 END AS bunseen
    FROM ng LEFT JOIN og ON og.shingle = ng.shingle
    LEFT JOIN bh ON bh.shingle = ng.shingle)
  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(unseen) AS BIGINT) AS n_unseen_exact,
         CAST(SUM(bunseen) AS BIGINT) AS n_unseen_bloom,
         CAST(SUM(unseen) - SUM(bunseen) AS BIGINT) AS bloom_fp,
         ROUND(CAST(SUM(unseen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS novelty,
         ROUND(CAST(SUM(bunseen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS novelty_bloom
  FROM fl GROUP BY 1 ORDER BY source"""
  }

  private def q199OracleSql: String = {
    val rows = Seq(2, 4, 8).map { c =>
      s"""SELECT $c AS merges,
           (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) FROM
             (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(repr, ' ')) AS sym
              FROM r_$c) u) AS vocab_used,
           CAST(SUM(c) AS BIGINT) AS total_words,
           CAST(SUM(c * LEN(REGEXP_SPLIT_TO_ARRAY(repr, ' '))) AS BIGINT)
             AS total_pieces,
           ROUND(CAST(SUM(c * LEN(REGEXP_SPLIT_TO_ARRAY(repr, ' ')))
                 AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS fertility,
           ROUND(CAST(SUM(c * LEN(w)) AS DOUBLE)
                 / CAST(SUM(c * LEN(REGEXP_SPLIT_TO_ARRAY(repr, ' ')))
                   AS DOUBLE), 6) AS chars_per_token
         FROM r_$c"""
    }.mkString(" UNION ALL ")
    s"""WITH ${MiningQueries.bpeChainSqlFor(8, "documents")}
  SELECT * FROM ($rows) ORDER BY merges"""
  }

  /** q201's replay: plant derivation (H from the corpus substring
    * total), substring-seeded counts, and TWO unrolled Viterbi-EM
    * iterations — each an 8-stage DP over the (w, pos) match table with
    * ROW_NUMBER cuts (the q160 technique) plus a count re-estimation
    * between them.
    */
  private def q201OracleSql: String = {
    val maxWl = 8
    def vit(tag: String) = (1 to maxWl).map { p =>
      s"""
  e_${tag}_$p AS (
    SELECT b.w, b.wl, b.pos + m.slen AS pos, b.sc + m.score AS sc,
           b.n + 1 AS n, b.seg || ' ' || m.sym AS seg
    FROM b_${tag}_${p - 1} b JOIN ms_$tag m ON m.w = b.w AND m.pos = b.pos
    WHERE b.pos = $p),
  b_${tag}_$p AS MATERIALIZED (
    SELECT w, wl, pos, sc, n, seg FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY w, pos
        ORDER BY sc DESC, n, seg) AS rn
      FROM (SELECT * FROM b_${tag}_${p - 1}
            UNION ALL SELECT * FROM e_${tag}_$p))
    WHERE rn = 1)"""
    }.mkString(",")
    s"""WITH base AS (SELECT text FROM documents),
  tsub AS (
    SELECT CAST(SUM(LEAST(4, L) * (L + 1)
                    - (LEAST(4, L) * (LEAST(4, L) + 1)) // 2) AS BIGINT) AS t
    FROM (SELECT CAST(LEN(x) AS BIGINT) AS L
          FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS x
                FROM base))),
  hh AS (SELECT CAST(FLOOR(SQRT(CAST(t AS DOUBLE))) AS BIGINT) AS h
         FROM tsub),
  uni AS (SELECT text FROM base
          UNION ALL SELECT TRIM(REPEAT('qx ', (SELECT h FROM hh)))
          UNION ALL SELECT TRIM(REPEAT('zj ', (SELECT h FROM hh)))
          UNION ALL SELECT 'qxzj'),
  wt AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c, CAST(LEN(w) AS INT) AS wl
    FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w FROM uni)
    GROUP BY 1),
  occ AS MATERIALIZED (
    SELECT w, c, wl, i AS pos, SUBSTR(w, i, l) AS sym, l AS slen
    FROM wt, LATERAL (SELECT UNNEST(RANGE(1, wl + 1)) AS i),
         LATERAL (SELECT UNNEST(RANGE(1, 5)) AS l)
    WHERE i + l <= wl + 1),
  cnt_0 AS (SELECT sym, CAST(SUM(c) AS BIGINT) AS cnt FROM occ GROUP BY 1),
  vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM cnt_0),
  t_0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt_0),
  mt AS MATERIALIZED (SELECT DISTINCT w, wl, pos, sym, slen FROM occ),
  ms_1 AS MATERIALIZED (
    SELECT mt.*, CAST(ROUND(LN((c0.cnt + 1)
        / ((SELECT t FROM t_0) + (SELECT v FROM vv))) * 1000000.0)
      AS BIGINT) AS score
    FROM mt JOIN cnt_0 c0 ON c0.sym = mt.sym),
  b_1_0 AS (SELECT w, wl, 1 AS pos, CAST(0 AS BIGINT) AS sc,
                   CAST(0 AS BIGINT) AS n, '' AS seg FROM wt),${vit("1")},
  fin_1 AS MATERIALIZED (
    SELECT w, sc, n, TRIM(seg) AS seg FROM b_1_$maxWl WHERE pos = wl + 1),
  prev_0 AS (SELECT w, TRIM(REGEXP_REPLACE(w, '(.)', '\\1 ', 'g')) AS pseg
             FROM wt),
  used_1 AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS vu
             FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(seg, ' ')) AS s
                   FROM fin_1)),
  row_1 AS (
    SELECT 1 AS iter, CAST(SUM(wt.c * f.sc) AS BIGINT) AS total_score_micro,
           CAST(SUM(CASE WHEN f.seg != p.pseg THEN 1 ELSE 0 END) AS BIGINT)
             AS n_words_changed,
           (SELECT vu FROM used_1) AS vocab_used,
           CAST(SUM(wt.c * f.n) AS BIGINT) AS total_pieces
    FROM fin_1 f JOIN wt ON wt.w = f.w JOIN prev_0 p ON p.w = f.w),
  cnt_1 AS MATERIALIZED (
    SELECT sym, CAST(SUM(c) AS BIGINT) AS cnt
    FROM (SELECT w, UNNEST(REGEXP_SPLIT_TO_ARRAY(seg, ' ')) AS sym
          FROM fin_1) s JOIN wt USING (w) GROUP BY 1),
  t_1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt_1),
  ms_2 AS MATERIALIZED (
    SELECT mt.*, CAST(ROUND(LN((COALESCE(c1.cnt, 0) + 1)
        / ((SELECT t FROM t_1) + (SELECT v FROM vv))) * 1000000.0)
      AS BIGINT) AS score
    FROM mt LEFT JOIN cnt_1 c1 ON c1.sym = mt.sym),
  b_2_0 AS (SELECT w, wl, 1 AS pos, CAST(0 AS BIGINT) AS sc,
                   CAST(0 AS BIGINT) AS n, '' AS seg FROM wt),${vit("2")},
  fin_2 AS MATERIALIZED (
    SELECT w, sc, n, TRIM(seg) AS seg FROM b_2_$maxWl WHERE pos = wl + 1),
  used_2 AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS vu
             FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(seg, ' ')) AS s
                   FROM fin_2)),
  row_2 AS (
    SELECT 2 AS iter, CAST(SUM(wt.c * f.sc) AS BIGINT) AS total_score_micro,
           CAST(SUM(CASE WHEN f.seg != p1.seg THEN 1 ELSE 0 END) AS BIGINT)
             AS n_words_changed,
           (SELECT vu FROM used_2) AS vocab_used,
           CAST(SUM(wt.c * f.n) AS BIGINT) AS total_pieces
    FROM fin_2 f JOIN wt ON wt.w = f.w JOIN fin_1 p1 ON p1.w = f.w)
  SELECT * FROM row_1 UNION ALL SELECT * FROM row_2 ORDER BY iter"""
  }

  def oracle: Map[String, String] = Map(

    "q201_unigram_em" -> q201OracleSql,

    "q194_max_coverage" -> q194OracleSql,

    "q196_lsh_planner" -> q196OracleSql,

    "q203_temperature_mix" ->
      """WITH toks AS (
           SELECT lang AS grp,
                  CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')))
                    AS BIGINT) AS nt
           FROM documents GROUP BY 1),
         q AS (
           SELECT grp, nt,
                  CAST(ROUND(SQRT(SQRT(CAST(nt AS DOUBLE))) * 1000000.0)
                    AS BIGINT) AS m25,
                  CAST(ROUND(SQRT(CAST(nt AS DOUBLE)) * 1000000.0)
                    AS BIGINT) AS m50,
                  CAST(ROUND(SQRT(CAST(nt AS DOUBLE))
                             * SQRT(SQRT(CAST(nt AS DOUBLE)))
                             * 1000000.0) AS BIGINT) AS m75
           FROM toks),
         tot AS (
           SELECT CAST(SUM(nt) AS BIGINT) AS t1,
                  CAST(SUM(m25) AS BIGINT) AS t25,
                  CAST(SUM(m50) AS BIGINT) AS t50,
                  CAST(SUM(m75) AS BIGINT) AS t75
           FROM q)
         SELECT grp AS lang, nt,
                ROUND(CAST(nt AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS w_raw,
                ROUND(CAST(m25 AS DOUBLE) / CAST(t25 AS DOUBLE), 6) AS w_a25,
                ROUND(CAST(m50 AS DOUBLE) / CAST(t50 AS DOUBLE), 6) AS w_a50,
                ROUND(CAST(m75 AS DOUBLE) / CAST(t75 AS DOUBLE), 6) AS w_a75
         FROM q CROSS JOIN tot ORDER BY lang""",

    "q197_incremental_novelty" -> q197OracleSql,

    "q199_bpe_sweep" -> q199OracleSql,

    // ROW_NUMBER ties within a (v, source) cell are interchangeable for
    // the (source, bin) histogram, so the rank-decile binning is
    // engine-stable; integer DIV bin cut; nano-quantized terms
    "q198_psi_drift" ->
      """WITH t AS (
           SELECT source,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS v
           FROM documents),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
         r AS (SELECT source, v,
                 ROW_NUMBER() OVER (ORDER BY v, source) AS pos FROM t),
         b AS (SELECT source,
                 ((pos - 1) * 10) // (SELECT n FROM nn) AS bin FROM r),
         cell AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS cg
                  FROM b GROUP BY 1, 2),
         bt AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1),
         gt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ng
                FROM b GROUP BY 1),
         grid AS (
           SELECT g.source, g.ng, bt.bin, bt.cb, COALESCE(cell.cg, 0) AS cg
           FROM gt g CROSS JOIN bt
           LEFT JOIN cell ON cell.source = g.source AND cell.bin = bt.bin),
         term AS (
           SELECT source, ng,
                  CAST(ROUND((CAST(cg + 1 AS DOUBLE)
                      / CAST(ng + 10 AS DOUBLE)
                    - CAST(cb + 1 AS DOUBLE)
                      / CAST((SELECT n FROM nn) + 10 AS DOUBLE))
                    * LN(CAST((cg + 1) * ((SELECT n FROM nn) + 10) AS DOUBLE)
                         / CAST((cb + 1) * (ng + 10) AS DOUBLE))
                    * 1000000000.0) AS BIGINT) AS tq
           FROM grid)
         SELECT source, MIN(ng) AS n,
                ROUND(CAST(SUM(tq) AS DOUBLE) / 1000000000.0, 6) AS psi
         FROM term GROUP BY 1 ORDER BY source""",

    "q195_ngram_novelty" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
         SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_shared,
                ROUND(1.0 - CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
         FROM sh JOIN dfc USING (shingle)
         GROUP BY 1 ORDER BY 1""",

    "q187_edit_neardup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
         cop AS (
           SELECT doc_id + 1000000 AS doc_id,
                  REGEXP_REPLACE(text, '^((?:\S+\s+){5})\S+', '\1qz') AS text
           FROM base WHERE doc_id % 10 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM cop),
         k AS (SELECT doc_id, text,
                 MD5(ARRAY_TO_STRING(
                   REGEXP_SPLIT_TO_ARRAY(text, '\s+')[1:3], ' ')) AS bk
               FROM u),
         sz AS (SELECT bk, COUNT(*) AS bn FROM k GROUP BY 1),
         bb AS (SELECT k.* FROM k JOIN sz USING (bk) WHERE bn <= 32)
         SELECT x.doc_id AS a, y.doc_id AS b,
                LEVENSHTEIN(x.text, y.text) AS dist
         FROM bb x JOIN bb y ON x.bk = y.bk AND x.doc_id < y.doc_id
         WHERE LEVENSHTEIN(x.text, y.text) <= 10
         ORDER BY 1, 2""",

    "q188_mad_outliers" ->
      """WITH t AS (
           SELECT source,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS v
           FROM documents),
         r AS (SELECT source, v,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rk,
                 COUNT(*) OVER (PARTITION BY source) AS n FROM t),
         med AS (SELECT source, v AS med FROM r
                 WHERE rk = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))),
         d AS (SELECT t.source, t.v, m.med, ABS(t.v - m.med) AS adev
               FROM t JOIN med m USING (source)),
         r2 AS (SELECT source, adev,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY adev) AS rk,
                  COUNT(*) OVER (PARTITION BY source) AS n FROM d),
         mad AS (SELECT source, adev AS mad FROM r2
                 WHERE rk = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)))
         SELECT d.source, COUNT(*) AS n, MIN(d.med) AS median,
                MIN(mad.mad) AS mad,
                CAST(SUM(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers
         FROM d JOIN mad USING (source)
         GROUP BY d.source ORDER BY d.source""",

    "q189_assoc_rules" ->
      """WITH t AS (
           SELECT doc_id, LIST_SORT(LIST_DISTINCT(
             REGEXP_SPLIT_TO_ARRAY(text, '\s+'))) AS ts
           FROM documents),
         nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t),
         uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
                 FROM (SELECT UNNEST(ts) AS tok FROM t) GROUP BY 1),
         p AS (SELECT ts[i] AS a, ts[j] AS b FROM t,
                 LATERAL (SELECT UNNEST(RANGE(1, LEN(ts) + 1)) AS i),
                 LATERAL (SELECT UNNEST(RANGE(1, LEN(ts) + 1)) AS j)
               WHERE j > i),
         pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM p GROUP BY 1, 2)
         SELECT pc.a, pc.b, ua.df AS n_a, ub.df AS n_b, pc.n_ab,
                ROUND(CAST(pc.n_ab AS DOUBLE)
                      / CAST(nd.n_docs AS DOUBLE), 6) AS support,
                ROUND(CAST(pc.n_ab AS DOUBLE)
                      / CAST(ua.df AS DOUBLE), 6) AS confidence,
                ROUND(CAST(pc.n_ab AS DOUBLE) * CAST(nd.n_docs AS DOUBLE)
                      / (CAST(ua.df AS DOUBLE) * CAST(ub.df AS DOUBLE)), 6)
                  AS lift
         FROM pc
         JOIN uni ua ON ua.tok = pc.a
         JOIN uni ub ON ub.tok = pc.b
         CROSS JOIN nd
         WHERE pc.n_ab * 5 >= nd.n_docs * 3
         ORDER BY 1, 2""",

    "q190_k_anonymity" ->
      """WITH g AS (
           SELECT lang, source, n_chars // 8 AS bucket, COUNT(*) AS gn
           FROM documents GROUP BY 1, 2, 3),
         ks AS (SELECT CAST(UNNEST([2, 5, 10, 25]) AS BIGINT) AS k)
         SELECT ks.k, COUNT(*) AS n_groups,
                CAST(SUM(CASE WHEN gn < ks.k THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_below,
                CAST(SUM(CASE WHEN gn < ks.k THEN gn ELSE 0 END) AS BIGINT)
                  AS rows_at_risk
         FROM g CROSS JOIN ks GROUP BY 1 ORDER BY 1""",

    "q191_funnel_within" ->
      """WITH ev AS (
           SELECT user_id, event_type, EPOCH_US(ts) AS ts_us FROM events),
         s1 AS (
           SELECT user_id, MIN(ts_us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (
           SELECT e.user_id, MIN(ts_us) AS t2 FROM ev e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1
             AND ts_us <= t1 + 86400000000 GROUP BY 1),
         s3 AS (
           SELECT e.user_id, MIN(ts_us) AS t3 FROM ev e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2
             AND ts_us <= t2 + 86400000000 GROUP BY 1)
         SELECT s1.user_id, t1, t2, t3,
                1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
                  AS steps_reached
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY user_id""",

    "q193_html_extract" ->
      """WITH w AS (
           SELECT source, text,
                  '<html><head><title>d</title><style>p{color:red}</style>'
                  || '</head><body><nav>home | about | contact</nav><p>'
                  || text ||
                  '</p><script>var x = 1 < 2;</script>'
                  || '<footer>(c) corp 2026</footer></body></html>' AS h
           FROM documents),
         e AS (
           SELECT source, text, h,
                  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
                    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(h,
                    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                    '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                    '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
                    '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
                    '<[^>]+>', ' ', 'g'),
                    '\s+', ' ', 'g')) AS x
           FROM w)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN x = TRIM(REGEXP_REPLACE(text, '\s+', ' ',
                  'g')) THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
                CAST(SUM(LEN(h)) AS BIGINT) AS chars_raw,
                CAST(SUM(LEN(x)) AS BIGINT) AS chars_text,
                ROUND(CAST(SUM(LEN(x)) AS DOUBLE)
                      / CAST(SUM(LEN(h)) AS DOUBLE), 6) AS keep_ratio
         FROM e GROUP BY 1 ORDER BY 1""")
}
