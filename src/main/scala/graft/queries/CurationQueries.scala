package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.text.{Mix, TextOps}

/** Round-6 curation surface: weighted sampling without replacement and
  * DSIR importance weighting — the two selection primitives between
  * "score every document" and "assemble the mix".
  */
object CurationQueries {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Efraimidis–Spirakis weighted sample: 100 docs drawn without
    // replacement with odds ∝ n_chars; the ln(u)/w key is rounded to
    // 9 dp before ranking (with doc_id tie-break) so the cut replays
    // engine-exact — the q102 rounded-score-cut technique
    "q110_weighted_sample" -> ((s, d) =>
      Mix.weightedSample(docs(s, d), col("n_chars"), n = 100, seed = 7)
        .orderBy("rank")),

    // DSIR importance weights vs the English sub-corpus: hashed-unigram
    // bag log-likelihood ratio, integer micro-nat quantized per bucket
    // so the per-doc sum is exact integer arithmetic
    "q111_dsir_weights" -> ((s, d) =>
      TextOps.dsirWeights(docs(s, d), col("lang") === "en")
        .orderBy("doc_id")),

    // multinomial Naive Bayes language classifier: train on
    // doc_id % 10 != 0, classify the held-out tenth, output the
    // confusion matrix — scores are exact integer micro-nat sums so the
    // argmax replays engine-exact
    "q113_nb_classifier" -> ((s, d) =>
      TextOps.nbClassify(docs(s, d))
        .orderBy("label_true", "label_pred")),

    // per-source unigram KL divergence from the corpus distribution —
    // the drift/shift diagnostic; exact-integer Σ c·lr with the 1/t
    // factor pulled out so the sum replays engine-exact
    "q114_kl_drift" -> ((s, d) =>
      TextOps.klDrift(docs(s, d), col("source"))
        .select(col("grp").as("source"), col("n_toks"), col("kl"))
        .orderBy("source")),

    // pairwise label-centroid cosine over the embeddings table: fixed-
    // point quantization makes the centroid sums exact integers and the
    // 1/n factors cancel out of the cosine entirely
    "q115_centroid_cosine" -> ((s, d) =>
      graft.sim.Similarity.centroidCosine(Tables.t(s, d, "embeddings"))
        .orderBy("label_a", "label_b")),

    // quality-gate cascade with first-failing-gate attribution; every
    // threshold is an exact-integer comparison, so the verdict has no
    // rounding knife edge to diverge on
    "q116_filter_cascade" -> ((s, d) =>
      TextOps.filterCascade(docs(s, d), Seq("the", "a", "data", "query"))
        .orderBy("source", "verdict")),

    // cross-source 3-gram shingle contamination matrix: shared distinct
    // shingles + containment per source pair; digests (never text) join
    "q117_overlap_matrix" -> ((s, d) =>
      Dedup.overlapMatrix(docs(s, d), col("source"), 3)
        .orderBy("slice_a", "slice_b")),

    // per-language tokenizer fertility: subword (BPE-ish regex) tokens
    // per whitespace word + chars per subword — the tokenizer-efficiency
    // report that decides how many real tokens a corpus buys; integral
    // sums, two IEEE divisions at the end
    "q121_fertility" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"),
          size(TextOps.tokensCol).cast("long").as("ws"),
          size(regexp_extract_all(col("text"),
            lit("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"),
            lit(0))).cast("long").as("bpe"),
          length(col("text")).cast("long").as("ch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_ws_tokens"),
          sum(col("bpe")).as("n_bpe_tokens"), sum(col("ch")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_ws_tokens"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"),
            6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"),
            6).as("chars_per_token"))
        .orderBy("lang")),

    // mixture feasibility plan: largest token budget honouring the
    // target language weights without upsampling any language, plus the
    // per-language sampling fractions that realize it
    "q123_mixture_plan" -> ((s, d) =>
      Mix.mixturePlan(docs(s, d), col("lang"),
          Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.15, "zh" -> 0.05))
        .orderBy("grp")),

    // per-language TOKEN-budget sampling (allocate tokens, not doc
    // counts): docs kept in seeded md5 order while the stratum's prior
    // tokens are under 3000; one global two-pass running total, no
    // per-stratum window
    "q126_token_budget" -> ((s, d) =>
      Mix.tokenBudgetSample(docs(s, d), col("lang"), 3000L, seed = 11)
        .orderBy("grp", "doc_id")),

    // dedup savings cascade: docs/tokens surviving raw -> exact dedup ->
    // passage dedup over a universe planted with exact copies AND
    // half-document partial copies (which only the passage stage catches)
    "q122_dedup_savings" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val copies = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val halves = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(TrainingQueries.firstHalf,
            lit(" graft synthetic tail marker words")).as("text"))
      TextOps.dedupSavings(base.unionByName(copies).unionByName(halves), 15)
        .orderBy("stage_id")
    }),

    // snapshot-delta dedup: new docs (odds + planted exact/near copies of
    // evens) labeled exact_dup/near_dup/kept against the old corpus
    // (evens); threshold tested as inter*2 >= union — exact integers
    "q118_incremental_dedup" -> ((s, d) => {
      val all = docs(s, d)
      val oldD = all.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      val newD = all.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
        .unionByName(all.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .unionByName(all.filter(col("doc_id") % 14 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(col("text"), lit(" graft delta marker")).as("text")))
      Dedup.incrementalDedup(oldD, newD, 8, 2, 1, 2).orderBy("doc_id")
    }))

  /** q113's full NB chain (train counts, micro-nat quantized priors and
    * likelihoods, held-out scoring, per-doc label ranking) ending in
    * `am (doc_id, label_true, label, score_micro, r)` — shared by q113
    * (confusion matrix) and q137 (margin calibration bins).
    */
  private[queries] val nbChainSql =
    """t AS (
           SELECT doc_id, lang AS label,
                  UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
           FROM documents),
         tr AS (SELECT * FROM t WHERE doc_id % 10 != 0),
         ct AS (SELECT label, tok, COUNT(*) AS c FROM tr GROUP BY 1, 2),
         tt AS (SELECT label, CAST(SUM(c) AS BIGINT) AS tot FROM ct GROUP BY 1),
         vb AS (SELECT COUNT(DISTINCT tok) AS v FROM ct),
         td AS (SELECT lang AS label, COUNT(*) AS nd FROM documents
                WHERE doc_id % 10 != 0 GROUP BY 1),
         pr AS (
           SELECT label, CAST(ROUND(
               LN(CAST(nd AS DOUBLE)
                  / CAST(CAST((SELECT SUM(nd) FROM td) AS BIGINT) AS DOUBLE))
               * 1000000.0) AS BIGINT) AS prior_micro
           FROM td),
         lp AS (
           SELECT ct.label, ct.tok, CAST(ROUND(
               LN(CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lp_micro
           FROM ct JOIN tt USING (label) CROSS JOIN vb),
         dfl AS (
           SELECT label, CAST(ROUND(
               LN(1.0 / CAST(tot + v AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS dflt_micro
           FROM tt CROSS JOIN vb),
         te AS (SELECT doc_id, label AS label_true, tok FROM t
                WHERE doc_id % 10 = 0),
         sc AS (
           SELECT te.doc_id, te.label_true, d.label,
                  CAST(SUM(COALESCE(lp.lp_micro, d.dflt_micro)) AS BIGINT)
                    AS like_micro
           FROM te CROSS JOIN dfl d
           LEFT JOIN lp ON lp.label = d.label AND lp.tok = te.tok
           GROUP BY 1, 2, 3),
         fin AS (
           SELECT sc.doc_id, sc.label_true, sc.label,
                  pr.prior_micro + sc.like_micro AS score_micro
           FROM sc JOIN pr ON pr.label = sc.label),
         am AS (
           SELECT *, ROW_NUMBER() OVER
             (PARTITION BY doc_id ORDER BY score_micro DESC, label) AS r
           FROM fin)"""

  def oracle: Map[String, String] = Map(

    "q110_weighted_sample" ->
      """WITH k AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             ROUND(LN((CAST(CAST('0x' || SUBSTR(MD5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)
                              AS BIGINT) AS DOUBLE) + 1.0)
                      / POW(CAST(2.0 AS DOUBLE), 60))
                   / CAST(n_chars AS DOUBLE), 9) AS key
           FROM documents),
         r AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS "rank"
           FROM k)
         SELECT doc_id, w, key, "rank" FROM r
         WHERE "rank" <= 100 ORDER BY "rank" """,

    "q111_dsir_weights" ->
      """WITH t AS (
           SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
           FROM documents),
         tb AS (
           SELECT doc_id, tok,
                  CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) % 1024 AS b
           FROM t),
         raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY 1),
         tgt AS (
           SELECT b, COUNT(*) AS ct FROM tb
           WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
           GROUP BY 1),
         tab AS (
           SELECT raw.b, cr, COALESCE(ct, 0) AS ct
           FROM raw LEFT JOIN tgt USING (b)),
         tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr,
                        CAST(SUM(ct) AS BIGINT) AS tt FROM tab),
         lr AS (
           SELECT b, CAST(ROUND(
               LN(CAST((ct + 1) * (tr + 1024) AS DOUBLE)
                  / CAST((cr + 1) * (tt + 1024) AS DOUBLE)) * 1000000.0)
             AS BIGINT) AS lr_micro
           FROM tab CROSS JOIN tot)
         SELECT tb.doc_id, COUNT(*) AS n_toks,
                CAST(SUM(lr.lr_micro) AS BIGINT) AS logw_micro
         FROM tb JOIN lr USING (b)
         GROUP BY 1 ORDER BY tb.doc_id""",

    "q113_nb_classifier" ->
      s"""WITH $nbChainSql
         SELECT label_true, label AS label_pred, COUNT(*) AS n
         FROM am WHERE r = 1 GROUP BY 1, 2 ORDER BY 1, 2""",

    "q114_kl_drift" ->
      """WITH t AS (
           SELECT source, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
           FROM documents),
         cs AS (SELECT source, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tn FROM cs GROUP BY 1),
         cr AS (SELECT tok, COUNT(*) AS cc FROM t GROUP BY 1),
         tr AS (SELECT COUNT(*) AS tt FROM t),
         terms AS (
           SELECT cs.source, cs.c, CAST(ROUND(
               LN(CAST(cs.c * tr.tt AS DOUBLE) / CAST(cr.cc * ts.tn AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lrm
           FROM cs JOIN cr USING (tok) JOIN ts USING (source) CROSS JOIN tr),
         s AS (SELECT source, CAST(SUM(c * lrm) AS BIGINT) AS klm
               FROM terms GROUP BY 1)
         SELECT s.source, ts.tn AS n_toks,
                ROUND(CAST(klm AS DOUBLE) / CAST(ts.tn AS DOUBLE) / 1000000.0, 6)
                  AS kl
         FROM s JOIN ts USING (source) ORDER BY s.source""",

    "q115_centroid_cosine" ->
      """WITH q AS (
           SELECT label, i AS dim,
                  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 16384.0) AS BIGINT)
                    AS qv
           FROM embeddings,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(embedding) + 1)) AS i)),
         sums AS (
           SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sv, COUNT(*) AS n
           FROM q GROUP BY 1, 2),
         p AS (
           SELECT a.label AS label_a, b.label AS label_b, a.dim,
                  a.sv AS sa, b.sv AS sb, a.n AS n_a, b.n AS n_b
           FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label),
         g AS (
           SELECT label_a, label_b,
                  CAST(MAX(n_a) AS BIGINT) AS n_a,
                  CAST(MAX(n_b) AS BIGINT) AS n_b,
                  CAST(SUM(sa * sb) AS BIGINT) AS dot,
                  CAST(SUM(sa * sa) AS BIGINT) AS na2,
                  CAST(SUM(sb * sb) AS BIGINT) AS nb2
           FROM p GROUP BY 1, 2)
         SELECT label_a, label_b, n_a, n_b,
                ROUND(CAST(dot AS DOUBLE)
                      / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE))),
                      6) AS cosine
         FROM g ORDER BY label_a, label_b""",

    "q116_filter_cascade" ->
      """WITH t AS (
           SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, source, LEN(toks) AS n,
                  (SELECT SUM(LEN(x)) FROM UNNEST(toks) AS u(x)) AS sc,
                  LEN(LIST_FILTER(toks,
                      x -> x IN ('the', 'a', 'data', 'query'))) AS ns
           FROM t),
         v AS (
           SELECT source,
                  CASE WHEN n < 20 THEN 'too_short'
                       WHEN n > 90 THEN 'too_long'
                       WHEN sc * 10 < n * 43 THEN 'word_len_low'
                       WHEN sc * 10 > n * 48 THEN 'word_len_high'
                       WHEN ns * 25 < n THEN 'low_stopword'
                       ELSE 'pass' END AS verdict
           FROM s)
         SELECT source, verdict, COUNT(*) AS n_docs
         FROM v GROUP BY 1, 2 ORDER BY 1, 2""",

    "q117_overlap_matrix" ->
      """WITH sh AS (
           SELECT DISTINCT source AS slice,
                  MD5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS digest
           FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         sizes AS (SELECT slice, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         ok AS (SELECT digest FROM sh GROUP BY digest HAVING COUNT(*) <= 64),
         shc AS (SELECT sh.* FROM sh JOIN ok USING (digest)),
         shared AS (
           SELECT a.slice AS slice_a, b.slice AS slice_b, COUNT(*) AS shared
           FROM shc a JOIN shc b ON a.digest = b.digest AND a.slice < b.slice
           GROUP BY 1, 2)
         SELECT slice_a, slice_b, shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
                ROUND(CAST(shared AS DOUBLE)
                      / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6)
                  AS containment
         FROM shared
         JOIN sizes sa ON sa.slice = slice_a
         JOIN sizes sb ON sb.slice = slice_b
         ORDER BY slice_a, slice_b""",

    "q121_fertility" ->
      """WITH t AS (
           SELECT lang,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS ws,
                  CAST(LEN(REGEXP_EXTRACT_ALL(text,
                    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+'))
                    AS BIGINT) AS bpe,
                  CAST(LENGTH(text) AS BIGINT) AS ch
           FROM documents),
         g AS (
           SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
                  CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
                  CAST(SUM(ch) AS BIGINT) AS n_chars
           FROM t GROUP BY 1)
         SELECT lang, n_docs, n_ws_tokens, n_bpe_tokens,
                ROUND(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE), 6)
                  AS fertility,
                ROUND(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 6)
                  AS chars_per_token
         FROM g ORDER BY lang""",

    "q123_mixture_plan" ->
      """WITH avail AS (
           SELECT lang AS grp,
                  CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+'))) AS BIGINT)
                    AS avail
           FROM documents GROUP BY 1),
         w AS (SELECT grp, CAST(w AS DOUBLE) AS w
               FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2),
                 ('fr', 0.15), ('zh', 0.05)) v(grp, w)),
         j AS (SELECT avail.grp, avail.avail, w.w FROM avail JOIN w USING (grp)),
         nm AS (SELECT MIN(CAST(avail AS DOUBLE) / w) AS nmax FROM j)
         SELECT grp, avail, w AS target_frac,
                CAST(ROUND(w * nmax) AS BIGINT) AS tokens_target,
                ROUND(w * nmax / CAST(avail AS DOUBLE), 6) AS sample_frac
         FROM j CROSS JOIN nm ORDER BY grp""",

    "q126_token_budget" ->
      """WITH b AS (
           SELECT lang AS grp, doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS nt,
                  MD5('11:' || CAST(doc_id AS VARCHAR)) AS rk
           FROM documents),
         r AS (
           SELECT grp, doc_id, nt,
                  CAST(COALESCE(SUM(nt) OVER (PARTITION BY grp ORDER BY rk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tokens_before
           FROM b)
         SELECT grp, doc_id, nt, tokens_before
         FROM r WHERE tokens_before < 3000
         ORDER BY grp, doc_id""",

    "q122_dedup_savings" ->
      """WITH pl AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 5000000,
                  ARRAY_TO_STRING(w[1:(LEN(w) + 1) // 2], ' ')
                    || ' graft synthetic tail marker words'
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents WHERE doc_id % 40 = 0) t),
         b AS (
           SELECT doc_id, text,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS nt,
                  MD5(text) AS dg
           FROM pl),
         keep AS (SELECT dg, MIN(doc_id) AS doc_id FROM b GROUP BY 1),
         surv AS (SELECT b.* FROM b JOIN keep USING (dg, doc_id)),
         w2 AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM surv),
         wins AS (
           SELECT doc_id, i AS pos,
                  ARRAY_TO_STRING(w[i*15+1 : i*15+15], ' ') AS passage
           FROM w2,
                LATERAL (SELECT UNNEST(RANGE(0,
                  CAST(CEIL(LEN(w) / 15.0) AS INT))) AS i)),
         sited AS (
           SELECT doc_id, MD5(passage) AS pdg,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(passage, '\s+')) AS BIGINT) AS pt,
                  doc_id * 1000 + pos AS site
           FROM wins),
         firsts AS (SELECT pdg, MIN(site) AS fs FROM sited GROUP BY 1),
         keptp AS (
           SELECT s.* FROM sited s
           JOIN firsts f ON f.pdg = s.pdg AND s.site = f.fs)
         SELECT 0 AS stage_id, 'raw' AS stage, COUNT(*) AS n_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens FROM b
         UNION ALL
         SELECT 1, 'exact_dedup', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM surv
         UNION ALL
         SELECT 2, 'passage_dedup', COUNT(DISTINCT doc_id),
                CAST(SUM(pt) AS BIGINT) FROM keptp
         ORDER BY stage_id""",

    "q118_incremental_dedup" ->
      """WITH oldd AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         newd AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 3000000, text || ' graft delta marker'
           FROM documents WHERE doc_id % 14 = 0),
         odig AS (SELECT MD5(text) AS digest, MIN(doc_id) AS match_id
                  FROM oldd GROUP BY 1),
         nd AS (SELECT n.doc_id, n.text, o.match_id
                FROM newd n LEFT JOIN odig o ON MD5(n.text) = o.digest),
         exact AS (SELECT doc_id, 'exact_dup' AS verdict, match_id,
                          1.0 AS jaccard
                   FROM nd WHERE match_id IS NOT NULL),
         surv AS (SELECT doc_id, text FROM nd WHERE match_id IS NULL),
         shn AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM surv) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         sho AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM oldd) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         sgn AS (
           SELECT doc_id,
                  MIN(MD5('0:' || shingle)) AS m0, MIN(MD5('1:' || shingle)) AS m1,
                  MIN(MD5('2:' || shingle)) AS m2, MIN(MD5('3:' || shingle)) AS m3,
                  MIN(MD5('4:' || shingle)) AS m4, MIN(MD5('5:' || shingle)) AS m5,
                  MIN(MD5('6:' || shingle)) AS m6, MIN(MD5('7:' || shingle)) AS m7
           FROM shn GROUP BY doc_id),
         sgo AS (
           SELECT doc_id,
                  MIN(MD5('0:' || shingle)) AS m0, MIN(MD5('1:' || shingle)) AS m1,
                  MIN(MD5('2:' || shingle)) AS m2, MIN(MD5('3:' || shingle)) AS m3,
                  MIN(MD5('4:' || shingle)) AS m4, MIN(MD5('5:' || shingle)) AS m5,
                  MIN(MD5('6:' || shingle)) AS m6, MIN(MD5('7:' || shingle)) AS m7
           FROM sho GROUP BY doc_id),
         bn AS (
           SELECT doc_id, 0 AS band_id, m0 || m1 AS band_key FROM sgn UNION ALL
           SELECT doc_id, 1, m2 || m3 FROM sgn UNION ALL
           SELECT doc_id, 2, m4 || m5 FROM sgn UNION ALL
           SELECT doc_id, 3, m6 || m7 FROM sgn),
         bo AS (
           SELECT doc_id, 0 AS band_id, m0 || m1 AS band_key FROM sgo UNION ALL
           SELECT doc_id, 1, m2 || m3 FROM sgo UNION ALL
           SELECT doc_id, 2, m4 || m5 FROM sgo UNION ALL
           SELECT doc_id, 3, m6 || m7 FROM sgo),
         boc AS (
           SELECT bo.* FROM bo JOIN (
             SELECT band_id, band_key FROM bo
             GROUP BY 1, 2 HAVING COUNT(*) <= 10000) ok
           USING (band_id, band_key)),
         cand AS (
           SELECT DISTINCT bn.doc_id AS nid, boc.doc_id AS oid
           FROM bn JOIN boc USING (band_id, band_key)),
         szn AS (SELECT doc_id, COUNT(*) AS szn FROM shn GROUP BY 1),
         szo AS (SELECT doc_id, COUNT(*) AS szo FROM sho GROUP BY 1),
         i AS (
           SELECT c.nid, c.oid, COUNT(*) AS inter
           FROM cand c
           JOIN shn ON shn.doc_id = c.nid
           JOIN sho ON sho.doc_id = c.oid AND sho.shingle = shn.shingle
           GROUP BY 1, 2),
         nearall AS (
           SELECT i.nid, i.oid, i.inter,
                  szn.szn + szo.szo - i.inter AS uni
           FROM i JOIN szn ON szn.doc_id = i.nid
                  JOIN szo ON szo.doc_id = i.oid
           WHERE i.inter * 2 >= (szn.szn + szo.szo - i.inter) * 1),
         best AS (
           SELECT nid, oid,
                  ROUND(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS j,
                  ROW_NUMBER() OVER (PARTITION BY nid
                    ORDER BY ROUND(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6)
                               DESC, oid) AS rn
           FROM nearall),
         near AS (SELECT nid AS doc_id, 'near_dup' AS verdict,
                         oid AS match_id, j AS jaccard
                  FROM best WHERE rn = 1),
         kept AS (
           SELECT doc_id, 'kept' AS verdict,
                  CAST(NULL AS BIGINT) AS match_id,
                  CAST(NULL AS DOUBLE) AS jaccard
           FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM near))
         SELECT doc_id, verdict, match_id, jaccard FROM exact
         UNION ALL SELECT * FROM near
         UNION ALL SELECT * FROM kept
         ORDER BY doc_id""")
}
