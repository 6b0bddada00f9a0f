package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.graph.GraphOps
import graft.sim.Similarity
import graft.text.TextOps

/** Driver-verified queries for the training-data pipeline operators:
  * text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  * embedding similarity search + label transfer, SNN graph, multimodal
  * binary plumbing, and event-stream-shaped windowing/sessionization
  * (batch-verified; the streaming module reuses the same plans).
  */
object TrainingQueries {
  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.t(s, d, "embeddings")

  private[queries] val stopwords = Seq("the", "a", "data", "query")
  private[queries] val langMarkers = Map(
    "en" -> Seq("the", "a", "data", "query"),
    "es" -> Seq("el", "los", "que", "una"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("的", "是", "了", "我"))

  /** The q120/q151 planted sweep universe's word-3-gram shingles: base
    * %20 docs + full copies with a marker (j ~ 0.9) + first-half copies
    * (j ~ 0.5) — materialized once (the signature chain AND the
    * size/intersection consumers all read it).
    */
  private[queries] def sweepDocs(s: SparkSession, d: String) = {
    val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id", "text")
    val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" graft dup marker")).as("text"))
    val halves = docs(s, d).filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), lit(1),
          // integer DIV, not /-then-cast: DuckDB's CAST(x.5 AS INT)
          // rounds while Spark's cast truncates
          expr("(size(split(text, '\\\\s+')) + 1) div 2").cast("int")))
          .as("text"))
    base.unionByName(dups).unionByName(halves)
  }

  private[queries] def sweepShingles(s: SparkSession, d: String) =
    Dedup.shingles(sweepDocs(s, d), 3).localCheckpoint()

  /** Near-dup pipeline input: every 20th document's word-3-gram shingles. */
  private def sh(s: SparkSession, d: String) =
    Dedup.shingles(docs(s, d).filter(col("doc_id") % 20 === 0), 3)

  /** LSH input with planted near-duplicates: the %20 slice plus perturbed
    * copies (3 appended tokens) of the %40 slice, re-keyed to doc_id+1e6.
    * Guarantees the band join has a non-empty expected result at every SF
    * (a check that passes on 0==0 rows proves nothing about band keys).
    */
  private[queries] def plantedSh(s: SparkSession, d: String) = {
    val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id", "text")
    val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" graft dup marker")).as("text"))
    Dedup.shingles(base.unionByName(dups), 3)
  }

  /** q37/q38/q44's shared hit table, produced by the run_mapping facade
    * kernel (Mapping.project — the same step DataStore.runMapping caches
    * as projection:<name>). excludeSelf because the queries here are
    * drawn FROM the corpus; ann=Some(false) pins the exact path the
    * oracle replays (the sampled query side is 1-in-50 — broadcast-
    * small at any SF).
    */
  private def topKHits(s: SparkSession, d: String) = {
    val q = Sample.capped(embs(s, d), "vec_id")
      .select(col("vec_id").as("cell_id"), col("embedding").as("latent"))
    val ref = embs(s, d)
      .select(col("vec_id").as("cell_id"), col("embedding").as("latent"))
    graft.pipeline.Mapping.project(q, ref, 5, ann = Some(false),
        excludeSelf = true, metric = "cosine")
      .select(col("target_id").as("qid"), col("ref_id").as("vec_id"),
        col("cos"), col("rank").as("rn"))
  }

  // exact-truth query-sample cap — see Sample's scaladoc for the
  // min(n/50, QCAP) contract and the cross-engine md5 pick
  private def cappedQuerySample(df: DataFrame, idCol: String): DataFrame =
    Sample.capped(df, idCol)
  private def qsIn(idExpr: String): String = Sample.inSql("v", "vec_id", idExpr)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_token_stats" -> ((s, d) =>
      TextOps.tokenStats(docs(s, d)).orderBy("doc_id")),

    "q31_quality" -> ((s, d) =>
      TextOps.qualityScore(docs(s, d), stopwords).orderBy("doc_id")),

    // multi-signal quality ensembling: q31's signals as GLOBAL percentile
    // ranks (range-partitioned ordinals, no single-partition window) +
    // mean-percentile blend with an exact-integer median keep threshold
    "q141_quality_blend" -> ((s, d) =>
      TextOps.qualityBlend(docs(s, d), stopwords).orderBy("doc_id")),

    "q32_langid" -> ((s, d) =>
      TextOps.langId(docs(s, d), langMarkers).orderBy("doc_id")),

    // language-ID evaluation: confusion matrix of the q32 predictor
    // against the ground-truth lang column — the quality gate a pipeline
    // runs before trusting a classifier to route its corpus
    "q124_langid_confusion" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), col("lang").as("actual"))
        .join(TextOps.langId(docs(s, d), langMarkers)
          .select("doc_id", "predicted"), Seq("doc_id"))
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")),

    "q33_exact_dedup" -> ((s, d) =>
      Dedup.exactDupGroups(docs(s, d)).orderBy("digest")),

    "q34_minhash_lsh" -> ((s, d) =>
      Dedup.lshCandidatePairs(Dedup.minHashSignature(plantedSh(s, d), 8), 8, 2)
        .orderBy("ida", "idb")),

    "q35_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(sh(s, d), 0.01, dfCap = 500)
        .select(col("ida"), col("idb"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("ida", "idb")),

    "q36_simhash" -> ((s, d) =>
      TextOps.simHash16(docs(s, d)).orderBy("doc_id")),

    // near-dup pairs → duplicate GROUPS: distributed connected components
    // (large-star/small-star) over the q34 LSH candidate pairs, plus the
    // deterministic keep-one policy over the planted universe
    "q70_neardup_groups" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id")
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"))
      val pairs = Dedup.lshCandidatePairs(Dedup.minHashSignature(plantedSh(s, d), 8), 8, 2)
      Dedup.nearDupGroups(base.unionByName(dups), pairs).orderBy("doc_id")
    }),

    // leakage-free train/val split: split decided by hashing the
    // near-dup GROUP id so duplicate clusters can never straddle the
    // held-out boundary
    "q127_leakfree_split" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id")
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"))
      val pairs = Dedup.lshCandidatePairs(Dedup.minHashSignature(plantedSh(s, d), 8), 8, 2)
      Dedup.leakFreeSplit(base.unionByName(dups), pairs).orderBy("doc_id")
    }),

    // Gopher-style n-gram repetition signals + keep-flag
    "q71_repetition" -> ((s, d) =>
      TextOps.repetitionStats(docs(s, d)).orderBy("doc_id")),

    // deterministic per-language mixture sampling (hash-gated, no RNG)
    "q72_mix_sample" -> ((s, d) =>
      graft.text.Mix.stratifiedSample(docs(s, d), col("lang"), mixFractions, seed = 7)
        .select("doc_id", "lang", "source").orderBy("doc_id")),

    // concat-and-chunk token packing into 2048-token context windows
    "q73_pack_chunks" -> ((s, d) =>
      graft.text.Mix.packChunks(docs(s, d), 2048).orderBy("doc_id")),

    // benchmark decontamination: train docs sharing any 5-gram with the
    // eval slice (planted exact copies guarantee expected hits at any SF)
    "q74_decontam" -> ((s, d) => {
      val ev = docs(s, d).filter(col("doc_id") % 100 === 0).select("doc_id", "text")
      val tr = docs(s, d).filter(col("doc_id") % 100 =!= 0).select("doc_id", "text")
        .unionByName(ev.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.decontaminate(tr, ev, 5, dfCap = 500).orderBy("doc_id")
    }),

    // exact-substring duplication signals (the relational suffix-window
    // form of Lee et al. 2022): sliding 10-token windows, duplicated iff
    // the hash occurs at >= 2 sites corpus-wide, per-doc interval-union
    // coverage. Planted partial copies (25-token prefix + unique tail)
    // guarantee dup_frac strictly between 0 and 1 at every SF — a pass
    // on all-zero coverage would prove nothing.
    "q79_dup_substrings" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val planted = docs(s, d).filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 25)),
            lit(" planted tail "), col("doc_id").cast("string")).as("text"))
      Dedup.dupWindowStats(base.unionByName(planted), 10).orderBy("doc_id")
    }),

    // corpus composition report: per-(lang, source) + per-lang + grand
    // totals in one pass via ROLLUP grouping sets — the end-of-pipeline
    // reporting query every corpus build emits
    "q78_corpus_rollup" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), col("source"), size(TextOps.tokensCol).as("n_tokens"))
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)),

    // self-trained interpolated trigram-LM perplexity (CCNet-style
    // quality signal; the bigram model remains as TextOps.lmPerplexity)
    "q77_lm_perplexity" -> ((s, d) =>
      TextOps.lmPerplexityTrigram(docs(s, d)).orderBy("doc_id")),

    // full-order 5-gram interpolated LM — the order CCNet's Kneser–Ney
    // model actually runs at; five count aggregations, each order
    // joined per position as numerator context + next-lower denominator
    "q81_lm_5gram" -> ((s, d) =>
      TextOps.lmPerplexity5(docs(s, d)).orderBy("doc_id")),

    // Kneser-Ney smoothing proper: absolute discounting + continuation-
    // count backoff (the smoothing family CCNet's model uses), at the
    // bigram order where the continuation math is direct
    "q82_lm_kneser_ney" -> ((s, d) =>
      TextOps.lmPerplexityKn(docs(s, d)).orderBy("doc_id")),

    // PII scrub: planted emails/phones must be counted and redacted
    // (synthetic docs carry none naturally — a 0==0 pass proves nothing)
    "q76_pii_redact" -> ((s, d) =>
      TextOps.piiRedact(docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact bob@example.com or 555-123-4567 now")))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_id")),

    // the corpus-prep pipeline composed end-to-end: exact dedup (planted
    // copies must vanish) → quality + repetition filters → mixture
    // sample → chunk packing — every stage individually oracled above
    "q75_corpus_prep" -> ((s, d) => {
      val base = docs(s, d)
      val planted = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      graft.text.Mix.prepareCorpus(base.unionByName(planted), stopwords,
        mixFractions, seed = 7, budget = 2048).orderBy("doc_id")
    }),

    "q37_cosine_topk" -> ((s, d) => topKHits(s, d).orderBy("qid", "rn")),

    "q38_label_transfer" -> ((s, d) => {
      val hits = topKHits(s, d).select(col("qid").as("target_id"),
        col("vec_id").as("ref_id"), (lit(1.0) - col("cos")).as("dist"))
      val refLabels = embs(s, d)
        .select(col("vec_id").as("ref_id"), col("label").cast("string").as("label"))
      GraphOps.labelTransfer(hits, refLabels, 0.4).orderBy("target_id")
    }),

    "q39_snn" -> ((s, d) => {
      val edges = Tables.t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0)
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")).distinct()
      GraphOps.snn(edges, 2).orderBy("i", "j")
    }),

    "q40_binary_meta" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          sha2(col("text"), 256).as("digest"))
        .orderBy("doc_id")),

    "q41_event_window" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .groupBy(expr("ts_us div 3600000000").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour_bucket", "event_type")),

    // embedding-cosine near-duplicate pairs: LSH bucket candidates only
    // (never all-pairs), planes sized from n by the PERF.md sizing rule +
    // hot-bucket cap (Similarity.cosineNearDupPairs — the oracle
    // computes the identical plane count from COUNT(*)); planted scaled
    // copies guarantee expected rows
    "q62_cosine_neardup" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val planted = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * 1.5).as("embedding"))
      val all = e.unionByName(planted)
      Similarity.cosineNearDupPairs(all, rounds = 2, minCos = 0.999)
        .orderBy("ida", "idb")
    }),

    // int8 scalar-quantized ANN: LSH bucket candidates scored with
    // code-space cosine — every term an exact small integer in a double,
    // so the score is engine-exact by construction (the memory-
    // compression path a 100 TB ANN index scores candidates through)
    "q80_quantized_knn" -> ((s, d) =>
      Similarity.quantizedSelfTopK(embs(s, d), 5, rounds = 2)
        .orderBy("src", "rn")),

    // SemDeDup (Abbas et al. 2023): embedding-space dedup via
    // cluster-then-dedup — deterministic Lloyd's clusters bound the
    // pair join by cluster size, exact cosine within clusters,
    // CC closure + keep-one; planted scaled copies normalize to
    // bit-identical vectors so they provably co-cluster
    "q83_semdedup" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding").cast("array<double>"), x => x * 1.5)
            .as("embedding"))
      graft.dedup.Dedup.semDeDup(
          e.select(col("vec_id"), col("embedding").cast("array<double>")
            .as("embedding")).unionByName(planted),
          k = 8, iters = 10, seed = 4466L, minCos = 0.999)
        .orderBy("vec_id")
    }),

    // winnowing rolling-hash document fingerprints
    "q64_winnow_fp" -> ((s, d) =>
      TextOps.winnowFingerprints(docs(s, d), k = 5, w = 4).orderBy("doc_id")),

    // BPE-ish regex token counting alongside whitespace tokens
    "q63_bpe_tokens" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          size(split(col("text"), "\\s+")).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"),
            lit(0))).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // scalable ANN self-KNN: LSH buckets + multi-probe + in-bucket exact.
    // Plane count AUTO-SIZES from COUNT(*) (planesFor) — the benched plan
    // is the occupancy-ruled one you'd run at 100×, and the oracle derives
    // the identical count from its own COUNT(*)
    "q57_bucketed_knn" -> ((s, d) => {
      val latent = embs(s, d).select(col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      graft.pipeline.Knn.bucketedSelfKnn(latent, 5, rounds = 6)
        .orderBy("src", "rn")
    }),

    "q42_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(w))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("sum_value"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
        .orderBy("user_id", "session_id")
    }),

    // C4-style passage-level exact dedup: non-overlapping 15-token
    // windows, keep only the corpus-wide first site of each passage.
    // Planted full copies (%50 → +3e6) guarantee fully-duplicated docs
    // (kept_frac 0) at every SF alongside untouched originals
    "q84_passage_dedup" -> ((s, d) => {
      val base = docs(s, d).select("doc_id", "text")
      val copies = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      TextOps.passageDedup(base.unionByName(copies), span = 15)
        .orderBy("doc_id")
    }),

    // deterministic per-language exact-count sampling (salted two-phase
    // top-n — no single-stratum window at scale)
    "q85_stratified_topn" -> ((s, d) =>
      graft.text.Mix.stratifiedTopN(docs(s, d), col("lang"), n = 10, seed = 7)
        .select(col("stratum").as("lang"), col("doc_id"), col("rank"))
        .orderBy("lang", "rank")),

    // per-source cap-and-spillover selection (RefinedWeb/CCNet-style
    // domain quotas): sources src0..src9 thinned to 1/5 mass (source is
    // doc_id % 20, so the thinning key must be doc_id % 100 — a plain
    // % 5 filter would empty 8 sources and leave src0/src5 whole) so
    // the remaining hot sources exceed the 4/5-of-fair-share cap and
    // the freed budget visibly reallocates (kept_spill > 0)
    "q250_source_cap_spillover" -> ((s, d) => {
      val u = docs(s, d).filter(
        expr("CAST(SUBSTRING(source, 4) AS INT) >= 10") ||
          col("doc_id") % 100 < 20)
      graft.text.Mix.sourceCapSpillover(u, col("source"), col("doc_id"),
        col("n_chars"))
    }),

    // per-source TOKEN-budget quota (q250's sibling measured in mass,
    // what RefinedWeb-style curation actually budgets): same thinned
    // universe, whitespace token counts as the weight, admission by
    // cumulative mass under the 4/5-of-fair-share budget with global
    // spillover of the freed mass
    "q251_token_budget_quota" -> ((s, d) => {
      val u = docs(s, d).filter(
          expr("CAST(SUBSTRING(source, 4) AS INT) >= 10") ||
            col("doc_id") % 100 < 20)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("toks"))
      graft.text.Mix.sourceTokenBudget(u, col("source"), col("doc_id"),
        col("toks"))
    }),

    // tokenizer-budget diagnostic: vocab size needed to cover each
    // target fraction of token occurrences
    "q86_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(docs(s, d), Seq(0.5, 0.9, 0.99))
        .orderBy("target")),

    // Zipf rank-frequency OLS fit over the top tokens
    "q87_zipf_fit" -> ((s, d) =>
      TextOps.zipfFit(docs(s, d), topN = 500)),

    // quality-aware canonical selection over near-dup groups: keep the
    // highest-weight copy (planted copies carry +17 chars from the dup
    // marker, so the canonical is the PLANTED copy — exercising a
    // non-trivial, non-min-id election)
    "q88_canonical_docs" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("n_chars").as("weight"))
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          (col("n_chars") + 17).as("weight"))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashSignature(plantedSh(s, d), 8), 8, 2)
      Dedup.canonicalDocs(base.unionByName(dups), pairs).orderBy("doc_id")
    }),

    // ANN recall evaluation: recall@5 of the q57 bucketed ANN against
    // exact ground truth on the 1-in-50 query sample — the index-quality
    // gate, as an oracled query rather than only a spec assertion
    "q125_ann_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val latent = embs(s, d).select(col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      val q = cappedQuerySample(latent, "cell_id")
        .select(col("cell_id").as("src"), col("latent").as("va"))
      // the ANN side shares the SAME capped query set as the exact side
      // (semi-join, the q242 discipline) — past the QCAP the 1-in-50
      // filter alone would still evaluate ~n/50 ANN queries whose
      // results the capped aggregation discards
      val ann = graft.pipeline.Knn.bucketedSelfKnn(latent, 5, rounds = 6)
        .join(q.select("src"), Seq("src"), "left_semi").select("src", "dst")
      val ex = latent.select(col("cell_id").as("dst"), col("latent").as("vb"))
        .crossJoin(broadcast(q)).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          round(graft.sim.Similarity.l2(col("va"), col("vb")), 6).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy(col("dist"), col("dst"))))
        .filter(col("rn") <= 5).select("src", "dst")
      val hits = ex.groupBy("src").agg(count(lit(1)).as("k"))
        .join(ex.join(ann, Seq("src", "dst"), "left_semi")
          .groupBy("src").agg(count(lit(1)).as("h")), Seq("src"), "left")
        .na.fill(0, Seq("h"))
      hits.agg(count(lit(1)).as("n_queries"),
        round(sum(col("h")).cast("double")
          / (lit(5.0) * count(lit(1)).cast("double")), 6).as("recall_mean"),
        sum(when(col("h") === 5, 1).otherwise(0)).as("n_perfect"))
    }),

    // Retrieval-quality metrics over the same oracled ANN chain as
    // q125: MRR@5, NDCG@5 and hit@1 of the bucketed ANN against exact
    // ground truth on the 1-in-50 query sample — the ranking-quality
    // companion to q125's set-overlap recall (recall can't see WHERE
    // in the top-k the true neighbors landed; a retrieval pipeline
    // gates on rank-weighted metrics). Integer-exact cross-engine: the
    // reciprocal ranks are 60/rn (rn ≤ 5 ⇒ exact integers over the
    // rank LCM), the DCG weights are micro-quantized ⌊1e6/log2(i+1)⌉
    // LITERALS identical in both engines (no cross-engine log2), and
    // each metric does ONE final IEEE division before the 6dp round
    "q241_retrieval_metrics" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val latent = embs(s, d).select(col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      val q = cappedQuerySample(latent, "cell_id")
        .select(col("cell_id").as("src"), col("latent").as("va"))
      // ANN side bounded by the same capped query sample as the exact
      // side (see q125) — O(QCAP·k), not O(n/50·k), at any scale
      val ann = graft.pipeline.Knn.bucketedSelfKnn(latent, 5, rounds = 6)
        .join(q.select("src"), Seq("src"), "left_semi")
        .select("src", "dst", "rn")
      val ex = latent.select(col("cell_id").as("dst"), col("latent").as("vb"))
        .crossJoin(broadcast(q)).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          round(graft.sim.Similarity.l2(col("va"), col("vb")), 6).as("dist"))
        .withColumn("ern", row_number().over(
          Window.partitionBy("src").orderBy(col("dist"), col("dst"))))
        .filter(col("ern") <= 5).select("src", "dst")
      // ANN hits that are true top-5 neighbors, keeping the ANN rank
      val rel = ann.join(ex, Seq("src", "dst"), "left_semi")
      val rrOf = array(Seq(60L, 30L, 20L, 15L, 12L).map(lit): _*)
      val wOf = array(Seq(1000000L, 630930L, 500000L, 430677L, 386853L).map(lit): _*)
      val per = q.select("src").distinct()
        .join(rel.groupBy("src").agg(
          min(col("rn")).as("_fh"),
          sum(element_at(wOf, col("rn").cast("int"))).as("_dcg"),
          max(when(col("rn") === 1, 1L).otherwise(0L)).as("_h1")),
          Seq("src"), "left")
        .select(
          coalesce(element_at(rrOf, col("_fh").cast("int")), lit(0L)).as("rr"),
          coalesce(col("_dcg"), lit(0L)).as("dcg"),
          coalesce(col("_h1"), lit(0L)).as("h1"))
      per.agg(count(lit(1)).as("n_queries"),
        round(sum(col("rr")).cast("double")
          / (lit(60.0) * count(lit(1)).cast("double")), 6).as("mrr"),
        round(sum(col("dcg")).cast("double")
          / (lit(2948460.0) * count(lit(1)).cast("double")), 6).as("ndcg"),
        sum(col("h1")).as("n_hit_at_1"))
    }),

    // Maximal Marginal Relevance re-ranking (Carbonell 1998) of each
    // capped-sample query's exact cosine top-10, λ = 7/10, select 5 —
    // the diversity-vs-relevance pass between retrieval and the
    // context window. Integer micro relevances/similarities, integer
    // step scores (7·rel − 3·maxsim), one final division — the greedy
    // pick order replays engine-exactly through 5 unrolled oracle
    // stages (the q154 BPE discipline)
    "q245_mmr_rerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vecs = embs(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val q = Sample.capped(vecs, "vec_id")
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cand = vecs.select(col("vec_id").as("dst"), col("v").as("cv"))
        .crossJoin(broadcast(q)).filter(col("qid") =!= col("dst"))
        .select(col("qid"), col("dst"), col("cv"),
          round(graft.sim.Similarity.cosine(col("qv"), col("cv")), 6)
            .as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("dst"))))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("dst"),
          round(col("cos") * 1e6, 0).cast("long").as("rel"), col("cv"))
        .localCheckpoint()
      val sims = cand.select(col("qid"), col("dst").as("a"), col("cv").as("va"))
        .join(cand.select(col("qid"), col("dst").as("b"), col("cv").as("vb")),
          Seq("qid"))
        .filter(col("a") =!= col("b"))
        .select(col("qid"), col("a"), col("b"),
          round(round(graft.sim.Similarity.cosine(col("va"), col("vb")), 6)
            * 1e6, 0).cast("long").as("sim"))
      // the report stays on the INTEGER λ-scaled micros (unit 1e-7):
      // step scores can end in ...5 at the 6 dp boundary, where the
      // engines' double-rounding conventions differ — so no division
      graft.sim.Similarity.mmrRerank(cand.select("qid", "dst", "rel"),
          sims, 7, 10, 5)
        .select(col("qid"), col("rn"), col("dst"),
          col("score").as("mmr_micro"))
        .orderBy("qid", "rn")
    }),

    // DSIR data selection (Xie 2023): hashed-bigram importance weights
    // of every document against the English-target multinomial, with
    // the deterministic top-1/5 cut — the published
    // importance-resampling shape (hashed n-gram features, Laplace-
    // smoothed target/raw ratio) as an oracled per-doc report;
    // micro-nat integer weights, md5 string buckets, two-pass ordinal
    // rank (see Mix.dsirWeights)
    "q243_dsir_select" -> ((s, d) =>
      graft.text.Mix.dsirWeights(docs(s, d), col("lang") === "en", 1, 5)
        .orderBy("doc_id")),

    // Dimension-ablation report: exact top-5 recall of TRUNCATED
    // embedding prefixes (first 8/16/32 dims) against the full-dim
    // exact top-5 on the 1-in-50 query sample — the index-sizing gate
    // run before shipping a reduced-dim or matryoshka-truncated index
    // (expected MODERATE on this table: the synthetic embeddings are
    // near-uniform, so no prefix carries concentrated variance — which
    // is exactly what the report exists to surface, the q144 PQ-recall
    // discipline). All exact arithmetic, both sides of the comparison
    // replay engine-identically (no ANN randomness in this one)
    "q242_dim_ablation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vecs = embs(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      def topk(dims: Int): DataFrame = {
        val proj = if (dims == 0) col("v") else slice(col("v"), 1, dims)
        val side = vecs.select(col("vec_id"), proj.as("p"))
        val q = cappedQuerySample(side, "vec_id")
          .select(col("vec_id").as("src"), col("p").as("pa"))
        side.select(col("vec_id").as("dst"), col("p").as("pb"))
          .crossJoin(broadcast(q)).filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            round(graft.sim.Similarity.l2(col("pa"), col("pb")), 6).as("dist"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("src").orderBy(col("dist"), col("dst"))))
          .filter(col("rn") <= 5).select("src", "dst")
      }
      val full = topk(0).localCheckpoint()
      Seq(8, 16, 32).map { dims =>
        val hits = full.groupBy("src").agg(count(lit(1)).as("k"))
          .join(full.join(topk(dims), Seq("src", "dst"), "left_semi")
            .groupBy("src").agg(count(lit(1)).as("h")), Seq("src"), "left")
          .na.fill(0, Seq("h"))
        hits.agg(count(lit(1)).as("n_queries"),
          round(sum(col("h")).cast("double")
            / (lit(5.0) * count(lit(1)).cast("double")), 6).as("recall_mean"),
          sum(when(col("h") === 5, 1L).otherwise(0L)).as("n_perfect"))
          .select(lit(dims).as("dims"), col("n_queries"),
            col("recall_mean"), col("n_perfect"))
      }.reduce(_.unionByName(_)).orderBy("dims")
    }),

    // LSH threshold-tuning curve: exact-Jaccard histogram over candidate
    // pairs from a universe planted with full copies (j≈0.9) AND
    // half-document copies (j≈0.5), so the curve spans high and middle
    // bands; banding is integer DIV so the cut has no float knife edge
    "q120_jaccard_sweep" -> ((s, d) => {
      val sweepSh = sweepShingles(s, d)
      Dedup.jaccardSweep(sweepSh,
          Dedup.lshCandidatePairs(Dedup.minHashSignature(sweepSh, 8), 8, 2))
        .orderBy("band")
    }),

    // CCNet-style per-language perplexity terciles (head/middle/tail)
    // by exact integer rank — no interpolated-cutoff knife edge
    "q90_ccnet_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(docs(s, d)).orderBy("doc_id")),

    // OOV-ratio quality gate against the top-30 corpus vocabulary
    "q91_oov_filter" -> ((s, d) =>
      TextOps.oovStats(docs(s, d), vocabSize = 30, maxOov = 0.2)
        .orderBy("doc_id")),

    // overlapping sliding-window chunking (RAG layout): width 20,
    // stride 10, per-chunk token span + content digest
    "q92_chunk_overlap" -> ((s, d) =>
      graft.text.Mix.chunkOverlap(
          docs(s, d).filter(col("doc_id") % 10 === 0), width = 20, stride = 10)
        .orderBy("doc_id", "chunk_id")),

    // per-language TF-IDF top terms (salted two-phase top-n)
    "q93_tfidf_terms" -> ((s, d) =>
      TextOps.tfidfTopTerms(docs(s, d), col("lang"), n = 5)
        .select(col("grp").as("lang"), col("term"), col("tf"), col("df"),
          col("score"), col("rank"))
        .orderBy("lang", "rank")),

    // typed JSON metadata extraction + per-type aggregation (the
    // metadata-filtering shape of crawl pipelines); from_json is a
    // codegen'd map-side projection
    "q89_props_json" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("k",
        get_json_object(col("props"), "$.k").cast("int"))
      ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          round(avg(col("k")), 6).as("avg_k"),
          max(col("k")).as("max_k"),
          countDistinct(when(col("k") > 50, col("user_id"))).as("n_users_hi"))
        .orderBy("event_type")
    }))

  private val shSql =
    """sh AS (
         SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
         FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
               FROM documents WHERE doc_id % 20 = 0) t,
              LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i))"""

  /** Mixture weights for q72 — per-language keep fractions. */
  private val mixFractions = Map(
    "en" -> 0.8, "es" -> 0.5, "de" -> 0.5, "fr" -> 0.25, "zh" -> 0.1)

  /** Shared CTE chain for the planted-near-dup LSH pipeline: planted docs →
    * 3-gram shingles → 8-hash MinHash signature → 4 bands × 2 rows →
    * candidate pairs. Used by q34 (pairs) and q70 (connected groups).
    */
  /** The q120/q151 planted-sweep oracle chain ending in `pairs` (with
    * `psh` and `sig` exposed) — the full+half-copy universe whose exact
    * Jaccard spans both the ~0.9 and ~0.5 bands.
    */
  private[queries] val sweepChainSql =
    """spl AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000, text || ' graft dup marker'
           FROM documents WHERE doc_id % 40 = 0
           UNION ALL
           SELECT doc_id + 2000000,
                  ARRAY_TO_STRING(w[1:(LEN(w) + 1) // 2], ' ')
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents WHERE doc_id % 20 = 0) t),
         psh AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM spl) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         sig AS (
           SELECT doc_id,
                  MIN(MD5('0:' || shingle)) AS m0, MIN(MD5('1:' || shingle)) AS m1,
                  MIN(MD5('2:' || shingle)) AS m2, MIN(MD5('3:' || shingle)) AS m3,
                  MIN(MD5('4:' || shingle)) AS m4, MIN(MD5('5:' || shingle)) AS m5,
                  MIN(MD5('6:' || shingle)) AS m6, MIN(MD5('7:' || shingle)) AS m7
           FROM psh GROUP BY doc_id),
         bl AS (
           SELECT doc_id, 0 AS band_id, m0 || m1 AS band_key FROM sig UNION ALL
           SELECT doc_id, 1, m2 || m3 FROM sig UNION ALL
           SELECT doc_id, 2, m4 || m5 FROM sig UNION ALL
           SELECT doc_id, 3, m6 || m7 FROM sig),
         blc AS (
           SELECT bl.* FROM bl JOIN (
             SELECT band_id, band_key FROM bl
             GROUP BY band_id, band_key HAVING COUNT(*) <= 10000) ok
           USING (band_id, band_key)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           FROM blc a JOIN blc b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id)"""

  private[queries] val lshPairsSql =
    s"""planted AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' graft dup marker' AS text
           FROM documents WHERE doc_id % 40 = 0),
         psh AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
                 FROM planted) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         sig AS (
           SELECT doc_id,
                  MIN(MD5('0:' || shingle)) AS m0, MIN(MD5('1:' || shingle)) AS m1,
                  MIN(MD5('2:' || shingle)) AS m2, MIN(MD5('3:' || shingle)) AS m3,
                  MIN(MD5('4:' || shingle)) AS m4, MIN(MD5('5:' || shingle)) AS m5,
                  MIN(MD5('6:' || shingle)) AS m6, MIN(MD5('7:' || shingle)) AS m7
           FROM psh GROUP BY doc_id),
         bl AS (
           SELECT doc_id, 0 AS band_id, m0 || m1 AS band_key FROM sig UNION ALL
           SELECT doc_id, 1, m2 || m3 FROM sig UNION ALL
           SELECT doc_id, 2, m4 || m5 FROM sig UNION ALL
           SELECT doc_id, 3, m6 || m7 FROM sig),
         blc AS (
           SELECT bl.* FROM bl JOIN (
             SELECT band_id, band_key FROM bl
             GROUP BY band_id, band_key HAVING COUNT(*) <= 10000) ok
           USING (band_id, band_key)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           FROM blc a JOIN blc b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id)"""

  private val topkSql =
    """q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
             WHERE """ + Sample.inSql("embeddings", "vec_id", "vec_id") + """),
       c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
       p AS (SELECT q.qid, c.vec_id,
               LIST_DOT_PRODUCT(qv, cv)
                 / (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) AS cos
             FROM q CROSS JOIN c WHERE q.qid != c.vec_id),
       topk AS (
         SELECT qid, vec_id, ROUND(cos, 6) AS cos,
                CAST(ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY ROUND(cos, 6) DESC, vec_id) AS INT) AS rn
         FROM p)"""

  /** q57's full bucketed-ANN replay chain (auto-sized planes, 6 seeded
    * rounds, Hamming-1 multi-probe, in-bucket exact distances) ending
    * in `topk` — shared by q57 (the graph itself) and q125 (recall
    * evaluation against exact ground truth).
    */
  private[queries] def annChainSqlFor(rel: String): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $rel),
         params AS (
           SELECT GREATEST(4, CAST(CEIL(LOG2(CAST(CEIL(COUNT(*) / 128.0) AS BIGINT))) AS INT)) AS np
           FROM v),
         dims AS (SELECT MAX(LEN(e)) AS nd FROM v),
         signs AS (
           SELECT s.seed, p.h,
                  LIST(CASE WHEN SUBSTRING(MD5(CONCAT(s.seed, ':', p.h, ':', j.j)), 1, 1)
                            BETWEEN '8' AND 'f' THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j.j) AS sv
           FROM (SELECT UNNEST(RANGE(0, 6)) AS seed) s
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT np FROM params))) AS h) p
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT nd FROM dims))) AS j) j
           GROUP BY s.seed, p.h),
         buck AS (
           SELECT g.seed, v.vec_id,
                  CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(v.e, g.sv) > 0
                                THEN (1::BIGINT << g.h) ELSE 0 END) AS BIGINT) AS bucket
           FROM v CROSS JOIN signs g
           GROUP BY g.seed, v.vec_id),
         probes AS (
           SELECT seed, vec_id,
                  UNNEST(LIST_PREPEND(bucket,
                    LIST_TRANSFORM(RANGE(0, (SELECT np FROM params)),
                      h -> xor(bucket, 1::BIGINT << h)))) AS probe
           FROM buck),
         cand AS (
           SELECT DISTINCT p.vec_id AS src, b.vec_id AS dst
           FROM probes p JOIN buck b ON p.seed = b.seed AND p.probe = b.bucket
           WHERE p.vec_id != b.vec_id),
         d AS (
           SELECT c.src, c.dst,
                  SQRT(GREATEST(LIST_DOT_PRODUCT(va.e, va.e)
                    - 2 * LIST_DOT_PRODUCT(va.e, vb.e)
                    + LIST_DOT_PRODUCT(vb.e, vb.e), 0)) AS dist
           FROM cand c
           JOIN v va ON c.src = va.vec_id
           JOIN v vb ON c.dst = vb.vec_id),
         topk AS (
           SELECT src, dst, ROUND(dist, 6) AS dist,
                  CAST(ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY ROUND(dist, 6), dst) AS INT) AS rn
           FROM d)"""

  private[queries] val annChainSql = annChainSqlFor("embeddings")

  private[queries] def langFilterSql(words: Seq[String]): String =
    words.map(w => s"x = '$w'").mkString(" OR ")

  /** q83's DuckDB replay: the q69-style deterministic-Lloyd chain
    * (md5-ranked sample → distinct-by-vector md5-ordered init →
    * `iters` assign/update rounds with 9 dp-rounded means) on
    * NORMALIZED embeddings, then all-vector assignment, in-cluster
    * cosine pairs, and the q70-style recursive min-label closure.
    */
  private def q83OracleSql: String = {
    val k = 8; val iters = 10; val seed = 4466L
    // dim pinned to the actual 64-dim embeddings (found during q143's PQ
    // work: the earlier 128 still PASSED because DuckDB's list_sum
    // ignores the NULL out-of-range terms — same value, sloppier SQL)
    val trainN = 10000; val dim = 64; val clusterCap = 10000
    val rd = s"range(1, ${dim + 1})"
    def d2(a: String, c: String) =
      s"list_sum(list_transform($rd, i -> ($a[i] - $c[i]) * ($a[i] - $c[i])))"
    val its = (1 to iters).map { t =>
      s"""
  asg_$t AS MATERIALIZED (
    SELECT cell_id, cid FROM (
      SELECT s.cell_id, kk.cid,
             ROW_NUMBER() OVER (PARTITION BY s.cell_id
               ORDER BY ${d2("s.p", "kk.c")}, kk.cid) AS rn
      FROM samp s CROSS JOIN cent_${t - 1} kk) WHERE rn = 1),
  cent_$t AS MATERIALIZED (
    SELECT pp.cid, COALESCE(m.c, pp.c) AS c
    FROM cent_${t - 1} pp LEFT JOIN (
      SELECT cid, LIST(m ORDER BY pos) AS c FROM (
        SELECT a.cid, u.pos, ROUND(AVG(u.x), 9) AS m
        FROM asg_$t a JOIN vex u ON a.cell_id = u.cell_id
        GROUP BY a.cid, u.pos)
      GROUP BY cid) m ON pp.cid = m.cid)"""
    }.mkString(",")
    s"""WITH RECURSIVE base AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS p0 FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, LIST_TRANSFORM(embedding::DOUBLE[], x -> x * 1.5)
    FROM embeddings WHERE vec_id % 25 = 0),
  v AS MATERIALIZED (
    SELECT vec_id AS cell_id,
           LIST_TRANSFORM(p0, x -> x / GREATEST(SQRT(LIST_DOT_PRODUCT(p0, p0)), 1e-300)) AS p
    FROM base),
  vex AS MATERIALIZED (
    SELECT cell_id, GENERATE_SUBSCRIPTS(p, 1) AS pos, UNNEST(p) AS x FROM v),
  samp AS MATERIALIZED (
    SELECT cell_id, p FROM (
      SELECT v.*, MD5('$seed:' || cell_id) AS hs FROM v)
    ORDER BY hs, cell_id LIMIT $trainN),
  init AS MATERIALIZED (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY hsh, cell_id) AS INT) AS cid, p AS c
    FROM (SELECT * FROM (
            SELECT s.*, MD5('$seed:' || cell_id) AS hsh,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY MD5('$seed:' || cell_id), cell_id) AS rv
            FROM samp s) WHERE rv = 1)
    ORDER BY hsh, cell_id LIMIT $k),
  cent_0 AS MATERIALIZED (SELECT cid, c FROM init),$its,
  asgall AS MATERIALIZED (
    SELECT cell_id, cid AS cl FROM (
      SELECT v.cell_id, kk.cid,
             ROW_NUMBER() OVER (PARTITION BY v.cell_id
               ORDER BY ${d2("v.p", "kk.c")}, kk.cid) AS rn
      FROM v CROSS JOIN cent_$iters kk) WHERE rn = 1),
  sp AS MATERIALIZED (
    SELECT cell_id, cl,
           (ROW_NUMBER() OVER (PARTITION BY cl
              ORDER BY MD5('split:' || cell_id), cell_id) - 1) // $clusterCap AS sub
    FROM asgall),
  prs AS MATERIALIZED (
    SELECT a.cell_id AS ida, b.cell_id AS idb
    FROM sp a JOIN sp b ON a.cl = b.cl AND a.sub = b.sub AND a.cell_id < b.cell_id
    JOIN v va ON a.cell_id = va.cell_id
    JOIN v vb ON b.cell_id = vb.cell_id
    WHERE ROUND(LIST_DOT_PRODUCT(va.p, vb.p)
      / (SQRT(LIST_DOT_PRODUCT(va.p, va.p))
         * SQRT(LIST_DOT_PRODUCT(vb.p, vb.p))), 6) >= 0.999),
  uni AS (SELECT vec_id FROM base),
  eg AS (SELECT ida AS s, idb AS t FROM prs
         UNION ALL SELECT idb, ida FROM prs),
  reach AS (
    SELECT vec_id AS node, vec_id AS lbl FROM uni
    UNION
    SELECT eg.t, r.lbl FROM reach r JOIN eg ON eg.s = r.node),
  comp AS (SELECT node AS vec_id, MIN(lbl) AS group_id
           FROM reach GROUP BY node),
  szs AS (SELECT group_id, COUNT(*) AS n_docs FROM comp GROUP BY group_id)
  SELECT c.vec_id AS vec_id, c.group_id AS group_id, z.n_docs AS n_docs,
         c.vec_id = c.group_id AS keep
  FROM comp c JOIN szs z USING (group_id) ORDER BY c.vec_id"""
  }

  /** q245's replay: exact cosine top-10 per capped-sample query, then
    * the 5 greedy MMR selection steps unrolled as CTE stages — each
    * step joins the remaining candidates against the selected set,
    * integer-scores 7·rel − 3·max(sim), and picks by (score desc, dst).
    */
  private def q245OracleSql: String = {
    def cos(a: String, b: String) =
      s"LIST_DOT_PRODUCT($a, $b) / (SQRT(LIST_DOT_PRODUCT($a, $a))" +
        s" * SQRT(LIST_DOT_PRODUCT($b, $b)))"
    val steps = (2 to 5).map { i =>
      s""",
  sc_$i AS (
    SELECT r.qid, r.dst, r.rel,
           7 * r.rel - 3 * MAX(sm.sim) AS score
    FROM rem_${i - 1} r
    JOIN sel_all_${i - 1} s ON s.qid = r.qid
    JOIN sims sm ON sm.qid = r.qid AND sm.ca = r.dst AND sm.cb = s.dst
    GROUP BY r.qid, r.dst, r.rel),
  sel_$i AS (
    SELECT qid, dst, score, $i AS rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY score DESC, dst) AS rr FROM sc_$i)
    WHERE rr = 1),
  sel_all_$i AS (
    SELECT qid, dst FROM sel_all_${i - 1}
    UNION ALL SELECT qid, dst FROM sel_$i),
  rem_$i AS (
    SELECT r.* FROM rem_${i - 1} r
    LEFT JOIN sel_$i s ON s.qid = r.qid AND s.dst = r.dst
    WHERE s.dst IS NULL)"""
    }.mkString
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
  p AS (
    SELECT q.vec_id AS qid, c.vec_id AS dst,
           ROUND(${cos("q.e", "c.e")}, 6) AS cos
    FROM v q CROSS JOIN v c
    WHERE ${qsIn("q.vec_id")} AND q.vec_id != c.vec_id),
  cand AS MATERIALIZED (
    SELECT qid, dst, CAST(ROUND(cos * 1000000) AS BIGINT) AS rel FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY cos DESC, dst) AS rn FROM p)
    WHERE rn <= 10),
  sims AS MATERIALIZED (
    SELECT ca.qid, ca.dst AS ca, cb.dst AS cb,
           CAST(ROUND(ROUND(${cos("va.e", "vb.e")}, 6) * 1000000) AS BIGINT)
             AS sim
    FROM cand ca JOIN cand cb ON ca.qid = cb.qid AND ca.dst != cb.dst
    JOIN v va ON va.vec_id = ca.dst
    JOIN v vb ON vb.vec_id = cb.dst),
  sel_1 AS (
    SELECT qid, dst, 7 * rel AS score, 1 AS rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY 7 * rel DESC, dst) AS rr FROM cand)
    WHERE rr = 1),
  sel_all_1 AS (SELECT qid, dst FROM sel_1),
  rem_1 AS (
    SELECT c.* FROM cand c
    LEFT JOIN sel_1 s ON s.qid = c.qid AND s.dst = c.dst
    WHERE s.dst IS NULL)$steps,
  outp AS (SELECT qid, rn, dst, score FROM sel_1
    ${(2 to 5).map(i =>
      s"UNION ALL SELECT qid, rn, dst, score FROM sel_$i")
      .mkString("\n    ")})
  SELECT qid, CAST(rn AS INT) AS rn, dst,
         CAST(score AS BIGINT) AS mmr_micro
  FROM outp ORDER BY qid, rn"""
  }

  val oracle: Map[String, String] = Map(
    "q83_semdedup" -> q83OracleSql,

    "q245_mmr_rerank" -> q245OracleSql,

    "q125_ann_recall" ->
      s"""WITH $annChainSql,
         annk AS (SELECT src, dst FROM topk WHERE rn <= 5 AND src % 50 = 0),
         exd AS (
           SELECT q.vec_id AS src, c.vec_id AS dst,
                  ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.e, q.e)
                    - 2 * LIST_DOT_PRODUCT(q.e, c.e)
                    + LIST_DOT_PRODUCT(c.e, c.e), 0)), 6) AS dist
           FROM v q CROSS JOIN v c
           WHERE ${qsIn("q.vec_id")} AND q.vec_id != c.vec_id),
         exk AS (
           SELECT src, dst FROM (
             SELECT src, dst,
                    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
             FROM exd)
           WHERE rn <= 5),
         hits AS (
           SELECT e.src, COUNT(a.dst) AS h
           FROM exk e LEFT JOIN annk a ON a.src = e.src AND a.dst = e.dst
           GROUP BY e.src)
         SELECT COUNT(*) AS n_queries,
                ROUND(CAST(SUM(h) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
                  AS recall_mean,
                CAST(SUM(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
         FROM hits""",

    "q243_dsir_select" ->
      s"""WITH base AS (
           SELECT doc_id, lang = 'en' AS is_t,
                  REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
           FROM documents),
         bg AS (
           SELECT doc_id, is_t,
                  SUBSTRING(MD5(UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                    i -> w[i] || ' ' || w[i + 1]))), 1, 3) AS b
           FROM base WHERE LEN(w) >= 2),
         raw AS (SELECT b, COUNT(*) AS cr FROM bg GROUP BY b),
         tgt AS (SELECT b, COUNT(*) AS ct FROM bg WHERE is_t GROUP BY b),
         sc AS (
           SELECT r.b,
                  CAST(ROUND(LN(COALESCE(t.ct, 0) + 1) * 1000000) AS BIGINT)
                  - CAST(ROUND(LN(r.cr + 1) * 1000000) AS BIGINT) AS s
           FROM raw r LEFT JOIN tgt t ON t.b = r.b),
         tot AS (
           SELECT COUNT(*) + 4096 AS nr,
                  SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 4096 AS nt
           FROM bg),
         pd AS (
           SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                  CAST(SUM(sc.s) AS BIGINT) AS sb
           FROM bg JOIN sc ON sc.b = bg.b GROUP BY bg.doc_id),
         wt AS (
           SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
                  CAST(COALESCE(pd.sb, 0) + COALESCE(pd.n_bigrams, 0) *
                    (CAST(ROUND(LN(tot.nr) * 1000000) AS BIGINT)
                     - CAST(ROUND(LN(tot.nt) * 1000000) AS BIGINT))
                    AS BIGINT) AS w_micro
           FROM documents d
           LEFT JOIN pd ON pd.doc_id = d.doc_id
           CROSS JOIN tot),
         rk AS (
           SELECT doc_id, n_bigrams, w_micro,
                  ROW_NUMBER() OVER (ORDER BY w_micro DESC, doc_id) AS pos,
                  COUNT(*) OVER () AS n
           FROM wt)
         SELECT doc_id, n_bigrams, w_micro, pos <= n * 1 // 5 AS selected
         FROM rk ORDER BY doc_id""",

    "q242_dim_ablation" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         dd AS (SELECT UNNEST([8, 16, 32]) AS dims),
         pr AS (
           SELECT d.dims, v.vec_id, v.e[1:d.dims] AS p
           FROM v CROSS JOIN dd d),
         exd AS (
           SELECT 0 AS dims, q.vec_id AS src, c.vec_id AS dst,
                  ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.e, q.e)
                    - 2 * LIST_DOT_PRODUCT(q.e, c.e)
                    + LIST_DOT_PRODUCT(c.e, c.e), 0)), 6) AS dist
           FROM v q CROSS JOIN v c
           WHERE ${qsIn("q.vec_id")} AND q.vec_id != c.vec_id
           UNION ALL
           SELECT q.dims, q.vec_id AS src, c.vec_id AS dst,
                  ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
                    - 2 * LIST_DOT_PRODUCT(q.p, c.p)
                    + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
           FROM pr q JOIN pr c ON q.dims = c.dims AND q.vec_id != c.vec_id
           WHERE ${qsIn("q.vec_id")}),
         tk AS (
           SELECT dims, src, dst FROM (
             SELECT dims, src, dst,
                    ROW_NUMBER() OVER (PARTITION BY dims, src
                      ORDER BY dist, dst) AS rn
             FROM exd)
           WHERE rn <= 5),
         hits AS (
           SELECT d.dims, f.src,
                  COUNT(t.dst) AS h
           FROM (SELECT DISTINCT dims FROM tk WHERE dims > 0) d
           CROSS JOIN (SELECT src, dst FROM tk WHERE dims = 0) f
           LEFT JOIN tk t ON t.dims = d.dims AND t.src = f.src AND t.dst = f.dst
           GROUP BY d.dims, f.src)
         SELECT dims, COUNT(*) AS n_queries,
                ROUND(CAST(SUM(h) AS DOUBLE)
                  / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS recall_mean,
                CAST(SUM(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
         FROM hits GROUP BY dims ORDER BY dims""",

    "q241_retrieval_metrics" ->
      s"""WITH $annChainSql,
         annk AS (SELECT src, dst, rn FROM topk WHERE rn <= 5 AND src % 50 = 0),
         exd AS (
           SELECT q.vec_id AS src, c.vec_id AS dst,
                  ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.e, q.e)
                    - 2 * LIST_DOT_PRODUCT(q.e, c.e)
                    + LIST_DOT_PRODUCT(c.e, c.e), 0)), 6) AS dist
           FROM v q CROSS JOIN v c
           WHERE ${qsIn("q.vec_id")} AND q.vec_id != c.vec_id),
         exk AS (
           SELECT src, dst FROM (
             SELECT src, dst,
                    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
             FROM exd)
           WHERE rn <= 5),
         rel AS (
           SELECT a.src, a.rn FROM annk a
           JOIN exk e ON e.src = a.src AND e.dst = a.dst),
         per AS (
           SELECT q.src,
                  COALESCE(MIN(r.rn), 0) AS fh,
                  COALESCE(SUM(CASE r.rn WHEN 1 THEN 1000000 WHEN 2 THEN 630930
                    WHEN 3 THEN 500000 WHEN 4 THEN 430677 WHEN 5 THEN 386853 END), 0) AS dcg,
                  COALESCE(MAX(CASE WHEN r.rn = 1 THEN 1 ELSE 0 END), 0) AS h1
           FROM (SELECT DISTINCT src FROM exk) q
           LEFT JOIN rel r ON r.src = q.src
           GROUP BY q.src)
         SELECT COUNT(*) AS n_queries,
                ROUND(CAST(SUM(CASE WHEN fh > 0 THEN 60 // fh ELSE 0 END) AS DOUBLE)
                  / (60.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS mrr,
                ROUND(CAST(SUM(dcg) AS DOUBLE)
                  / (2948460.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS ndcg,
                CAST(SUM(h1) AS BIGINT) AS n_hit_at_1
         FROM per""",

    "q120_jaccard_sweep" ->
      s"""WITH $sweepChainSql,
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM psh GROUP BY 1),
         i AS (
           SELECT p.ida, p.idb, COUNT(*) AS inter
           FROM pairs p
           JOIN psh a ON a.doc_id = p.ida
           JOIN psh b ON b.doc_id = p.idb AND b.shingle = a.shingle
           GROUP BY 1, 2),
         j AS (
           SELECT i.inter, sa.sz + sb.sz - i.inter AS uni
           FROM i JOIN sz sa ON sa.doc_id = i.ida
                  JOIN sz sb ON sb.doc_id = i.idb),
         h AS (
           SELECT CAST(LEAST(inter * 10 // uni, 9) AS INT) AS band,
                  COUNT(*) AS n_pairs
           FROM j GROUP BY 1)
         SELECT band, ROUND(CAST(band AS DOUBLE) / 10, 6) AS band_lo, n_pairs
         FROM h ORDER BY band""",
    "q30_token_stats" ->
      """SELECT doc_id, CAST(LENGTH(text) AS INT) AS n_chars,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS INT) AS n_tokens,
           ROUND(LENGTH(text) / CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS DOUBLE), 6)
             AS chars_per_token
         FROM documents ORDER BY doc_id""",

    "q31_quality" ->
      s"""WITH t AS (
           SELECT doc_id, LENGTH(text) AS nc,
                  REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         m AS (
           SELECT doc_id, nc,
                  CAST(LEN(toks) AS DOUBLE) AS nt,
                  CAST(LEN(LIST_FILTER(toks, x -> ${langFilterSql(stopwords)})) AS DOUBLE) AS sh,
                  CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) AS nd
           FROM t)
         SELECT doc_id,
                ROUND(sh / nt, 6) AS stop_ratio,
                ROUND(nd / nt, 6) AS distinct_ratio,
                ROUND((nc - (nt - 1)) / nt, 6) AS mean_token_len,
                (nt >= 20 AND nt <= 2000 AND sh / nt >= 0.01 AND nd / nt >= 0.1) AS keep
         FROM m ORDER BY doc_id""",

    "q141_quality_blend" ->
      s"""WITH t AS (
           SELECT doc_id, LENGTH(text) AS nc,
                  REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
                  ROUND(CAST(LEN(LIST_FILTER(toks, x -> ${langFilterSql(stopwords)})) AS DOUBLE)
                        / CAST(LEN(toks) AS DOUBLE), 6) AS stop_ratio,
                  ROUND(CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE)
                        / CAST(LEN(toks) AS DOUBLE), 6) AS distinct_ratio,
                  CAST(LEN(toks) AS BIGINT) AS n_tokens
           FROM t),
         r AS (
           SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY stop_ratio, doc_id) AS r_stop,
                  ROW_NUMBER() OVER (ORDER BY distinct_ratio, doc_id) AS r_distinct,
                  ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS r_tokens
           FROM m),
         nn AS (SELECT COUNT(*) AS n FROM m)
         SELECT doc_id, r_stop, r_distinct, r_tokens,
                ROUND(CAST(r_stop + r_distinct + r_tokens AS DOUBLE)
                      / (3.0 * CAST(nn.n AS DOUBLE)), 6) AS blend,
                (r_stop + r_distinct + r_tokens) * 2 >= (nn.n + 1) * 3 AS keep
         FROM r CROSS JOIN nn ORDER BY doc_id""",

    "q32_langid" -> {
      val langs = langMarkers.keys.toSeq.sorted
      val scoreCols = langs.map(l =>
        s"CAST(LEN(LIST_FILTER(toks, x -> ${langFilterSql(langMarkers(l))})) AS INT) AS score_$l")
        .mkString(",\n                  ")
      s"""WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         sc AS (
           SELECT doc_id,
                  $scoreCols
           FROM t),
         ex AS (
           SELECT doc_id,
                  UNNEST([${langs.map(l => s"'$l'").mkString(", ")}]) AS l,
                  UNNEST([${langs.map(l => s"score_$l").mkString(", ")}]) AS s
           FROM sc),
         best AS (
           SELECT doc_id, l,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, l) AS rn
           FROM ex)
         SELECT sc.doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
                b.l AS predicted
         FROM sc JOIN best b ON sc.doc_id = b.doc_id AND b.rn = 1
         ORDER BY sc.doc_id"""
    },

    "q124_langid_confusion" -> {
      val langs = langMarkers.keys.toSeq.sorted
      val scoreCols = langs.map(l =>
        s"CAST(LEN(LIST_FILTER(toks, x -> ${langFilterSql(langMarkers(l))})) AS INT) AS score_$l")
        .mkString(",\n                  ")
      s"""WITH t AS (
           SELECT doc_id, lang, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, lang,
                  $scoreCols
           FROM t),
         ex AS (
           SELECT doc_id, lang,
                  UNNEST([${langs.map(l => s"'$l'").mkString(", ")}]) AS l,
                  UNNEST([${langs.map(l => s"score_$l").mkString(", ")}]) AS s
           FROM sc),
         best AS (
           SELECT doc_id, lang, l,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, l) AS rn
           FROM ex)
         SELECT lang AS actual, l AS predicted, COUNT(*) AS n
         FROM best WHERE rn = 1
         GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    "q33_exact_dedup" ->
      """SELECT MD5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
         FROM documents GROUP BY MD5(text) ORDER BY digest""",

    "q34_minhash_lsh" ->
      s"""WITH $lshPairsSql
         SELECT ida, idb FROM pairs ORDER BY ida, idb""",

    "q127_leakfree_split" ->
      s"""WITH RECURSIVE $lshPairsSql,
         uni AS (
           SELECT doc_id FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000 FROM documents WHERE doc_id % 40 = 0),
         e AS (SELECT ida AS s, idb AS t FROM pairs
               UNION ALL SELECT idb, ida FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM uni
           UNION
           SELECT e.t, r.lbl FROM reach r JOIN e ON e.s = r.node),
         comp AS (SELECT node AS doc_id, MIN(lbl) AS group_id
                  FROM reach GROUP BY node)
         SELECT doc_id, group_id,
                CASE WHEN CAST('0x' || SUBSTR(MD5('split:'
                       || CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 10 = 0
                     THEN 'val' ELSE 'train' END AS split
         FROM comp ORDER BY doc_id""",

    "q70_neardup_groups" ->
      s"""WITH RECURSIVE $lshPairsSql,
         uni AS (
           SELECT doc_id FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000 FROM documents WHERE doc_id % 40 = 0),
         e AS (SELECT ida AS s, idb AS t FROM pairs
               UNION ALL SELECT idb, ida FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM uni
           UNION
           SELECT e.t, r.lbl FROM reach r JOIN e ON e.s = r.node),
         comp AS (SELECT node AS doc_id, MIN(lbl) AS group_id
                  FROM reach GROUP BY node),
         szs AS (SELECT group_id, COUNT(*) AS n_docs FROM comp GROUP BY group_id)
         SELECT c.doc_id AS doc_id, c.group_id AS group_id, z.n_docs AS n_docs,
                c.doc_id = c.group_id AS keep
         FROM comp c JOIN szs z USING (group_id) ORDER BY c.doc_id""",

    "q71_repetition" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         g AS (
           SELECT doc_id, 2 AS n, w[i] || ' ' || w[i+1] AS gram
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)
           UNION ALL
           SELECT doc_id, 3 AS n, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
         s AS (SELECT doc_id, n, CAST(SUM(c) AS DOUBLE) AS total,
                      CAST(COUNT(*) AS DOUBLE) AS dist,
                      CAST(MAX(c) AS DOUBLE) AS maxc
               FROM c GROUP BY 1, 2),
         wide AS (
           SELECT doc_id,
                  ROUND(MAX(CASE WHEN n = 2 THEN maxc / total END), 6) AS top_frac_2,
                  ROUND(MAX(CASE WHEN n = 2 THEN 1.0 - dist / total END), 6) AS dup_frac_2,
                  ROUND(MAX(CASE WHEN n = 3 THEN maxc / total END), 6) AS top_frac_3,
                  ROUND(MAX(CASE WHEN n = 3 THEN 1.0 - dist / total END), 6) AS dup_frac_3
           FROM s GROUP BY doc_id)
         SELECT d.doc_id,
                COALESCE(top_frac_2, 0.0) AS top_frac_2,
                COALESCE(dup_frac_2, 0.0) AS dup_frac_2,
                COALESCE(top_frac_3, 0.0) AS top_frac_3,
                COALESCE(dup_frac_3, 0.0) AS dup_frac_3,
                (COALESCE(top_frac_2, 0.0) <= 0.20
                 AND COALESCE(dup_frac_3, 0.0) <= 0.18) AS keep
         FROM documents d LEFT JOIN wide USING (doc_id) ORDER BY d.doc_id""",

    "q78_corpus_rollup" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+'))) AS BIGINT) AS total_tokens
         FROM documents
         GROUP BY ROLLUP (lang, source)
         ORDER BY lang NULLS FIRST, source NULLS FIRST""",

    "q77_lm_perplexity" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         uni AS (
           SELECT x AS tok, COUNT(*) AS c1
           FROM (SELECT UNNEST(w) AS x FROM t) GROUP BY x),
         tot AS (SELECT COUNT(*) AS v, CAST(SUM(c1) AS BIGINT) AS n FROM uni),
         big2 AS (
           SELECT w1, w2, COUNT(*) AS c2 FROM (
             SELECT w[i] AS w1, w[i+1] AS w2
             FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i))
           GROUP BY w1, w2),
         tri AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         tri3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY w1, w2, w3)
         SELECT tr.doc_id, COUNT(*) AS n_trigrams,
                ROUND(AVG(-LN(
                  CAST(0.6 AS DOUBLE) * ((t3.c3 + CAST(1.0 AS DOUBLE))
                    / (b12.c2 + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.3 AS DOUBLE) * ((b23.c2 + CAST(1.0 AS DOUBLE))
                    / (u2.c1 + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.1 AS DOUBLE) * ((u3.c1 + CAST(1.0 AS DOUBLE))
                    / (tot.n + CAST(1.0 AS DOUBLE) * tot.v)))), 6) AS mean_nll
         FROM tri tr
         JOIN tri3 t3 ON tr.w1 = t3.w1 AND tr.w2 = t3.w2 AND tr.w3 = t3.w3
         JOIN big2 b12 ON tr.w1 = b12.w1 AND tr.w2 = b12.w2
         JOIN big2 b23 ON tr.w2 = b23.w1 AND tr.w3 = b23.w2
         JOIN uni u2 ON tr.w2 = u2.tok
         JOIN uni u3 ON tr.w3 = u3.tok
         CROSS JOIN tot
         GROUP BY tr.doc_id ORDER BY tr.doc_id""",

    "q76_pii_redact" -> {
      // DuckDB single-quoted strings pass backslashes through verbatim,
      // so the Java-side pattern string embeds as-is
      val em = TextOps.emailPat
      val ph = TextOps.phonePat
      s"""WITH p AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0
                       THEN text || ' contact bob@example.com or 555-123-4567 now'
                       ELSE text END AS text
           FROM documents)
         SELECT doc_id,
                CAST(LEN(REGEXP_EXTRACT_ALL(text, '$em')) AS INT) AS n_emails,
                CAST(LEN(REGEXP_EXTRACT_ALL(text, '$ph')) AS INT) AS n_phones,
                MD5(REGEXP_REPLACE(REGEXP_REPLACE(text, '$em', '<EMAIL>', 'g'),
                                   '$ph', '<PHONE>', 'g')) AS redacted_digest
         FROM p ORDER BY doc_id"""
    },

    "q75_corpus_prep" -> {
      val mixCases = mixFractions.toSeq.sortBy(_._1)
        .map { case (l, p) => s"WHEN '$l' THEN '${graft.text.Mix.hexCutoff(p)}'" }
        .mkString(" ")
      s"""WITH srcdocs AS (
           SELECT doc_id, text, lang FROM documents
           UNION ALL
           SELECT doc_id + 3000000, text, lang FROM documents WHERE doc_id % 50 = 0),
         keepx AS (SELECT MIN(doc_id) AS doc_id FROM srcdocs GROUP BY MD5(text)),
         d1 AS (SELECT s.* FROM srcdocs s JOIN keepx USING (doc_id)),
         qt AS (SELECT doc_id, LENGTH(text) AS nc,
                       REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
                FROM d1),
         qm AS (SELECT doc_id,
                       CAST(LEN(toks) AS DOUBLE) AS nt,
                       CAST(LEN(LIST_FILTER(toks, x -> ${langFilterSql(stopwords)})) AS DOUBLE) AS sh,
                       CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) AS nd
                FROM qt),
         qkeep AS (SELECT doc_id FROM qm
                   WHERE nt >= 20 AND nt <= 2000 AND sh / nt >= 0.01 AND nd / nt >= 0.1),
         rt AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w FROM d1),
         rg AS (
           SELECT doc_id, 2 AS n, w[i] || ' ' || w[i+1] AS gram
           FROM rt, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)
           UNION ALL
           SELECT doc_id, 3 AS n, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
           FROM rt, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         rc AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rg GROUP BY 1, 2, 3),
         rs AS (SELECT doc_id, n, CAST(SUM(c) AS DOUBLE) AS total,
                       CAST(COUNT(*) AS DOUBLE) AS dist,
                       CAST(MAX(c) AS DOUBLE) AS maxc
                FROM rc GROUP BY 1, 2),
         rwide AS (
           SELECT doc_id,
                  ROUND(MAX(CASE WHEN n = 2 THEN maxc / total END), 6) AS top_frac_2,
                  ROUND(MAX(CASE WHEN n = 3 THEN 1.0 - dist / total END), 6) AS dup_frac_3
           FROM rs GROUP BY doc_id),
         rkeep AS (
           SELECT t.doc_id FROM rt t LEFT JOIN rwide USING (doc_id)
           WHERE COALESCE(top_frac_2, 0.0) <= 0.20
             AND COALESCE(dup_frac_3, 0.0) <= 0.18),
         d3 AS (
           SELECT d1.doc_id, d1.text FROM d1
           JOIN qkeep USING (doc_id) JOIN rkeep USING (doc_id)
           WHERE SUBSTRING(MD5('7:' || d1.doc_id::VARCHAR), 1, 8) <
                 CASE d1.lang $mixCases ELSE '' END),
         pt AS (SELECT doc_id,
                       CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS n_tokens
                FROM d3),
         pr AS (SELECT doc_id, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                         AS start_tok
                FROM pt)
         SELECT doc_id, n_tokens, start_tok,
                start_tok // 2048 AS chunk_start,
                (start_tok + n_tokens - 1) // 2048 AS chunk_end,
                (start_tok // 2048) != ((start_tok + n_tokens - 1) // 2048) AS crosses
         FROM pr ORDER BY doc_id"""
    },

    "q72_mix_sample" -> {
      val cases = mixFractions.toSeq.sortBy(_._1)
        .map { case (l, p) => s"WHEN '$l' THEN '${graft.text.Mix.hexCutoff(p)}'" }
        .mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         WHERE SUBSTRING(MD5('7:' || doc_id::VARCHAR), 1, 8) <
               CASE lang $cases ELSE '' END
         ORDER BY doc_id"""
    },

    "q73_pack_chunks" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_tok
           FROM t)
         SELECT doc_id, n_tokens, start_tok,
                start_tok // 2048 AS chunk_start,
                (start_tok + n_tokens - 1) // 2048 AS chunk_end,
                (start_tok // 2048) != ((start_tok + n_tokens - 1) // 2048) AS crosses
         FROM r ORDER BY doc_id""",

    "q82_lm_kneser_ney" ->
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                    FROM documents),
         big AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
         c2 AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2),
         pre AS (SELECT w1, SUM(c) AS c1sum, COUNT(*) AS types1
                 FROM c2 GROUP BY 1),
         contn AS (SELECT w2, COUNT(*) AS cn FROM c2 GROUP BY 1),
         tot AS (SELECT COUNT(*) AS ttypes FROM c2)
         SELECT b.doc_id, COUNT(*) AS n_bigrams,
                ROUND(AVG(-LN(
                  GREATEST(x.c - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
                    / p.c1sum
                  + CAST(0.75 AS DOUBLE) * p.types1 / p.c1sum
                    * (k.cn / CAST(tot.ttypes AS DOUBLE)))), 6) AS mean_nll
         FROM big b
         JOIN c2 x ON b.w1 = x.w1 AND b.w2 = x.w2
         JOIN pre p ON b.w1 = p.w1
         JOIN contn k ON b.w2 = k.w2
         CROSS JOIN tot
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    "q81_lm_5gram" ->
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                    FROM documents),
         g5 AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3,
                  w[i+3] AS w4, w[i+4] AS w5
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         c5 AS (SELECT w1, w2, w3, w4, w5, COUNT(*) AS c
                FROM g5 GROUP BY 1, 2, 3, 4, 5),
         g4 AS (
           SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3, w[i+3] AS w4
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 2)) AS i)),
         c4 AS (SELECT w1, w2, w3, w4, COUNT(*) AS c FROM g4 GROUP BY 1, 2, 3, 4),
         g3 AS (
           SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         c3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM g3 GROUP BY 1, 2, 3),
         g2 AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
         c2 AS (SELECT w1, w2, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c
                FROM (SELECT UNNEST(w) AS w1 FROM t) GROUP BY 1),
         tot AS (SELECT COUNT(*) AS v, SUM(c) AS n FROM c1)
         SELECT g.doc_id, COUNT(*) AS n_5grams,
                ROUND(AVG(-LN(
                  CAST(0.4 AS DOUBLE) * ((n5.c + CAST(1.0 AS DOUBLE))
                    / (d4.c + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.25 AS DOUBLE) * ((n4.c + CAST(1.0 AS DOUBLE))
                    / (d3.c + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.2 AS DOUBLE) * ((n3.c + CAST(1.0 AS DOUBLE))
                    / (d2.c + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.1 AS DOUBLE) * ((n2.c + CAST(1.0 AS DOUBLE))
                    / (d1.c + CAST(1.0 AS DOUBLE) * tot.v))
                  + CAST(0.05 AS DOUBLE) * ((n1.c + CAST(1.0 AS DOUBLE))
                    / (tot.n + CAST(1.0 AS DOUBLE) * tot.v)))), 6) AS mean_nll
         FROM g5 g
         JOIN c5 n5 ON g.w1 = n5.w1 AND g.w2 = n5.w2 AND g.w3 = n5.w3
                   AND g.w4 = n5.w4 AND g.w5 = n5.w5
         JOIN c4 d4 ON g.w1 = d4.w1 AND g.w2 = d4.w2 AND g.w3 = d4.w3
                   AND g.w4 = d4.w4
         JOIN c4 n4 ON g.w2 = n4.w1 AND g.w3 = n4.w2 AND g.w4 = n4.w3
                   AND g.w5 = n4.w4
         JOIN c3 d3 ON g.w2 = d3.w1 AND g.w3 = d3.w2 AND g.w4 = d3.w3
         JOIN c3 n3 ON g.w3 = n3.w1 AND g.w4 = n3.w2 AND g.w5 = n3.w3
         JOIN c2 d2 ON g.w3 = d2.w1 AND g.w4 = d2.w2
         JOIN c2 n2 ON g.w4 = n2.w1 AND g.w5 = n2.w2
         JOIN c1 d1 ON g.w4 = d1.w1
         JOIN c1 n1 ON g.w5 = n1.w1
         CROSS JOIN tot
         GROUP BY g.doc_id ORDER BY g.doc_id""",

    "q80_quantized_knn" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         params AS (
           SELECT GREATEST(4, CAST(CEIL(LOG2(CAST(CEIL(COUNT(*) / 128.0) AS BIGINT))) AS INT)) AS np
           FROM v),
         dims AS (SELECT MAX(LEN(e)) AS nd FROM v),
         signs AS (
           SELECT s.seed, p.h,
                  LIST(CASE WHEN SUBSTRING(MD5(CONCAT(s.seed, ':', p.h, ':', j.j)), 1, 1)
                            BETWEEN '8' AND 'f' THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j.j) AS sv
           FROM (SELECT UNNEST(RANGE(0, 2)) AS seed) s
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT np FROM params))) AS h) p
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT nd FROM dims))) AS j) j
           GROUP BY s.seed, p.h),
         buck AS (
           SELECT g.seed, v.vec_id,
                  CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(v.e, g.sv) > 0
                                THEN (1::BIGINT << g.h) ELSE 0 END) AS BIGINT) AS bucket
           FROM v CROSS JOIN signs g
           GROUP BY g.seed, v.vec_id),
         hot AS (SELECT seed, bucket FROM buck GROUP BY seed, bucket
                 HAVING COUNT(*) > 10000),
         ok AS (SELECT * FROM buck b WHERE NOT EXISTS (
                  SELECT 1 FROM hot h WHERE h.seed = b.seed AND h.bucket = b.bucket)),
         cand AS (
           SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
           FROM ok a JOIN ok b ON a.seed = b.seed AND a.bucket = b.bucket
           WHERE a.vec_id != b.vec_id),
         codes AS (
           SELECT vec_id,
                  LIST_TRANSFORM(e, x -> FLOOR(x * (127.0 /
                    GREATEST(LIST_MAX(LIST_TRANSFORM(e, y -> ABS(y))), 1e-300))
                    + 0.5)) AS c
           FROM v),
         scored AS (
           SELECT c.src, c.dst,
                  ROUND(LIST_DOT_PRODUCT(ca.c, cb.c)
                    / (SQRT(LIST_DOT_PRODUCT(ca.c, ca.c))
                       * SQRT(LIST_DOT_PRODUCT(cb.c, cb.c))), 6) AS qcos
           FROM cand c
           JOIN codes ca ON c.src = ca.vec_id
           JOIN codes cb ON c.dst = cb.vec_id),
         topk AS (
           SELECT src, dst, qcos,
                  CAST(ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY qcos DESC, dst) AS INT) AS rn
           FROM scored)
         SELECT src, dst, qcos, rn FROM topk WHERE rn <= 5 ORDER BY src, rn""",

    "q79_dup_substrings" ->
      """WITH src AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 4000000,
                  ARRAY_TO_STRING((REGEXP_SPLIT_TO_ARRAY(text, '\s+'))[1:25], ' ')
                    || ' planted tail ' || doc_id::VARCHAR
           FROM documents WHERE doc_id % 30 = 0),
         d AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM src),
         wins AS (
           SELECT doc_id, i, MD5(ARRAY_TO_STRING(w[i:i+9], ' ')) AS h
           FROM d, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 8)) AS i)),
         duph AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
         dw AS (SELECT doc_id, i, i + 10 AS e FROM wins
                WHERE h IN (SELECT h FROM duph)),
         isl AS (
           SELECT doc_id, i, e,
                  CASE WHEN i > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                         ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS nw
           FROM dw),
         isl2 AS (SELECT doc_id, i, e,
                         SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                  FROM isl),
         cov AS (SELECT doc_id, grp, MAX(e) - MIN(i) AS covered, COUNT(*) AS nwin
                 FROM isl2 GROUP BY 1, 2),
         perdoc AS (SELECT doc_id, CAST(SUM(nwin) AS BIGINT) AS n_dup_windows,
                           CAST(SUM(covered) AS BIGINT) AS dup_tokens
                    FROM cov GROUP BY 1)
         SELECT t.doc_id, CAST(LEN(t.w) AS BIGINT) AS n_tokens,
                COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
                COALESCE(p.dup_tokens, 0) AS dup_tokens,
                ROUND(COALESCE(p.dup_tokens, 0) / CAST(LEN(t.w) AS DOUBLE), 6)
                  AS dup_frac
         FROM d t LEFT JOIN perdoc p USING (doc_id) ORDER BY t.doc_id""",

    "q74_decontam" ->
      """WITH ev AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
         tr AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 100 != 0
           UNION ALL SELECT doc_id + 2000000, text FROM ev),
         trsh0 AS (
           SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                    AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM tr) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         trsh AS (
           SELECT * FROM trsh0 WHERE shingle IN (
             SELECT shingle FROM trsh0 GROUP BY shingle HAVING COUNT(*) <= 500)),
         evsh AS (
           SELECT DISTINCT doc_id AS eval_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                    AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM ev) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i))
         SELECT t.doc_id AS doc_id, COUNT(DISTINCT t.shingle) AS n_shared,
                COUNT(DISTINCT e.eval_id) AS n_eval_docs
         FROM trsh t JOIN evsh e USING (shingle)
         GROUP BY t.doc_id ORDER BY doc_id""",

    "q35_ngram_jaccard" ->
      s"""WITH $shSql,
         shc AS (
           SELECT * FROM sh WHERE shingle IN (
             SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 500)),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
           FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT i.ida AS ida, i.idb AS idb, i.inter AS inter,
                ROUND(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.ida = sa.doc_id
         JOIN sizes sb ON i.idb = sb.doc_id
         WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.01
         ORDER BY i.ida, i.idb""",

    "q36_simhash" ->
      (TextOps.simHash16Sql("documents") + " ORDER BY doc_id"),

    "q37_cosine_topk" ->
      s"""WITH $topkSql
         SELECT qid, vec_id, cos, rn FROM topk WHERE rn <= 5 ORDER BY qid, rn""",

    "q38_label_transfer" ->
      s"""WITH $topkSql,
         hits AS (
           SELECT qid AS target_id, vec_id AS ref_id, 1.0 - cos AS dist
           FROM topk WHERE rn <= 5),
         dm AS (SELECT MAX(dist) AS d_max FROM hits),
         wtd AS (
           SELECT h.target_id, CAST(e.label AS VARCHAR) AS label,
                  1.0 - h.dist / dm.d_max AS w
           FROM hits h CROSS JOIN dm
           JOIN embeddings e ON h.ref_id = e.vec_id),
         shares AS (
           SELECT target_id, label, SUM(w) AS w_label,
                  SUM(w) / SUM(SUM(w)) OVER (PARTITION BY target_id) AS share
           FROM wtd GROUP BY target_id, label),
         top AS (
           SELECT target_id, label, share,
                  ROW_NUMBER() OVER (PARTITION BY target_id
                    ORDER BY share DESC, label) AS rn
           FROM shares)
         SELECT target_id,
                CASE WHEN share > 0.4 THEN label ELSE 'NA' END AS assigned,
                ROUND(share, 6) AS share
         FROM top WHERE rn = 1 ORDER BY target_id""",

    "q39_snn" ->
      """WITH e AS (
           SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           FROM lineitem WHERE l_partkey % 10 = 0)
         SELECT a.src AS i, b.src AS j, COUNT(*) AS shared
         FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY i, j""",

    "q40_binary_meta" ->
      """SELECT doc_id, CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
           SHA256(text) AS digest
         FROM documents ORDER BY doc_id""",

    "q41_event_window" ->
      """SELECT EPOCH_US(ts) // 3600000000 AS hour_bucket, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""",

    "q62_cosine_neardup" ->
      """WITH base AS (
           SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, LIST_TRANSFORM(embedding::DOUBLE[], x -> x * 1.5)
           FROM embeddings WHERE vec_id % 25 = 0),
         params AS (
           SELECT GREATEST(4, CAST(CEIL(LOG2(CAST(CEIL(COUNT(*) / 128.0) AS BIGINT))) AS INT)) AS np
           FROM base),
         dims AS (SELECT MAX(LEN(e)) AS nd FROM base),
         signs AS (
           SELECT s.seed, p.h,
                  LIST(CASE WHEN SUBSTRING(MD5(CONCAT(s.seed, ':', p.h, ':', j.j)), 1, 1)
                            BETWEEN '8' AND 'f' THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j.j) AS sv
           FROM (SELECT UNNEST(RANGE(0, 2)) AS seed) s
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT np FROM params))) AS h) p
           CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT nd FROM dims))) AS j) j
           GROUP BY s.seed, p.h),
         buck AS (
           SELECT g.seed, v.vec_id,
                  CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(v.e, g.sv) > 0
                                THEN (1::BIGINT << g.h) ELSE 0 END) AS BIGINT) AS bucket
           FROM base v CROSS JOIN signs g
           GROUP BY g.seed, v.vec_id),
         hot AS (SELECT seed, bucket FROM buck GROUP BY seed, bucket HAVING COUNT(*) > 10000),
         ok AS (SELECT * FROM buck b WHERE NOT EXISTS (
                  SELECT 1 FROM hot h WHERE h.seed = b.seed AND h.bucket = b.bucket)),
         cand AS (
           SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
           FROM ok a JOIN ok b ON a.seed = b.seed AND a.bucket = b.bucket
           WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.ida, c.idb,
                  ROUND(LIST_DOT_PRODUCT(va.e, vb.e)
                    / (SQRT(LIST_DOT_PRODUCT(va.e, va.e))
                       * SQRT(LIST_DOT_PRODUCT(vb.e, vb.e))), 6) AS cos
           FROM cand c
           JOIN base va ON c.ida = va.vec_id
           JOIN base vb ON c.idb = vb.vec_id)
         SELECT ida, idb, cos FROM scored WHERE cos >= 0.999 ORDER BY ida, idb""",

    "q64_winnow_fp" ->
      """WITH g AS (
           SELECT doc_id,
                  LIST_TRANSFORM(RANGE(1, LENGTH(text) - 3), i -> MD5(SUBSTRING(text, i, 5))) AS grams
           FROM documents WHERE LENGTH(text) >= 8),
         wins AS (
           SELECT doc_id,
                  LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(grams) - 2),
                    j -> LIST_MIN(grams[j:j+3]))) AS fps
           FROM g)
         SELECT doc_id, CAST(LEN(fps) AS INT) AS n_fp, LIST_MIN(fps) AS min_fp
         FROM wins ORDER BY doc_id""",

    "q63_bpe_tokens" ->
      """SELECT doc_id,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS INT) AS n_ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS INT)
             AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",

    "q57_bucketed_knn" ->
      s"""WITH $annChainSql
         SELECT src, dst, dist, rn FROM topk WHERE rn <= 5 ORDER BY src, rn""",

    "q42_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, value, EPOCH_US(ts) AS ts_us FROM events),
         flagged AS (
           SELECT *,
             CASE WHEN ts_us - LAG(ts_us) OVER w IS NULL
                    OR ts_us - LAG(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         sess AS (
           SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, COUNT(*) AS n_events,
                ROUND(SUM(value), 6) AS sum_value,
                MAX(ts_us) - MIN(ts_us) AS duration_us
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "q84_passage_dedup" ->
      """WITH uni AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 50 = 0),
         t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM uni),
         wins AS (
           SELECT doc_id, i AS pos,
                  MD5(ARRAY_TO_STRING(w[(i*15+1):(i*15+15)], ' ')) AS dg,
                  doc_id * 1000 + i AS site
           FROM t, LATERAL (SELECT UNNEST(RANGE(0,
                  CAST(CEIL(LEN(w) / 15.0) AS BIGINT))) AS i)),
         firsts AS (SELECT dg, MIN(site) AS first_site FROM wins GROUP BY dg)
         SELECT w.doc_id, CAST(COUNT(*) AS INT) AS n_passages,
                CAST(SUM(CASE WHEN w.site = f.first_site THEN 1 ELSE 0 END) AS INT)
                  AS n_kept,
                ROUND(CAST(SUM(CASE WHEN w.site = f.first_site THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS kept_frac
         FROM wins w JOIN firsts f USING (dg)
         GROUP BY w.doc_id ORDER BY w.doc_id""",

    "q85_stratified_topn" ->
      """SELECT lang, doc_id, rank FROM (
           SELECT lang, doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY MD5('7:' || CAST(doc_id AS VARCHAR))) AS INT) AS rank
           FROM documents)
         WHERE rank <= 10 ORDER BY lang, rank""",

    "q250_source_cap_spillover" ->
      """WITH u AS (
           SELECT source, doc_id, n_chars AS w,
                  MD5('cap:' || CAST(doc_id AS VARCHAR)) AS rk
           FROM documents
           WHERE CAST(SUBSTRING(source, 4) AS INT) >= 10 OR doc_id % 100 < 20),
         c AS (SELECT (COUNT(*) * 4) // (COUNT(DISTINCT source) * 5) AS cap,
                      COUNT(DISTINCT source) AS s FROM u),
         r1 AS (SELECT u.*, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY rk, doc_id) AS rn FROM u),
         k1 AS (SELECT r1.* FROM r1, c WHERE rn <= cap),
         f AS (SELECT s * cap - (SELECT COUNT(*) FROM k1) AS freed FROM c),
         ev AS (SELECT r1.*, ROW_NUMBER() OVER (ORDER BY rk, doc_id) AS g
                FROM r1, c WHERE rn > cap),
         k2 AS (SELECT ev.* FROM ev, f WHERE g <= freed),
         kept AS (SELECT source, w, 'quota' AS via FROM k1
                  UNION ALL SELECT source, w, 'spill' FROM k2),
         au AS (SELECT source, COUNT(*) AS n_docs, SUM(w) AS total_w
                FROM u GROUP BY source),
         ak AS (SELECT source,
                  SUM(CASE WHEN via = 'quota' THEN 1 ELSE 0 END) AS kq,
                  SUM(CASE WHEN via = 'spill' THEN 1 ELSE 0 END) AS ks,
                  SUM(w) AS kw
                FROM kept GROUP BY source)
         SELECT au.source, (SELECT cap FROM c) AS cap, au.n_docs,
                CAST(COALESCE(ak.kq, 0) AS BIGINT) AS kept_quota,
                CAST(COALESCE(ak.ks, 0) AS BIGINT) AS kept_spill,
                CAST(COALESCE(ak.kq, 0) + COALESCE(ak.ks, 0) AS BIGINT)
                  AS kept_total,
                CAST(au.n_docs - COALESCE(ak.kq, 0) - COALESCE(ak.ks, 0)
                  AS BIGINT) AS n_evicted,
                CAST(au.total_w AS BIGINT) AS total_w,
                CAST(COALESCE(ak.kw, 0) AS BIGINT) AS kept_w,
                ROUND(CAST(COALESCE(ak.kw, 0) AS DOUBLE)
                  / CAST(au.total_w AS DOUBLE), 6) AS kept_w_frac
         FROM au LEFT JOIN ak USING (source) ORDER BY au.source""",

    "q251_token_budget_quota" ->
      """WITH u AS (
           SELECT source, doc_id,
                  LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS w,
                  MD5('tok:' || CAST(doc_id AS VARCHAR)) AS rk
           FROM documents
           WHERE CAST(SUBSTRING(source, 4) AS INT) >= 10 OR doc_id % 100 < 20),
         c AS (SELECT CAST((SUM(w) * 4) // (COUNT(DISTINCT source) * 5)
                        AS BIGINT) AS b,
                      COUNT(DISTINCT source) AS s FROM u),
         r1 AS (SELECT u.*, SUM(w) OVER (PARTITION BY source
                  ORDER BY rk, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                FROM u),
         k1 AS (SELECT r1.* FROM r1, c WHERE cum <= b),
         f AS (SELECT s * b - COALESCE((SELECT SUM(w) FROM k1), 0) AS freed
               FROM c),
         ev AS (SELECT r1.source, r1.doc_id, r1.w, r1.rk,
                  SUM(r1.w) OVER (ORDER BY r1.rk, r1.doc_id
                    ROWS UNBOUNDED PRECEDING) AS gcum
                FROM r1, c WHERE cum > b),
         k2 AS (SELECT ev.* FROM ev, f WHERE gcum <= freed),
         kept AS (SELECT source, w, 'quota' AS via FROM k1
                  UNION ALL SELECT source, w, 'spill' FROM k2),
         au AS (SELECT source, COUNT(*) AS n_docs, SUM(w) AS total_w
                FROM u GROUP BY source),
         ak AS (SELECT source,
                  SUM(CASE WHEN via = 'quota' THEN 1 ELSE 0 END) AS kq,
                  SUM(CASE WHEN via = 'spill' THEN 1 ELSE 0 END) AS ks,
                  SUM(w) AS kw
                FROM kept GROUP BY source)
         SELECT au.source, (SELECT b FROM c) AS budget, au.n_docs,
                CAST(COALESCE(ak.kq, 0) AS BIGINT) AS kept_quota,
                CAST(COALESCE(ak.ks, 0) AS BIGINT) AS kept_spill,
                CAST(COALESCE(ak.kq, 0) + COALESCE(ak.ks, 0) AS BIGINT)
                  AS kept_total,
                CAST(au.n_docs - COALESCE(ak.kq, 0) - COALESCE(ak.ks, 0)
                  AS BIGINT) AS n_evicted,
                CAST(au.total_w AS BIGINT) AS total_w,
                CAST(COALESCE(ak.kw, 0) AS BIGINT) AS kept_w,
                ROUND(CAST(COALESCE(ak.kw, 0) AS DOUBLE)
                  / CAST(au.total_w AS DOUBLE), 6) AS kept_w_frac
         FROM au LEFT JOIN ak USING (source) ORDER BY au.source""",

    "q86_vocab_coverage" ->
      """WITH c AS (
           SELECT tok, COUNT(*) AS c FROM (
             SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
             FROM documents) GROUP BY tok),
         r AS (
           SELECT tok, c,
                  ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk,
                  SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum,
                  SUM(c) OVER () AS total
           FROM c),
         t AS (SELECT UNNEST([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS target)
         SELECT t.target, CAST(MIN(r.rk) AS INT) AS vocab_size,
                ROUND(ARG_MIN(CAST(r.cum AS DOUBLE) / r.total, r.rk), 6) AS coverage
         FROM r JOIN t ON CAST(r.cum AS DOUBLE) / r.total >= t.target
         GROUP BY t.target ORDER BY t.target""",

    "q87_zipf_fit" ->
      """WITH c AS (
           SELECT tok, COUNT(*) AS c FROM (
             SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
             FROM documents) GROUP BY tok),
         r AS (
           SELECT tok, c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
           FROM c QUALIFY rk <= 500),
         xy AS (SELECT LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y FROM r)
         SELECT CAST(COUNT(*) AS INT) AS n_fit,
                ROUND(REGR_SLOPE(y, x), 6) AS slope,
                ROUND(AVG(y) - REGR_SLOPE(y, x) * AVG(x), 6) AS intercept,
                ROUND(CORR(x, y), 6) AS r
         FROM xy""",

    "q88_canonical_docs" ->
      s"""WITH RECURSIVE $lshPairsSql,
         uni AS (
           SELECT doc_id, n_chars AS w FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000, n_chars + 17 FROM documents
           WHERE doc_id % 40 = 0),
         e AS (SELECT ida AS s, idb AS t FROM pairs
               UNION ALL SELECT idb, ida FROM pairs),
         reach AS (
           SELECT doc_id AS node, doc_id AS lbl FROM uni
           UNION
           SELECT e.t, r.lbl FROM reach r JOIN e ON e.s = r.node),
         comp AS (SELECT node AS doc_id, MIN(lbl) AS group_id
                  FROM reach GROUP BY node),
         szs AS (SELECT group_id, COUNT(*) AS n_docs FROM comp GROUP BY group_id),
         cw AS (SELECT c.doc_id, c.group_id, u.w
                FROM comp c JOIN uni u USING (doc_id)),
         canon AS (
           SELECT group_id,
                  ARG_MAX(doc_id, w * 10000000 - doc_id) AS canonical_id
           FROM cw GROUP BY group_id)
         SELECT c.doc_id, c.group_id, z.n_docs, n.canonical_id,
                c.doc_id = n.canonical_id AS is_canonical
         FROM comp c JOIN szs z USING (group_id) JOIN canon n USING (group_id)
         ORDER BY c.doc_id""",

    "q90_ccnet_buckets" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         uni AS (
           SELECT x AS w1, COUNT(*) AS c1
           FROM (SELECT UNNEST(w) AS x FROM t) GROUP BY x),
         v AS (SELECT COUNT(*) AS v FROM uni),
         big AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)),
         big2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
         nll AS (
           SELECT b.doc_id,
                  ROUND(AVG(-LN((b2.c2 + CAST(1.0 AS DOUBLE))
                    / (u.c1 + CAST(1.0 AS DOUBLE) * v.v))), 6) AS mean_nll
           FROM big b
           JOIN big2 b2 ON b.w1 = b2.w1 AND b.w2 = b2.w2
           JOIN uni u ON b.w1 = u.w1 CROSS JOIN v
           GROUP BY b.doc_id),
         wl AS (
           SELECT n.doc_id, d.lang, n.mean_nll
           FROM nll n JOIN documents d USING (doc_id)),
         r AS (
           SELECT doc_id, lang, mean_nll,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY mean_nll, doc_id) AS rank,
                  COUNT(*) OVER (PARTITION BY lang) AS n
           FROM wl)
         SELECT doc_id, lang, mean_nll,
                CASE WHEN rank <= (n // 3) +
                       (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END) THEN 'head'
                     WHEN rank <= 2 * (n // 3) +
                       (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END) +
                       (CASE WHEN n % 3 >= 2 THEN 1 ELSE 0 END) THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""",

    "q91_oov_filter" ->
      """WITH c AS (
           SELECT tok, COUNT(*) AS c FROM (
             SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
             FROM documents) GROUP BY tok),
         vocab AS (
           SELECT tok FROM (
             SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
             FROM c) WHERE rk <= 30),
         ex AS (
           SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
           FROM documents),
         agg AS (
           SELECT e.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
                  ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS oov_ratio
           FROM ex e LEFT JOIN vocab v ON e.tok = v.tok
           GROUP BY e.doc_id)
         SELECT doc_id, n_tokens, oov_ratio, oov_ratio <= 0.2 AS keep
         FROM agg ORDER BY doc_id""",

    "q92_chunk_overlap" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
           FROM documents WHERE doc_id % 10 = 0),
         d AS (
           SELECT doc_id, w,
                  1 + (GREATEST(LEN(w) - 20, 0) + 9) // 10 AS n_chunks
           FROM t),
         ch AS (
           SELECT doc_id, i AS chunk_id, CAST(i * 10 AS INT) AS start_tok,
                  ARRAY_TO_STRING(w[(i*10+1):(i*10+20)], ' ') AS chunk
           FROM d, LATERAL (SELECT UNNEST(RANGE(0, n_chunks)) AS i))
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, start_tok,
                CAST(LEN(STR_SPLIT(chunk, ' ')) AS INT) AS n_chunk_tokens,
                MD5(chunk) AS digest
         FROM ch ORDER BY doc_id, chunk_id""",

    "q93_tfidf_terms" ->
      """WITH tf AS (
           SELECT lang, tok AS term, COUNT(*) AS tf FROM (
             SELECT lang, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
             FROM documents) GROUP BY lang, tok),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         g AS (SELECT COUNT(DISTINCT lang) AS ng FROM documents),
         scored AS (
           SELECT tf.lang, tf.term, tf.tf, df.df,
                  tf.tf * LN((1.0 + g.ng) / (1.0 + df.df)) AS score
           FROM tf JOIN df USING (term) CROSS JOIN g),
         r AS (
           SELECT lang, term, tf, df, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY score DESC, term) AS INT) AS rank
           FROM scored)
         SELECT lang, term, tf, df, ROUND(score, 6) AS score, rank
         FROM r WHERE rank <= 5 ORDER BY lang, rank""",

    "q89_props_json" ->
      """SELECT event_type, COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS INT)), 6) AS avg_k,
           MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
           COUNT(DISTINCT CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50
                 THEN user_id END) AS n_users_hi
         FROM events GROUP BY event_type ORDER BY event_type""")
}
