package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps

/** Round-6 mining surface: the operators between "dedup the corpus" and
  * "train the model" — hard-negative mining, skip-gram PMI, containment
  * decontamination, dedup-yield/provenance reports, sliding event rates,
  * packing efficiency, fingerprint near-dup, classifier calibration,
  * DBSCAN, product quantization (+ its recall gate), label diversity,
  * and the vocabulary novelty curve (q130–q148).
  */
object MiningQueries {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** The q156/q160 planted universe: corpus + K count-dominating heavy
    * docs (forcing merges #1 (2,3), #2 (1,2)) + one light doc '123'
    * whose BPE/greedy segmentations provably diverge.
    */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val m = TextOps.maxCharPairCount(base)
    val k = m / 2 + m % 2 + 1
    val heavy = s.range(k).select((col("id") + 9000000L).as("doc_id"),
      lit("23 23 23 12 12").as("text"))
    val light = Seq((9900000L, "123")).toDF("doc_id", "text")
    base.unionByName(heavy).unionByName(light)
  }

  /** Exact L2 top-k of the capped query sample of `vecs(vec_id, v)`
    * over all of `vecs`, `(qid, vec_id, dist, rn)` — the ground truth
    * the PQ and IVF recall queries score against. */
  private def exactTopK(vecs: DataFrame, k: Int): DataFrame =
    Similarity.l2TopK(Sample.capped(vecs, "vec_id").toDF("qid", "qvec"),
      vecs.toDF("vec_id", "embedding"), k)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // contrastive hard-negative mining: per anchor, the 3 nearest
    // DIFFERENT-label vectors among the seeded-LSH candidate set — the
    // label-mismatch predicate applies BEFORE the top-k cut (q57's
    // bucketed chain with a candidate filter), so the result is the true
    // filtered top-k, not a post-hoc filter that can come up short
    "q130_hard_negatives" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"),
        col("label"))
      graft.pipeline.Knn.hardNegatives(vecs, 3, rounds = 6)
        .orderBy("src", "rn")
    }),

    // contrastive TRIPLET mining: per anchor, the nearest same-label
    // vector (positive) and nearest different-label vector (negative)
    // from the SAME filtered bucketed-ANN candidate chain q130 uses —
    // margin = neg − pos and the m=0 semi-hard violation flag (a
    // different-label point strictly closer than the nearest positive)
    "q202_triplet_mining" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"),
        col("label"))
      graft.pipeline.Knn.tripletCandidates(vecs, 0, 6)
        .select(col("src"), col("src_label"),
          col("pos_dst"), col("pos_dist"),
          col("neg_dst"), col("neg_dist"),
          round(col("neg_dist") - col("pos_dist"), 6).as("margin"),
          (col("neg_dist") < col("pos_dist")).cast("long").as("violated"))
        .orderBy("src")
    }),

    // skip-gram PMI over a 3-token forward context (the word2vec context
    // definition) with a min-count gate — pair extraction is row-local,
    // only (w1, w2) count rows shuffle
    "q131_skipgram_pmi" -> ((s, d) =>
      TextOps.skipgramPmi(docs(s, d), window = 3, minCount = 25)
        .orderBy("w1", "w2")),

    // eval-side containment decontamination: benchmark halves planted as
    // eval items are fully contained in their source documents, so the
    // asymmetric measure fires (containment ≈ 1) where symmetric Jaccard
    // would dilute toward |eval|/|doc|; SPLICED half+half eval items land
    // near containment 0.5 against each host, so the 4/5 exact-integer
    // threshold is exercised in BOTH directions
    "q132_containment" -> ((s, d) => {
      val half = TrainingQueries.firstHalf
      val halves = docs(s, d).filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 4000000).as("doc_id"), half.as("text"))
      val a = docs(s, d).filter(col("doc_id") % 100 === 50)
        .select(col("doc_id"), half.as("ta"))
      val b = docs(s, d)
        .select((col("doc_id") - 7).as("doc_id"), half.as("tb"))
      val splice = a.join(b, Seq("doc_id"))
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat_ws(" ", col("ta"), col("tb")).as("text"))
      Dedup.containmentContamination(
          docs(s, d).select("doc_id", "text"),
          halves.unionByName(splice), 5, dfCap = 500)
        .orderBy("doc_id", "eval_id")
    }),

    // dedup-yield report: near-dup cluster size histogram + docs a
    // keep-one policy removes, over the q70 planted universe — the
    // "what will dedup buy" summary at the cluster level
    "q133_cluster_sizes" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id")
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashSignature(TrainingQueries.plantedSh(s, d), 8), 8, 2)
      Dedup.clusterSizeStats(Dedup.nearDupGroups(base.unionByName(dups), pairs))
        .orderBy("cluster_size")
    }),

    // per-event trailing-1h same-user rate: a value-RANGE window frame
    // (equal-ts peers in-frame in every engine) with the value sum in
    // exact integer micro-units — RANGE frames guarantee no summation
    // order, integer addition is the associative escape hatch
    "q134_sliding_rate" -> ((s, d) =>
      graft.analytics.Analytics.slidingRate(
          Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000")),
          windowUs = 3600000000L)
        .orderBy("event_id")),

    // context-window packing efficiency across candidate sequence
    // lengths: one running-total pass feeds every budget; all counts
    // integral, one IEEE division for the fill fraction
    "q135_packing_stats" -> ((s, d) =>
      graft.text.Mix.packingStats(docs(s, d), Seq(256, 512, 1024, 2048))
        .orderBy("budget")),

    // SimHash Hamming near-dup over the q70 planted universe: 4x4-bit
    // banding is pigeonhole-EXACT for ham <= 3, and the refine kernel is
    // the codegen'd Hamming64 popcount expression — the native
    // fingerprint path (shared verbatim by image pHash near-dup) under
    // the oracle gate
    "q136_simhash_neardup" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0)
        .select("doc_id", "text")
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft dup marker")).as("text"))
      val fps = TextOps.simHash16(base.unionByName(dups))
        .select(col("doc_id"), col("simhash").as("fp"))
      Dedup.fingerprintNearDup(fps, bits = 16, nBands = 4, maxHam = 3)
        .orderBy("ida", "idb")
    }),

    // NB classifier margin-calibration bins: integer micro-nat top-1 vs
    // top-2 margin deciles vs accuracy — the reliability curve a
    // model-based filter gate is tuned on
    "q137_nb_calibration" -> ((s, d) =>
      TextOps.nbCalibration(docs(s, d)).orderBy("bin")),

    // who-copies-whom: near-dup candidate pairs attributed to unordered
    // provenance pairs over the q70 planted universe. Attribution is by
    // lang (the %20 universe is single-`source` by the generator's
    // doc_id-mod assignment, so source would be a degenerate 1-cell
    // report), with planted copies tagged 'mirror' — every base↔copy
    // pair lands OFF the diagonal, in-band base↔base accidents on it
    "q140_dup_attribution" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashSignature(TrainingQueries.plantedSh(s, d), 8), 8, 2)
      val srcs = docs(s, d).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("lang").as("source"))
        .unionByName(docs(s, d).filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            lit("mirror").as("source")))
      Dedup.dupSourceAttribution(pairs, srcs)
        .orderBy("source_a", "source_b")
    }),

    // DBSCAN over the seeded-LSH ε-neighborhood graph: density-based
    // embedding clustering with deterministic border assignment (min
    // neighboring core cluster) — the outlier-pruning companion to
    // SemDeDup's centroid clustering; the full chain (candidates, ε cut,
    // degree gate, CC closure, border election) replays in DuckDB.
    // The raw embeddings are near-uniform unit vectors (min pair dist
    // 0.99), so density structure is PLANTED: each %25 vector gets
    // scaled copies at 1.1/1.2/1.3/1.4 — a chain whose ±0.2-spaced
    // links sit inside eps 0.25 and ±0.3 outside, yielding known
    // core/border/noise roles at every SF (and scaling preserves the
    // LSH direction, so planted chains never lose recall)
    "q142_dbscan" -> ((s, d) => {
      val base = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      val planted = Seq(1.1, 1.2, 1.3, 1.4).zipWithIndex
        .map { case (m, i) =>
          base.filter(col("cell_id") % 25 === 0)
            .select((col("cell_id") + (i + 1) * 1000000L).as("cell_id"),
              transform(col("latent"), x => x * m).as("latent"))
        }
        .foldLeft(base)(_ unionByName _)
      val nb = graft.pipeline.Knn.bucketedEpsNeighbors(planted, eps = 0.25,
        rounds = 6)
      graft.pipeline.Cluster.dbscan(planted.select("cell_id"),
          nb.select("src", "dst"), minPts = 4)
        .select(col("id").as("vec_id"), col("role"), col("cluster"))
        .orderBy("vec_id")
    }),

    // product quantization: 4×16 codebooks (deterministic Lloyd per
    // subspace), 1-byte-per-subspace codes (16× compression), ADC top-5
    // per sampled query — the Lloyd training, the encoding, and the
    // integer-nano ADC ranking all replay in DuckDB
    "q143_pq_knn" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      graft.sim.Pq.pqSelfTopK(vecs).orderBy("qid", "rn")
    }),

    // PQ recall@5 vs exact ground truth on the same query sample — the
    // compression-vs-accuracy gate next to q125's ANN recall, as an
    // oracled single-row report (the eval harness itself under the gate).
    // Expected LOW on this table: the synthetic embeddings are
    // near-uniform unit vectors — the known PQ worst case (no cluster
    // structure for the codebooks to exploit; Jégou 2011 §V) — which is
    // exactly what this gate exists to surface before anyone ships a
    // 16× compressed index on data it can't represent (MiningSpec's
    // grouped-data test shows the same chain at recall 1.0)
    "q144_pq_recall" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val pq = graft.sim.Pq.pqSelfTopK(vecs).select("qid", "dst")
      Similarity.recallAtK(exactTopK(vecs, 5).select("qid", "vec_id"), pq, 5)
    }),

    // per-label embedding diversity via the closed-form pair identity
    // (2n·Σ|x|² − 2|Σx|²) — NO pair join at any label size; fixed-point
    // integer sums, decimal(38) products, one double at the end
    "q147_label_diversity" -> ((s, d) =>
      graft.sim.Similarity.labelDiversity(Tables.t(s, d, "embeddings"))
        .orderBy("label")),

    // split-leakage audit: how many near-dup groups a NAIVE per-doc hash
    // split puts on both sides of the train/val boundary (and how many
    // docs sit in those leaked groups), vs the group-keyed leak-free
    // rule's provable zero — the report that justifies q127 with numbers
    "q149_split_leakage" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id")
      val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"))
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashSignature(TrainingQueries.plantedSh(s, d), 8), 8, 2)
      Dedup.splitLeakageAudit(
        Dedup.nearDupGroups(base.unionByName(dups), pairs))
    }),

    // per-source quality drift: exact-integer OLS slope of the stop
    // ratio over doc_id order — the "is this feed degrading over the
    // crawl" trend gate (normal-equation sums, not incremental-float
    // REGR_SLOPE, so the slope replays engine-exact)
    "q150_quality_drift" -> ((s, d) =>
      TextOps.qualityDrift(docs(s, d), TrainingQueries.stopwords)
        .orderBy("source")),

    // MinHash estimator calibration: per matching-component count
    // (0..8 of 8 hashes), how many candidate pairs and their mean EXACT
    // Jaccard — "are 8 hashes enough" answered with the estimator's own
    // reliability curve, over the q120 planted full+half-copy universe
    // (halves pull the curve down to the ~0.5 band, copies hold ~0.9)
    "q151_minhash_calibration" -> ((s, d) => {
      val sh = TrainingQueries.sweepShingles(s, d)
      val sig = Dedup.minHashSignature(sh, 8)
      val pairs = Dedup.lshCandidatePairs(sig, 8, 2)
      val matches = (0 until 8).map(i =>
        when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0)).reduce(_ + _)
      val withM = pairs
        .join(sig.select(Seq(col("doc_id").as("ida")) ++
          (0 until 8).map(i => col(s"m$i").as(s"a_m$i")): _*), Seq("ida"))
        .join(sig.select(Seq(col("doc_id").as("idb")) ++
          (0 until 8).map(i => col(s"m$i").as(s"b_m$i")): _*), Seq("idb"))
        .select(col("ida"), col("idb"), matches.as("matches"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("shingle"), col("doc_id").as("ida"))
        .join(sh.select(col("shingle"), col("doc_id").as("idb")), Seq("shingle"))
        .join(pairs, Seq("ida", "idb"), "left_semi")
        .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
      val j = withM.join(inter, Seq("ida", "idb"), "left")
        .na.fill(0L, Seq("inter"))
        .join(sizes.select(col("doc_id").as("ida"), col("sz").as("sza")), Seq("ida"))
        .join(sizes.select(col("doc_id").as("idb"), col("sz").as("szb")), Seq("idb"))
        .withColumn("jmicro", round(round(col("inter").cast("double")
          / (col("sza") + col("szb") - col("inter")).cast("double"), 6)
          * lit(1e6)).cast("long"))
      j.groupBy("matches").agg(count(lit(1)).as("n_pairs"),
          round(sum(col("jmicro")).cast("double")
            / count(lit(1)).cast("double") / lit(1e6), 6).as("mean_jaccard"))
        .orderBy("matches")
    }),

    // language purity / code-switch gate: best vs second-best marker
    // scores + mixed flag (runner-up at half the winner) — the routing
    // gate before per-language processing. The corpus's lang column is a
    // LABEL only (every doc draws from the same English-ish vocabulary),
    // so code-switched docs are planted: every 10th en-labeled doc gets
    // 16 German marker tokens appended — the mixed flag fires on the
    // plants whose en score reaches 8 (both branches exercised among
    // the plants, never vacuously on the naturals)
    "q152_lang_purity" -> ((s, d) => {
      val deTail = " der die und das der die und das" * 2
      val spliced = docs(s, d)
        .filter(col("lang") === "en" && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 6000000).as("doc_id"),
          concat(col("text"), lit(deTail)).as("text"))
      TextOps.langPurity(
          docs(s, d).select("doc_id", "text").unionByName(spliced),
          TrainingQueries.langMarkers)
        .orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING: 8 learned merge rules over the corpus —
    // pair stats on the distinct-word table weighted by counts (the
    // GPT-2 factorization), argmax pair per step is the only driver
    // scalar; the whole training loop replays as 8 generated CTE stages
    "q154_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(docs(s, d), merges = 8).orderBy("step")),

    // apply the learned tokenizer back to the corpus: per-doc subword
    // counts + fertility under the trained merges — train-then-apply in
    // one plan, the segmentation state a |vocab|-row map join
    "q155_bpe_segment" -> ((s, d) =>
      TextOps.bpeSegment(docs(s, d), merges = 8).orderBy("doc_id")),

    // the OTHER deployment rule for the same trained tokenizer:
    // WordPiece greedy longest-match over the learned vocabulary vs the
    // BPE-ordered segmentation (n_diff_words = words where the rules
    // disagree). The corpus's own 8 merges never produce overlapping
    // products (measured: zero divergence at every SF), so divergence
    // is PLANTED at a count-derived weight: K copies of '23 23 23 12 12'
    // (K sized so the planted pairs out-count every natural pair) force
    // merges #1 (2,3) then #2 (1,2), and the single light doc '123'
    // then segments '1 23' under BPE order but '12 3' under greedy —
    // the (1,23) pair has count 1 and is never learned. Heavy plant
    // rows are dropped from the report; the light doc stays (diff 1).
    "q156_wordpiece" -> ((s, d) =>
      TextOps.wordpieceSegment(plantedDocs(s, d), merges = 8)
        .filter(col("doc_id") < 9000000L || col("doc_id") === 9900000L)
        .orderBy("doc_id")),

    // the THIRD inference rule for the same trained tokenizer:
    // unigram-LM Viterbi (SentencePiece's rule) — max Σ ln p(sym) with
    // add-one-smoothed corpus frequencies in integer micro-nats; the
    // report counts disagreement against BOTH other rules over the
    // same planted universe (frequency-aware DP typically recovers the
    // BPE optimum where greedy errs — and the spec hand-constructs the
    // case where it overrides BPE order too)
    "q160_viterbi_segment" -> ((s, d) =>
      TextOps.viterbiSegment(plantedDocs(s, d), merges = 8)
        .filter(col("doc_id") < 9000000L || col("doc_id") === 9900000L)
        .orderBy("doc_id")),

    // SEMANTIC decontamination — the embedding leg of the q74/q103/q132
    // n-gram decontamination family: corpus vectors within eps of any
    // eval-set vector are flagged for removal. Asymmetric probe (the
    // small eval set multi-probes the corpus index; planes sized from
    // the CORPUS count). Plants: ×1.2 scaled copies of every 25th
    // vector are true contamination (dist 0.2·‖v‖); reversed copies of
    // every (25k+7)th are novel eval items that must NOT fire (the
    // corpus is near-uniform: min pair distance ≈1 ≫ eps)
    "q157_semantic_decontam" -> ((s, d) => {
      val base = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      val evalSet = base.filter(col("cell_id") % 25 === 0)
        .select((col("cell_id") + 1000000L).as("cell_id"),
          transform(col("latent"), x => x * 1.2).as("latent"))
        .unionByName(base.filter(col("cell_id") % 25 === 7)
          .select((col("cell_id") + 2000000L).as("cell_id"),
            reverse(col("latent")).as("latent")))
      graft.pipeline.Knn
        .bucketedEpsNeighborsBetween(evalSet, base, eps = 0.3)
        .groupBy(col("dst").as("vec_id"))
        .agg(count(lit(1)).as("n_eval_hits"),
          min(col("dist")).as("min_dist"))
        .orderBy("vec_id")
    }),

    // Johnson–Lindenstrauss distortion report: project to k=16 via the
    // deterministic ±1 md5 sign matrix (Similarity.randomProject) and
    // measure pairwise-distance distortion on the chained sample pairs
    // (i, i+10) — the honest gate before swapping full embeddings for
    // projections in an ANN index (k=16 over 64 dims: expect real
    // distortion, reported not hidden — q144's PQ-recall stance)
    "q158_jl_projection" -> ((s, d) => {
      val base = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      val proj = graft.sim.Similarity.randomProject(
        base.select(col("vec_id"), col("e").as("embedding")), k = 16)
      val samp = base.filter(col("vec_id") % 10 === 0)
      val pp = proj.filter(col("vec_id") % 10 === 0)
      val l2 = (a: String, b: String) =>
        graft.sim.Similarity.l2(col(a), col(b))
      samp.select(col("vec_id").as("ida"), col("e").as("va"))
        .join(samp.select(col("vec_id").as("idb"), col("e").as("vb")),
          col("idb") === col("ida") + 10)
        .join(pp.select(col("vec_id").as("ida"), col("proj").as("qa")), Seq("ida"))
        .join(pp.select(col("vec_id").as("idb"), col("proj").as("qb")), Seq("idb"))
        .select(col("ida"), col("idb"),
          round(l2("va", "vb"), 6).as("d_orig"),
          round(l2("qa", "qb"), 6).as("d_proj"),
          round(l2("qa", "qb") / l2("va", "vb"), 6).as("ratio"))
        .orderBy("ida")
    }),

    // token-balanced shard manifest: seeded-shuffle order + token
    // prefix sum -> 16 shards carrying equal token mass to within one
    // document — the balanced-output-writer arithmetic, no
    // single-partition window anywhere
    "q159_shard_assign" -> ((s, d) =>
      graft.text.Mix.shardAssign(docs(s, d), nShards = 16, seed = 7)
        .orderBy("shard")),

    // greedy k-center coreset: 8 diversity-maximizing picks + the
    // non-increasing covering-radius curve — the "how many exemplars
    // until coverage plateaus" read a sampling budget comes from
    "q161_kcenters" -> ((s, d) =>
      graft.sim.Similarity.kCenters(
        Tables.t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        k = 8).orderBy("rank")),

    // threshold-free classifier gate: exact tie-corrected Mann–Whitney
    // AUC of the NB positive-class score over held-out docs — every
    // term integer until the single final division
    "q162_nb_auc" -> ((s, d) =>
      TextOps.nbRocAuc(docs(s, d)).orderBy("n_pos")),

    // curriculum construction: length-decile strata interleaved
    // round-robin — deterministic "start easy, mix in hard" training
    // order, exact integer deciles, no per-stratum window
    "q163_curriculum" -> ((s, d) =>
      graft.text.Mix.curriculumOrder(docs(s, d), nStrata = 10)
        .orderBy("curriculum_pos")),

    // crawl-refresh accounting: digest-compare two corpus versions and
    // count added/removed/modified/unchanged — v2 is built from v1 by
    // deterministic rules so all four verdicts are exercised (every
    // 17th doc removed, every 13th surviving doc modified, one new doc
    // added per 19 ids)
    "q164_snapshot_delta" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.snapshotDelta(v1, v2).orderBy("change")
    }),

    // GPT-style concat-and-cut packing manifest: seeded corpus order,
    // cut every 512 tokens, split counts by pure integer div off one
    // prefix sum — the boundary-crossing discipline next to q73's
    // no-split windows
    "q165_pack_cut" -> ((s, d) =>
      graft.text.Mix.packCut(docs(s, d), windowLen = 512, seed = 11)
        .orderBy("doc_id")),

    // per-source token diversity: exact counts, micro-nat Shannon
    // entropy, Herfindahl concentration — the report a mixing recipe
    // reads source diversity off before weighting
    "q166_source_entropy" -> ((s, d) =>
      TextOps.sourceEntropy(docs(s, d)).orderBy("source")),

    // coreset partition manifest: q161's centers + nearest-center
    // assignment for every vector — per-center population and coverage
    // radius, the routing table a coreset sampler consumes
    "q167_kcenter_assign" -> ((s, d) =>
      graft.sim.Similarity.kCenterAssign(
        Tables.t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        k = 8).orderBy("rank")),

    // is byte-exact dedup too strict: duplicate docs found on raw vs
    // canonicalized (lowercase + whitespace-collapse) digests; planted
    // uppercase copies of every 31st doc are invisible to the raw
    // digest and caught by the canonical one
    "q168_norm_dedup_gain" -> ((s, d) => {
      val v = docs(s, d).select(col("doc_id"), col("text"))
      val planted = v.unionByName(v.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          upper(col("text")).as("text")))
      Dedup.normalizedDedupGain(planted).orderBy("n_docs")
    }),

    // KMV sketch set algebra: per source-pair union/intersection/Jaccard
    // ESTIMATES from the k-minimum-value sketches alone, next to the
    // exact truth — the cross-crawl overlap report that at 100 TB runs
    // off |G|·k sketch rows instead of joining the corpora
    "q169_kmv_setops" -> ((s, d) => {
      val sh = Dedup.shingles(
          docs(s, d).select(col("source").as("doc_id"), col("text")), 3)
        .select(col("doc_id").as("source"), col("shingle"))
      graft.stats.Sketches.kmvSetOps(sh, "source", "shingle", k = 128)
        .orderBy("src_a", "src_b")
    }),

    // detector precision/recall curve: the banded MinHash detector
    // scored against exact-Jaccard ground truth (threshold 2/5) on the
    // full+half-copy sweep universe, per band threshold t=1..4 — the
    // report that picks the band cut before a dedup run commits to one
    "q170_detector_pr" -> ((s, d) => {
      val sweepSh = TrainingQueries.sweepShingles(s, d)
      Dedup.detectorPr(sweepSh, numHashes = 8, rowsPerBand = 2,
        jacNum = 2, jacDen = 5).orderBy("t")
    }),

    // filter-gate agreement: Cohen's kappa between the stop-ratio gate
    // (≥0.15) and the distinct-ratio gate (≥0.6) — both exact-integer
    // comparisons; fires on ~30%/26% of the corpus so all four
    // confusion cells are populated, and kappa corrects the raw
    // agreement for the marginals
    "q171_gate_kappa" -> ((s, d) => {
      val toks = TextOps.tokensCol
      val nt = size(toks).cast("long")
      val sh = size(filter(toks,
        t => t.isInCollection(TrainingQueries.stopwords))).cast("long")
      val nd = size(array_distinct(toks)).cast("long")
      TextOps.gateAgreement(docs(s, d),
        sh * 100 >= nt * 15, nd * 10 >= nt * 6)
    }),

    // eval-sample refresh stability: the consistent doc_id-keyed draw
    // vs a size-salted one over the q164 snapshot pair — consistent
    // reshuffles 0 docs (only corpus adds/removes move the sample),
    // size-salted rotates ~3/4 of the carried sample on refresh
    "q172_sample_stability" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"))
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id")))
      graft.text.Mix.consistentSampleAudit(v1, v2).orderBy("scheme")
    }),

    // IVF + PQ composed (IVFADC on raw vectors): coarse 8-list routing
    // cuts the ADC scan to the 2 probed lists per query, PQ codes score
    // the survivors in integer micros — the production index shape at
    // 100 TB, every stage (both Lloyd trainings included) replayed in
    // DuckDB
    "q173_ivfpq_knn" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      graft.sim.Pq.ivfPqTopK(vecs).orderBy("qid", "rn")
    }),

    // IVF+PQ recall vs exact truth AND vs unrestricted PQ — the routing
    // loss isolated from the quantization loss (the report that answers
    // "is the 2-of-8 probe or the 16x compression costing me recall").
    // Both rankings come from one scoring pass: probing all 8 lists is
    // the flat PQ ranking
    "q174_ivfpq_recall" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val ranked = graft.sim.Pq.ivfPqPass(vecs, Seq(2, 8))
        .select(col("nprobe"), col("qid").as("src"), col("dst"))
      val ipq = ranked.filter(col("nprobe") === 2)
      val pq = ranked.filter(col("nprobe") === 8)
      val ex = exactTopK(vecs, 5)
        .select(col("qid").as("src"), col("vec_id").as("dst"))
      val hx = ex.join(ipq, Seq("src", "dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("h_ex"))
      val hp = pq.join(ipq, Seq("src", "dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("h_pq"))
      ex.select("src").distinct()
        .join(hx, Seq("src"), "left").join(hp, Seq("src"), "left")
        .na.fill(0, Seq("h_ex", "h_pq"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("h_ex")).cast("double")
            / (lit(5.0) * count(lit(1)).cast("double")), 6).as("recall_exact"),
          round(sum(col("h_pq")).cast("double")
            / (lit(5.0) * count(lit(1)).cast("double")), 6).as("recall_vs_pq"),
          sum(when(col("h_pq") === 5, 1L).otherwise(0L)).as("n_perfect_vs_pq"))
    }),

    // embedding truncation curve (the Matryoshka question): recall@5 of
    // exact search over the first 8/16/32 dims vs the full 64-dim truth
    // — how many dims the index actually needs, answered with data
    "q175_dim_truncation" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val q = Sample.capped(vecs, "vec_id")
        .select(col("vec_id").as("src"), col("v").as("va"))
      val dts = Seq(8, 16, 32, 64)
      val dists = vecs.select(col("vec_id").as("dst"), col("v").as("vb"))
        .crossJoin(broadcast(q)).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), explode(array(dts.map(dt =>
          struct(lit(dt).as("dims"),
            round(graft.sim.Similarity.l2(
              slice(col("va"), 1, dt), slice(col("vb"), 1, dt)), 6)
              .as("dist"))): _*)).as("e"))
        .select(col("src"), col("dst"), col("e.dims").as("dims"),
          col("e.dist").as("dist"))
      val tk = graft.ops.Windows.topKPerGroup(dists, Seq("dims", "src"), 5,
          Seq(col("dist"), col("dst")))
        .select("dims", "src", "dst")
        .localCheckpoint()
      val truth = tk.filter(col("dims") === 64).select("src", "dst")
      val hits = tk.filter(col("dims") =!= 64)
        .join(truth, Seq("src", "dst"), "left_semi")
        .groupBy("dims", "src").agg(count(lit(1)).as("h"))
      tk.filter(col("dims") =!= 64).select("dims", "src").distinct()
        .join(hits, Seq("dims", "src"), "left").na.fill(0, Seq("h"))
        .groupBy("dims").agg(count(lit(1)).as("n_queries"),
          round(sum(col("h")).cast("double")
            / (lit(5.0) * count(lit(1)).cast("double")), 6).as("recall_mean"),
          sum(when(col("h") === 5, 1L).otherwise(0L)).as("n_perfect"))
        .orderBy("dims")
    }),

    // transitive-chaining honesty report: of the pairs that keep-one
    // dedup co-groups via connected components, how many are DIRECT
    // near-dups at the STRICT J >= 4/5 definition vs chained-only —
    // the half-copy plants (J ~ 0.5) land in groups through the band
    // join without meeting the strict bar, so the chained fraction is
    // real, not vacuous (at 2/5 every co-grouped pair is also direct
    // and the report degenerates — measured, which is itself the point)
    "q176_chain_contamination" -> ((s, d) => {
      val sweepSh = TrainingQueries.sweepShingles(s, d)
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashSignature(sweepSh, 8), 8, 2)
      Dedup.chainContamination(sweepSh, pairs, jacNum = 4, jacDen = 5)
    }),

    // IVF probe-budget sweep: recall@5 at nprobe 1..4 from ONE scoring
    // pass (each candidate carries its list's probe rank) — the
    // latency/recall knob curve; scan cost grows ~nprobe/nLists
    "q179_ivf_probe_sweep" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      graft.sim.Pq.ivfPqProbeSweep(vecs).orderBy("nprobe")
    }),

    // deterministic Poisson-bootstrap CI for mean tokens/doc: 32
    // hash-derived replica weights in ONE pass — error bars with no
    // resampling shuffle and no RNG, engine-exact
    "q186_bootstrap_ci" -> ((s, d) =>
      graft.analytics.Analytics.hashBootstrapCi(docs(s, d), col("doc_id"),
        size(TextOps.tokensCol))),

    // KMV mergeability CHECKED, not assumed: per-source sketches folded
    // into a corpus estimate vs the direct corpus sketch — bit-equal by
    // the k-minima theorem, which is what lets shards sketch
    // independently at 100 TB
    "q184_kmv_merge" -> ((s, d) => {
      val sh = Dedup.shingles(
          docs(s, d).select(col("source").as("doc_id"), col("text")), 3)
        .select(col("doc_id").as("source"), col("shingle"))
      graft.stats.Sketches.kmvMergeCheck(sh, "source", "shingle", k = 128)
    }),

    // CUPED variance reduction in exact fixed-point: θ and ρ² between a
    // user's even-event-id covariate slice and odd-id metric slice —
    // the A/B sensitivity arithmetic, engine-exact
    "q185_cuped" -> ((s, d) =>
      graft.analytics.Analytics.cupedReport(Tables.events(s, d))),

    // per-source token-length KS drift vs the rest of the corpus —
    // exact integer CDF numerators, one final division; the
    // distribution-shape gate next to q114's unigram KL
    "q183_ks_drift" -> ((s, d) =>
      TextOps.ksDrift(docs(s, d), col("source"),
          size(TextOps.tokensCol))
        .withColumnRenamed("grp", "source").orderBy("source")),

    // rank-biased overlap between the exact and PQ top-10 rankings per
    // query — top-weighted agreement in exact rational arithmetic
    // (p = 9/10, integer suffix coefficients, ONE final division)
    "q182_rank_overlap" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val pq = graft.sim.Pq.pqSelfTopK(vecs, topK = 10)
        .select(col("qid"), col("dst"), col("rn"))
      val ex = exactTopK(vecs, 10).select("qid", "vec_id", "rn")
      Similarity.rankBiasedOverlap(ex, pq).orderBy("qid")
    }),

    // reciprocal-rank fusion of the exact and PQ top-10 rankings per
    // query: integer RRF coefficients over lcm(61..70) decide the fused
    // order exactly (q182's rational-arithmetic stance), top-5 cut per
    // query — the standard multi-retriever ensembling primitive
    "q192_rrf_fusion" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val pq = graft.sim.Pq.pqSelfTopK(vecs, topK = 10)
        .select(col("qid"), col("dst"), col("rn"))
      val ex = exactTopK(vecs, 10).select("qid", "vec_id", "rn")
      // rrfFuse unions BOTH lists' qids into the output — restrict the
      // PQ side to the capped query sample so the fused qid set matches
      // the exact side (and the oracle) at any scale
      val pqc = pq.join(broadcast(Sample.capped(vecs, "vec_id")
        .select(col("vec_id").as("qid"))), Seq("qid"), "left_semi")
      Similarity.rrfFuse(ex, pqc).orderBy("qid", "rn")
    }),

    // incremental IVF maintenance: a planted refresh snapshot (every
    // 5th vector scaled 1.1 = near its source's list; every 50th
    // reversed = far from everything) assigned to the EXISTING lists —
    // growth + mean new-member distance per list, the drift signal
    // that schedules a retrain
    "q181_ivf_assign_delta" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val nv = vecs.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x * lit(1.1)).as("v"))
        .unionByName(vecs.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            reverse(col("v")).as("v")))
      graft.sim.Pq.ivfAssignDelta(vecs, nv).orderBy("list")
    }),

    // per-source keep-rate with Wilson 95% intervals on the stop-ratio
    // gate — rate monitoring that distinguishes "worse source" from
    // "small slice"; bounds are a fixed IEEE chain, engine-exact
    "q180_keep_rate_ci" -> ((s, d) => {
      val toks = TextOps.tokensCol
      val nt = size(toks).cast("long")
      val sh = size(filter(toks,
        t => t.isInCollection(TrainingQueries.stopwords))).cast("long")
      TextOps.gateRateCi(docs(s, d), col("source"), sh * 100 >= nt * 15)
        .withColumnRenamed("grp", "source").orderBy("source")
    }),

    // per-dim embedding QC: exact-micros min/max, mean, population
    // variance per dimension — the dead-dim / clipped-range / off-center
    // sanity pass before any ANN index build
    "q177_embedding_qc" -> ((s, d) =>
      graft.sim.Similarity.embeddingQc(Tables.t(s, d, "embeddings"))
        .orderBy("dim")),

    // IVF occupancy balance: per-list member share + lists-used + the
    // max/min occupancy ratio — the tail-latency gate on the same
    // coarse training q173 routes through
    "q178_ivf_balance" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      graft.sim.Pq.ivfBalance(vecs).orderBy("list")
    }),

    // boilerplate detection: the dominant 5-gram per source + its share
    // of the source's 5-gram occurrences — template-heavy feeds surface
    // before any dedup pass runs; planted footer text on src0 makes one
    // gram own a visible share (the naturals' top shares stay tiny)
    "q153_boilerplate" -> ((s, d) => {
      val planted = docs(s, d)
        .select(col("doc_id"), col("source"),
          when(col("source") === "src0",
            concat(col("text"), lit(" all rights reserved contact us today")))
            .otherwise(col("text")).as("text"))
      TextOps.boilerplateTop(planted, n = 5).orderBy("source")
    }),

    // vocabulary novelty curve: new TRIGRAM types per 50-doc slice +
    // cumulative vocabulary — the data-saturation diagnostic (trigram
    // types, because this corpus's 31-token unigram vocabulary
    // saturates inside the first slice; the trigram curve decays
    // 2413 -> 886 new types across sf0.01's ten slices)
    "q148_vocab_novelty" -> ((s, d) =>
      TextOps.vocabNovelty(docs(s, d), bucket = 50, n = 3).orderBy("bucket")))

  /** q143's per-subspace deterministic-Lloyd chain (the q83 template,
    * without sampling/normalization — [[graft.pipeline.Cluster
    * .lloydWithCenters]] trains on every vector): subvector slice,
    * md5-ordered distinct-vector init, `iters` assign/update rounds
    * with 9 dp-rounded means (empty clusters keep their center), final
    * full-corpus assignment as `codes_<s>`.
    */
  private def lloydChainSql(tag: String, lo: Int, w: Int, k: Int,
                            iters: Int, seedKey: String): String = {
    val hi = lo + w - 1
    def d2(a: String, c: String) =
      s"list_sum(list_transform(range(1, ${w + 1}), i -> ($a[i] - $c[i]) * ($a[i] - $c[i])))"
    val its = (1 to iters).map { t =>
      s"""
  asg_${tag}_$t AS MATERIALIZED (
    SELECT cell_id, cid FROM (
      SELECT sv.cell_id, kk.cid,
             ROW_NUMBER() OVER (PARTITION BY sv.cell_id
               ORDER BY ${d2("sv.p", "kk.c")}, kk.cid) AS rn
      FROM sv_$tag sv CROSS JOIN cent_${tag}_${t - 1} kk) WHERE rn = 1),
  cent_${tag}_$t AS MATERIALIZED (
    SELECT pp.cid, COALESCE(m.c, pp.c) AS c
    FROM cent_${tag}_${t - 1} pp LEFT JOIN (
      SELECT cid, LIST(m ORDER BY pos) AS c FROM (
        SELECT a.cid, u.pos, ROUND(AVG(u.x), 9) AS m
        FROM asg_${tag}_$t a JOIN svex_$tag u ON a.cell_id = u.cell_id
        GROUP BY a.cid, u.pos)
      GROUP BY cid) m ON pp.cid = m.cid)"""
    }.mkString(",")
    s"""
  sv_$tag AS MATERIALIZED (SELECT cell_id, p[$lo:$hi] AS p FROM vv),
  svex_$tag AS MATERIALIZED (
    SELECT cell_id, GENERATE_SUBSCRIPTS(p, 1) AS pos, UNNEST(p) AS x FROM sv_$tag),
  init_$tag AS MATERIALIZED (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY hsh, cell_id) AS INT) AS cid, p AS c
    FROM (SELECT * FROM (
            SELECT sv.*, MD5('$seedKey:' || cell_id) AS hsh,
                   ROW_NUMBER() OVER (PARTITION BY p
                     ORDER BY MD5('$seedKey:' || cell_id), cell_id) AS rv
            FROM sv_$tag sv) WHERE rv = 1)
    ORDER BY hsh, cell_id LIMIT $k),
  cent_${tag}_0 AS MATERIALIZED (SELECT cid, c FROM init_$tag),$its,
  codes_$tag AS MATERIALIZED (
    SELECT cell_id, cid FROM (
      SELECT sv.cell_id, kk.cid,
             ROW_NUMBER() OVER (PARTITION BY sv.cell_id
               ORDER BY ${d2("sv.p", "kk.c")}, kk.cid) AS rn
      FROM sv_$tag sv CROSS JOIN cent_${tag}_$iters kk) WHERE rn = 1)"""
  }

  private def pqLloydSql(s: Int, k: Int, iters: Int, seed: Long, w: Int): String = {
    val lo = s * w + 1; val hi = s * w + w
    s"""${lloydChainSql(s.toString, lo, w, k, iters, (seed + s).toString)},
  tab_$s AS MATERIALIZED (
    SELECT q.cell_id AS qid, kk.cid,
           list_sum(list_transform(range(1, ${w + 1}), i ->
             (CAST(ROUND(q.p[i] * 1000000.0) AS BIGINT)
                - CAST(ROUND(kk.c[i] * 1000000.0) AS BIGINT))
             * (CAST(ROUND(q.p[i] * 1000000.0) AS BIGINT)
                - CAST(ROUND(kk.c[i] * 1000000.0) AS BIGINT)))) AS d2m
    FROM (SELECT cell_id, p[$lo:$hi] AS p FROM vv
            WHERE ${Sample.inSql("vv", "cell_id", "cell_id")}) q
    CROSS JOIN cent_${s}_$iters kk)"""
  }

  /** The full PQ chain ending in `tk (qid, dst, adc_micro, rn)` —
    * shared by q143 (the ADC top-k itself) and q144 (recall vs exact
    * ground truth). The test embeddings are 64-dim (Spark derives this;
    * the oracle pins it — a dim change would fail loudly on row counts).
    */
  private def pqChainSql: String = {
    val m = 4; val k = 16; val iters = 5; val seed = 77L; val w = 16
    val chains = (0 until m).map(s => pqLloydSql(s, k, iters, seed, w)).mkString(",")
    val codesU = (0 until m).map(s => s"SELECT $s AS s, * FROM codes_$s")
      .mkString("\n           UNION ALL ")
    val tabU = (0 until m).map(s => s"SELECT $s AS s, * FROM tab_$s")
      .mkString("\n           UNION ALL ")
    s"""vv AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding::DOUBLE[] AS p FROM embeddings),$chains,
  codes AS ($codesU),
  tab AS ($tabU),
  adc AS (
    SELECT t.qid, c.cell_id AS dst, CAST(SUM(t.d2m) AS BIGINT) AS adc_micro
    FROM codes c JOIN tab t ON t.s = c.s AND t.cid = c.cid
    WHERE c.cell_id != t.qid
    GROUP BY t.qid, c.cell_id),
  tk AS (
    SELECT qid, dst, adc_micro,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY adc_micro, dst) AS INT) AS rn
    FROM adc)"""
  }

  /** q173's replay: the q143 PQ chain (codebooks + per-query ADC
    * tables) plus a coarse 8-list Lloyd on the FULL 64-dim vectors
    * (tag `c`), 2-probe routing ranked by the same float d2 the
    * assignment uses, and ADC restricted to the probed lists' members.
    */
  private def ivfPqChainSql: String = {
    val nProbe = 2; val iters = 5
    s"""$pqChainSql,${lloydChainSql("c", 1, 64, 8, iters, "55")},
  probes AS (
    SELECT qid, list FROM (
      SELECT q.cell_id AS qid, kk.cid AS list,
             ROW_NUMBER() OVER (PARTITION BY q.cell_id
               ORDER BY list_sum(list_transform(range(1, 65), i ->
                 (q.p[i] - kk.c[i]) * (q.p[i] - kk.c[i]))), kk.cid) AS rn
      FROM (SELECT * FROM vv
            WHERE ${Sample.inSql("vv", "cell_id", "cell_id")}) q
      CROSS JOIN cent_c_$iters kk)
    WHERE rn <= $nProbe),
  cand AS (
    SELECT pr.qid, l.cell_id AS dst
    FROM probes pr JOIN codes_c l ON l.cid = pr.list
    WHERE l.cell_id != pr.qid),
  adcr AS (
    SELECT cd.qid, cd.dst, CAST(SUM(t.d2m) AS BIGINT) AS adc_micro
    FROM cand cd
    JOIN codes k2 ON k2.cell_id = cd.dst
    JOIN tab t ON t.qid = cd.qid AND t.s = k2.s AND t.cid = k2.cid
    GROUP BY 1, 2),
  tkr AS (
    SELECT qid, dst, adc_micro,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY adc_micro, dst) AS INT) AS rn
    FROM adcr)"""
  }

  private def q173OracleSql: String =
    s"""WITH $ivfPqChainSql
  SELECT qid, dst,
         ROUND(SQRT(CAST(adc_micro AS DOUBLE) / 1000000000000.0), 6) AS adc_dist,
         rn
  FROM tkr WHERE rn <= 5 ORDER BY qid, rn"""

  /** q174's replay: IVF+PQ top-5 scored against BOTH the exact ground
    * truth (total quality) and the unrestricted PQ top-5 (routing loss
    * in isolation — what the 2-of-8-list probe alone discards).
    */
  private def q174OracleSql: String =
    s"""WITH $ivfPqChainSql,
  ipqk AS (SELECT qid, dst FROM tkr WHERE rn <= 5),
  pqk AS (SELECT qid, dst FROM tk WHERE rn <= 5),
  exd AS (
    SELECT q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
             - 2 * LIST_DOT_PRODUCT(q.p, c.p)
             + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
    FROM vv q CROSS JOIN vv c
    WHERE ${Sample.inSql("vv", "cell_id", "q.cell_id")}
      AND q.cell_id != c.cell_id),
  exk AS (
    SELECT src, dst FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM exd)
    WHERE rn <= 5),
  hx AS (
    SELECT e.src, COUNT(a.dst) AS h_ex
    FROM exk e LEFT JOIN ipqk a ON a.qid = e.src AND a.dst = e.dst
    GROUP BY 1),
  hp AS (
    SELECT p.qid AS src, COUNT(a.dst) AS h_pq
    FROM pqk p LEFT JOIN ipqk a ON a.qid = p.qid AND a.dst = p.dst
    GROUP BY 1)
  SELECT COUNT(*) AS n_queries,
         ROUND(CAST(SUM(h_ex) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
           AS recall_exact,
         ROUND(CAST(SUM(h_pq) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
           AS recall_vs_pq,
         CAST(SUM(CASE WHEN h_pq = 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_perfect_vs_pq
  FROM hx JOIN hp USING (src)"""

  /** q175's replay: per-truncation exact top-5 via LIST slicing, scored
    * against the full-dim truth.
    */
  private def q175OracleSql: String =
    s"""WITH vv AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding::DOUBLE[] AS p FROM embeddings),
  q AS (SELECT * FROM vv
    WHERE ${Sample.inSql("vv", "cell_id", "cell_id")}),
  dts AS (SELECT CAST(UNNEST([8, 16, 32, 64]) AS INT) AS dims),
  dd AS (
    SELECT dt.dims, q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(
             LIST_DOT_PRODUCT(q.p[1:dt.dims], q.p[1:dt.dims])
             - 2 * LIST_DOT_PRODUCT(q.p[1:dt.dims], c.p[1:dt.dims])
             + LIST_DOT_PRODUCT(c.p[1:dt.dims], c.p[1:dt.dims]), 0)), 6)
             AS dist
    FROM q CROSS JOIN vv c CROSS JOIN dts dt
    WHERE q.cell_id != c.cell_id),
  tk AS (
    SELECT dims, src, dst FROM (
      SELECT dims, src, dst,
             ROW_NUMBER() OVER (PARTITION BY dims, src
               ORDER BY dist, dst) AS rn
      FROM dd) WHERE rn <= 5),
  tr AS (SELECT src, dst FROM tk WHERE dims = 64),
  h AS (
    SELECT t.dims, t.src, COUNT(r.dst) AS h
    FROM tk t LEFT JOIN tr r ON r.src = t.src AND r.dst = t.dst
    WHERE t.dims != 64 GROUP BY 1, 2)
  SELECT dims, COUNT(*) AS n_queries,
         ROUND(CAST(SUM(h) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
           AS recall_mean,
         CAST(SUM(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
  FROM h GROUP BY dims ORDER BY dims"""

  /** q176's replay: the sweep chain's candidate pairs closed under the
    * recursive min-label CC, multi-doc groups' co-grouped pairs scored
    * against the df-capped exact-Jaccard direct set.
    */
  private def q176OracleSql: String =
    s"""WITH RECURSIVE ${TrainingQueries.sweepChainSql},
  uni AS (SELECT DISTINCT doc_id FROM psh),
  e AS (SELECT ida AS s, idb AS t FROM pairs
        UNION ALL SELECT idb, ida FROM pairs),
  reach AS (
    SELECT doc_id AS node, doc_id AS lbl FROM uni
    UNION
    SELECT e.t, r.lbl FROM reach r JOIN e ON e.s = r.node),
  comp AS (SELECT node AS doc_id, MIN(lbl) AS group_id
           FROM reach GROUP BY node),
  szs AS (SELECT group_id, COUNT(*) AS n FROM comp GROUP BY 1),
  multi AS (
    SELECT c.doc_id, c.group_id FROM comp c
    JOIN szs z USING (group_id) WHERE z.n > 1),
  capped AS (
    SELECT doc_id, group_id FROM (
      SELECT doc_id, group_id,
             ROW_NUMBER() OVER (PARTITION BY group_id
               ORDER BY md5('chain:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM multi) WHERE rn <= 64),
  gp AS (
    SELECT a.doc_id AS ida, b.doc_id AS idb FROM capped a
    JOIN capped b ON a.group_id = b.group_id AND a.doc_id < b.doc_id),
  shc AS (
    SELECT * FROM psh WHERE shingle IN (
      SELECT shingle FROM psh GROUP BY 1 HAVING COUNT(*) <= 10000)),
  sz AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
  direct AS (
    SELECT i.ida, i.idb FROM (
      SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2) i
    JOIN sz sa ON sa.doc_id = i.ida
    JOIN sz sb ON sb.doc_id = i.idb
    WHERE i.inter * 5 >= (sa.sz + sb.sz - i.inter) * 4),
  pr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d.ida IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_direct
    FROM gp g LEFT JOIN direct d ON d.ida = g.ida AND d.idb = g.idb),
  gr AS (
    SELECT CAST(COUNT(DISTINCT group_id) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_grouped_docs
    FROM multi)
  SELECT n_groups, n_grouped_docs, n_pairs, n_direct,
         n_pairs - n_direct AS n_chained,
         CASE WHEN n_pairs > 0
              THEN ROUND(CAST(n_pairs - n_direct AS DOUBLE)
                         / CAST(n_pairs AS DOUBLE), 6)
         END AS chained_frac
  FROM gr, pr"""

  /** q178's replay: the q173 coarse chain's final assignment, one count
    * aggregation, and the balance scalars.
    */
  private def q178OracleSql: String =
    s"""WITH vv AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding::DOUBLE[] AS p FROM embeddings),${lloydChainSql("c", 1, 64, 8, 5, "55")},
  counts AS (
    SELECT cid AS list, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM codes_c GROUP BY 1),
  tot AS (
    SELECT CAST(SUM(n_vecs) AS BIGINT) AS t,
           MAX(n_vecs) AS mx, MIN(n_vecs) AS mn,
           CAST(COUNT(*) AS BIGINT) AS n_lists_used
    FROM counts)
  SELECT list, n_vecs,
         ROUND(CAST(n_vecs AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share,
         n_lists_used,
         ROUND(CAST(mx AS DOUBLE) / CAST(mn AS DOUBLE), 6) AS imbalance
  FROM counts, tot ORDER BY list"""

  /** q179's replay: coarse chain, probe ranks to 4, ONE ADC pass with
    * the per-candidate probe rank, the per-nprobe top-5 cut, recall vs
    * the exact truth.
    */
  private def q179OracleSql: String =
    s"""WITH $pqChainSql,${lloydChainSql("c", 1, 64, 8, 5, "55")},
  prb AS (
    SELECT qid, list, prank FROM (
      SELECT q.cell_id AS qid, kk.cid AS list,
             ROW_NUMBER() OVER (PARTITION BY q.cell_id
               ORDER BY list_sum(list_transform(range(1, 65), i ->
                 (q.p[i] - kk.c[i]) * (q.p[i] - kk.c[i]))), kk.cid) AS prank
      FROM (SELECT * FROM vv
            WHERE ${Sample.inSql("vv", "cell_id", "cell_id")}) q
      CROSS JOIN cent_c_5 kk)
    WHERE prank <= 4),
  cnd AS (
    SELECT pr.qid, l.cell_id AS dst, pr.prank
    FROM prb pr JOIN codes_c l ON l.cid = pr.list
    WHERE l.cell_id != pr.qid),
  adcs AS (
    SELECT cd.qid, cd.dst, CAST(SUM(t.d2m) AS BIGINT) AS adc_micro,
           MIN(cd.prank) AS prank
    FROM cnd cd
    JOIN codes k2 ON k2.cell_id = cd.dst
    JOIN tab t ON t.qid = cd.qid AND t.s = k2.s AND t.cid = k2.cid
    GROUP BY 1, 2),
  tts AS (SELECT CAST(UNNEST(RANGE(1, 5)) AS INT) AS nprobe),
  swp AS (
    SELECT nprobe, qid, dst FROM (
      SELECT tt.nprobe, a.qid, a.dst,
             ROW_NUMBER() OVER (PARTITION BY tt.nprobe, a.qid
               ORDER BY a.adc_micro, a.dst) AS rn
      FROM adcs a JOIN tts tt ON a.prank <= tt.nprobe)
    WHERE rn <= 5),
  exd AS (
    SELECT q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
             - 2 * LIST_DOT_PRODUCT(q.p, c.p)
             + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
    FROM vv q CROSS JOIN vv c
    WHERE ${Sample.inSql("vv", "cell_id", "q.cell_id")}
      AND q.cell_id != c.cell_id),
  exk AS (
    SELECT src, dst FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM exd)
    WHERE rn <= 5),
  h AS (
    SELECT tt.nprobe, e.src AS qid, COUNT(s.dst) AS h
    FROM tts tt
    CROSS JOIN exk e
    LEFT JOIN swp s ON s.nprobe = tt.nprobe AND s.qid = e.src
                   AND s.dst = e.dst
    GROUP BY 1, 2)
  SELECT nprobe, COUNT(*) AS n_queries,
         ROUND(CAST(SUM(h) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
           AS recall_mean,
         CAST(SUM(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
  FROM h GROUP BY nprobe ORDER BY nprobe"""

  /** q181's replay: the coarse chain, the planted snapshot, broadcast
    * argmin assignment (same float d2 + cid tiebreak the training
    * uses), integer-micro distances.
    */
  private def q181OracleSql: String = {
    def d2(a: String, c: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $c[i]) * ($a[i] - $c[i])))"
    s"""WITH vv AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding::DOUBLE[] AS p FROM embeddings),${lloydChainSql("c", 1, 64, 8, 5, "55")},
  nv AS (
    SELECT cell_id + 1000000 AS vec_id,
           LIST_TRANSFORM(p, x -> x * 1.1) AS p
    FROM vv WHERE cell_id % 5 = 0
    UNION ALL
    SELECT cell_id + 2000000, LIST_REVERSE(p)
    FROM vv WHERE cell_id % 50 = 0),
  na AS (
    SELECT vec_id, cid AS list,
           CAST(ROUND(SQRT(d2) * 1000000.0) AS BIGINT) AS dist_micro
    FROM (
      SELECT n.vec_id, kk.cid, ${d2("n.p", "kk.c")} AS d2,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id
               ORDER BY ${d2("n.p", "kk.c")}, kk.cid) AS rn
      FROM nv n CROSS JOIN cent_c_5 kk) WHERE rn = 1),
  oc AS (SELECT cid AS list, CAST(COUNT(*) AS BIGINT) AS n_old
         FROM codes_c GROUP BY 1),
  nc AS (SELECT list, CAST(COUNT(*) AS BIGINT) AS n_new,
                CAST(SUM(dist_micro) AS BIGINT) AS sd
         FROM na GROUP BY 1)
  SELECT list,
         COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
         CASE WHEN COALESCE(n_old, 0) > 0
              THEN ROUND(CAST(COALESCE(n_new, 0) AS DOUBLE)
                         / CAST(n_old AS DOUBLE), 6) END AS growth,
         CASE WHEN COALESCE(n_new, 0) > 0
              THEN ROUND(CAST(sd AS DOUBLE) / CAST(n_new AS DOUBLE)
                         / 1000000.0, 6) END AS mean_new_dist
  FROM oc FULL OUTER JOIN nc USING (list) ORDER BY list"""
  }

  /** q182's replay: exact + PQ top-10 off the shared chains, the
    * integer suffix coefficients as a VALUES table, one division.
    */
  private def q182OracleSql: String = {
    val sm = graft.sim.Similarity.rboSuffix(10).zipWithIndex
      .map { case (s, i) => s"(${i + 1}, ${s})" }.mkString(", ")
    s"""WITH $pqChainSql,
  exd AS (
    SELECT q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
             - 2 * LIST_DOT_PRODUCT(q.p, c.p)
             + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
    FROM vv q CROSS JOIN vv c
    WHERE ${Sample.inSql("vv", "cell_id", "q.cell_id")}
      AND q.cell_id != c.cell_id),
  exk AS (
    SELECT src AS qid, dst, rn FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM exd)
    WHERE rn <= 10),
  pqk AS (SELECT qid, dst, rn FROM tk WHERE rn <= 10),
  sm(m, s) AS (VALUES $sm),
  jj AS (
    SELECT e.qid, GREATEST(e.rn, p.rn) AS m
    FROM exk e JOIN pqk p ON p.qid = e.qid AND p.dst = e.dst),
  agg AS (
    SELECT j.qid, CAST(SUM(sm.s) AS BIGINT) AS num,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM jj j JOIN sm ON sm.m = j.m GROUP BY 1),
  qs AS (SELECT DISTINCT qid FROM exk)
  SELECT qs.qid, COALESCE(n_common, 0) AS n_common,
         ROUND(CAST(COALESCE(num, 0) AS DOUBLE) / 25200000000000.0, 6) AS rbo
  FROM qs LEFT JOIN agg ON agg.qid = qs.qid ORDER BY qs.qid"""
  }

  /** q192's replay: the q182 exact + PQ top-10 chains, fused with the
    * SAME integer RRF coefficients (lcm(61..70)/(60+r)) the Spark side
    * embeds — the fused order is decided on integer sums.
    */
  private def q192OracleSql: String = {
    val (den, cs) = graft.sim.Similarity.rrfCoeffs(60, 10)
    val cVals = cs.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c})" }.mkString(", ")
    s"""WITH $pqChainSql,
  exd AS (
    SELECT q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
             - 2 * LIST_DOT_PRODUCT(q.p, c.p)
             + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
    FROM vv q CROSS JOIN vv c
    WHERE ${Sample.inSql("vv", "cell_id", "q.cell_id")}
      AND q.cell_id != c.cell_id),
  exk AS (
    SELECT src AS qid, dst, rn FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM exd)
    WHERE rn <= 10),
  pqk AS (SELECT qid, dst, rn FROM tk
    WHERE rn <= 10 AND ${Sample.inSql("vv", "cell_id", "qid")}),
  cw(r, w) AS (VALUES $cVals),
  uu AS (
    SELECT qid, dst, rn FROM exk
    UNION ALL SELECT qid, dst, rn FROM pqk),
  sc AS (
    SELECT uu.qid, uu.dst, CAST(SUM(cw.w) AS BIGINT) AS score_num,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM uu JOIN cw ON cw.r = uu.rn GROUP BY 1, 2),
  rk AS (
    SELECT qid, dst, score_num, n_lists,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY score_num DESC, dst) AS INT) AS rn
    FROM sc)
  SELECT qid, rn, dst, n_lists,
         ROUND(CAST(score_num AS DOUBLE) / ${den}.0, 6) AS rrf_score
  FROM rk WHERE rn <= 5 ORDER BY qid, rn"""
  }

  private def q143OracleSql: String =
    s"""WITH $pqChainSql
  SELECT qid, dst,
         ROUND(SQRT(CAST(adc_micro AS DOUBLE) / 1000000000000.0), 6) AS adc_dist,
         rn
  FROM tk WHERE rn <= 5 ORDER BY qid, rn"""

  private def q144OracleSql: String =
    s"""WITH $pqChainSql,
  pqk AS (SELECT qid, dst FROM tk WHERE rn <= 5),
  exd AS (
    SELECT q.cell_id AS src, c.cell_id AS dst,
           ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT(q.p, q.p)
             - 2 * LIST_DOT_PRODUCT(q.p, c.p)
             + LIST_DOT_PRODUCT(c.p, c.p), 0)), 6) AS dist
    FROM vv q CROSS JOIN vv c
    WHERE ${Sample.inSql("vv", "cell_id", "q.cell_id")}
      AND q.cell_id != c.cell_id),
  exk AS (
    SELECT src, dst FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
      FROM exd)
    WHERE rn <= 5),
  hits AS (
    SELECT e.src, COUNT(a.dst) AS h
    FROM exk e LEFT JOIN pqk a ON a.qid = e.src AND a.dst = e.dst
    GROUP BY e.src)
  SELECT COUNT(*) AS n_queries,
         ROUND(CAST(SUM(h) AS DOUBLE) / (5.0 * CAST(COUNT(*) AS DOUBLE)), 6)
           AS recall_mean,
         CAST(SUM(CASE WHEN h = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
  FROM hits"""

  /** The shared BPE-training CTE chain (r_0..r_merges + m_i argmax
    * stages, word column carried through) — q154 reads the merge table,
    * q155 the final symbol table.
    */
  private def bpeChainSql(merges: Int): String =
    bpeChainSqlFor(merges, "documents")

  private[queries] def bpeChainSqlFor(merges: Int, rel: String): String = {
    val stages = (1 to merges).map { i =>
      s"""
  pc_$i AS MATERIALIZED (
    SELECT s[j] AS s1, s[j+1] AS s2, CAST(SUM(c) AS BIGINT) AS cnt
    FROM (SELECT c, REGEXP_SPLIT_TO_ARRAY(repr, ' ') AS s FROM r_${i - 1}) t,
         LATERAL (SELECT UNNEST(RANGE(1, LEN(s))) AS j)
    GROUP BY 1, 2),
  m_$i AS MATERIALIZED (
    SELECT s1, s2, cnt FROM pc_$i ORDER BY cnt DESC, s1, s2 LIMIT 1),
  r_$i AS MATERIALIZED (
    SELECT w, c, TRIM(REPLACE(' ' || repr || ' ',
      ' ' || (SELECT s1 FROM m_$i) || ' ' || (SELECT s2 FROM m_$i) || ' ',
      ' ' || (SELECT s1 FROM m_$i) || (SELECT s2 FROM m_$i) || ' ')) AS repr
    FROM r_${i - 1})"""
    }.mkString(",")
    s"""r_0 AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
           TRIM(REGEXP_REPLACE(w, '(.)', '\\1 ', 'g')) AS repr
    FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w
          FROM $rel) t
    GROUP BY w),$stages"""
  }

  /** q154's DuckDB replay: the full BPE training loop as generated CTE
    * stages — per step, weighted pair counts over the current
    * distinct-word symbol table, the (cnt desc, s1, s2) argmax, and the
    * padded literal REPLACE merge (left-to-right non-overlapping, the
    * same greedy rule java's appendReplacement applies Spark-side).
    */
  private def q154OracleSql: String = {
    val merges = 8
    val union = (1 to merges).map(i =>
      s"SELECT $i AS step, s1, s2, cnt FROM m_$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeChainSql(merges)}
  $union
  ORDER BY step"""
  }

  /** The planted-universe prefix shared by q156/q160: the natural-pair
    * max sizes the heavy-plant weight K, `alldocs` = corpus + K heavy
    * docs + the light divergence doc.
    */
  private val plantSql: String =
    s"""natw AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS c,
           TRIM(REGEXP_REPLACE(w, '(.)', '\\1 ', 'g')) AS repr
    FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w
          FROM documents) t
    GROUP BY w),
  natp AS (
    SELECT MAX(cnt) AS m FROM (
      SELECT s[j] AS s1, s[j+1] AS s2, CAST(SUM(c) AS BIGINT) AS cnt
      FROM (SELECT c, REGEXP_SPLIT_TO_ARRAY(repr, ' ') AS s FROM natw) t,
           LATERAL (SELECT UNNEST(RANGE(1, LEN(s))) AS j)
      GROUP BY 1, 2)),
  kk AS (SELECT CAST(CEIL(m / 2.0) AS BIGINT) + 1 AS k FROM natp),
  alldocs AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT 9000000 + i, '23 23 23 12 12'
    FROM (SELECT UNNEST(RANGE(0, (SELECT k FROM kk))) AS i)
    UNION ALL SELECT 9900000, '123')"""

  /** Vocabulary + all-matches + longest-match jump CTEs over the BPE
    * chain's r_0/m_i (shared by q156/q160): `vocab` (r_0 chars + merge
    * products), `mt` (EVERY vocab match at every word position, via a
    * RANGE cross product — dependent chained LATERALs crash the
    * binder), `jump` (the greedy per-position max length).
    */
  private def vocabMatchSql(maxWl: Int): String = {
    val mall = (1 to 8).map(i => s"SELECT s1, s2 FROM m_$i")
      .mkString(" UNION ALL ")
    s"""vocab AS (
    SELECT DISTINCT UNNEST(REGEXP_SPLIT_TO_ARRAY(repr, ' ')) AS sym FROM r_0
    UNION SELECT s1 || s2 FROM ($mall)),
  vs AS (SELECT sym, LEN(sym) AS slen FROM vocab),
  wt AS (SELECT w, LEN(w) AS wl FROM r_0),
  mt AS MATERIALIZED (
    SELECT wt.w, wt.wl, p.pos, vs.sym, vs.slen
    FROM wt
    CROSS JOIN (SELECT UNNEST(RANGE(1, ${maxWl + 1})) AS pos) p
    CROSS JOIN vs
    WHERE p.pos <= wt.wl AND SUBSTRING(wt.w, p.pos, vs.slen) = vs.sym),
  jump AS (SELECT w, pos, MAX(slen) AS step FROM mt GROUP BY w, pos)"""
  }

  /** The unrolled greedy longest-match walk g_0..g_maxWl (needs wt +
    * jump in scope).
    */
  private def greedyStagesSql(maxWl: Int): String = {
    val stages = (1 to maxWl).map { i =>
      s"""
  g_$i AS MATERIALIZED (
    SELECT g.w, g.wl,
      CASE WHEN g.pos <= g.wl THEN g.pos + j.step ELSE g.pos END AS pos,
      CASE WHEN g.pos <= g.wl THEN g.n + 1 ELSE g.n END AS n,
      CASE WHEN g.pos <= g.wl THEN g.seg || ' ' || SUBSTRING(g.w, g.pos, j.step)
           ELSE g.seg END AS seg
    FROM g_${i - 1} g LEFT JOIN jump j ON g.w = j.w AND g.pos = j.pos)"""
    }.mkString(",")
    s"""g_0 AS (SELECT w, wl, 1 AS pos, CAST(0 AS BIGINT) AS n, '' AS seg FROM wt),$stages"""
  }

  /** WordPiece greedy walk replay: the BPE chain's vocabulary (r_0
    * single chars + every m_i merge product), a (word, pos) longest-
    * match jump table built as a RANGE cross product (dependent chained
    * LATERALs crash DuckDB's binder), and 8 unrolled greedy stages —
    * 8 = the corpus's max word length (each stage consumes ≥1 char;
    * the Spark side sizes its walk from the data instead of pinning).
    */
  private def q156OracleSql: String = {
    val maxWl = 8
    s"""WITH $plantSql,
  ${bpeChainSqlFor(8, "alldocs")},
  ${vocabMatchSql(maxWl)},
  ${greedyStagesSql(maxWl)},
  cmp AS (
    SELECT g.w, g.n,
           CASE WHEN TRIM(g.seg) != r.repr THEN 1 ELSE 0 END AS diff
    FROM g_$maxWl g JOIN r_8 r ON g.w = r.w),
  segd AS (
    SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w
    FROM alldocs)
  SELECT segd.doc_id, COUNT(*) AS n_words,
         CAST(SUM(c.n) AS BIGINT) AS n_pieces,
         CAST(SUM(c.diff) AS BIGINT) AS n_diff_words
  FROM segd JOIN cmp c ON segd.w = c.w
  WHERE segd.doc_id < 9000000 OR segd.doc_id = 9900000
  GROUP BY segd.doc_id ORDER BY segd.doc_id"""
  }

  /** q160's replay: the q156 chain plus smoothed integer-micro-nat
    * symbol scores and the unrolled Viterbi DP — per stage, relax every
    * match at position p, then keep the best row per (word, pos) under
    * the deterministic (score desc, pieces asc, seg asc) order.
    */
  private def q160OracleSql: String = {
    val maxWl = 8
    val vit = (1 to maxWl).map { p =>
      s"""
  e_$p AS (
    SELECT b.w, b.wl, b.pos + m.slen AS pos, b.sc + m.score AS sc,
           b.n + 1 AS n, b.seg || ' ' || m.sym AS seg
    FROM b_${p - 1} b JOIN ms m ON m.w = b.w AND m.pos = b.pos
    WHERE b.pos = $p),
  b_$p AS MATERIALIZED (
    SELECT w, wl, pos, sc, n, seg FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY w, pos
        ORDER BY sc DESC, n, seg) AS rn
      FROM (SELECT * FROM b_${p - 1} UNION ALL SELECT * FROM e_$p))
    WHERE rn = 1)"""
    }.mkString(",")
    s"""WITH $plantSql,
  ${bpeChainSqlFor(8, "alldocs")},
  ${vocabMatchSql(maxWl)},
  ${greedyStagesSql(maxWl)},
  gfin AS (SELECT w, TRIM(seg) AS gseg FROM g_$maxWl),
  symcnt AS (
    SELECT sym, CAST(SUM(c) AS BIGINT) AS cnt FROM (
      SELECT c, UNNEST(REGEXP_SPLIT_TO_ARRAY(repr, ' ')) AS sym FROM r_8) t
    GROUP BY sym),
  vsc AS (
    SELECT v.sym, COALESCE(s.cnt, 0) AS cnt
    FROM vocab v LEFT JOIN symcnt s ON v.sym = s.sym),
  ts AS (
    SELECT CAST(SUM(cnt) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS tv
    FROM vsc),
  ms AS MATERIALIZED (
    SELECT mt.w, mt.wl, mt.pos, mt.sym, mt.slen,
           CAST(ROUND(LN((vsc.cnt + 1) / (SELECT tv FROM ts)) * 1000000.0)
             AS BIGINT) AS score
    FROM mt JOIN vsc ON mt.sym = vsc.sym),
  b_0 AS (SELECT w, wl, 1 AS pos, CAST(0 AS BIGINT) AS sc,
                 CAST(0 AS BIGINT) AS n, '' AS seg FROM wt),$vit,
  fin AS (SELECT w, n, TRIM(seg) AS vseg FROM b_$maxWl WHERE pos = wl + 1),
  cmp AS (
    SELECT f.w, f.n,
           CASE WHEN f.vseg != r.repr THEN 1 ELSE 0 END AS dbpe,
           CASE WHEN f.vseg != g.gseg THEN 1 ELSE 0 END AS dgre
    FROM fin f JOIN r_8 r ON f.w = r.w JOIN gfin g ON f.w = g.w),
  segd AS (
    SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w
    FROM alldocs)
  SELECT segd.doc_id, COUNT(*) AS n_words,
         CAST(SUM(c.n) AS BIGINT) AS n_pieces,
         CAST(SUM(c.dbpe) AS BIGINT) AS n_diff_bpe,
         CAST(SUM(c.dgre) AS BIGINT) AS n_diff_greedy
  FROM segd JOIN cmp c ON segd.w = c.w
  WHERE segd.doc_id < 9000000 OR segd.doc_id = 9900000
  GROUP BY segd.doc_id ORDER BY segd.doc_id"""
  }

  /** q161's replay: 8 unrolled greedy stages — per stage, the min
    * 6-dp-rounded distance of every vector to the chosen set, then the
    * deterministic (md desc, vec_id) top-1 joins the set.
    */
  private def kcDistSql(a: String, b: String) =
    s"""ROUND(SQRT(GREATEST(LIST_DOT_PRODUCT($a, $a)
             - 2 * LIST_DOT_PRODUCT($a, $b)
             + LIST_DOT_PRODUCT($b, $b), 0)), 6)"""

  /** The k-center selection chain ending in cc_k (shared by q161/q167). */
  private def kcChainSql(k: Int): String = {
    val stages = (2 to k).map { i =>
      s"""
  m_$i AS (
    SELECT v.vec_id, MIN(${kcDistSql("v.e", "c.e")}) AS md
    FROM v
    JOIN cc_${i - 1} cc ON TRUE
    JOIN v c ON c.vec_id = cc.cid
    GROUP BY v.vec_id),
  p_$i AS (SELECT vec_id, md FROM m_$i ORDER BY md DESC, vec_id LIMIT 1),
  cc_$i AS (
    SELECT * FROM cc_${i - 1}
    UNION ALL SELECT $i, vec_id, md FROM p_$i)"""
    }.mkString(",")
    s"""v AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
  cc_1 AS (
    SELECT 1 AS rank, vec_id AS cid, CAST(0.0 AS DOUBLE) AS radius
    FROM v ORDER BY vec_id LIMIT 1),$stages"""
  }

  private def q161OracleSql: String =
    s"""WITH ${kcChainSql(8)}
  SELECT rank, cid AS vec_id, radius FROM cc_8 ORDER BY rank"""

  /** q167's replay: the q161 chain, then every vector's argmin center
    * under the (dist, rank) order, rolled up per center.
    */
  private def q167OracleSql: String =
    s"""WITH ${kcChainSql(8)},
  dists AS (
    SELECT v.vec_id, cc.rank, cc.cid, ${kcDistSql("v.e", "c.e")} AS dist
    FROM v CROSS JOIN cc_8 cc JOIN v c ON c.vec_id = cc.cid),
  asg AS (
    SELECT vec_id, rank, cid, dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY dist, rank) AS rn FROM dists)
    WHERE rn = 1)
  SELECT rank, cid AS vec_id, COUNT(*) AS n_assigned, MAX(dist) AS max_dist
  FROM asg GROUP BY 1, 2 ORDER BY rank"""

  private def q168OracleSql: String =
    s"""WITH vv AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000, UPPER(text) FROM documents
    WHERE doc_id % 31 = 0),
  d AS (
    SELECT MD5(text) AS raw,
           MD5(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g')) AS canon
    FROM vv),
  rd AS (
    SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS raw_dup_docs,
           CAST(COUNT(*) AS BIGINT) AS raw_groups
    FROM (SELECT raw, COUNT(*) AS n FROM d GROUP BY 1 HAVING COUNT(*) > 1)),
  cd AS (
    SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS canon_dup_docs,
           CAST(COUNT(*) AS BIGINT) AS canon_groups
    FROM (SELECT canon, COUNT(*) AS n FROM d GROUP BY 1 HAVING COUNT(*) > 1)),
  tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d)
  SELECT n_docs, raw_dup_docs, raw_groups, canon_dup_docs, canon_groups,
         canon_dup_docs - raw_dup_docs AS gain_docs
  FROM tot, rd, cd"""

  /** q169's replay: source-shingle KMV sketches, pairwise merge (k
    * smallest of the sketch union), the plain KMV union estimate, ρ as
    * sketch-membership intersection over |S|, and the exact columns —
    * identical IEEE expression order on the two estimate divides.
    */
  private def q169OracleSql: String = {
    val k = 128
    s"""WITH sh AS (
    SELECT DISTINCT source AS grp, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
          FROM documents) t,
         LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
  h AS (SELECT DISTINCT grp, MD5(shingle) AS hhex FROM sh),
  sk AS (
    SELECT grp, hhex FROM (
      SELECT grp, hhex, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hhex) AS r
      FROM h) WHERE r <= $k),
  g AS (SELECT DISTINCT grp FROM h),
  p AS (SELECT a.grp AS ga, b.grp AS gb FROM g a JOIN g b ON a.grp < b.grp),
  ms AS (
    SELECT p.ga, p.gb, s.hhex,
           MAX(CASE WHEN s.grp = p.ga THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN s.grp = p.gb THEN 1 ELSE 0 END) AS in_b
    FROM p JOIN sk s ON s.grp = p.ga OR s.grp = p.gb GROUP BY 1, 2, 3),
  mg AS (
    SELECT * FROM (
      SELECT ms.*, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY hhex) AS r
      FROM ms) WHERE r <= $k),
  est AS (
    SELECT ga, gb, COUNT(*) AS s_n,
           MAX(CAST('0x' || SUBSTR(hhex, 1, 15) AS BIGINT)) AS mk,
           CAST(SUM(in_a * in_b) AS BIGINT) AS inter_s
    FROM mg GROUP BY 1, 2),
  exs AS (
    SELECT p.ga, p.gb, e.hhex,
           MAX(CASE WHEN e.grp = p.ga THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN e.grp = p.gb THEN 1 ELSE 0 END) AS in_b
    FROM p JOIN h e ON e.grp = p.ga OR e.grp = p.gb GROUP BY 1, 2, 3),
  exa AS (
    SELECT ga, gb,
           CAST(SUM(in_a) AS BIGINT) AS n_exact_a,
           CAST(SUM(in_b) AS BIGINT) AS n_exact_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS inter_exact,
           COUNT(*) AS union_exact
    FROM exs GROUP BY 1, 2)
  SELECT x.ga AS src_a, x.gb AS src_b, n_exact_a, n_exact_b, inter_exact,
         union_exact,
         ROUND(CAST(inter_exact AS DOUBLE) / CAST(union_exact AS DOUBLE), 6)
           AS jaccard_exact,
         ROUND(CASE WHEN s_n < $k THEN CAST(s_n AS DOUBLE)
               ELSE CAST(${k - 1}.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                    / CAST(mk AS DOUBLE) END, 4) AS union_est,
         ROUND(CAST(inter_s AS DOUBLE) / CAST(s_n AS DOUBLE), 6)
           AS jaccard_est,
         ROUND((CAST(inter_s AS DOUBLE) / CAST(s_n AS DOUBLE))
               * (CASE WHEN s_n < $k THEN CAST(s_n AS DOUBLE)
                  ELSE CAST(${k - 1}.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                       / CAST(mk AS DOUBLE) END), 4) AS inter_est
  FROM exa x JOIN est USING (ga, gb) ORDER BY src_a, src_b"""
  }

  /** q172's replay: the snapshot id-pair full-outer join, both sampling
    * schemes' md5 draws, and the entered/exited accounting.
    */
  private def q172OracleSql: String = {
    def sel(salt: String) =
      s"CAST('0x' || SUBSTR(MD5('smp:' || $salt" +
        "CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0"
    def pass(scheme: String, sel1: String, sel2: String) =
      s"""SELECT '$scheme' AS scheme,
         CAST(SUM(CASE WHEN in1 = 1 AND $sel1 THEN 1 ELSE 0 END) AS BIGINT) AS s_v1,
         CAST(SUM(CASE WHEN in2 = 1 AND $sel2 THEN 1 ELSE 0 END) AS BIGINT) AS s_v2,
         CAST(SUM(CASE WHEN in1 = 1 AND $sel1 AND in2 = 1 AND $sel2
                  THEN 1 ELSE 0 END) AS BIGINT) AS carried,
         CAST(SUM(CASE WHEN in2 = 1 AND $sel2 AND NOT (in1 = 1 AND $sel1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS entered,
         CAST(SUM(CASE WHEN in2 = 1 AND $sel2 AND in1 = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS entered_new,
         CAST(SUM(CASE WHEN in1 = 1 AND $sel1 AND NOT (in2 = 1 AND $sel2)
                  THEN 1 ELSE 0 END) AS BIGINT) AS exited,
         CAST(SUM(CASE WHEN in1 = 1 AND $sel1 AND in2 = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS exited_removed
       FROM j"""
    val saltedSel1 = sel("CAST((SELECT n FROM n1) AS VARCHAR) || ':' || ")
    val saltedSel2 = sel("CAST((SELECT n FROM n2) AS VARCHAR) || ':' || ")
    s"""WITH v1 AS (SELECT doc_id FROM documents),
       v2 AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id + 1000000 FROM documents WHERE doc_id % 19 = 0),
       n1 AS (SELECT COUNT(*) AS n FROM v1),
       n2 AS (SELECT COUNT(*) AS n FROM v2),
       j AS (
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS in1,
                CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS in2
         FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
       p AS (${pass("consistent", sel(""), sel(""))}
             UNION ALL
             ${pass("size_salted", saltedSel1, saltedSel2)})
       SELECT scheme, s_v1, s_v2, carried, entered, entered_new, exited,
              exited_removed,
              entered - entered_new + exited - exited_removed AS reshuffled
       FROM p ORDER BY scheme"""
  }

  /** q162's replay: the q113 NB chain's per-(doc, label) scores cut to
    * the positive class, then the integer Mann–Whitney rank sum.
    */
  private def q162OracleSql: String =
    s"""WITH ${CurationQueries.nbChainSql},
  en AS (SELECT doc_id, label_true, score_micro FROM fin WHERE label = 'en'),
  g AS (
    SELECT score_micro AS s, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CASE WHEN label_true = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp
    FROM en GROUP BY 1),
  r AS (
    SELECT s, cnt, cp,
           COALESCE(SUM(cnt) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
    FROM g),
  agg AS (
    SELECT CAST(SUM(cp) AS BIGINT) AS p,
           CAST(SUM(cnt - cp) AS BIGINT) AS n,
           CAST(SUM(cp * (2 * below + cnt + 1)) AS BIGINT) AS sum2r
    FROM r)
  SELECT p AS n_pos, n AS n_neg,
         ROUND(CAST(sum2r - p * (p + 1) AS DOUBLE)
           / CAST(2 * p * n AS DOUBLE), 6) AS auc
  FROM agg"""

  /** q158's replay: the seed-0 sign matrix (the LSH family's md5
    * construction), 16 projection coordinates as LIST_DOT_PRODUCT ×
    * 1/√16, distances by the shared dot-product identity on both the
    * original and projected lists.
    */
  private def q158OracleSql: String =
    s"""WITH v AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    WHERE vec_id % 10 = 0),
  dims AS (SELECT MAX(LEN(embedding)) AS nd FROM embeddings),
  signs AS (
    SELECT p.h,
           LIST(CASE WHEN SUBSTRING(MD5(CONCAT('0:', p.h, ':', j.j)), 1, 1)
                     BETWEEN '8' AND 'f' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j.j) AS sv
    FROM (SELECT UNNEST(RANGE(0, 16)) AS h) p
    CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT nd FROM dims))) AS j) j
    GROUP BY p.h),
  proj AS (
    SELECT v.vec_id, g.h,
           LIST_DOT_PRODUCT(v.e, g.sv) * (1.0 / SQRT(16.0)) AS y
    FROM v CROSS JOIN signs g),
  pv AS (SELECT vec_id, LIST(y ORDER BY h) AS p FROM proj GROUP BY vec_id),
  pr AS (
    SELECT a.vec_id AS ida, b.vec_id AS idb,
           SQRT(GREATEST(LIST_DOT_PRODUCT(a.e, a.e)
             - 2 * LIST_DOT_PRODUCT(a.e, b.e)
             + LIST_DOT_PRODUCT(b.e, b.e), 0)) AS dor,
           SQRT(GREATEST(LIST_DOT_PRODUCT(pa.p, pa.p)
             - 2 * LIST_DOT_PRODUCT(pa.p, pb.p)
             + LIST_DOT_PRODUCT(pb.p, pb.p), 0)) AS dpr
    FROM v a JOIN v b ON b.vec_id = a.vec_id + 10
    JOIN pv pa ON pa.vec_id = a.vec_id
    JOIN pv pb ON pb.vec_id = b.vec_id)
  SELECT ida, idb, ROUND(dor, 6) AS d_orig, ROUND(dpr, 6) AS d_proj,
         ROUND(dpr / dor, 6) AS ratio
  FROM pr ORDER BY ida"""

  /** q157's replay: the q57 sign-matrix chain in its ASYMMETRIC form —
    * corpus-sized planes, eval side alone explodes the Hamming-1
    * multi-probes, distances computed once per DISTINCT candidate pair
    * (identical across rounds, so Spark's min-over-rounds is a dedup).
    */
  private def q157OracleSql: String =
    s"""WITH corpus AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
  ev AS MATERIALIZED (
    SELECT vec_id + 1000000 AS vec_id, LIST_TRANSFORM(e, x -> x * 1.2) AS e
    FROM corpus WHERE vec_id % 25 = 0
    UNION ALL
    SELECT vec_id + 2000000, LIST_REVERSE(e)
    FROM corpus WHERE vec_id % 25 = 7),
  params AS (
    SELECT GREATEST(4, CAST(CEIL(LOG2(CAST(CEIL(COUNT(*) / 128.0) AS BIGINT))) AS INT)) AS np
    FROM corpus),
  dims AS (SELECT MAX(LEN(e)) AS nd FROM corpus),
  signs AS (
    SELECT s.seed, p.h,
           LIST(CASE WHEN SUBSTRING(MD5(CONCAT(s.seed, ':', p.h, ':', j.j)), 1, 1)
                     BETWEEN '8' AND 'f' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(-1.0 AS DOUBLE) END ORDER BY j.j) AS sv
    FROM (SELECT UNNEST(RANGE(0, 6)) AS seed) s
    CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT np FROM params))) AS h) p
    CROSS JOIN (SELECT UNNEST(RANGE(0, (SELECT nd FROM dims))) AS j) j
    GROUP BY s.seed, p.h),
  buckc AS (
    SELECT g.seed, c.vec_id,
           CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(c.e, g.sv) > 0
                         THEN (1::BIGINT << g.h) ELSE 0 END) AS BIGINT) AS bucket
    FROM corpus c CROSS JOIN signs g
    GROUP BY g.seed, c.vec_id),
  buckq AS (
    SELECT g.seed, q.vec_id,
           CAST(SUM(CASE WHEN LIST_DOT_PRODUCT(q.e, g.sv) > 0
                         THEN (1::BIGINT << g.h) ELSE 0 END) AS BIGINT) AS bucket
    FROM ev q CROSS JOIN signs g
    GROUP BY g.seed, q.vec_id),
  probes AS (
    SELECT seed, vec_id,
           UNNEST(LIST_PREPEND(bucket,
             LIST_TRANSFORM(RANGE(0, (SELECT np FROM params)),
               h -> xor(bucket, 1::BIGINT << h)))) AS probe
    FROM buckq),
  cand AS (
    SELECT DISTINCT p.vec_id AS src, b.vec_id AS dst
    FROM probes p JOIN buckc b ON p.seed = b.seed AND p.probe = b.bucket),
  d AS (
    SELECT c.src, c.dst,
           SQRT(GREATEST(LIST_DOT_PRODUCT(qa.e, qa.e)
             - 2 * LIST_DOT_PRODUCT(qa.e, cb.e)
             + LIST_DOT_PRODUCT(cb.e, cb.e), 0)) AS dist
    FROM cand c
    JOIN ev qa ON c.src = qa.vec_id
    JOIN corpus cb ON c.dst = cb.vec_id),
  nb AS (
    SELECT src, dst, ROUND(MIN(dist), 6) AS dist
    FROM d GROUP BY src, dst
    HAVING ROUND(MIN(dist), 6) <= 0.3)
  SELECT dst AS vec_id, COUNT(*) AS n_eval_hits, MIN(dist) AS min_dist
  FROM nb GROUP BY dst ORDER BY dst"""

  private def q155OracleSql: String =
    s"""WITH ${bpeChainSql(8)},
  fin AS (
    SELECT w, LEN(REGEXP_SPLIT_TO_ARRAY(repr, ' ')) AS n_sym FROM r_8),
  seg AS (
    SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS w
    FROM documents)
  SELECT seg.doc_id, COUNT(*) AS n_words,
         CAST(SUM(fin.n_sym) AS BIGINT) AS n_subwords,
         ROUND(CAST(SUM(fin.n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS fertility
  FROM seg JOIN fin ON seg.w = fin.w
  GROUP BY seg.doc_id ORDER BY seg.doc_id"""

  val oracle: Map[String, String] = Map(

    "q154_bpe_train" -> q154OracleSql,

    "q155_bpe_segment" -> q155OracleSql,

    "q156_wordpiece" -> q156OracleSql,

    "q157_semantic_decontam" -> q157OracleSql,

    "q160_viterbi_segment" -> q160OracleSql,

    "q161_kcenters" -> q161OracleSql,

    "q167_kcenter_assign" -> q167OracleSql,

    "q168_norm_dedup_gain" -> q168OracleSql,

    "q169_kmv_setops" -> q169OracleSql,

    "q172_sample_stability" -> q172OracleSql,

    "q173_ivfpq_knn" -> q173OracleSql,

    "q174_ivfpq_recall" -> q174OracleSql,

    "q175_dim_truncation" -> q175OracleSql,

    // exact-micros per-dim moments; HUGEINT products mirror decimal(38)
    "q177_embedding_qc" ->
      """WITH x AS (
           SELECT CAST(GENERATE_SUBSCRIPTS(p, 1) - 1 AS INT) AS dim,
                  CAST(ROUND(UNNEST(p) * 1000000.0) AS BIGINT) AS x
           FROM (SELECT embedding::DOUBLE[] AS p FROM embeddings)),
         a AS (
           SELECT dim, COUNT(*) AS n,
                  MIN(x) AS min_micro, MAX(x) AS max_micro,
                  CAST(SUM(x) AS BIGINT) AS s,
                  CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS s2
           FROM x GROUP BY 1)
         SELECT dim, n, min_micro, max_micro,
                ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
                  AS mean,
                ROUND(CAST(CAST(n AS HUGEINT) * s2
                           - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                      / 1000000000000.0, 6) AS variance
         FROM a ORDER BY dim""",

    "q178_ivf_balance" -> q178OracleSql,

    "q179_ivf_probe_sweep" -> q179OracleSql,

    // Wilson bounds as the same fixed IEEE chain (z pinned 1.96,
    // z² literal 3.8416)
    "q181_ivf_assign_delta" -> q181OracleSql,

    "q182_rank_overlap" -> q182OracleSql,

    "q192_rrf_fusion" -> q192OracleSql,

    "q186_bootstrap_ci" ->
      """WITH t AS (
           SELECT CAST(doc_id AS VARCHAR) AS id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS v
           FROM documents),
         rep AS (
           SELECT b, v,
                  CAST('0x' || SUBSTR(MD5(CAST(b AS VARCHAR) || ':' || id), 1, 2)
                    AS INT) AS byte
           FROM t, (SELECT UNNEST(RANGE(0, 32)) AS b)),
         w AS (
           SELECT b, v,
                  CASE WHEN byte <= 93 THEN 0 WHEN byte <= 187 THEN 1
                       WHEN byte <= 234 THEN 2 WHEN byte <= 250 THEN 3
                       WHEN byte <= 254 THEN 4 ELSE 5 END AS w
           FROM rep),
         rs AS (
           SELECT b, CAST(SUM(w * v) AS BIGINT) AS s,
                  CAST(SUM(w) AS BIGINT) AS nw
           FROM w GROUP BY 1 HAVING SUM(w) > 0),
         ms AS (SELECT (s * 1000000) // nw AS m FROM rs),
         boot AS (
           SELECT COUNT(*) AS r, CAST(SUM(m) AS BIGINT) AS sm,
                  CAST(SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS HUGEINT)
                    AS sm2
           FROM ms),
         pt AS (
           SELECT COUNT(*) AS n_rows,
                  (CAST(SUM(v) AS BIGINT) * 1000000) // COUNT(*) AS pm
           FROM t)
         SELECT n_rows, r AS n_reps,
                ROUND(CAST(pm AS DOUBLE) / 1000000.0, 6) AS mean_v,
                ROUND(SQRT(CAST(CAST(r AS HUGEINT) * sm2
                             - CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT)
                           AS DOUBLE)
                        / CAST(r * (r - 1) AS DOUBLE)) / 1000000.0, 6)
                  AS boot_se,
                ROUND(CAST(pm AS DOUBLE) / 1000000.0
                      - 1.96 * (SQRT(CAST(CAST(r AS HUGEINT) * sm2
                                       - CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT)
                                     AS DOUBLE)
                                  / CAST(r * (r - 1) AS DOUBLE)) / 1000000.0), 6)
                  AS ci_lo,
                ROUND(CAST(pm AS DOUBLE) / 1000000.0
                      + 1.96 * (SQRT(CAST(CAST(r AS HUGEINT) * sm2
                                       - CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT)
                                     AS DOUBLE)
                                  / CAST(r * (r - 1) AS DOUBLE)) / 1000000.0), 6)
                  AS ci_hi
         FROM pt, boot""",

    "q184_kmv_merge" ->
      """WITH sh AS (
           SELECT DISTINCT source AS grp,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)),
         h AS (SELECT DISTINCT grp, MD5(shingle) AS hhex FROM sh),
         sk AS (
           SELECT grp, hhex FROM (
             SELECT grp, hhex,
                    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hhex) AS r
             FROM h) WHERE r <= 128),
         mg AS (
           SELECT hhex FROM (
             SELECT DISTINCT hhex FROM sk) t
           ORDER BY hhex LIMIT 128),
         me AS (
           SELECT COUNT(*) AS n_in,
                  MAX(CAST('0x' || SUBSTR(hhex, 1, 15) AS BIGINT)) AS mk
           FROM mg),
         dg AS (
           SELECT hhex FROM (SELECT DISTINCT hhex FROM h) t
           ORDER BY hhex LIMIT 128),
         de AS (
           SELECT COUNT(*) AS n_in,
                  MAX(CAST('0x' || SUBSTR(hhex, 1, 15) AS BIGINT)) AS mk
           FROM dg),
         ng AS (SELECT CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups FROM h)
         SELECT CAST(128 AS INT) AS k, n_groups,
                CASE WHEN me.n_in < 128 THEN CAST(me.n_in AS DOUBLE)
                     ELSE ROUND(CAST(127.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                                / CAST(me.mk AS DOUBLE), 4) END AS est_merged,
                CASE WHEN de.n_in < 128 THEN CAST(de.n_in AS DOUBLE)
                     ELSE ROUND(CAST(127.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                                / CAST(de.mk AS DOUBLE), 4) END AS est_direct,
                (CASE WHEN me.n_in < 128 THEN CAST(me.n_in AS DOUBLE)
                      ELSE ROUND(CAST(127.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                                 / CAST(me.mk AS DOUBLE), 4) END
                 = CASE WHEN de.n_in < 128 THEN CAST(de.n_in AS DOUBLE)
                        ELSE ROUND(CAST(127.0 AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 60)
                                   / CAST(de.mk AS DOUBLE), 4) END)
                  AS merged_equals_direct
         FROM ng, me, de""",

    "q185_cuped" ->
      """WITH pu AS (
           SELECT user_id,
                  CAST(SUM(CASE WHEN event_id % 2 = 0
                           THEN CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN event_id % 2 <> 0
                           THEN CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
         s AS (
           SELECT COUNT(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx,
                  CAST(SUM(y * y) AS BIGINT) AS syy
           FROM pu)
         SELECT n AS n_users,
                CASE WHEN n * sxx - sx * sx > 0
                     THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                                / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                END AS theta,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN ROUND(
                       CAST(CAST(n * sxy - sx * sy AS HUGEINT)
                            * CAST(n * sxy - sx * sy AS HUGEINT) AS DOUBLE)
                       / CAST(CAST(n * sxx - sx * sx AS HUGEINT)
                              * CAST(n * syy - sy * sy AS HUGEINT) AS DOUBLE), 6)
                END AS rho2
         FROM s""",

    // integer CDF numerators on the distinct-length grid, max over
    // integers, one division
    "q183_ks_drift" ->
      """WITH t AS (
           SELECT source AS grp,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS v
           FROM documents),
         counts AS (
           SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
         totals AS (
           SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM counts GROUP BY 1),
         grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM counts),
         vals AS (SELECT DISTINCT v FROM counts),
         grid AS (
           SELECT tt.grp, tt.n_g, vv.v, COALESCE(c.c, 0) AS c
           FROM totals tt CROSS JOIN vals vv
           LEFT JOIN counts c ON c.grp = tt.grp AND c.v = vv.v),
         cumg AS (
           SELECT grp, n_g, v,
                  CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT)
                    AS cum_g
           FROM grid),
         cumall AS (
           SELECT v, CAST(SUM(c_all) OVER (ORDER BY v) AS BIGINT) AS cum_all
           FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS c_all
                 FROM counts GROUP BY 1)),
         d AS (
           SELECT g.grp, g.n_g,
                  (SELECT n_all FROM grand) - g.n_g AS n_r,
                  ABS(g.cum_g * ((SELECT n_all FROM grand) - g.n_g)
                      - (a.cum_all - g.cum_g) * g.n_g) AS dnum
           FROM cumg g JOIN cumall a ON a.v = g.v)
         SELECT grp AS source, MAX(n_g) AS n_g,
                ROUND(CAST(MAX(dnum) AS DOUBLE)
                      / CAST(MAX(n_g) * MAX(n_r) AS DOUBLE), 6) AS ks
         FROM d GROUP BY grp ORDER BY source""",

    "q180_keep_rate_ci" ->
      s"""WITH t AS (
           SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         c AS (
           SELECT source, COUNT(*) AS n,
                  CAST(SUM(CASE WHEN CAST(LEN(LIST_FILTER(toks, x ->
                    ${TrainingQueries.langFilterSql(TrainingQueries.stopwords)}))
                      AS BIGINT) * 100
                    >= CAST(LEN(toks) AS BIGINT) * 15 THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept
           FROM t GROUP BY 1)
         SELECT source, n, kept,
                ROUND(CAST(kept AS DOUBLE) / CAST(n AS DOUBLE), 6) AS keep_rate,
                ROUND(((CAST(kept AS DOUBLE) / CAST(n AS DOUBLE)
                        + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
                       - 1.96 * SQRT(CAST(kept AS DOUBLE) / CAST(n AS DOUBLE)
                           * (1.0 - CAST(kept AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE))))
                      / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_lo,
                ROUND(((CAST(kept AS DOUBLE) / CAST(n AS DOUBLE)
                        + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
                       + 1.96 * SQRT(CAST(kept AS DOUBLE) / CAST(n AS DOUBLE)
                           * (1.0 - CAST(kept AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE))))
                      / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_hi
         FROM c ORDER BY source""",

    "q176_chain_contamination" -> q176OracleSql,

    // integer confusion cells, kappa from integer products, one final
    // IEEE division; NULL kappa guard on degenerate marginals
    "q171_gate_kappa" ->
      s"""WITH t AS (
           SELECT REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks FROM documents),
         m AS (
           SELECT CAST(LEN(toks) AS BIGINT) AS nt,
                  CAST(LEN(LIST_FILTER(toks, x ->
                    ${TrainingQueries.langFilterSql(TrainingQueries.stopwords)}))
                    AS BIGINT) AS sh,
                  CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS nd
           FROM t),
         g AS (
           SELECT CASE WHEN sh * 100 >= nt * 15 THEN 1 ELSE 0 END AS a,
                  CASE WHEN nd * 10 >= nt * 6 THEN 1 ELSE 0 END AS b
           FROM m),
         c AS (
           SELECT COUNT(*) AS n,
                  CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kk,
                  CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kd,
                  CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dk,
                  CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dd
           FROM g)
         SELECT n, kk AS both_keep, kd AS a_only, dk AS b_only, dd AS both_drop,
                ROUND(CAST(kk + dd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS agree_frac,
                CASE WHEN n * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)) > 0
                     THEN ROUND(
                       CAST(n * (kk + dd)
                            - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))
                         AS DOUBLE)
                       / CAST(n * n
                            - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))
                         AS DOUBLE), 6)
                END AS kappa
         FROM c""",

    // the sweep chain's capped band rows (blc) re-joined for per-pair
    // band-match COUNTS; ground truth from the df-capped inverted index
    // with the exact-integer 2/5 threshold
    "q170_detector_pr" ->
      s"""WITH ${TrainingQueries.sweepChainSql},
         nb AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS nb
           FROM blc a JOIN blc b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         shc AS (
           SELECT * FROM psh WHERE shingle IN (
             SELECT shingle FROM psh GROUP BY 1 HAVING COUNT(*) <= 10000)),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY 1),
         gt AS (
           SELECT i.ida, i.idb FROM (
             SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
             FROM shc a JOIN shc b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2) i
           JOIN sz sa ON sa.doc_id = i.ida
           JOIN sz sb ON sb.doc_id = i.idb
           WHERE i.inter * 5 >= (sa.sz + sb.sz - i.inter) * 2),
         m AS (
           SELECT COALESCE(nb.nb, 0) AS nb,
                  CASE WHEN g.ida IS NULL THEN 0 ELSE 1 END AS gt
           FROM nb FULL OUTER JOIN gt g
             ON nb.ida = g.ida AND nb.idb = g.idb),
         ts AS (SELECT CAST(UNNEST(RANGE(1, 5)) AS INT) AS t),
         agg AS (
           SELECT ts.t,
                  CAST(SUM(CASE WHEN m.nb >= ts.t THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pred,
                  CAST(SUM(m.gt) AS BIGINT) AS n_true,
                  CAST(SUM(CASE WHEN m.nb >= ts.t AND m.gt = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp
           FROM ts CROSS JOIN m GROUP BY 1)
         SELECT t, n_pred, n_true, tp,
                n_pred - tp AS fp, n_true - tp AS fn,
                CASE WHEN n_pred > 0
                     THEN ROUND(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
                END AS "precision",
                CASE WHEN n_true > 0
                     THEN ROUND(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
                END AS recall
         FROM agg ORDER BY t""",

    "q162_nb_auc" -> q162OracleSql,

    // deciles from the 1-based global rank; per-stratum position via
    // the partitioned window (oracle-side SQL runs single-node)
    "q163_curriculum" ->
      s"""WITH base AS (
           SELECT doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS nt
           FROM documents),
         rk AS (
           SELECT *, ROW_NUMBER() OVER (ORDER BY nt, doc_id) AS pos
           FROM base),
         nn AS (SELECT COUNT(*) AS n FROM base),
         st AS (
           SELECT doc_id, nt, pos,
                  CAST((10 * (pos - 1)) // (SELECT n FROM nn) AS INT) AS stratum
           FROM rk),
         ps AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY pos) - 1
                    AS pis
           FROM st)
         SELECT doc_id, nt, stratum, pis AS pos_in_stratum,
                pis * 10 + stratum AS curriculum_pos
         FROM ps ORDER BY curriculum_pos""",

    "q165_pack_cut" ->
      s"""WITH base AS (
           SELECT doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS nt,
                  MD5('11:' || doc_id) AS rk
           FROM documents),
         run AS (
           SELECT doc_id, nt,
                  COALESCE(SUM(nt) OVER (ORDER BY rk, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS start_tok
           FROM base)
         SELECT doc_id, nt, CAST(start_tok AS BIGINT) AS start_tok,
                CAST(start_tok // 512 AS BIGINT) AS first_window,
                CAST((start_tok + nt - 1) // 512 - start_tok // 512 AS BIGINT)
                  AS n_splits
         FROM run ORDER BY doc_id""",

    "q166_source_entropy" ->
      s"""WITH c AS (
           SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
             SELECT source, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS tok
             FROM documents) t
           GROUP BY 1, 2),
         agg AS (
           SELECT source,
                  CAST(SUM(c) AS BIGINT) AS t,
                  CAST(COUNT(*) AS BIGINT) AS n_types,
                  CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                    * 1000000.0) AS BIGINT)) AS BIGINT) AS s_micro,
                  CAST(SUM(c * c) AS BIGINT) AS c2
           FROM c GROUP BY 1)
         SELECT source, t AS n_tokens, n_types,
                ROUND(LN(CAST(t AS DOUBLE))
                  - (CAST(s_micro AS DOUBLE) / 1000000.0)
                    / CAST(t AS DOUBLE), 6) AS entropy,
                ROUND(CAST(c2 AS DOUBLE) / CAST(t * t AS DOUBLE), 6) AS hhi
         FROM agg ORDER BY source""",

    "q164_snapshot_delta" ->
      s"""WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0 THEN text || ' rev2'
                       ELSE text END AS text
           FROM v1 WHERE doc_id % 17 != 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM v1 WHERE doc_id % 19 = 0),
         o AS (SELECT doc_id, MD5(text) AS dig_old FROM v1),
         n AS (SELECT doc_id, MD5(text) AS dig_new FROM v2)
         SELECT CASE WHEN dig_old IS NULL THEN 'added'
                     WHEN dig_new IS NULL THEN 'removed'
                     WHEN dig_old = dig_new THEN 'unchanged'
                     ELSE 'modified' END AS change,
                COUNT(*) AS n_docs
         FROM o FULL OUTER JOIN n USING (doc_id)
         GROUP BY 1 ORDER BY 1""",

    "q158_jl_projection" -> q158OracleSql,

    // exclusive token prefix sum in seeded-rank order, integer-div
    // shard cut — the window here is legitimate oracle-side SQL (DuckDB
    // runs single-node); the Spark side uses the two-pass kernel
    "q159_shard_assign" ->
      s"""WITH base AS (
           SELECT doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS nt,
                  MD5('7:' || doc_id) AS rk
           FROM documents),
         run AS (
           SELECT doc_id, nt,
                  COALESCE(SUM(nt) OVER (ORDER BY rk, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
           FROM base),
         tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS total FROM base)
         SELECT CAST((run * 16) // total AS INT) AS shard,
                COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
         FROM run, tot GROUP BY 1 ORDER BY 1""",

    "q143_pq_knn" -> q143OracleSql,

    "q144_pq_recall" -> q144OracleSql,

    "q147_label_diversity" ->
      """WITH v AS (
           SELECT label,
                  LIST_TRANSFORM(embedding::DOUBLE[],
                    x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS q
           FROM embeddings),
         s2n AS (
           SELECT label,
                  CAST(SUM(list_sum(list_transform(q, x -> x * x))) AS BIGINT)
                    AS s2,
                  COUNT(*) AS n
           FROM v GROUP BY label),
         xd AS (
           SELECT label, pos, CAST(SUM(x) AS BIGINT) AS xd
           FROM (SELECT label, GENERATE_SUBSCRIPTS(q, 1) AS pos, UNNEST(q) AS x
                 FROM v)
           GROUP BY 1, 2),
         xx AS (
           SELECT label,
                  SUM(CAST(xd AS HUGEINT) * CAST(xd AS HUGEINT)) AS xx
           FROM xd GROUP BY label)
         SELECT s.label, s.n,
                ROUND(CAST(2 * CAST(s.n AS HUGEINT) * CAST(s.s2 AS HUGEINT)
                           - 2 * x.xx AS DOUBLE)
                      / CAST(s.n * (s.n - 1) AS DOUBLE)
                      / 1000000000000.0, 6) AS mean_sq_dist
         FROM s2n s JOIN xx x USING (label) ORDER BY s.label""",

    "q151_minhash_calibration" -> {
      val matchesSql = (0 until 8).map(i =>
        s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ${TrainingQueries.sweepChainSql},
         wm AS (
           SELECT p.ida, p.idb, $matchesSql AS matches
           FROM pairs p
           JOIN sig a ON p.ida = a.doc_id
           JOIN sig b ON p.idb = b.doc_id),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM psh GROUP BY doc_id),
         itr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
           FROM psh a
           JOIN psh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           JOIN pairs p ON p.ida = a.doc_id AND p.idb = b.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT wm.matches,
                  CAST(ROUND(ROUND(CAST(COALESCE(itr.inter, 0) AS DOUBLE)
                    / CAST(sa.sz + sb.sz - COALESCE(itr.inter, 0) AS DOUBLE), 6)
                    * 1000000.0) AS BIGINT) AS jmicro
           FROM wm
           LEFT JOIN itr ON itr.ida = wm.ida AND itr.idb = wm.idb
           JOIN sz sa ON wm.ida = sa.doc_id
           JOIN sz sb ON wm.idb = sb.doc_id)
         SELECT matches, COUNT(*) AS n_pairs,
                ROUND(CAST(SUM(jmicro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                      / 1000000.0, 6) AS mean_jaccard
         FROM j GROUP BY matches ORDER BY matches"""
    },

    "q152_lang_purity" -> {
      val langs = TrainingQueries.langMarkers.keys.toSeq.sorted
      val scoreCols = langs.map(l =>
        s"CAST(LEN(LIST_FILTER(toks, x -> ${TrainingQueries.langFilterSql(TrainingQueries.langMarkers(l))})) AS INT) AS score_$l")
        .mkString(",\n                  ")
      s"""WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 6000000,
                  text || ' der die und das der die und das'
                       || ' der die und das der die und das'
           FROM documents WHERE lang = 'en' AND doc_id % 10 = 0),
         t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM u),
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
           SELECT doc_id, l, s,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, l) AS rn
           FROM ex),
         tops AS (
           SELECT doc_id,
                  MAX(CASE WHEN rn = 1 THEN l END) AS lang_best,
                  MAX(CASE WHEN rn = 1 THEN s END) AS s1,
                  MAX(CASE WHEN rn = 2 THEN s END) AS s2
           FROM best GROUP BY doc_id)
         SELECT doc_id, lang_best, s1, s2,
                (s2 * 2 >= s1 AND s2 > 0) AS mixed
         FROM tops ORDER BY doc_id"""
    },

    "q149_split_leakage" ->
      s"""WITH RECURSIVE ${TrainingQueries.lshPairsSql},
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
         sp AS (
           SELECT doc_id, group_id,
                  CASE WHEN CAST('0x' || SUBSTR(MD5('naive:'
                         || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 10 = 0 THEN 'val' ELSE 'train' END AS s_naive,
                  CASE WHEN CAST('0x' || SUBSTR(MD5('split:'
                         || CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 10 = 0 THEN 'val' ELSE 'train' END AS s_leakfree
           FROM comp),
         per AS (
           SELECT group_id, COUNT(*) AS sz,
                  COUNT(DISTINCT s_naive) AS k_naive,
                  COUNT(DISTINCT s_leakfree) AS k_lf
           FROM sp GROUP BY group_id)
         SELECT COUNT(*) AS n_groups,
                CAST(SUM(CASE WHEN k_naive > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_straddling_naive,
                CAST(SUM(CASE WHEN k_naive > 1 THEN sz ELSE 0 END) AS BIGINT)
                  AS n_docs_leaked_naive,
                CAST(SUM(CASE WHEN k_lf > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_straddling_leakfree
         FROM per""",

    "q150_quality_drift" ->
      s"""WITH t AS (
           SELECT doc_id, source,
                  REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS toks
           FROM documents),
         m AS (
           SELECT source, doc_id AS x,
                  CAST(ROUND(ROUND(
                    CAST(LEN(LIST_FILTER(toks, x -> ${TrainingQueries.langFilterSql(TrainingQueries.stopwords)})) AS DOUBLE)
                      / CAST(LEN(toks) AS DOUBLE), 6) * 1000000.0) AS BIGINT)
                    AS y
           FROM t),
         s AS (
           SELECT source, COUNT(*) AS n,
                  CAST(SUM(x) AS HUGEINT) AS sx,
                  CAST(SUM(y) AS HUGEINT) AS sy,
                  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
           FROM m GROUP BY source)
         SELECT source, n AS n_docs,
                ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                      / 1000000.0, 12) AS slope
         FROM s WHERE n >= 2 ORDER BY source""",

    "q153_boilerplate" ->
      """WITH u AS (
           SELECT doc_id, source,
                  CASE WHEN source = 'src0'
                       THEN text || ' all rights reserved contact us today'
                       ELSE text END AS text
           FROM documents),
         g AS (
           SELECT source AS grp,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] AS gram
           FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM u) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         c AS (SELECT grp, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
         tt AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS total, MAX(c) AS maxc
                FROM c GROUP BY grp)
         SELECT c.grp AS source, MIN(c.gram) AS top_gram,
                c.c AS n_occurrences,
                ROUND(CAST(c.c AS DOUBLE) / CAST(tt.total AS DOUBLE), 6)
                  AS share
         FROM c JOIN tt ON c.grp = tt.grp AND c.c = tt.maxc
         GROUP BY c.grp, c.c, tt.total
         ORDER BY source""",

    "q148_vocab_novelty" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         f AS (
           SELECT tok, MIN(doc_id) AS first_doc FROM (
             SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
             FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 1)) AS i)) g
           GROUP BY tok),
         b AS (
           SELECT first_doc // 50 AS bucket, COUNT(*) AS n_new_types
           FROM f GROUP BY 1)
         SELECT bucket, n_new_types,
                CAST(SUM(n_new_types) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS vocab_size
         FROM b ORDER BY bucket""",

    "q202_triplet_mining" ->
      s"""WITH ${TrainingQueries.annChainSql},
         lab AS (SELECT vec_id, label FROM embeddings),
         dd AS (
           SELECT d.src, d.dst, ROUND(d.dist, 6) AS dist,
                  la.label AS sl, lb.label AS dl
           FROM d JOIN lab la ON la.vec_id = d.src
           JOIN lab lb ON lb.vec_id = d.dst),
         pos AS (
           SELECT src, dst AS pos_dst, dist AS pos_dist FROM (
             SELECT src, dst, dist,
                    ROW_NUMBER() OVER (PARTITION BY src
                      ORDER BY dist, dst) AS rn
             FROM dd WHERE sl = dl) WHERE rn = 1),
         neg AS (
           SELECT src, dst AS neg_dst, dist AS neg_dist FROM (
             SELECT src, dst, dist,
                    ROW_NUMBER() OVER (PARTITION BY src
                      ORDER BY dist, dst) AS rn
             FROM dd WHERE sl != dl) WHERE rn = 1)
         SELECT p.src, la.label AS src_label, p.pos_dst, p.pos_dist,
                n.neg_dst, n.neg_dist,
                ROUND(n.neg_dist - p.pos_dist, 6) AS margin,
                CAST(CASE WHEN n.neg_dist < p.pos_dist THEN 1 ELSE 0 END
                  AS BIGINT) AS violated
         FROM pos p JOIN neg n USING (src)
         JOIN lab la ON la.vec_id = p.src
         ORDER BY p.src""",

    "q130_hard_negatives" ->
      s"""WITH ${TrainingQueries.annChainSql},
         lab AS (SELECT vec_id, label FROM embeddings),
         hn AS (
           SELECT d.src, d.dst, d.dist,
                  la.label AS src_label, lb.label AS dst_label
           FROM d
           JOIN lab la ON d.src = la.vec_id
           JOIN lab lb ON d.dst = lb.vec_id
           WHERE la.label != lb.label),
         tk AS (
           SELECT src, dst, ROUND(dist, 6) AS dist, src_label, dst_label,
                  CAST(ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY ROUND(dist, 6), dst) AS INT) AS rn
           FROM hn)
         SELECT src, dst, dist, rn, src_label, dst_label
         FROM tk WHERE rn <= 3 ORDER BY src, rn""",

    "q131_skipgram_pmi" ->
      """WITH t AS (
           SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w FROM documents),
         uc AS (
           SELECT x AS tok, COUNT(*) AS c
           FROM (SELECT UNNEST(w) AS x FROM t) GROUP BY x),
         nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uc),
         pr AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM (
             SELECT w[i] AS w1, w[i + o] AS w2
             FROM t,
                  LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i),
                  (SELECT UNNEST(RANGE(1, 4)) AS o)
             WHERE i + o <= LEN(w))
           GROUP BY w1, w2),
         np AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_pairs FROM pr)
         SELECT p.w1, p.w2, p.c12,
                ROUND(LN(CAST(p.c12 AS DOUBLE) * CAST(nu.n_uni AS DOUBLE)
                           * CAST(nu.n_uni AS DOUBLE)
                         / (CAST(np.n_pairs AS DOUBLE) * CAST(u1.c AS DOUBLE)
                            * CAST(u2.c AS DOUBLE))), 6) AS pmi
         FROM pr p
         JOIN uc u1 ON p.w1 = u1.tok
         JOIN uc u2 ON p.w2 = u2.tok
         CROSS JOIN nu CROSS JOIN np
         WHERE p.c12 >= 25
         ORDER BY p.w1, p.w2""",

    "q132_containment" ->
      """WITH ev AS (
           SELECT doc_id + 4000000 AS eval_id,
                  ARRAY_TO_STRING(w[1:(LEN(w) + 1) // 2], ' ') AS text
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents WHERE doc_id % 100 = 0) t
           UNION ALL
           SELECT a.doc_id + 5000000,
                  ARRAY_TO_STRING(a.w[1:(LEN(a.w) + 1) // 2], ' ') || ' '
                    || ARRAY_TO_STRING(b.w[1:(LEN(b.w) + 1) // 2], ' ')
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents WHERE doc_id % 100 = 50) a
           JOIN (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) b
             ON b.doc_id = a.doc_id + 7),
         trsh0 AS (
           SELECT DISTINCT doc_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                    AS shingle
           FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)),
         hot AS (
           SELECT shingle FROM trsh0 GROUP BY shingle HAVING COUNT(*) > 500),
         trsh AS (
           SELECT * FROM trsh0
           WHERE shingle NOT IN (SELECT shingle FROM hot)),
         evsh AS (
           SELECT DISTINCT eval_id,
                  w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                    AS shingle
           FROM (SELECT eval_id, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM ev) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) - 3)) AS i)
           WHERE w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                 NOT IN (SELECT shingle FROM hot)),
         evsz AS (SELECT eval_id, COUNT(*) AS n_eval_sh FROM evsh GROUP BY eval_id),
         shared AS (
           SELECT t.doc_id, e.eval_id, COUNT(*) AS n_shared
           FROM trsh t JOIN evsh e USING (shingle)
           GROUP BY t.doc_id, e.eval_id)
         SELECT s.doc_id, s.eval_id, s.n_shared, z.n_eval_sh,
                ROUND(CAST(s.n_shared AS DOUBLE) / CAST(z.n_eval_sh AS DOUBLE), 6)
                  AS containment,
                s.n_shared * 5 >= z.n_eval_sh * 4 AS contaminated
         FROM shared s JOIN evsz z USING (eval_id)
         ORDER BY s.doc_id, s.eval_id""",

    "q133_cluster_sizes" ->
      s"""WITH RECURSIVE ${TrainingQueries.lshPairsSql},
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
         SELECT n_docs AS cluster_size, COUNT(*) AS n_clusters,
                n_docs * COUNT(*) AS n_docs_total,
                (n_docs - 1) * COUNT(*) AS n_removed
         FROM szs GROUP BY n_docs ORDER BY cluster_size""",

    "q134_sliding_rate" ->
      """WITH ev AS (
           SELECT event_id, user_id, EPOCH_US(ts) AS ts_us,
                  CAST(ROUND(value * 1000000) AS BIGINT) AS vmicro
           FROM events)
         SELECT event_id, user_id, ts_us,
                COUNT(*) OVER w AS n_window,
                ROUND(CAST(SUM(vmicro) OVER w AS DOUBLE) / 1000000, 6)
                  AS sum_window
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q135_packing_stats" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_tok
           FROM t),
         x AS (
           SELECT r.n_tokens, r.start_tok, CAST(b.budget AS BIGINT) AS budget
           FROM r, (SELECT UNNEST([256, 512, 1024, 2048]) AS budget) b)
         SELECT budget, COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                MAX((start_tok + n_tokens - 1) // budget) + 1 AS n_windows,
                CAST(SUM(CASE WHEN start_tok // budget
                               != (start_tok + n_tokens - 1) // budget
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
                ROUND(CAST(SUM(n_tokens) AS DOUBLE)
                      / CAST((MAX((start_tok + n_tokens - 1) // budget) + 1)
                             * budget AS DOUBLE), 6) AS fill_frac
         FROM x GROUP BY budget ORDER BY budget""",

    "q136_simhash_neardup" -> {
      val shSql = graft.text.TextOps.simHash16Sql("planted")
      s"""WITH planted AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' graft dup marker' AS text
           FROM documents WHERE doc_id % 40 = 0),
         sh AS ($shSql),
         bands AS (
           SELECT doc_id, simhash, b.band_id,
                  (simhash >> (b.band_id * 4)) & 15 AS band_key
           FROM sh, (SELECT UNNEST(RANGE(0, 4)) AS band_id) b),
         bc AS (
           SELECT bands.* FROM bands JOIN (
             SELECT band_id, band_key FROM bands
             GROUP BY band_id, band_key HAVING COUNT(*) <= 10000) ok
           USING (band_id, band_key)),
         prs AS (
           SELECT DISTINCT a.doc_id AS ida, bb.doc_id AS idb,
                  CAST(BIT_COUNT(XOR(a.simhash, bb.simhash)) AS INT) AS ham
           FROM bc a JOIN bc bb
             ON a.band_id = bb.band_id AND a.band_key = bb.band_key
            AND a.doc_id < bb.doc_id)
         SELECT ida, idb, ham FROM prs WHERE ham <= 3 ORDER BY ida, idb"""
    },

    "q137_nb_calibration" ->
      s"""WITH ${CurationQueries.nbChainSql},
         t2 AS (
           SELECT doc_id,
                  MAX(CASE WHEN r = 1 THEN score_micro END) AS s1,
                  MAX(CASE WHEN r = 2 THEN score_micro END) AS s2,
                  MAX(CASE WHEN r = 1 THEN label END) AS label_pred,
                  MAX(CASE WHEN r = 1 THEN label_true END) AS label_true
           FROM am WHERE r <= 2 GROUP BY doc_id),
         bn AS (
           SELECT LEAST((s1 - s2) // 200000, 9) AS bin,
                  CASE WHEN label_pred = label_true THEN 1 ELSE 0 END AS ok
           FROM t2)
         SELECT bin, COUNT(*) AS n, CAST(SUM(ok) AS BIGINT) AS n_correct,
                ROUND(CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                  AS accuracy
         FROM bn GROUP BY bin ORDER BY bin""",

    "q140_dup_attribution" ->
      s"""WITH ${TrainingQueries.lshPairsSql},
         srcs AS (
           SELECT doc_id, lang AS source FROM documents WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 1000000, 'mirror' FROM documents WHERE doc_id % 40 = 0)
         SELECT LEAST(sa.source, sb.source) AS source_a,
                GREATEST(sa.source, sb.source) AS source_b,
                COUNT(*) AS n_pairs
         FROM pairs p
         JOIN srcs sa ON p.ida = sa.doc_id
         JOIN srcs sb ON p.idb = sb.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q142_dbscan" ->
      s"""WITH RECURSIVE pe AS (
           SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
           UNION ALL
           SELECT vec_id + m.k * 1000000,
                  LIST_TRANSFORM(embedding::DOUBLE[], x -> x * m.mult)
           FROM embeddings,
                (SELECT UNNEST([1, 2, 3, 4]) AS k,
                        UNNEST([1.1, 1.2, 1.3, 1.4]) AS mult) m
           WHERE vec_id % 25 = 0),
         ${TrainingQueries.annChainSqlFor("pe")},
         nb AS (SELECT src, dst FROM d WHERE ROUND(dist, 6) <= 0.25),
         deg AS (SELECT src, COUNT(*) AS n FROM nb GROUP BY src),
         core AS (SELECT src AS id FROM deg WHERE n + 1 >= 4),
         ce AS (
           SELECT nb.src AS s, nb.dst AS t FROM nb
           WHERE nb.src IN (SELECT id FROM core)
             AND nb.dst IN (SELECT id FROM core)),
         reach AS (
           SELECT id AS node, id AS lbl FROM core
           UNION
           SELECT ce.t, r.lbl FROM reach r JOIN ce ON ce.s = r.node),
         comp AS (SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node),
         corelbl AS (
           SELECT c.id, comp.cluster FROM core c JOIN comp ON c.id = comp.node),
         borderlbl AS (
           SELECT nb.src AS id, MIN(cl.cluster) AS cluster
           FROM nb JOIN corelbl cl ON nb.dst = cl.id
           WHERE nb.src NOT IN (SELECT id FROM core)
           GROUP BY nb.src)
         SELECT e.vec_id,
                CASE WHEN c.id IS NOT NULL THEN 'core'
                     WHEN b.id IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                CASE WHEN c.id IS NOT NULL THEN c.cluster
                     ELSE b.cluster END AS cluster
         FROM pe e
         LEFT JOIN corelbl c ON e.vec_id = c.id
         LEFT JOIN borderlbl b ON e.vec_id = b.id
         ORDER BY e.vec_id""")
}
