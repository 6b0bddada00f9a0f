package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.graph.GraphStats
import graft.text.TextOps

/** Round-6 tenth tail: structural statistics of the near-duplicate
  * candidate graph (triangle closure, degree assortativity, global
  * PageRank, k-core peeling, threshold sweep of component closure) and
  * corpus distribution-shape gates (label-noise audit, hour-of-day
  * seasonality, Heaps' law vocabulary growth, readability). The graph
  * queries all run on one shared edge list: the q120 sweep universe's
  * exact-Jaccard pairs at J ≥ 2/5 — full copies (~0.9), half copies
  * (~0.5) and the half-vs-full closure edges all clear the bar, so each
  * %40 doc plants a guaranteed triangle (base, +1e6 full copy, +2e6
  * half copy) and the reports are never vacuous. Each query pairs with
  * an independently written DuckDB oracle below.
  */
object StatQueries {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** The sweep universe's UNFILTERED shingle-pair table (ida, idb,
    * inter, sza, szb) — the one inverted-index join behind all ten
    * graph-structure queries (q204–q208/q213/q214/q222/q226 via
    * [[sweepEdges]]'s ≥0.4 cut, q208's own three-threshold sweep
    * directly). Rebuilt identically per query and per bench rep, so it
    * is memoized in [[graft.core.FrameMemo]] keyed by the documents
    * table's content fingerprint (one narrow scan per call; one
    * shingle join per session — before this, q208 re-ran the join
    * every rep and its rep array was a 12.9→2.8 s warm-up curve).
    */
  private def sweepPairs(s: SparkSession, d: String): DataFrame = {
    val (fp, _) = graft.core.Fingerprint.key(docs(s, d), "doc_id, text")
    graft.core.FrameMemo.cached(s"sweepPairs:$fp") {
      Dedup.sharedShinglePairs(TrainingQueries.sweepShingles(s, d), dfCap = 500)
        .localCheckpoint()
    }
  }

  /** The shared sweep-universe edge set (Jaccard ≥ 0.4 shingle pairs)
    * feeding the nine fixed-threshold graph queries — a lazy filter
    * over the memoized [[sweepPairs]] table (the filter is a narrow
    * map over an already-checkpointed bounded frame; a second memo
    * entry bought nothing but FrameMemo capacity pressure).
    */
  private def sweepEdges(s: SparkSession, d: String): DataFrame =
    sweepPairs(s, d)
      .filter(col("inter") * 5 >= (col("sza") + col("szb") - col("inter")) * 2)
      .select("ida", "idb")

  /** The sweep universe's document ids (base %20, full copies +1e6,
    * half copies +2e6) — the CC closure's singleton-aware node set.
    */
  private def sweepUniverse(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") % 20 === 0).select("doc_id")
    val dups = docs(s, d).filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"))
    val halves = docs(s, d).filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"))
    base.unionByName(dups).unionByName(halves)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // triangle census of the near-dup graph: the corroboration gate
    // before CC closure — a candidate pair inside a triangle is backed
    // by a second witness; global CC = 3T/wedges, integers until the
    // one final division
    "q204_triangles" -> ((s, d) =>
      GraphStats.triangleStats(sweepEdges(s, d))),

    // integer-quantized global PageRank (8 iterations, damping 0.85 in
    // exact integer arithmetic): ranks the documents most entangled in
    // duplicate mass — the review-first list for a dedup audit
    "q205_pagerank" -> ((s, d) =>
      GraphStats.pageRank(sweepEdges(s, d), iters = 8)
        .orderBy("node")),

    // degree assortativity of the near-dup graph: negative = hub-and-
    // spoke (boilerplate stitching), positive = clique-like duplicate
    // clusters; exact decimal(38) moment sums, one IEEE division
    "q206_assortativity" -> ((s, d) =>
      GraphStats.degreeAssortativity(sweepEdges(s, d))),

    // 2-core of the near-dup graph: iterative peel to the unique
    // maximal subgraph of min-degree 2 — pendant candidate pairs drop,
    // the mutually-corroborating dense cores (planted triangles)
    // survive; non-convergence throws rather than under-peeling
    "q207_kcore" -> ((s, d) =>
      GraphStats.kCore(sweepEdges(s, d), k = 2, rounds = 8)
        .orderBy("node")),

    // dedup-aggressiveness curve: connected-component closure of the
    // exact-Jaccard graph at thresholds 2/5, 3/5, 4/5 — groups, docs
    // swept in, max group size and keep-one removals per threshold (the
    // "what does raising the bar buy" report behind q120's pair-level
    // histogram); one pair table feeds all three closures
    "q208_cc_threshold_sweep" -> ((s, d) => {
      val pairs = sweepPairs(s, d)
      val uni = sweepUniverse(s, d).localCheckpoint()
      // the three threshold closures are independent chains of EAGER
      // CC iterations over the shared materialized pair table — built
      // as concurrent futures (the ivfSelfKnn/LSH-round pattern) so
      // their ~log n per-round driver actions overlap instead of
      // stacking; union order is fixed by the sequence order
      val summaries = Seq((2, 5), (3, 5), (4, 5)).map { case (num, den) =>
        scala.concurrent.Future {
        val edges = pairs.filter(
          col("inter") * den >= (col("sza") + col("szb") - col("inter")) * num)
          .select("ida", "idb")
        Dedup.nearDupGroups(uni, edges).agg(
            countDistinct(when(col("n_docs") >= 2, col("group_id")))
              .as("n_dup_groups"),
            sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
              .as("n_docs_in_dups"),
            max(col("n_docs")).as("max_group"),
            sum(when(col("doc_id") =!= col("group_id"), 1L).otherwise(0L))
              .as("n_removed"))
          .select(lit(num.toLong).as("thr_num"), lit(den.toLong).as("thr_den"),
            col("n_dup_groups"), col("n_docs_in_dups"), col("max_group"),
            col("n_removed"))
        }(scala.concurrent.ExecutionContext.global)
      }.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
      summaries.reduce(_.unionByName(_)).orderBy("thr_num")
    }),

    // label-noise audit (confident-learning shape): per vector, how many
    // of its 5 nearest neighbors (bucketed ANN, q57's chain) carry a
    // DIFFERENT label — majority disagreement flags a suspect label.
    // Honest result on this corpus: labels carry no geometry (q124/q162
    // said the same), so most vectors are suspects — exactly what the
    // audit exists to surface before anyone trains on these labels
    "q209_label_noise" -> ((s, d) => {
      val vecs = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"),
        col("label"))
      val latent = vecs.select("cell_id", "latent")
      val labels = vecs.select("cell_id", "label")
      graft.pipeline.Knn.bucketedKnn(latent, latent, 5, 0, 6,
          excludeSelf = true)
        .join(labels.select(col("cell_id").as("src"),
          col("label").as("src_label")), Seq("src"))
        .join(labels.select(col("cell_id").as("dst"),
          col("label").as("dst_label")), Seq("dst"))
        .groupBy("src", "src_label")
        .agg(count(lit(1)).as("k_found"),
          sum(when(col("dst_label") =!= col("src_label"), 1L).otherwise(0L))
            .as("n_diff"))
        .select(col("src"), col("src_label"), col("k_found"), col("n_diff"),
          (col("n_diff") * 2 > col("k_found")).as("suspect"))
        .orderBy("src")
    }),

    // hour-of-day seasonality per event type: count/share by UTC hour +
    // the peak-hour flag — the intra-day baseline behind q109's weekly
    // rate-anomaly thresholds; pure integer hour arithmetic on epoch-ns
    "q210_hour_profile" -> ((s, d) =>
      graft.analytics.Analytics.hourProfile(Tables.events(s, d))
        .orderBy("event_type", "hr")),

    // Heaps' law fit: type count at 8 corpus-order prefixes, OLS of
    // ln V on ln n — the vocabulary-saturation exponent (how much new
    // vocabulary another 10x of crawl buys). Measured for words AND
    // word-3-grams: the synthetic word vocabulary saturates in the
    // first eighth (β = 0 — honest), while the phrase space still grows
    // (β > 0) — the two-row contrast is the crawl-more signal.
    // Nano-quantized lns, exact decimal(38) moment sums.
    "q211_heaps_fit" -> ((s, d) =>
      TextOps.heapsFit(docs(s, d), nPrefixes = 8, gramN = 1)
        .unionByName(TextOps.heapsFit(docs(s, d), nPrefixes = 8, gramN = 3))
        .orderBy("gram_n")),

    // per-source Flesch readability: words/sentences/syllables as exact
    // regexp-run counts (sentence terminators PLANTED on every 7th doc —
    // the synthetic corpus has no punctuation, and a gate that always
    // reads greatest(1,0) proves nothing about the sentence branch)
    "q212_readability" -> ((s, d) =>
      TextOps.readability(docs(s, d).select(col("source"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(". "), col("text"), lit("!")))
            .otherwise(col("text")).as("text")))
        .orderBy("source")),

    // per-node clustering coefficient: which documents sit in mutually-
    // corroborating duplicate cliques (cc → 1) vs which hubs stitch
    // strangers (cc → 0) — q204's census resolved to the node level
    "q213_local_cc" -> ((s, d) =>
      GraphStats.localClustering(sweepEdges(s, d)).orderBy("node")),

    // deterministic label propagation (4 synchronous rounds, self-vote
    // tie-broken count-desc/label-asc): community structure WITHOUT the
    // transitive sweep of CC closure — a bridge edge between two dense
    // cliques loses the vote it would have won by fiat in q70
    "q214_label_prop" -> ((s, d) =>
      GraphStats.labelPropagation(sweepEdges(s, d), rounds = 4)
        .orderBy("node")),

    // IPF raking of (lang, source) sampling weights to uniform marginals
    // on BOTH axes at once — the survey-statistics move behind a mixture
    // recipe with two simultaneous stratifications; all-integer ppm
    // arithmetic, 4 full rounds on the |langs|x|sources| cell table
    "q215_ipf_rake" -> ((s, d) =>
      graft.text.Mix.ipfRake(docs(s, d), col("lang"), col("source"),
          rounds = 4)
        .orderBy("grp_r", "grp_c")),

    // Benford leading-digit profile of the value column per event type +
    // micro-quantized chi-square — the numeric data-quality gate; digits
    // come from the exact integer cent string, never log10(value).
    // Honest result: the synthetic uniform-ish values are NOT Benford
    // (huge chi2) — which is exactly what the gate reports on data whose
    // magnitudes don't span decades
    "q216_benford" -> ((s, d) =>
      graft.analytics.Analytics.leadingDigitProfile(Tables.events(s, d))
        .orderBy("event_type", "digit")),

    // cross-source quantile normalization of doc length: each doc's
    // within-source nearest-rank quantile mapped to the pooled
    // distribution's order statistic — score calibration before any
    // cross-source threshold; window-free exact-integer rank arithmetic
    "q217_quantile_norm" -> ((s, d) =>
      TextOps.quantileNormalize(docs(s, d), col("doc_id"), col("source"),
          col("n_chars"))
        .orderBy("id")),

    // per-doc char-level Shannon entropy + exact-integer low flag: the
    // cheapest repetitive-garbage detector. Low-entropy docs are PLANTED
    // (every 11th doc becomes 'ha ' x 40, H = ln 3 ≈ 1.10 nats) — the
    // natural corpus sits near 3 nats, so the 2.0-nat gate is exercised
    // in both directions at every SF
    "q218_char_entropy" -> ((s, d) =>
      TextOps.charEntropy(docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 11 === 0, expr("repeat('ha ', 40)"))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_id")),

    // exact repeat spectrum by suffix-array prefix doubling: per
    // power-of-two length 1..128, distinct prefix classes, positions
    // starting a REPEATED substring of that length, and the largest
    // class — the collision-free ground truth under q79's digest
    // signals, measured at every scale in one doubling pass over the
    // full corpus (natural repeats decay with length; no plants)
    "q219_repeat_spectrum" -> ((s, d) =>
      graft.text.SuffixOps.repeatSpectrum(docs(s, d), rounds = 7)
        .orderBy("len")),

    // per-document exact repeat coverage at 32 tokens over the planted
    // sweep universe (full + half copies guarantee long repeats): the
    // suffix-array-exact memorization-risk gate next to q195's hashed
    // 5-gram approximation
    "q220_repeat_coverage" -> ((s, d) =>
      graft.text.SuffixOps.repeatCoverage(
          TrainingQueries.sweepDocs(s, d), rounds = 5)
        .orderBy("doc_id")),

    // Neyman optimal allocation of a 500-draw sampling budget across
    // languages by N_h·sigma_h of doc length — the minimum-variance
    // stratified design; exact decimal moments, one correctly-rounded
    // sqrt micro-quantized before the integer allocation ratio
    "q221_neyman_alloc" -> ((s, d) =>
      graft.text.Mix.neymanAllocation(docs(s, d), col("lang"),
          col("n_chars"), total = 500L)
        .orderBy("stratum")),

    // modularity of the LPA communities vs the CC components on the
    // near-dup graph WITH planted bridge edges between TRIANGLE pairs
    // (base b -> b+40, both %40 so both own a full copy): CC sweeps
    // bridged cliques into one component by fiat, LPA lets the bridge
    // lose the vote — measured as the community-count and modularity
    // difference. Two earlier drafts were vacuous and caught by
    // inspecting the driver output: the unbridged graph has LPA == CC
    // exactly, and a b -> b+20 bridge targets a PENDANT pair (no full
    // copy at odd bases) that LPA absorbs just like CC. Exact integer
    // polynomial Q·4m², one IEEE division
    "q222_modularity" -> ((s, d) => {
      val bridges = docs(s, d).filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("ida"))
        .join(docs(s, d).select(col("doc_id").as("idb")),
          col("idb") === col("ida") + 40)
      val edges = sweepEdges(s, d).unionByName(bridges).distinct()
        .localCheckpoint()
      // LPA's 4 voting rounds and CC's star iterations are independent
      // eager chains over the materialized edge table — overlap them
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val lpaF = Future { GraphStats.labelPropagation(edges, rounds = 4) }
      val ccF = Future {
        graft.graph.ConnectedComponents.labels(
            edges.select(col("ida").as("src"), col("idb").as("dst")))
          .select(col("node"), col("component").as("community"))
      }
      val lpa = Await.result(lpaF, Duration.Inf)
      val cc = Await.result(ccF, Duration.Inf)
      GraphStats.modularity(edges, cc)
        .select(lit("cc").as("method"), col("n_communities"),
          col("m_edges"), col("modularity"))
        .unionByName(GraphStats.modularity(edges, lpa)
          .select(lit("lpa").as("method"), col("n_communities"),
            col("m_edges"), col("modularity")))
        .orderBy("method")
    }),

    // dedup-bias correction over the sweep universe: raw vs kept-only
    // vs multiplicity-weighted mean token count per language. Weighting
    // keepers by group size recovers raw statistics exactly for EXACT
    // duplicates; the planted HALF copies leave an honest residual
    // (driver data: kept-only overshoots raw by ~27%, weighted closes
    // most but not all of it — the gap measures within-group metric
    // dispersion, which is what the report is for)
    "q223_dedup_bias" -> ((s, d) => {
      val uni = TrainingQueries.sweepDocs(s, d).localCheckpoint()
      val groups = Dedup.nearDupGroups(uni.select("doc_id"),
        sweepEdges(s, d))
      val meta = uni
        .join(docs(s, d).select(col("doc_id").as("base_id"), col("lang")),
          uni("doc_id") % 1000000 === col("base_id"))
        .select(uni("doc_id"), col("lang").as("grp"),
          size(TextOps.tokensCol).cast("long").as("x"))
      Dedup.dedupBiasReport(meta, groups).orderBy("grp")
    }),

    // l-diversity of language within (source, length-octile) classes —
    // the disclosure gate k-anonymity alone misses (a large class with
    // ONE language still tells you the language); per l = 2, 3, 4
    "q224_l_diversity" -> ((s, d) =>
      graft.analytics.Analytics.lDiversity(docs(s, d),
          Seq(col("source"), expr("n_chars div 8").as("len8")),
          col("lang"), Seq(2, 3, 4))
        .orderBy("l")),

    // Luhn checksum audit of card-shaped digit runs, per source — the
    // checksum layer q228's pattern flags lack: planted valid cards
    // (every 9th doc), checksum-failing near-cards (11th) and a
    // random 16-digit run (21st) must separate into luhn-valid risk
    // vs false-positive mass, computed — not assumed — in both engines
    "q249_luhn_audit" -> ((s, d) =>
      TextOps.luhnAudit(docs(s, d).select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0,
              lit(" card 4532015112830366")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit(" card 4532015112830367")).otherwise(lit("")),
            when(col("doc_id") % 21 === 0,
              lit(" ref 1234567890123456")).otherwise(lit(""))).as("text")),
          col("source"))
        .withColumnRenamed("grp", "source").orderBy("source")),

    // split-conformal calibration of the chars-per-token score (×1000
    // integer): even-doc_id calibration half sets the finite-sample
    // ⌈(n+1)(1−α)⌉-threshold, odd half reports held-out coverage —
    // the distribution-free acceptance gate in front of any filter
    // score; exact integer rank selection on the global ordinal
    "q247_conformal" -> ((s, d) => {
      val base = docs(s, d).select(
        call_function("div", col("n_chars").cast("bigint") * 1000,
          size(TextOps.tokensCol).cast("bigint")).as("sc"),
        (col("doc_id") % 2 === 0).as("cal"))
      graft.analytics.Analytics.conformal(base, col("sc"), col("cal"),
          Seq((1, 10), (1, 20)))
        .orderBy("a_den")
    }),

    // HITS hubs & authorities on the order→part bipartite graph —
    // mutual-reinforcement ranking (a big order of popular parts is a
    // hub; a part bought by big orders is an authority), 3 exact
    // pico-integer iterations, top-25 per side
    "q248_hits" -> ((s, d) => {
      val e = Tables.t(s, d, "lineitem").select(
        col("l_orderkey").as("src"), col("l_partkey").as("dst"))
      val hx = GraphStats.hits(e, iters = 3)
      graft.ops.Windows.topKPerGroup(hx, Seq("side"), 25,
          Seq(col("score").desc, col("id")))
        .select(col("side"), col("rn"), col("id"), col("score"))
        .orderBy("side", "rn")
    }),

    // t-closeness of the language distribution within the SAME
    // (source, length-octile) classes — the distribution-level leak
    // neither q190's class size nor q224's distinct count can see
    // (a class can be large and 3-diverse yet 95% one language);
    // exact-integer TVD numerators, integer cross-multiplied
    // thresholds t ∈ {1/5, 3/10, 1/2}
    "q244_t_closeness" -> ((s, d) =>
      graft.analytics.Analytics.tCloseness(docs(s, d),
          Seq(col("source"), expr("n_chars div 8").as("len8")),
          col("lang"), Seq((1, 5), (3, 10), (1, 2)))
        .orderBy(col("t_num").cast("double") / col("t_den"))),

    // IDF-weighted exact Jaccard next to the unweighted score on the
    // sweep universe's candidate pairs: boilerplate-discounted
    // similarity — the footer-vs-content separation a flat Jaccard
    // can't make; all-integer ppm arithmetic
    "q225_weighted_jaccard" -> ((s, d) =>
      Dedup.weightedJaccardPairs(TrainingQueries.sweepShingles(s, d),
          dfCap = 500)
        .orderBy("ida", "idb")),

    // LPA cut edges on q222's bridge-planted graph: the candidate pairs
    // whose endpoints the vote put in DIFFERENT communities — the
    // review-first list of suspected bridges before trusting transitive
    // dedup groups (every planted bridge contributes its clique-boundary
    // edges; the q222 modularity gap is made actionable here)
    "q226_cut_edges" -> ((s, d) => {
      val bridges = docs(s, d).filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("ida"))
        .join(docs(s, d).select(col("doc_id").as("idb")),
          col("idb") === col("ida") + 40)
      val edges = sweepEdges(s, d).unionByName(bridges).distinct()
        .localCheckpoint()
      GraphStats.cutEdges(edges,
          GraphStats.labelPropagation(edges, rounds = 4))
        .orderBy("ida", "idb")
    }),

    // token-frequency Gini per source: vocabulary-concentration
    // inequality (the boilerplate smell) next to q166's Shannon view —
    // exact-integer rank·count sums on one global ordinal, one division
    "q227_token_gini" -> ((s, d) =>
      TextOps.tokenGini(docs(s, d)).orderBy("source")),

    // PII co-occurrence profile with three planted leak shapes (%7
    // email+phone, %13 email, %17 ip — composites yield the mixed
    // combinations incl. all-three at %119): release-risk
    // stratification by TYPE COMBINATION, not marginal counts
    "q228_pii_profile" -> ((s, d) =>
      TextOps.piiProfile(docs(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              lit(" contact bob@example.com or 555-123-4567 now"))
              .otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit(" mail alice@test.org"))
              .otherwise(lit("")),
            when(col("doc_id") % 17 === 0, lit(" from 192.168.0.1"))
              .otherwise(lit(""))).as("text")))
        .orderBy("has_email", "has_phone", "has_ip")),

    // mutual-nearest-neighbor pairs with the Artetxe–Schwenk margin —
    // the bitext-mining selection rule on the shared bucketed-ANN
    // chain: kept only when each side is the other's rank-1, margin =
    // both sides' mean k-NN distance over the pair distance in exact
    // integer ppm (NULL for zero-distance exact duplicates)
    "q229_mutual_nn" -> ((s, d) => {
      val latent = Tables.t(s, d, "embeddings").select(
        col("vec_id").as("cell_id"),
        col("embedding").cast("array<double>").as("latent"))
      graft.pipeline.Knn.mutualTopPairs(latent, k = 5)
        .orderBy("src", "dst")
    }),

    // minimum detectable effect per event type (two-sample, alpha .05 /
    // power .8, pinned z-sum literal) on per-user value totals — the
    // experiment-sizing pre-check next to q185's CUPED
    "q230_mde" -> ((s, d) =>
      graft.analytics.Analytics.mdeReport(Tables.events(s, d))
        .orderBy("event_type")),

    // exact repeat census at NON-power lengths 24/48/96 via the
    // two-overlapping-powers decomposition over the q219 rank levels —
    // each extra length is one shifted join + class count, no re-rank
    "q231_repeat_lengths" -> ((s, d) =>
      graft.text.SuffixOps.repeatAtLengths(docs(s, d), Seq(24, 48, 96))
        .orderBy("len")),

    // 1-Wasserstein drift of each source's length distribution vs the
    // rest — the MAGNITUDE companion to q183's KS max-gap (how far the
    // mass moved, in characters); exact integer Σ|ΔCDF|·Δv over the
    // bounded distinct-value grid, one division
    "q232_w1_drift" -> ((s, d) =>
      TextOps.w1Drift(docs(s, d), col("source"), col("n_chars"))
        .orderBy("grp")),

    // sketch-accuracy audit: the q119 histogram quantiles measured
    // against the q104 exact order statistics per (type, percentile) —
    // the one-sided error is bounded by the bin width, REPORTED per
    // cell rather than assumed
    "q233_sketch_error" -> ((s, d) => {
      val ev = Tables.t(s, d, "events").select(col("event_type"),
        col("value"))
      val exact = graft.analytics.Analytics.groupQuantiles(
        ev, "event_type", "value", Seq(0.5, 0.95, 0.99))
      val skl = graft.stats.Sketches.histQuantiles(ev, "event_type", "value")
        .select(col("grp").as("event_type"),
          expr("stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99)")
            .as(Seq("p", "sketch_q")))
      exact.join(skl, Seq("event_type", "p"))
        .select(col("event_type"), col("p"),
          round(col("q_value"), 6).as("exact_q"),
          round(col("sketch_q"), 6).as("sketch_q"),
          round(col("sketch_q") - col("q_value"), 6).as("err"),
          (col("sketch_q") - col("q_value") >= 0
            && col("sketch_q") - col("q_value") <= 2.0).as("within_bin"))
        .orderBy("event_type", "p")
    }),

    // the dataset card: one (metric, value) datasheet — sizes, type
    // counts, duplication, language concentration, hapax share, PII
    // rate — every row an exact count or single rounded division
    "q234_dataset_card" -> ((s, d) =>
      TextOps.datasetCard(docs(s, d)).orderBy("metric")),

    // Good–Turing unseen mass + Chao1 richness per source, at word AND
    // word-3-gram level (q211's contrast): the synthetic word vocab is
    // saturated (n1 near 0 — honest), the phrase space carries real
    // singleton mass — the expectation-terms keep-crawling signal;
    // exact integer singleton/doubleton profile, two divisions
    "q235_good_turing" -> ((s, d) =>
      TextOps.goodTuring(docs(s, d), gramN = 1)
        .unionByName(TextOps.goodTuring(docs(s, d), gramN = 3))
        .orderBy("gram_n", "source")),

    // chunk-level duplication of the RAG layout over the sweep universe
    // (planted full/half copies guarantee cross-doc identical chunks):
    // what a doc-level dedup still leaks into a retrieval index
    "q236_chunk_dedup" -> ((s, d) =>
      graft.text.Mix.chunkDupStats(TrainingQueries.sweepDocs(s, d),
        width = 20, stride = 10)),

    // bigram conditional entropy per source: the predictability gate —
    // templated text has low H(next|current) even at healthy unigram
    // entropy; micro-quantized lns before exact integer term sums
    "q237_cond_entropy" -> ((s, d) =>
      TextOps.bigramCondEntropy(docs(s, d)).orderBy("source")),

    // order-independent shard content fingerprints + corpus root: the
    // replica/migration integrity check — exact integer sums of 60-bit
    // per-doc digests, mergeable up to the root, no data movement
    "q238_fingerprints" -> ((s, d) =>
      graft.text.Mix.shardFingerprints(docs(s, d), nShards = 8)
        .orderBy("shard")),

    // consistent-hash rebalance plan at 8 -> 9 shards: documents moved
    // under modulo placement (~8/9) vs the md5 ring (~1/9) — the
    // migration-cost arithmetic, md5-deterministic end to end
    "q239_rebalance" -> ((s, d) =>
      graft.text.Mix.rebalancePlan(docs(s, d), nShards = 8)),

    // cross-snapshot shard diff on the q238 fingerprints against a
    // SPARSE planted v2 (removals %89, edits %97 — q164's dense deltas
    // touched every one of 8 shards, making the equal branch vacuous;
    // caught in the driver output): at 64 shards both verdicts fire at
    // every SF — the localizer that scopes the row-level diff to the
    // flagged shards without moving documents
    "q240_fingerprint_diff" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 89 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      graft.text.Mix.fingerprintDiff(v1, v2, nShards = 64).orderBy("shard")
    }))

  /** Shared oracle chain: sweep universe shingles → df-capped
    * inverted-index pair table with sizes — the threshold-independent
    * prefix (`sweepChainSql`'s sig/band CTEs are unreferenced here and
    * pruned by DuckDB).
    */
  private val pairBaseSql =
    s"""${TrainingQueries.sweepChainSql},
       shc AS MATERIALIZED (
         SELECT * FROM psh WHERE shingle IN (
           SELECT shingle FROM psh GROUP BY shingle HAVING COUNT(*) <= 500)),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
         FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       ej AS MATERIALIZED (
         SELECT i.ida, i.idb, i.inter, sa.sz AS sza, sb.sz AS szb
         FROM inter i
         JOIN sizes sa ON i.ida = sa.doc_id
         JOIN sizes sb ON i.idb = sb.doc_id)"""

  /** The J ≥ 2/5 edge list + degree table the graph queries share. */
  private val edgeChainSql =
    s"""$pairBaseSql,
       edges AS MATERIALIZED (
         SELECT ida, idb FROM ej
         WHERE inter * 5 >= (sza + szb - inter) * 2),
       dirn AS MATERIALIZED (SELECT ida AS node, idb AS nbr FROM edges
                UNION ALL
                SELECT idb, ida FROM edges),
       deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM dirn GROUP BY node)"""

  /** q248's replay: 3 HITS iterations unrolled — per iteration, the
    * authority pull (h summed over in-edges), pico-integer sum
    * normalization (raw·10¹² // Σraw, HUGEINT — positive, so // and
    * Spark's truncating div agree), then the hub pull on the fresh
    * authorities; top-25 per side.
    */
  private def q248OracleSql: String = {
    val iters = (1 to 3).map { i =>
      val hp = if (i == 1) "h0" else s"h_${i - 1}"
      s""",
  ar_$i AS (SELECT e.dst, SUM($hp.score) AS raw
            FROM e JOIN $hp USING (src) GROUP BY e.dst),
  a_$i AS (SELECT dst, CAST(raw AS HUGEINT) * 1000000000000
             // (SELECT SUM(raw) FROM ar_$i) AS score FROM ar_$i),
  hr_$i AS (SELECT e.src, SUM(a_$i.score) AS raw
            FROM e JOIN a_$i USING (dst) GROUP BY e.src),
  h_$i AS (SELECT src, CAST(raw AS HUGEINT) * 1000000000000
             // (SELECT SUM(raw) FROM hr_$i) AS score FROM hr_$i)"""
    }.mkString
    s"""WITH e AS (
    SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
  h0 AS (SELECT DISTINCT src, CAST(1000000000000 AS HUGEINT) AS score
         FROM e)$iters,
  nodes AS (
    SELECT 'hub' AS side, src AS id, score FROM h_3
    UNION ALL SELECT 'authority', dst, score FROM a_3),
  rk AS (
    SELECT side, id, score,
           ROW_NUMBER() OVER (PARTITION BY side
             ORDER BY score DESC, id) AS rn
    FROM nodes)
  SELECT side, CAST(rn AS INT) AS rn, id, CAST(score AS BIGINT) AS score
  FROM rk WHERE rn <= 25 ORDER BY side, rn"""
  }

  /** q205's replay: `iters` unrolled share-and-reseat stages, all
    * integer (`//` and Spark's `div` agree on positive operands).
    */
  private def pageRankSql(iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT a.nbr AS node,
                  CAST(150000000000 + (85 * SUM(r.r // a.deg)) // 100
                       AS BIGINT) AS r
           FROM adj a JOIN r${i - 1} r ON a.node = r.node
           GROUP BY a.nbr)"""
    }.mkString(",\n         ")
    s"""WITH $edgeChainSql,
       adj AS MATERIALIZED (SELECT d.node, d.nbr, g.deg FROM dirn d
               JOIN deg g ON d.node = g.node),
       r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
       $stages
       SELECT r.node AS node, g.deg AS deg, r.r AS rank_scaled
       FROM r$iters r JOIN deg g ON r.node = g.node
       ORDER BY r.node"""
  }

  /** q207's replay: `rounds` unrolled peel stages (survivors = nodes
    * with induced degree ≥ k); converged by the Spark side's require.
    */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (
           SELECT ida, idb FROM edges
           WHERE ida IN (SELECT node FROM n${i - 1})
             AND idb IN (SELECT node FROM n${i - 1})),
         n$i AS MATERIALIZED (
           SELECT node FROM (SELECT ida AS node FROM e$i
                             UNION ALL SELECT idb FROM e$i)
           GROUP BY node HAVING COUNT(*) >= $k)"""
    }.mkString(",\n         ")
    s"""WITH $edgeChainSql,
       n0 AS (SELECT node FROM deg WHERE deg >= $k),
       $stages,
       ef AS (
         SELECT ida, idb FROM edges
         WHERE ida IN (SELECT node FROM n$rounds)
           AND idb IN (SELECT node FROM n$rounds))
       SELECT node, COUNT(*) AS core_deg
       FROM (SELECT ida AS node FROM ef
             UNION ALL SELECT idb FROM ef)
       GROUP BY node ORDER BY node"""
  }

  /** q208's replay: one pair table, three recursive min-label closures
    * (the q70 technique), three summary rows.
    */
  private val ccSweepSql = {
    val per = Seq((2, 5), (3, 5), (4, 5)).map { case (num, den) =>
      s"""eg$num AS MATERIALIZED (
           SELECT ida, idb FROM ej
           WHERE inter * $den >= (sza + szb - inter) * $num),
         dg$num AS (SELECT ida AS s, idb AS t FROM eg$num
                    UNION ALL SELECT idb, ida FROM eg$num),
         reach$num AS (
           SELECT doc_id AS node, doc_id AS lbl FROM uni
           UNION
           SELECT e.t, r.lbl FROM reach$num r JOIN dg$num e ON e.s = r.node),
         comp$num AS (SELECT node AS doc_id, MIN(lbl) AS group_id
                      FROM reach$num GROUP BY node),
         sz$num AS (SELECT group_id, COUNT(*) AS n_docs
                    FROM comp$num GROUP BY group_id),
         sum$num AS (
           SELECT CAST($num AS BIGINT) AS thr_num,
                  CAST($den AS BIGINT) AS thr_den,
                  (SELECT COUNT(*) FROM sz$num WHERE n_docs >= 2)
                    AS n_dup_groups,
                  (SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT)
                   FROM sz$num WHERE n_docs >= 2) AS n_docs_in_dups,
                  (SELECT CAST(MAX(n_docs) AS BIGINT) FROM sz$num)
                    AS max_group,
                  (SELECT COUNT(*) FROM comp$num WHERE doc_id != group_id)
                    AS n_removed)"""
    }.mkString(",\n       ")
    s"""WITH RECURSIVE $pairBaseSql,
       uni AS (SELECT doc_id FROM spl),
       $per
       SELECT * FROM sum2 UNION ALL SELECT * FROM sum3
       UNION ALL SELECT * FROM sum4 ORDER BY thr_num"""
  }

  /** q214's replay: `rounds` unrolled vote-count-pick stages; the
    * self-vote is one UNION ALL of the previous labels, the pick is the
    * (cnt desc, lbl asc) ROW_NUMBER cut.
    */
  private def lpaStagesSql(rounds: Int, dirnRel: String = "dirn",
                           degRel: String = "deg"): String = {
    val stages = (1 to rounds).map { i =>
      s"""v$i AS (
           SELECT d.node, l.lbl FROM $dirnRel d
           JOIN l${i - 1} l ON d.nbr = l.node
           UNION ALL SELECT node, lbl FROM l${i - 1}),
         c$i AS (SELECT node, lbl, COUNT(*) AS cnt FROM v$i GROUP BY 1, 2),
         l$i AS (
           SELECT node, lbl FROM (
             SELECT node, lbl, ROW_NUMBER() OVER (
               PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
             FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n       ")
    s"""l0 AS (SELECT node, node AS lbl FROM $degRel),
       $stages"""
  }

  private def labelPropSql(rounds: Int): String =
    s"""WITH $edgeChainSql,
       ${lpaStagesSql(rounds)}
       SELECT node, lbl AS community FROM l$rounds ORDER BY node"""

  /** The bridge-planted graph q222/q226 share: sweep edges + b→b+40
    * triangle bridges, its direction/degree tables, and the 4-round
    * LPA membership (`lpam`).
    */
  private val bridgedChainSql =
    s"""$edgeChainSql,
       bridges AS (
         SELECT a.doc_id AS ida, b.doc_id AS idb
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 40
         WHERE a.doc_id % 200 = 0),
       edges2 AS MATERIALIZED (
         SELECT ida, idb FROM edges UNION SELECT ida, idb FROM bridges),
       dirn2 AS MATERIALIZED (
         SELECT ida AS node, idb AS nbr FROM edges2
         UNION ALL SELECT idb, ida FROM edges2),
       deg2 AS MATERIALIZED (
         SELECT node, COUNT(*) AS deg FROM dirn2 GROUP BY node),
       ${lpaStagesSql(4, "dirn2", "deg2")},
       lpam AS (SELECT node, lbl AS community FROM l4)"""

  /** q222's replay: CC membership by recursive min-label reach, LPA
    * membership from the shared stages, then Q·4m² per method in
    * HUGEINT with one final division each.
    */
  private val modularitySql = {
    def qFor(tag: String, mem: String): String =
      s"""lc_$tag AS (
           SELECT m1.community AS c, COUNT(*) AS l_c
           FROM edges2 e
           JOIN $mem m1 ON e.ida = m1.node
           JOIN $mem m2 ON e.idb = m2.node
           WHERE m1.community = m2.community GROUP BY 1),
         dc_$tag AS (
           SELECT m.community AS c, CAST(SUM(d.deg) AS BIGINT) AS d_c
           FROM deg2 d JOIN $mem m ON d.node = m.node GROUP BY 1),
         q_$tag AS (
           SELECT '$tag' AS method, COUNT(*) AS n_communities,
                  MAX(me.m) AS m_edges,
                  SUM(CAST(4 AS HUGEINT) * me.m * COALESCE(l.l_c, 0)
                      - CAST(d.d_c AS HUGEINT) * d.d_c) AS q_num
           FROM dc_$tag d LEFT JOIN lc_$tag l ON d.c = l.c, me)"""
    s"""WITH RECURSIVE $bridgedChainSql,
       me AS (SELECT COUNT(*) AS m FROM edges2),
       dgm AS (SELECT ida AS s2, idb AS t2 FROM edges2
               UNION ALL SELECT idb, ida FROM edges2),
       reachm AS (
         SELECT node, node AS lbl FROM deg2
         UNION
         SELECT e.t2, r.lbl FROM reachm r JOIN dgm e ON e.s2 = r.node),
       ccm AS (SELECT node, MIN(lbl) AS community FROM reachm GROUP BY node),
       ${qFor("cc", "ccm")},
       ${qFor("lpa", "lpam")}
       SELECT method, n_communities, m_edges,
              ROUND(CAST(q_num AS DOUBLE)
                    / CAST(CAST(4 AS HUGEINT) * m_edges * m_edges AS DOUBLE),
                6) AS modularity
       FROM (SELECT * FROM q_cc UNION ALL SELECT * FROM q_lpa)
       ORDER BY method"""
  }

  /** q215's replay: `rounds` unrolled row/col scaling half-steps, all
    * HUGEINT (mass sums, factor, reseat — truncating `//` is part of
    * the raking definition, identical to Spark's decimal `div`).
    */
  private def ipfRakeSql(rounds: Int): String = {
    val steps = (1 to 2 * rounds).map { k =>
      val key = if (k % 2 == 1) "grp_r" else "grp_c"
      s"""m$k AS MATERIALIZED (
                  SELECT $key, SUM(CAST(n AS HUGEINT) * w) AS m
                  FROM c${k - 1} GROUP BY 1),
         g$k AS MATERIALIZED (SELECT SUM(m) AS grand, COUNT(*) AS ns
                              FROM m$k),
         f$k AS MATERIALIZED (
                 SELECT m.$key,
                        ((1000000 // g.ns) * g.grand) // m.m AS factor
                 FROM m$k m, g$k g),
         c$k AS MATERIALIZED (
                 SELECT c.grp_r, c.grp_c, c.n,
                        (CAST(c.w AS HUGEINT) * f.factor) // 1000000 AS w
                 FROM c${k - 1} c JOIN f$k f USING ($key))"""
    }.mkString(",\n       ")
    val last = 2 * rounds
    s"""WITH c0 AS MATERIALIZED (
         SELECT lang AS grp_r, source AS grp_c, COUNT(*) AS n,
                CAST(1000000 AS HUGEINT) AS w
         FROM documents GROUP BY 1, 2),
       $steps,
       mrf AS MATERIALIZED (
               SELECT grp_r, SUM(CAST(n AS HUGEINT) * w) AS mr
               FROM c$last GROUP BY 1),
       mcf AS MATERIALIZED (
               SELECT grp_c, SUM(CAST(n AS HUGEINT) * w) AS mc
               FROM c$last GROUP BY 1),
       gf AS MATERIALIZED (SELECT SUM(CAST(n AS HUGEINT) * w) AS g
                           FROM c$last)
       SELECT c.grp_r, c.grp_c, c.n, CAST(c.w AS BIGINT) AS w_ppm,
              CAST((mrf.mr * 1000000) // gf.g AS BIGINT) AS row_share_ppm,
              CAST((mcf.mc * 1000000) // gf.g AS BIGINT) AS col_share_ppm
       FROM c$last c
       JOIN mrf USING (grp_r) JOIN mcf USING (grp_c), gf
       ORDER BY c.grp_r, c.grp_c"""
  }

  /** q219/q220's replay: the suffix prefix-doubling chain over the
    * docs relation `docsRel` — tokenized stream with per-doc CHR(1)
    * separators, DENSE_RANK base, then `rounds` unrolled doubling
    * stages (each a shifted self-join + dense re-rank; out-of-range
    * rank coalesces to the 0 sentinel exactly as the Spark side).
    */
  private def suffixChainSql(docsRel: String, rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      val off = 1L << (i - 1)
      s"""r$i AS MATERIALIZED (
           SELECT a.gp,
                  DENSE_RANK() OVER (ORDER BY a.r, COALESCE(b.r, 0)) AS r
           FROM r${i - 1} a LEFT JOIN r${i - 1} b ON b.gp = a.gp + $off)"""
    }.mkString(",\n       ")
    s"""tok0 AS (
         SELECT doc_id, i - 1 AS p, w[i] AS tok
         FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
               FROM $docsRel) t,
              LATERAL (SELECT UNNEST(RANGE(1, LEN(w) + 1)) AS i)),
       seps AS (
         SELECT doc_id, LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS p,
                CHR(1) || CAST(doc_id AS VARCHAR) AS tok
         FROM $docsRel),
       st AS MATERIALIZED (
         SELECT doc_id, tok, tok LIKE CHR(1) || '%' AS is_sep,
                ROW_NUMBER() OVER (ORDER BY doc_id, p) AS gp
         FROM (SELECT * FROM tok0 UNION ALL SELECT * FROM seps)),
       r0 AS MATERIALIZED (
         SELECT gp, DENSE_RANK() OVER (ORDER BY tok) AS r FROM st),
       $stages"""
  }

  private def spectrumSql(rounds: Int): String = {
    val stats = (0 to rounds).map { i =>
      s"""s$i AS (
           SELECT CAST(${1L << i} AS BIGINT) AS len,
                  COUNT(*) AS n_classes,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                    AS n_pos_repeated,
                  CAST(MAX(c) AS BIGINT) AS max_class
           FROM (SELECT r, COUNT(*) AS c FROM r$i GROUP BY r))"""
    }.mkString(",\n       ")
    val sel = (0 to rounds).map(i => s"SELECT * FROM s$i")
      .mkString("\n       UNION ALL ")
    s"""WITH ${suffixChainSql("documents", rounds)},
       $stats
       $sel ORDER BY len"""
  }

  def oracle: Map[String, String] = Map(

    "q204_triangles" ->
      s"""WITH $edgeChainSql,
         tri AS (
           SELECT COUNT(*) AS n_triangles
           FROM (SELECT ida AS a, idb AS b FROM edges) e1
           JOIN (SELECT ida AS b, idb AS c FROM edges) e2 USING (b)
           JOIN (SELECT ida AS a, idb AS c FROM edges) e3 USING (a, c)),
         da AS (
           SELECT COUNT(*) AS n_nodes, CAST(MAX(deg) AS BIGINT) AS max_deg,
                  CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
           FROM deg),
         ne AS (SELECT COUNT(*) AS n_edges FROM edges)
         SELECT da.n_nodes, ne.n_edges, da.max_deg, da.n_wedges,
                tri.n_triangles,
                ROUND(CAST(3 * tri.n_triangles AS DOUBLE)
                      / CAST(da.n_wedges AS DOUBLE), 6) AS global_cc
         FROM da, ne, tri""",

    "q205_pagerank" -> pageRankSql(8),

    "q206_assortativity" ->
      s"""WITH $edgeChainSql,
         dp AS (
           SELECT COUNT(*) AS m2,
                  CAST(SUM(da.deg) AS HUGEINT) AS sx,
                  SUM(CAST(da.deg AS HUGEINT) * CAST(db.deg AS HUGEINT)) AS sxy,
                  SUM(CAST(da.deg AS HUGEINT) * CAST(da.deg AS HUGEINT)) AS sxx
           FROM dirn JOIN deg da ON dirn.node = da.node
                     JOIN deg db ON dirn.nbr = db.node),
         da2 AS (SELECT COUNT(*) AS n_nodes, CAST(MAX(deg) AS BIGINT) AS max_deg
                 FROM deg),
         ne AS (SELECT COUNT(*) AS n_edges FROM edges)
         SELECT da2.n_nodes, ne.n_edges, da2.max_deg,
                ROUND(CASE WHEN CAST(dp.m2 AS HUGEINT) * dp.sxx - dp.sx * dp.sx = 0
                           THEN NULL
                           ELSE CAST(CAST(dp.m2 AS HUGEINT) * dp.sxy
                                     - dp.sx * dp.sx AS DOUBLE)
                              / CAST(CAST(dp.m2 AS HUGEINT) * dp.sxx
                                     - dp.sx * dp.sx AS DOUBLE)
                      END, 6) AS assortativity
         FROM dp, da2, ne""",

    "q207_kcore" -> kCoreSql(2, 8),

    "q208_cc_threshold_sweep" -> ccSweepSql,

    "q209_label_noise" ->
      s"""WITH ${TrainingQueries.annChainSql},
         lab AS (SELECT vec_id, label FROM embeddings),
         t5 AS (SELECT src, dst FROM topk WHERE rn <= 5)
         SELECT t.src AS src, la.label AS src_label,
                COUNT(*) AS k_found,
                CAST(SUM(CASE WHEN lb.label != la.label THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_diff,
                CAST(SUM(CASE WHEN lb.label != la.label THEN 1 ELSE 0 END)
                     AS BIGINT) * 2 > COUNT(*) AS suspect
         FROM t5 t
         JOIN lab la ON t.src = la.vec_id
         JOIN lab lb ON t.dst = lb.vec_id
         GROUP BY t.src, la.label
         ORDER BY src""",

    "q210_hour_profile" ->
      """WITH bh AS (
           SELECT event_type, (EPOCH_US(ts) // 3600000000) % 24 AS hr,
                  COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
                        CAST(MAX(n) AS BIGINT) AS max_n
                 FROM bh GROUP BY 1)
         SELECT b.event_type, b.hr, b.n,
                ROUND(CAST(b.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
                  AS share,
                b.n = t.max_n AS is_peak
         FROM bh b JOIN tot t USING (event_type)
         ORDER BY event_type, hr""",

    "q211_heaps_fit" -> {
      def chain(n: Int): String = {
        val gram = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
        s"""WITH ord AS (
           SELECT doc_id, text,
                  ROW_NUMBER() OVER (ORDER BY doc_id) AS pos
           FROM documents),
         tok AS (
           SELECT pos, $gram AS tok
           FROM (SELECT pos, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
                 FROM ord) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w) + 2 - $n)) AS i)),
         fp AS (SELECT tok, MIN(pos) AS first_pos FROM tok GROUP BY tok),
         dt AS (SELECT pos, COUNT(*) AS n_tok FROM tok GROUP BY pos),
         nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         cuts AS (
           SELECT i, (nd.n_docs * i) // 8 AS cut
           FROM (SELECT UNNEST(RANGE(1, 9)) AS i), nd),
         ni AS (SELECT c.i, CAST(SUM(dt.n_tok) AS BIGINT) AS n_i
                FROM cuts c JOIN dt ON dt.pos <= c.cut GROUP BY c.i),
         vi AS (SELECT c.i, COUNT(*) AS v_i
                FROM cuts c JOIN fp ON fp.first_pos <= c.cut GROUP BY c.i),
         pts AS (
           SELECT ni.i, ni.n_i, vi.v_i,
                  CAST(ROUND(LN(CAST(ni.n_i AS DOUBLE)) * 1e9, 0)
                       AS HUGEINT) AS x,
                  CAST(ROUND(LN(CAST(vi.v_i AS DOUBLE)) * 1e9, 0)
                       AS HUGEINT) AS y
           FROM ni JOIN vi USING (i)),
         ag AS (
           SELECT COUNT(*) AS n_points,
                  MAX(n_i) AS n_tokens, MAX(v_i) AS vocab,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * y) AS sxy, SUM(x * x) AS sxx
           FROM pts)
         SELECT CAST($n AS BIGINT) AS gram_n, n_points, n_tokens, vocab,
                ROUND(CAST(n_points * sxy - sx * sy AS DOUBLE)
                      / CAST(n_points * sxx - sx * sx AS DOUBLE), 6) AS beta,
                ROUND((CAST(sy AS DOUBLE) / 1e9
                       - (CAST(n_points * sxy - sx * sy AS DOUBLE)
                          / CAST(n_points * sxx - sx * sx AS DOUBLE))
                         * (CAST(sx AS DOUBLE) / 1e9))
                      / CAST(n_points AS DOUBLE), 6) AS ln_k
         FROM ag"""
      }
      s"""SELECT * FROM (${chain(1)})
          UNION ALL SELECT * FROM (${chain(3)})
          ORDER BY gram_n"""
    },

    "q212_readability" ->
      """WITH pl AS (
           SELECT source,
                  CASE WHEN doc_id % 7 = 0
                       THEN text || '. ' || text || '!'
                       ELSE text END AS text
           FROM documents),
         per AS (
           SELECT source,
                  LEN(REGEXP_EXTRACT_ALL(text, '\S+')) AS w,
                  GREATEST(1, LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+'))) AS s,
                  LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiou]+')) AS y
           FROM pl),
         ag AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(w) AS BIGINT) AS n_words,
                  CAST(SUM(s) AS BIGINT) AS n_sents,
                  CAST(SUM(y) AS BIGINT) AS n_syllables
           FROM per GROUP BY source)
         SELECT source, n_docs, n_words, n_sents, n_syllables,
                ROUND(CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE), 6)
                  AS words_per_sent,
                ROUND(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
                  AS syl_per_word,
                ROUND(206.835
                      - 1.015 * (CAST(n_words AS DOUBLE)
                                 / CAST(n_sents AS DOUBLE))
                      - 84.6 * (CAST(n_syllables AS DOUBLE)
                                / CAST(n_words AS DOUBLE)), 6) AS flesch
         FROM ag ORDER BY source""",

    "q213_local_cc" ->
      s"""WITH $edgeChainSql,
         corners AS (
           SELECT e1.a, e1.b, e2.c
           FROM (SELECT ida AS a, idb AS b FROM edges) e1
           JOIN (SELECT ida AS b, idb AS c FROM edges) e2 USING (b)
           JOIN (SELECT ida AS a, idb AS c FROM edges) e3 USING (a, c)),
         tpn AS (
           SELECT node, COUNT(*) AS n_tri FROM (
             SELECT a AS node FROM corners
             UNION ALL SELECT b FROM corners
             UNION ALL SELECT c FROM corners)
           GROUP BY node)
         SELECT d.node, d.deg,
                CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
                CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS n_wedges,
                ROUND(CASE WHEN d.deg >= 2 THEN
                  CAST(COALESCE(t.n_tri, 0) AS DOUBLE)
                    / CAST(d.deg * (d.deg - 1) // 2 AS DOUBLE) END, 6)
                  AS local_cc
         FROM deg d LEFT JOIN tpn t ON d.node = t.node
         ORDER BY d.node""",

    "q214_label_prop" -> labelPropSql(4),

    "q215_ipf_rake" -> ipfRakeSql(4),

    "q216_benford" -> {
      val pb = graft.analytics.Analytics.benfordPpt
        .map { case (d, p) => s"($d, $p)" }.mkString(", ")
      s"""WITH cents AS (
           SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events),
         cnt AS (
           SELECT event_type,
                  CAST(SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
                  COUNT(*) AS n0
           FROM cents WHERE c > 0 GROUP BY 1, 2),
         pb AS (SELECT digit, CAST(p AS DOUBLE) AS p
                FROM (VALUES $pb) AS t(digit, p)),
         dom AS (SELECT DISTINCT event_type, pb.digit, pb.p
                 FROM cnt, pb),
         f AS (
           SELECT dom.event_type, dom.digit,
                  CAST(COALESCE(cnt.n0, 0) AS BIGINT) AS n, dom.p
           FROM dom LEFT JOIN cnt
             ON dom.event_type = cnt.event_type AND dom.digit = cnt.digit),
         tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_tot
                 FROM f GROUP BY 1),
         terms AS (
           SELECT f.event_type, f.digit, f.n, f.p, t.n_tot,
                  CAST(ROUND(
                    (CAST(f.n AS DOUBLE) - CAST(t.n_tot AS DOUBLE) * f.p)
                    * (CAST(f.n AS DOUBLE) - CAST(t.n_tot AS DOUBLE) * f.p)
                    / (CAST(t.n_tot AS DOUBLE) * f.p)
                    * 1000000.0) AS BIGINT) AS tm
           FROM f JOIN tot t USING (event_type)),
         chi AS (SELECT event_type, CAST(SUM(tm) AS BIGINT) AS cm
                 FROM terms GROUP BY 1)
         SELECT t.event_type, t.digit, t.n,
                ROUND(CAST(t.n AS DOUBLE) / CAST(t.n_tot AS DOUBLE), 6)
                  AS share,
                t.p AS p_benford,
                ROUND(CAST(c.cm AS DOUBLE) / 1000000.0, 6) AS chi2
         FROM terms t JOIN chi c USING (event_type)
         ORDER BY t.event_type, t.digit"""
    },

    "q217_quantile_norm" ->
      """WITH b AS (
           SELECT doc_id AS id, source AS grp, CAST(n_chars AS BIGINT) AS raw
           FROM documents),
         r AS (
           SELECT id, grp, raw,
                  RANK() OVER (PARTITION BY grp ORDER BY raw) AS r_min,
                  COUNT(*) OVER (PARTITION BY grp) AS n_g,
                  COUNT(*) OVER () AS n_all
           FROM b),
         t AS (SELECT id, grp, raw,
                      (r_min * n_all + n_g - 1) // n_g AS tgt FROM r),
         g AS (SELECT raw AS gv, ROW_NUMBER() OVER (ORDER BY raw) AS rn
               FROM b)
         SELECT t.id AS id, t.grp AS grp, t.raw AS raw, g.gv AS norm
         FROM t JOIN g ON g.rn = t.tgt
         ORDER BY id""",

    "q218_char_entropy" ->
      """WITH pl AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 11 = 0 THEN REPEAT('ha ', 40)
                       ELSE text END AS text
           FROM documents),
         ch AS (SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM pl),
         c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch
               WHERE LEN(ch) > 0 GROUP BY 1, 2),
         a AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t,
                  COUNT(*) AS n_distinct,
                  CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE)
                    * LN(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
                    AS BIGINT) AS s_micro
           FROM c GROUP BY 1)
         SELECT doc_id, t AS n_chars_counted, n_distinct,
                ROUND((CAST(CAST(ROUND(LN(CAST(t AS DOUBLE)) * 1000000.0)
                            AS BIGINT) AS DOUBLE) * CAST(t AS DOUBLE)
                       - CAST(s_micro AS DOUBLE))
                      / (CAST(t AS DOUBLE) * 1000000.0), 6) AS entropy,
                CAST(ROUND(LN(CAST(t AS DOUBLE)) * 1000000.0) AS BIGINT) * t
                  - s_micro < 2000000 * t AS is_low_entropy
         FROM a ORDER BY doc_id""",

    "q219_repeat_spectrum" -> spectrumSql(7),

    "q220_repeat_coverage" ->
      s"""WITH ${TrainingQueries.sweepChainSql},
         ${suffixChainSql("spl", 5)},
         cz AS (SELECT r, COUNT(*) AS csz FROM r5 GROUP BY r)
         SELECT s.doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN cz.csz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_repeat_pos,
                ROUND(CAST(SUM(CASE WHEN cz.csz >= 2 THEN 1 ELSE 0 END)
                           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                  AS coverage
         FROM st s JOIN r5 USING (gp) JOIN cz USING (r)
         WHERE NOT s.is_sep
         GROUP BY s.doc_id ORDER BY s.doc_id""",

    "q221_neyman_alloc" ->
      """WITH a AS (
           SELECT lang AS stratum, COUNT(*) AS n_pop,
                  CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                       AS HUGEINT) AS sxx
           FROM documents GROUP BY 1),
         s AS (
           SELECT stratum, n_pop, sx,
                  CAST(ROUND(SQRT(CAST(n_pop * sxx - sx * sx AS DOUBLE)
                                  / CAST(n_pop * n_pop AS DOUBLE))
                             * 1000000.0) AS BIGINT) AS s_micro
           FROM a),
         w AS (SELECT *, CAST(n_pop AS HUGEINT) * s_micro AS wgt FROM s),
         t AS (SELECT SUM(wgt) AS tw FROM w)
         SELECT stratum, n_pop,
                ROUND(CAST(sx AS DOUBLE) / CAST(n_pop AS DOUBLE), 6) AS mean,
                ROUND(CAST(s_micro AS DOUBLE) / 1000000.0, 6) AS sd,
                CAST((500 * wgt) // t.tw AS BIGINT) AS alloc_n
         FROM w, t ORDER BY stratum""",

    "q222_modularity" -> modularitySql,

    "q223_dedup_bias" ->
      s"""WITH RECURSIVE $edgeChainSql,
         uni AS (SELECT doc_id FROM spl),
         dgb AS (SELECT ida AS s2, idb AS t2 FROM edges
                 UNION ALL SELECT idb, ida FROM edges),
         reachb AS (
           SELECT doc_id AS node, doc_id AS lbl FROM uni
           UNION
           SELECT e.t2, r.lbl FROM reachb r JOIN dgb e ON e.s2 = r.node),
         compb AS (SELECT node AS doc_id, MIN(lbl) AS group_id
                   FROM reachb GROUP BY node),
         gszb AS (SELECT group_id, COUNT(*) AS n_docs
                  FROM compb GROUP BY 1),
         meta AS (
           SELECT s.doc_id, d.lang AS grp,
                  LEN(REGEXP_SPLIT_TO_ARRAY(s.text, '\\s+')) AS x
           FROM spl s JOIN documents d ON s.doc_id % 1000000 = d.doc_id),
         j AS (
           SELECT m.grp, m.x, g.n_docs, m.doc_id = c.group_id AS keep
           FROM meta m JOIN compb c USING (doc_id)
                       JOIN gszb g USING (group_id))
         SELECT grp, COUNT(*) AS n_raw,
                ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                  AS mean_raw,
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                ROUND(CAST(SUM(CASE WHEN keep THEN x ELSE 0 END) AS DOUBLE)
                      / CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                             AS DOUBLE), 6) AS mean_kept,
                ROUND(CAST(SUM(CASE WHEN keep THEN n_docs * x ELSE 0 END)
                           AS DOUBLE)
                      / CAST(SUM(CASE WHEN keep THEN n_docs ELSE 0 END)
                             AS DOUBLE), 6) AS mean_weighted
         FROM j GROUP BY grp ORDER BY grp""",

    "q249_luhn_audit" ->
      """WITH p AS (
           SELECT doc_id, source,
                  text || CASE WHEN doc_id % 9 = 0
                    THEN ' card 4532015112830366' ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                    THEN ' card 4532015112830367' ELSE '' END
                       || CASE WHEN doc_id % 21 = 0
                    THEN ' ref 1234567890123456' ELSE '' END AS text
           FROM documents),
         cand AS (
           SELECT source, doc_id,
                  UNNEST(REGEXP_EXTRACT_ALL(text, '[0-9]{16}')) AS c
           FROM p),
         lv AS (
           SELECT source, doc_id, c,
                  LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(c) + 1), i ->
                    CASE WHEN (LEN(c) - i + 1) % 2 = 0
                         THEN CASE WHEN CAST(c[i] AS INT) * 2 > 9
                              THEN CAST(c[i] AS INT) * 2 - 9
                              ELSE CAST(c[i] AS INT) * 2 END
                         ELSE CAST(c[i] AS INT) END)) % 10 = 0 AS v
           FROM cand)
         SELECT source, COUNT(DISTINCT doc_id) AS n_docs_hit,
                COUNT(*) AS n_candidates,
                CAST(SUM(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_luhn_valid,
                ROUND(CAST(SUM(CASE WHEN v THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS valid_share
         FROM lv GROUP BY source ORDER BY source""",

    "q247_conformal" ->
      """WITH b AS (
           SELECT (CAST(n_chars AS BIGINT) * 1000)
                    // LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS sc,
                  doc_id % 2 = 0 AS cal
           FROM documents),
         c AS (SELECT sc, ROW_NUMBER() OVER (ORDER BY sc) AS g
               FROM b WHERE cal),
         n AS (SELECT MAX(g) AS n_cal FROM c),
         al(a, bb) AS (VALUES (1, 10), (1, 20)),
         ks AS (
           SELECT n.n_cal, al.a, al.bb,
                  LEAST(((n.n_cal + 1) * (al.bb - al.a) + al.bb - 1)
                    // al.bb, n.n_cal) AS k
           FROM n CROSS JOIN al),
         q AS (
           SELECT ks.a, ks.bb, ks.n_cal, ks.k, c.sc AS q_score
           FROM ks JOIN c ON c.g = ks.k),
         t AS (SELECT COUNT(*) AS n_test FROM b WHERE NOT cal),
         cov AS (
           SELECT q.a, q.bb, COUNT(*) AS n_covered
           FROM b JOIN q ON NOT b.cal AND b.sc <= q.q_score
           GROUP BY q.a, q.bb)
         SELECT CAST(q.a AS BIGINT) AS a_num, CAST(q.bb AS BIGINT) AS a_den,
                CAST(q.n_cal AS BIGINT) AS n_cal, CAST(q.k AS BIGINT) AS k,
                q.q_score,
                t.n_test, COALESCE(cov.n_covered, 0) AS n_covered,
                ROUND(CAST(COALESCE(cov.n_covered, 0) AS DOUBLE)
                  / t.n_test, 6) AS coverage
         FROM q CROSS JOIN t
         LEFT JOIN cov ON cov.a = q.a AND cov.bb = q.bb
         ORDER BY a_den""",

    "q248_hits" -> q248OracleSql,

    "q244_t_closeness" ->
      """WITH b AS (
           SELECT source, n_chars // 8 AS len8, lang FROM documents),
         cls AS (SELECT source, len8, COUNT(*) AS gn FROM b GROUP BY 1, 2),
         cv AS (SELECT source, len8, lang, COUNT(*) AS ncv
                FROM b GROUP BY 1, 2, 3),
         vt AS (SELECT lang, COUNT(*) AS nv FROM b GROUP BY 1),
         nt AS (SELECT COUNT(*) AS nn FROM b),
         grid AS (
           SELECT c.source, c.len8, c.gn, v.lang, v.nv,
                  COALESCE(cv.ncv, 0) AS ncv, nt.nn
           FROM cls c CROSS JOIN vt v
           LEFT JOIN cv ON cv.source = c.source AND cv.len8 = c.len8
                       AND cv.lang = v.lang
           CROSS JOIN nt),
         per AS (
           SELECT source, len8, gn, nn,
                  SUM(ABS(CAST(ncv AS HUGEINT) * nn
                          - CAST(nv AS HUGEINT) * gn)) AS tnum
           FROM grid GROUP BY 1, 2, 3, 4),
         thr(a, b) AS (VALUES (1, 5), (3, 10), (1, 2)),
         j AS (
           SELECT thr.a, thr.b, per.gn, per.nn, per.tnum,
                  CAST(per.tnum AS HUGEINT) * thr.b
                    > CAST(2 AS HUGEINT) * per.gn * per.nn * thr.a AS viol
           FROM per CROSS JOIN thr)
         SELECT CAST(a AS BIGINT) AS t_num, CAST(b AS BIGINT) AS t_den,
                COUNT(*) AS n_classes,
                CAST(SUM(CASE WHEN viol THEN 1 ELSE 0 END) AS BIGINT)
                  AS classes_above,
                CAST(SUM(CASE WHEN viol THEN gn ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                MAX(ROUND(CAST(tnum AS DOUBLE) / (2.0 * gn * nn), 6))
                  AS max_tvd
         FROM j GROUP BY a, b
         ORDER BY CAST(a AS DOUBLE) / b""",

    "q224_l_diversity" ->
      """WITH g AS (
           SELECT source, n_chars // 8 AS len8, COUNT(*) AS gn,
                  COUNT(DISTINCT lang) AS dv
           FROM documents GROUP BY 1, 2),
         ls AS (SELECT UNNEST([2, 3, 4]) AS l)
         SELECT CAST(ls.l AS BIGINT) AS l, COUNT(*) AS n_classes,
                CAST(SUM(CASE WHEN g.dv < ls.l THEN 1 ELSE 0 END) AS BIGINT)
                  AS classes_below,
                CAST(SUM(CASE WHEN g.dv < ls.l THEN g.gn ELSE 0 END)
                     AS BIGINT) AS rows_at_risk
         FROM g, ls GROUP BY 1 ORDER BY l""",

    "q225_weighted_jaccard" ->
      s"""WITH ${TrainingQueries.sweepChainSql},
         dfc AS (SELECT shingle, COUNT(*) AS df FROM psh GROUP BY 1),
         shw AS MATERIALIZED (
           SELECT p.doc_id, p.shingle, 1000000 // d.df AS w
           FROM psh p JOIN dfc d USING (shingle) WHERE d.df <= 500),
         ws AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt,
                       COUNT(*) AS sz
                FROM shw GROUP BY 1),
         itr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter,
                  CAST(SUM(a.w) AS BIGINT) AS inter_w
           FROM shw a JOIN shw b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT i.ida, i.idb, i.inter,
                (i.inter * 1000000) // (sa.sz + sb.sz - i.inter) AS j_ppm,
                (i.inter_w * 1000000) // (sa.wt + sb.wt - i.inter_w)
                  AS jw_ppm
         FROM itr i JOIN ws sa ON i.ida = sa.doc_id
                    JOIN ws sb ON i.idb = sb.doc_id
         ORDER BY i.ida, i.idb""",

    "q226_cut_edges" ->
      s"""WITH $bridgedChainSql
         SELECT e.ida, e.idb, ma.community AS com_a, mb.community AS com_b
         FROM edges2 e
         JOIN lpam ma ON e.ida = ma.node
         JOIN lpam mb ON e.idb = mb.node
         WHERE ma.community != mb.community
         ORDER BY e.ida, e.idb""",

    "q227_token_gini" ->
      """WITH c AS (
           SELECT source, tok, COUNT(*) AS c
           FROM (SELECT source,
                        UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS tok
                 FROM documents)
           GROUP BY 1, 2),
         r AS (SELECT source, c,
                      ROW_NUMBER() OVER (
                        PARTITION BY source ORDER BY c, tok) AS i
               FROM c),
         a AS (SELECT source, COUNT(*) AS n_types,
                      CAST(SUM(c) AS BIGINT) AS n_tokens,
                      SUM(CAST(i AS HUGEINT) * c) AS sic
               FROM r GROUP BY 1)
         SELECT source, n_types, n_tokens,
                ROUND(CAST(2 * sic - (n_types + 1)
                           * CAST(n_tokens AS HUGEINT) AS DOUBLE)
                      / CAST(CAST(n_types AS HUGEINT) * n_tokens AS DOUBLE),
                  6) AS gini
         FROM a ORDER BY source""",

    "q228_pii_profile" -> {
      import graft.text.TextOps.{emailPat, phonePat, ipPat}
      s"""WITH pl AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 7 = 0
                     THEN ' contact bob@example.com or 555-123-4567 now'
                     ELSE '' END
                  || CASE WHEN doc_id % 13 = 0
                     THEN ' mail alice@test.org' ELSE '' END
                  || CASE WHEN doc_id % 17 = 0
                     THEN ' from 192.168.0.1' ELSE '' END AS text
           FROM documents),
         f AS (
           SELECT LEN(REGEXP_EXTRACT_ALL(text, '$emailPat')) > 0
                    AS has_email,
                  LEN(REGEXP_EXTRACT_ALL(text, '$phonePat')) > 0
                    AS has_phone,
                  LEN(REGEXP_EXTRACT_ALL(text, '$ipPat')) > 0 AS has_ip
           FROM pl),
         g AS (SELECT has_email, has_phone, has_ip, COUNT(*) AS n_docs
               FROM f GROUP BY 1, 2, 3),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM g)
         SELECT g.has_email, g.has_phone, g.has_ip,
                CAST(g.has_email AS BIGINT) + CAST(g.has_phone AS BIGINT)
                  + CAST(g.has_ip AS BIGINT) AS n_types,
                g.n_docs,
                ROUND(CAST(g.n_docs AS DOUBLE) / CAST(t.n_tot AS DOUBLE), 6)
                  AS share
         FROM g, t ORDER BY 1, 2, 3"""
    },

    "q229_mutual_nn" ->
      s"""WITH ${TrainingQueries.annChainSql},
         t5 AS MATERIALIZED (
           SELECT src, dst, CAST(ROUND(dist * 1000000.0) AS BIGINT)
                    AS d_micro, rn
           FROM topk WHERE rn <= 5),
         t1 AS (SELECT src, dst, d_micro FROM t5 WHERE rn = 1),
         mu AS (
           SELECT a.src, a.dst, a.d_micro
           FROM t1 a JOIN t1 b ON a.src = b.dst AND a.dst = b.src
           WHERE a.src < a.dst),
         sums AS (
           SELECT src, CAST(SUM(d_micro) AS BIGINT) AS sum_micro,
                  COUNT(*) AS k_found
           FROM t5 GROUP BY src)
         SELECT m.src, m.dst, m.d_micro,
                sa.sum_micro AS sum_src_micro,
                sb.sum_micro AS sum_dst_micro,
                CASE WHEN m.d_micro > 0
                     THEN ((sa.sum_micro + sb.sum_micro) * 1000000)
                          // ((sa.k_found + sb.k_found) * m.d_micro)
                END AS margin_ppm
         FROM mu m JOIN sums sa ON m.src = sa.src
                   JOIN sums sb ON m.dst = sb.src
         ORDER BY m.src, m.dst""",

    "q230_mde" ->
      """WITH pu AS (
           SELECT event_type, user_id,
                  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                    AS x
           FROM events GROUP BY 1, 2),
         a AS (
           SELECT event_type, COUNT(*) AS n,
                  CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
                  CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                       AS HUGEINT) AS sxx
           FROM pu GROUP BY 1),
         s AS (
           SELECT event_type, n,
                  ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
                    AS mean_cents,
                  CAST(ROUND(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                  / CAST(n * n AS DOUBLE)) * 1000000.0)
                       AS BIGINT) AS sd_micro
           FROM a)
         SELECT event_type, n, mean_cents,
                ROUND(CAST(sd_micro AS DOUBLE) / 1000000.0, 6) AS sd_cents,
                ROUND(2.801585 * (CAST(sd_micro AS DOUBLE) / 1000000.0)
                      * SQRT(2.0 / CAST(n AS DOUBLE)), 6) AS mde_cents,
                ROUND(2.801585 * (CAST(sd_micro AS DOUBLE) / 1000000.0)
                      * SQRT(2.0 / CAST(n AS DOUBLE)) / mean_cents, 6)
                  AS mde_rel
         FROM s ORDER BY event_type""",

    "q231_repeat_lengths" -> {
      val stats = Seq(24, 48, 96).map { l =>
        val i = 31 - Integer.numberOfLeadingZeros(l)
        val off = l - (1 << i)
        s"""sl$l AS (
             SELECT CAST($l AS BIGINT) AS len, COUNT(*) AS n_classes,
                    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                      AS n_pos_repeated,
                    CAST(MAX(c) AS BIGINT) AS max_class
             FROM (SELECT a.r AS r1, COALESCE(b.r, 0) AS r2, COUNT(*) AS c
                   FROM r$i a LEFT JOIN r$i b ON b.gp = a.gp + $off
                   GROUP BY 1, 2))"""
      }.mkString(",\n       ")
      s"""WITH ${suffixChainSql("documents", 6)},
       $stats
       SELECT * FROM sl24 UNION ALL SELECT * FROM sl48
       UNION ALL SELECT * FROM sl96 ORDER BY len"""
    },

    "q232_w1_drift" ->
      """WITH c AS (
           SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
                  COUNT(*) AS c
           FROM documents GROUP BY 1, 2),
         t AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM c GROUP BY 1),
         g AS (SELECT CAST(SUM(c) AS BIGINT) AS grand FROM c),
         vals AS (SELECT DISTINCT v FROM c),
         grid AS (
           SELECT t.grp, t.n_g, vals.v, COALESCE(c.c, 0) AS c
           FROM t CROSS JOIN vals
           LEFT JOIN c ON c.grp = t.grp AND c.v = vals.v),
         cg AS (SELECT grp, n_g, v,
                       SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum_g
                FROM grid),
         ca AS (SELECT v, SUM(c_all) OVER (ORDER BY v) AS cum_all,
                       COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS dv
                FROM (SELECT v, SUM(c) AS c_all FROM c GROUP BY v)),
         terms AS (
           SELECT cg.grp, cg.n_g,
                  CAST(ABS(cg.cum_g * (g.grand - cg.n_g)
                           - (ca.cum_all - cg.cum_g) * cg.n_g) AS HUGEINT)
                    * ca.dv AS term,
                  g.grand
           FROM cg JOIN ca USING (v), g)
         SELECT grp, MAX(n_g) AS n_g,
                ROUND(CAST(SUM(term) AS DOUBLE)
                      / CAST(MAX(n_g) * (MAX(grand) - MAX(n_g)) AS DOUBLE),
                  6) AS w1
         FROM terms GROUP BY grp ORDER BY grp""",

    "q233_sketch_error" ->
      """WITH ev AS (SELECT event_type, value AS v FROM events),
         r AS (
           SELECT event_type, v,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v)
                    AS rk,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM ev),
         ps AS (SELECT CAST(UNNEST([0.5, 0.95, 0.99]) AS DOUBLE) AS p),
         ex AS (
           SELECT r.event_type, ps.p, r.v AS q_value
           FROM r JOIN ps
             ON r.rk = GREATEST(1, CAST(CEIL(ps.p * r.n) AS BIGINT))),
         bins AS (
           SELECT event_type,
                  CAST(LEAST(GREATEST(FLOOR((v - 0.0) / 2.0), 0), 255)
                       AS INT) AS bin,
                  COUNT(*) AS c
           FROM ev GROUP BY 1, 2),
         cum AS (
           SELECT event_type, bin,
                  SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                  SUM(c) OVER (PARTITION BY event_type) AS n
           FROM bins),
         sk AS (
           SELECT event_type,
                  MIN(CASE WHEN cum >= FLOOR((n * 50 + 99) / 100.0)
                      THEN 0.0 + (bin + 1) * 2.0 END) AS p50,
                  MIN(CASE WHEN cum >= FLOOR((n * 95 + 99) / 100.0)
                      THEN 0.0 + (bin + 1) * 2.0 END) AS p95,
                  MIN(CASE WHEN cum >= FLOOR((n * 99 + 99) / 100.0)
                      THEN 0.0 + (bin + 1) * 2.0 END) AS p99
           FROM cum GROUP BY event_type),
         skl AS (
           SELECT event_type, CAST(0.5 AS DOUBLE) AS p, p50 AS sketch_q
           FROM sk
           UNION ALL SELECT event_type, 0.95, p95 FROM sk
           UNION ALL SELECT event_type, 0.99, p99 FROM sk)
         SELECT e.event_type, e.p,
                ROUND(e.q_value, 6) AS exact_q,
                ROUND(s.sketch_q, 6) AS sketch_q,
                ROUND(s.sketch_q - e.q_value, 6) AS err,
                s.sketch_q - e.q_value >= 0
                  AND s.sketch_q - e.q_value <= 2.0 AS within_bin
         FROM ex e JOIN skl s ON e.event_type = s.event_type AND e.p = s.p
         ORDER BY e.event_type, e.p""",

    "q234_dataset_card" -> {
      import graft.text.TextOps.{emailPat, phonePat, ipPat}
      s"""WITH tok AS MATERIALIZED (
           SELECT tok, COUNT(*) AS c
           FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS tok
                 FROM documents)
           GROUP BY tok),
         base AS (
           SELECT COUNT(*) AS n_docs,
                  CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')))
                       AS BIGINT) AS n_tokens,
                  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                  COUNT(DISTINCT MD5(text)) AS n_distinct_texts,
                  COUNT(DISTINCT lang) AS n_langs,
                  COUNT(DISTINCT source) AS n_sources,
                  CAST(SUM(CASE WHEN
                      LEN(REGEXP_EXTRACT_ALL(text, '$emailPat')) > 0
                      OR LEN(REGEXP_EXTRACT_ALL(text, '$phonePat')) > 0
                      OR LEN(REGEXP_EXTRACT_ALL(text, '$ipPat')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
           FROM documents),
         voc AS (SELECT COUNT(*) AS vocab,
                        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             AS BIGINT) AS hapax
                 FROM tok),
         tl AS (SELECT MAX(ln) AS top_lang_n FROM (
                  SELECT COUNT(*) AS ln FROM documents GROUP BY lang)),
         a AS (SELECT * FROM base, voc, tl)
         SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
         UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
         UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM a
         UNION ALL SELECT 'vocab', CAST(vocab AS DOUBLE) FROM a
         UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
         UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
         UNION ALL SELECT 'mean_doc_tokens',
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           FROM a
         UNION ALL SELECT 'exact_dup_rate',
           ROUND(1.0 - CAST(n_distinct_texts AS DOUBLE)
                 / CAST(n_docs AS DOUBLE), 6) FROM a
         UNION ALL SELECT 'hapax_rate',
           ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6) FROM a
         UNION ALL SELECT 'top_lang_share',
           ROUND(CAST(top_lang_n AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           FROM a
         UNION ALL SELECT 'pii_doc_rate',
           ROUND(CAST(n_pii_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           FROM a
         ORDER BY metric"""
    },

    "q235_good_turing" -> {
      def chain(n: Int): String = {
        val gram = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
        s"""SELECT CAST($n AS BIGINT) AS gram_n, source, n_tokens, n_types,
                n1, n2,
                ROUND(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                  AS unseen_mass,
                ROUND(CASE WHEN n2 > 0 THEN CAST(n_types AS DOUBLE)
                        + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                          / (2.0 * CAST(n2 AS DOUBLE)) END, 6) AS chao1
         FROM (
           SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                  COUNT(*) AS n_types,
                  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n2
           FROM (
             SELECT source, tok, COUNT(*) AS c
             FROM (SELECT source, $gram AS tok
                   FROM (SELECT source,
                                REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
                         FROM documents) t,
                        LATERAL (SELECT UNNEST(RANGE(1, LEN(w) + 2 - $n))
                                 AS i))
             GROUP BY 1, 2)
           GROUP BY source)"""
      }
      s"""SELECT * FROM (${chain(1)})
          UNION ALL SELECT * FROM (${chain(3)})
          ORDER BY gram_n, source"""
    },

    "q236_chunk_dedup" ->
      s"""WITH ${TrainingQueries.sweepChainSql},
         t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\\s+') AS w
               FROM spl),
         d AS (SELECT doc_id, w,
                      1 + (GREATEST(LEN(w) - 20, 0) + 9) // 10 AS n_chunks
               FROM t),
         ch AS (
           SELECT doc_id,
                  MD5(ARRAY_TO_STRING(w[(i*10+1):(i*10+20)], ' ')) AS digest
           FROM d, LATERAL (SELECT UNNEST(RANGE(0, n_chunks)) AS i)),
         g AS (SELECT digest, COUNT(*) AS n,
                      COUNT(DISTINCT doc_id) AS nd
               FROM ch GROUP BY digest),
         a AS (
           SELECT CAST(SUM(n) AS BIGINT) AS n_chunks,
                  COUNT(*) AS n_distinct,
                  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_cross_digests,
                  CAST(SUM(CASE WHEN nd >= 2 THEN n ELSE 0 END) AS BIGINT)
                    AS n_chunks_cross
           FROM g)
         SELECT n_chunks, n_distinct,
                ROUND(1.0 - CAST(n_distinct AS DOUBLE)
                      / CAST(n_chunks AS DOUBLE), 6) AS dup_rate,
                n_cross_digests, n_chunks_cross,
                ROUND(CAST(n_chunks_cross AS DOUBLE)
                      / CAST(n_chunks AS DOUBLE), 6) AS cross_rate
         FROM a""",

    "q237_cond_entropy" ->
      """WITH bg AS (
           SELECT source, w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS c12
           FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(text, '\s+') AS w
                 FROM documents) t,
                LATERAL (SELECT UNNEST(RANGE(1, LEN(w))) AS i)
           GROUP BY 1, 2, 3),
         u AS (SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1
               FROM bg GROUP BY 1, 2),
         terms AS (
           SELECT bg.source, bg.c12,
                  bg.c12 * (CAST(ROUND(LN(CAST(u.c1 AS DOUBLE)) * 1000000.0)
                                 AS BIGINT)
                            - CAST(ROUND(LN(CAST(bg.c12 AS DOUBLE))
                                         * 1000000.0) AS BIGINT)) AS term
           FROM bg JOIN u USING (source, w1))
         SELECT source, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
                COUNT(*) AS n_distinct_bigrams,
                ROUND(CAST(SUM(term) AS DOUBLE)
                      / (CAST(SUM(c12) AS DOUBLE) * 1000000.0), 6)
                  AS cond_entropy
         FROM terms GROUP BY source ORDER BY source""",

    "q238_fingerprints" ->
      """WITH per AS (
           SELECT CAST('0x' || SUBSTR(MD5('shard:' || CAST(doc_id AS VARCHAR)),
                       1, 15) AS BIGINT) % 8 AS shard,
                  CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':'
                       || MD5(text)), 1, 15) AS BIGINT) AS h
           FROM documents),
         sh AS (SELECT shard, COUNT(*) AS n_docs,
                       CAST(SUM(CAST(h AS HUGEINT))
                            % 1152921504606846976 AS BIGINT) AS fingerprint
                FROM per GROUP BY shard)
         SELECT shard, n_docs, fingerprint FROM sh
         UNION ALL
         SELECT -1, CAST(SUM(n_docs) AS BIGINT),
                CAST(SUM(CAST(fingerprint AS HUGEINT))
                     % 1152921504606846976 AS BIGINT) FROM sh
         ORDER BY shard""",

    "q239_rebalance" -> {
      def ringCase(n: Int): String = {
        val as = graft.text.Mix.ringAnchors(n).sortBy(_._1)
        val chain = as.map { case (ah, sid) =>
          s"WHEN h <= $ah THEN $sid"
        }.mkString(" ")
        s"CASE $chain ELSE ${as.head._2} END"
      }
      s"""WITH d AS (
           SELECT CAST('0x' || SUBSTR(MD5('ring:' || CAST(doc_id AS VARCHAR)),
                       1, 15) AS BIGINT) AS h
           FROM documents),
         a AS (
           SELECT h % 8 AS m0, h % 9 AS m1,
                  ${ringCase(8)} AS r0, ${ringCase(9)} AS r1
           FROM d)
         SELECT COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN m0 != m1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS moved_mod,
                CAST(SUM(CASE WHEN r0 != r1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS moved_ring,
                ROUND(CAST(SUM(CASE WHEN m0 != m1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                  AS mod_share,
                ROUND(CAST(SUM(CASE WHEN r0 != r1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                  AS ring_share
         FROM a"""
    },

    "q240_fingerprint_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 97 = 0 THEN text || ' rev2'
                       ELSE text END AS text
           FROM v1 WHERE doc_id % 89 != 0),
         f1 AS (
           SELECT CAST('0x' || SUBSTR(MD5('shard:'
                    || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64
                    AS shard,
                  CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':'
                    || MD5(text)), 1, 15) AS BIGINT) AS h
           FROM v1),
         f2 AS (
           SELECT CAST('0x' || SUBSTR(MD5('shard:'
                    || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 64
                    AS shard,
                  CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':'
                    || MD5(text)), 1, 15) AS BIGINT) AS h
           FROM v2),
         s1 AS (SELECT shard, COUNT(*) AS n_docs,
                       CAST(SUM(CAST(h AS HUGEINT))
                            % 1152921504606846976 AS BIGINT) AS fp
                FROM f1 GROUP BY shard),
         s2 AS (SELECT shard, COUNT(*) AS n_docs,
                       CAST(SUM(CAST(h AS HUGEINT))
                            % 1152921504606846976 AS BIGINT) AS fp
                FROM f2 GROUP BY shard),
         a1 AS (SELECT shard, n_docs, fp FROM s1
                UNION ALL
                SELECT -1, CAST(SUM(n_docs) AS BIGINT),
                       CAST(SUM(CAST(fp AS HUGEINT))
                            % 1152921504606846976 AS BIGINT) FROM s1),
         a2 AS (SELECT shard, n_docs, fp FROM s2
                UNION ALL
                SELECT -1, CAST(SUM(n_docs) AS BIGINT),
                       CAST(SUM(CAST(fp AS HUGEINT))
                            % 1152921504606846976 AS BIGINT) FROM s2)
         SELECT COALESCE(a1.shard, a2.shard) AS shard,
                COALESCE(a1.n_docs, 0) AS n_docs_v1,
                COALESCE(a2.n_docs, 0) AS n_docs_v2,
                a1.fp AS fp_v1, a2.fp AS fp_v2,
                COALESCE(a1.fp, -1) = COALESCE(a2.fp, -2) AS equal
         FROM a1 FULL OUTER JOIN a2 ON a1.shard = a2.shard
         ORDER BY shard""")
}
