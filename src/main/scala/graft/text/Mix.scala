package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-mixing operators for assembling a training corpus at 100 TB:
  * deterministic per-stratum sampling (the "data mixture" step — X% of
  * web, Y% of code, per-language rebalancing) and token-stream packing
  * into fixed context windows (the GPT-style concat-and-chunk layout).
  *
  * Both are engine-independent and replayable: sampling decisions hash
  * the document id (never RNG state), so adding executors, re-running a
  * failed task, or replaying in another engine selects the SAME rows.
  */
object Mix {

  /** Lexicographic md5-hex cutoff for keep-fraction `p`: a document keeps
    * iff the first 8 hex chars of its seeded md5 sort below the cutoff.
    * Lowercase hex compares identically in any engine (ASCII '0'-'9' <
    * 'a'-'f'), and 8 chars = 32 uniform bits — granularity 2⁻³², plenty
    * for mixture weights.
    */
  def hexCutoff(p: Double): String =
    if (p >= 1.0) "g" // sorts above every hex digit: keep all
    else if (p <= 0.0) "" // nothing sorts below the empty string: drop all
    else f"${(p * (1L << 32)).round.min((1L << 32) - 1)}%08x"

  /** Deterministic stratified sample: keep each row with the fraction its
    * stratum value maps to (strata absent from `fractions` drop).
    * Pure row-local projection + filter — no shuffle, no RNG, retries and
    * engine replays keep identical rows.
    */
  def stratifiedSample(docs: DataFrame, stratum: Column,
                       fractions: Map[String, Double], seed: Int): DataFrame = {
    val cutoff = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit("")) { case (acc, (k, p)) =>
        when(stratum === k, lit(hexCutoff(p))).otherwise(acc)
      }
    docs.filter(
      substring(md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))), 1, 8)
        < cutoff)
  }

  /** The full corpus-preparation pipeline composed end-to-end — what a
    * user actually runs before training: exact dedup (keep the min-id
    * copy of each digest), quality + repetition keep-filters, hash-gated
    * mixture sampling, then concat-and-chunk packing of the survivors.
    * Every stage is one of the individually-oracled operators; the
    * composition is semi-joins on `doc_id` (ids only — text never
    * re-shuffles between stages).
    */
  def prepareCorpus(docs: DataFrame, stopwords: Seq[String],
                    fractions: Map[String, Double], seed: Int,
                    budget: Int): DataFrame = {
    val keepExact = graft.dedup.Dedup.exactDupGroups(docs)
      .select(col("keep_id").as("doc_id"))
    val d1 = docs.join(keepExact, Seq("doc_id"), "left_semi")
    val q = TextOps.qualityScore(d1, stopwords).filter(col("keep")).select("doc_id")
    val r = TextOps.repetitionStats(d1).filter(col("keep")).select("doc_id")
    val d2 = d1.join(q, Seq("doc_id"), "left_semi").join(r, Seq("doc_id"), "left_semi")
    val d3 = stratifiedSample(d2, col("lang"), fractions, seed)
    packChunks(d3.select("doc_id", "text"), budget)
  }

  /** Concat-and-chunk packing: documents are laid out end-to-end in
    * `doc_id` order and cut every `budget` tokens (boundary-straddling
    * documents split across chunks — the standard pretraining layout, as
    * opposed to greedy bin-packing whose fill decisions are inherently
    * sequential). Output per document: token offset of its first token,
    * first/last chunk ids, and whether it straddles a chunk boundary.
    *
    * The global running total uses the two-pass range-partitioned
    * `Windows.runningTotal` — no single-partition window, so the layout
    * step scales to the full corpus.
    */
  def packChunks(docs: DataFrame, budget: Int): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      size(TextOps.tokensCol).cast("double").as("n_tokens"))
    val run = graft.ops.Windows.runningTotal(withTok, Seq(col("doc_id")),
      "n_tokens", out = "start_tok")
    // `div`, not `/`: Spark's `/` is a double divide, and past 2⁵³
    // tokens (or with a budget whose reciprocal rounds badly) a/b can
    // round UP across an integer boundary before the truncating cast —
    // the integral `div` matches the oracle's `//` at every magnitude.
    run.select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("start_tok").cast("long").as("start_tok"))
      .withColumn("chunk_start", expr(s"start_tok div $budget"))
      .withColumn("chunk_end", expr(s"(start_tok + n_tokens - 1) div $budget"))
      .withColumn("crosses", col("chunk_start") =!= col("chunk_end"))
  }

  /** Context-window packing efficiency report: for each candidate window
    * size, how many windows the [[packChunks]] greedy layout needs, how
    * many documents straddle a boundary, and the fill fraction — the
    * "which sequence length wastes least compute" pre-run arithmetic.
    * ONE global running-total pass (budget-independent) feeds every
    * window size via a row-local explode; all counts stay integral so
    * the single fill-fraction division is the only IEEE op.
    */
  def packingStats(docs: DataFrame, budgets: Seq[Int]): DataFrame = {
    val withTok = docs.select(col("doc_id"),
      size(TextOps.tokensCol).cast("double").as("n_tokens"))
    val run = graft.ops.Windows.runningTotal(withTok, Seq(col("doc_id")),
      "n_tokens", out = "start_tok")
      .select(col("n_tokens").cast("long").as("n_tokens"),
        col("start_tok").cast("long").as("start_tok"))
    run.select(col("n_tokens"), col("start_tok"),
        explode(array(budgets.map(b => lit(b.toLong)): _*)).as("budget"))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(expr("(start_tok + n_tokens - 1) div budget")) + 1).as("n_windows"),
        sum(when(expr("start_tok div budget") =!=
          expr("(start_tok + n_tokens - 1) div budget"), 1L).otherwise(0L))
          .as("n_straddling"))
      .select(col("budget"), col("n_docs"), col("total_tokens"),
        col("n_windows"), col("n_straddling"),
        round(col("total_tokens").cast("double")
          / (col("n_windows") * col("budget")).cast("double"), 6)
          .as("fill_frac"))
  }

  /** Overlapping sliding-window chunking (the retrieval/RAG layout, vs
    * [[packChunks]]'s disjoint pretraining layout): windows of `width`
    * tokens every `stride` tokens; the last window starts at
    * `len − width` coverage so no tail token is orphaned. Emits one row
    * per chunk with its token span and content digest — a row-local
    * explode, no shuffle; chunk counts are
    * `1 + ceil(max(len − width, 0) / stride)` in integer arithmetic so
    * the engine replay is exact at any document length.
    */
  def chunkOverlap(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    val w = TextOps.tokensCol
    val d = docs.select(col("doc_id"), w.as("w"))
      .withColumn("nw", size(col("w")))
      // integer ceil-div: (max(nw-width,0) + stride-1) div stride
      .withColumn("n_chunks",
        lit(1) + expr(s"(greatest(nw - $width, 0) + ${stride - 1}) div $stride"))
    d.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => struct((i * stride).cast("int").as("start"),
            concat_ws(" ", slice(col("w"), i * stride + 1, lit(width)))
              .as("chunk"))))
          .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id"),
        col("c.start").as("start_tok"),
        size(split(col("c.chunk"), " ")).as("n_chunk_tokens"),
        md5(col("c.chunk")).as("digest"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006):
    * select `n` rows where each row's inclusion odds are proportional to
    * `weight`, by keeping the top-`n` rows under the key
    * `ln(u) / weight` with `u` a seeded md5-uniform in (0, 1] — the
    * log-monotone form of the paper's `u^(1/w)` key. Hash-derived
    * uniforms (never RNG state) make the draw replay-identical across
    * retries, executor counts, and engines.
    *
    * Cross-engine determinism: every step to the key is a correctly-
    * rounded IEEE op (cast, add, divide) except the final `ln`, which
    * can differ by 1 ulp between libm implementations — so the SELECTION
    * itself orders by the key ROUNDED to 9 dp with a doc_id tie-break
    * (the q102 rounded-score-cut technique): identical ranking in any
    * engine unless a key sits exactly on a 0.5e-9 boundary.
    *
    * Scale: salted two-phase top-n — phase 1 bounds every task, phase 2
    * ranks ≤ `salts`·n survivors (a bounded single window, same as
    * [[stratifiedTopN]]'s global phase).
    */
  def weightedSample(docs: DataFrame, weight: Column, n: Int, seed: Int,
                     salts: Int = 16): DataFrame = {
    val u60 = conv(substring(
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val key = round(
      log((u60.cast("double") + 1.0) / lit(math.pow(2.0, 60)))
        / weight.cast("double"), 9)
    val salted = docs.select(col("doc_id"), weight.cast("long").as("w"),
      key.as("key"), pmod(col("doc_id"), lit(salts)).as("_salt"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy("_salt").orderBy(col("key").desc, col("doc_id"))
    val survivors = salted.withColumn("_r", row_number().over(local))
      .filter(col("_r") <= n).drop("_r", "_salt")
    val global = org.apache.spark.sql.expressions.Window
      .orderBy(col("key").desc, col("doc_id"))
    // long, not int: DuckDB's ROW_NUMBER is BIGINT and the dtype-strict
    // local gate (tools/compare.py) treats an int32/int64 split as FAIL
    survivors.withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= n)
  }

  /** Mixture feasibility plan: given target mixture weights per stratum
    * and the tokens actually available, the largest total budget N with
    * `w_s · N ≤ avail_s` for every stratum is `N = min_s(avail_s / w_s)`
    * — the binding stratum caps the whole mix (you cannot upsample
    * without repeating data). Reports per stratum the available tokens,
    * the target share, the token allocation `w_s · N`, and the sampling
    * fraction the pipeline must apply — the arithmetic between "weights
    * chosen" (DoReMi/DSIR output, q111) and "sample drawn" (q72/q85).
    *
    * Determinism: avail_s are exact integer sums; N and the per-stratum
    * products are single IEEE divisions/multiplications off those
    * integers — no accumulation, so every engine agrees. Shape: one
    * token-count aggregation; everything after is |strata|-sized.
    */
  /** Token-balanced shard assignment — the deterministic "write N
    * balanced output shards" step at the end of a corpus build: docs
    * are ordered by a seeded md5 rank (a replayable global shuffle) and
    * the shard boundary follows the TOKEN prefix sum, not the doc
    * count — `shard = (prefix_tokens · N) div total_tokens` — so every
    * shard carries total/N tokens to within one document regardless of
    * the document-length distribution (a doc-count split skews bytes
    * whenever length correlates with position or source). One exclusive
    * running total (the two-pass range-partitioned kernel — no
    * single-partition window) + a 1-row broadcast total; integer
    * division on both engines (the q120 CAST-rounding lesson). Returns
    * the shard manifest `(shard, n_docs, n_tokens)`.
    */
  def shardAssign(docs: DataFrame, nShards: Int, seed: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"),
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("rk"))
    val run = graft.ops.Windows.runningTotal(base,
      Seq(col("rk"), col("doc_id")), "nt", "run")
    val tot = run.agg(sum(col("nt")).as("total"))
    run.crossJoin(broadcast(tot))
      .withColumn("runl", col("run").cast("long"))
      .withColumn("shard", expr(s"cast((runl * $nShards) div total as int)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("n_tokens"))
  }

  /** GPT-style concat-and-cut packing manifest — the OTHER packing
    * discipline next to [[packChunks]]'s no-split windows: the corpus
    * is concatenated in seeded order and cut every `windowLen` tokens,
    * documents splitting wherever a boundary lands. Pure integer
    * arithmetic off ONE exclusive token prefix sum: a doc starting at
    * `start` with `nt` tokens occupies windows `start div L` through
    * `(start+nt-1) div L`, so its split count is their difference —
    * no explode, no per-window state. Returns the per-doc manifest
    * `(doc_id, nt, start_tok, first_window, n_splits)`.
    */
  def packCut(docs: DataFrame, windowLen: Int, seed: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"),
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("rk"))
    graft.ops.Windows.runningTotal(base, Seq(col("rk"), col("doc_id")),
        "nt", "run")
      .withColumn("start_tok", col("run").cast("long"))
      .select(col("doc_id"), col("nt"), col("start_tok"),
        expr(s"start_tok div $windowLen").as("first_window"),
        expr(s"(start_tok + nt - 1) div $windowLen - start_tok div $windowLen")
          .as("n_splits"))
  }

  /** Curriculum ordering: difficulty-decile stratified round-robin —
    * the "start easy, interleave hard" training-order construction.
    * Difficulty = token count; strata are EXACT integer rank deciles
    * (q90's technique — no interpolated-percentile knife edge), the
    * per-stratum position comes from one more global two-pass ordinal
    * minus a |strata|-row offset join (never a per-stratum window), and
    * `curriculum_pos = pos_in_stratum · nStrata + stratum` interleaves
    * the strata round-robin. Deterministic end to end.
    */
  def curriculumOrder(docs: DataFrame, nStrata: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"))
    val (ranked, n) = graft.ops.Windows.globalOrdinalWithCount(base,
      Seq(col("nt"), col("doc_id")), "pos")
    val strat = ranked.withColumn("stratum",
      expr(s"cast(($nStrata * (pos - 1)) div $n as int)"))
    val r2 = graft.ops.Windows.globalOrdinal(strat,
      Seq(col("stratum"), col("pos")), "gp")
    val ofs = r2.groupBy("stratum").agg(min(col("gp")).as("base"))
    r2.join(broadcast(ofs), Seq("stratum"))
      .select(col("doc_id"), col("nt"), col("stratum"),
        (col("gp") - col("base")).as("pos_in_stratum"),
        ((col("gp") - col("base")) * nStrata + col("stratum"))
          .as("curriculum_pos"))
  }

  def mixturePlan(docs: DataFrame, stratum: Column,
                  weights: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val avail = docs.select(stratum.as("grp"),
        size(split(col("text"), "\\s+")).cast("long").as("nt"))
      .groupBy("grp").agg(sum(col("nt")).as("avail"))
    val w = broadcast(weights.toSeq.toDF("grp", "w"))
    // |strata| rows feeding two consumers (the min and the report) —
    // materialize once so the corpus token-count scan runs once
    val j = avail.join(w, Seq("grp")).localCheckpoint()
    val nMax = j.agg(min(col("avail").cast("double") / col("w")).as("nmax"))
    j.crossJoin(broadcast(nMax))
      .select(col("grp"), col("avail"), col("w").as("target_frac"),
        round(col("w") * col("nmax")).cast("long").as("tokens_target"),
        round(col("w") * col("nmax") / col("avail").cast("double"), 6)
          .as("sample_frac"))
  }

  /** Token-budget sampling: per stratum, keep documents in seeded md5
    * order until the stratum's TOKEN budget is reached — curation
    * recipes allocate tokens, not document counts ("20B tokens of code,
    * 5B of forums"), and doc-count sampling (q85) over-draws strata with
    * long documents. A doc is kept while the tokens BEFORE it are under
    * budget, so the first doc crossing the line is included and every
    * stratum lands within one document of its budget.
    *
    * Scale: ONE range-partitioned two-pass running total over
    * (stratum, rank) order ([[graft.ops.Windows.runningTotal]] — no
    * per-stratum window task), then per-stratum offsets from a
    * |strata|-row broadcast. Counts are integral, the running sums are
    * integer-valued doubles (exact to 2^53) — the cut replays
    * bit-identically.
    */
  def tokenBudgetSample(docs: DataFrame, stratum: Column, budget: Long,
                        seed: Int): DataFrame = {
    val base = docs.select(stratum.as("grp"), col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("nt"),
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("rk"))
    val run = graft.ops.Windows.runningTotal(base,
      Seq(col("grp"), col("rk")), "nt", "run")
    val ofs = run.groupBy("grp").agg(min(col("run")).as("base"))
    run.join(broadcast(ofs), Seq("grp"))
      .filter(col("run") - col("base") < budget)
      .select(col("grp"), col("doc_id"), col("nt"),
        (col("run") - col("base")).cast("long").as("tokens_before"))
  }

  /** Deterministic per-stratum top-`n` selection: within each stratum
    * value, keep the `n` rows with the smallest seeded md5 rank key —
    * the exact-count companion to the fraction-gated
    * [[stratifiedSample]] (curation recipes say "exactly 10k docs per
    * language", not "roughly 1 %"). md5 over the seeded doc id makes
    * the choice replay-identical in any engine and collision-free in
    * practice, so no secondary tie-break is needed (row_number over the
    * rank key alone is still total because keys are distinct).
    *
    * Scale: a naive `Window.partitionBy(stratum)` puts an entire
    * stratum — possibly most of the corpus — in ONE task. Instead a
    * salted two-phase top-n: phase 1 takes the local top-n within each
    * of `salts` deterministic sub-partitions (bounded tasks), phase 2
    * re-ranks the ≤ `salts`·n survivors per stratum (tiny). Identical
    * result to the single-window form — the global top-n is contained
    * in the union of sub-partition top-ns.
    */
  def stratifiedTopN(docs: DataFrame, stratum: Column, n: Int, seed: Int,
                     salts: Int = 16): DataFrame = {
    val salted = docs.select(stratum.as("stratum"), col("doc_id"),
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("rk"),
      pmod(col("doc_id"), lit(salts)).as("_salt"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum", "_salt").orderBy("rk")
    val survivors = salted.withColumn("_r", row_number().over(local))
      .filter(col("_r") <= n).drop("_r", "_salt")
    val global = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy("rk")
    survivors.withColumn("rank", row_number().over(global))
      .filter(col("rank") <= n).drop("rk")
  }

  /** Consistent-sampling stability audit across two corpus snapshots:
    * the holdout/eval sample should only change where the CORPUS
    * changed — a doc entering or leaving the sample for any other
    * reason silently rotates the eval set between runs. Two schemes
    * side by side: `consistent` keys the 1-in-`mod` md5 draw on the
    * doc_id alone (membership provably refresh-stable — `reshuffled`
    * is 0 by construction, shown with data), `size_salted` folds the
    * corpus size into the hash (what a naive "reseed per run" draw
    * does), and every refresh rotates ~(mod−1)/mod of the carried
    * sample. One full-outer id join + two aggregation passes over it;
    * only ids shuffle.
    */
  def consistentSampleAudit(v1: DataFrame, v2: DataFrame,
                            mod: Int = 4): DataFrame = {
    val n1 = v1.count()
    val n2 = v2.count()
    val j = v1.select(col("doc_id"), lit(1).as("in1"))
      .join(v2.select(col("doc_id"), lit(1).as("in2")), Seq("doc_id"),
        "full_outer")
      .localCheckpoint()
    def sel(salt: String) = {
      val h = conv(substring(md5(concat(lit("smp:" + salt),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
      h % mod === 0
    }
    def pass(scheme: String, salt1: String, salt2: String) = {
      // three-valued-logic guard: a missing side must read as NOT
      // selected (false), never NULL — `NULL && true` is NULL and a
      // when() treats it as false, which would silently drop every
      // new/removed doc from the entered/left counts
      val s1 = coalesce(col("in1"), lit(0)) === 1 && sel(salt1)
      val s2 = coalesce(col("in2"), lit(0)) === 1 && sel(salt2)
      def c(p: Column) = sum(when(p, 1L).otherwise(0L))
      j.agg(c(s1).as("s_v1"), c(s2).as("s_v2"),
          c(s1 && s2).as("carried"),
          c(s2 && !s1).as("entered"),
          c(s2 && col("in1").isNull).as("entered_new"),
          c(s1 && !s2).as("exited"),
          c(s1 && col("in2").isNull).as("exited_removed"))
        .select(lit(scheme).as("scheme"), col("s_v1"), col("s_v2"),
          col("carried"), col("entered"), col("entered_new"),
          col("exited"), col("exited_removed"),
          (col("entered") - col("entered_new") + col("exited")
            - col("exited_removed")).as("reshuffled"))
    }
    pass("consistent", "", "")
      .unionByName(pass("size_salted", s"$n1:", s"$n2:"))
  }

  /** Temperature-scaled mixture weights — the multilingual / multi-source
    * sampling-exponent table (the mBERT/XLM-R p^α smoothing): per
    * stratum, the raw token share and the renormalized share under
    * α ∈ {1/4, 1/2, 3/4}. DYADIC exponents only, computed as sqrt
    * chains (sqrt is IEEE-correctly-rounded, so c^α is the identical
    * double in every engine — no exp/ln whose libm may differ at the
    * ulp); each power quantizes to integer micros BEFORE the
    * normalizing sum, so the weights are exact integer ratios. One
    * stratum aggregation; the weight table is |strata| rows.
    */
  def temperatureMix(docs: DataFrame, stratum: Column): DataFrame = {
    val toks = docs.groupBy(stratum.as("grp"))
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("nt"))
      .localCheckpoint()
    val c = col("nt").cast("double")
    val p25 = sqrt(sqrt(c))
    val p50 = sqrt(c)
    val p75 = sqrt(c) * sqrt(sqrt(c))
    val q = toks.select(col("grp"), col("nt"),
      round(p25 * lit(1000000.0)).cast("long").as("m25"),
      round(p50 * lit(1000000.0)).cast("long").as("m50"),
      round(p75 * lit(1000000.0)).cast("long").as("m75"))
    val tot = q.agg(sum(col("nt")).as("t1"), sum(col("m25")).as("t25"),
      sum(col("m50")).as("t50"), sum(col("m75")).as("t75"))
    q.crossJoin(broadcast(tot))
      .select(col("grp"), col("nt"),
        round(col("nt").cast("double") / col("t1").cast("double"), 6)
          .as("w_raw"),
        round(col("m25").cast("double") / col("t25").cast("double"), 6)
          .as("w_a25"),
        round(col("m50").cast("double") / col("t50").cast("double"), 6)
          .as("w_a50"),
        round(col("m75").cast("double") / col("t75").cast("double"), 6)
          .as("w_a75"))
  }

  /** Order-independent per-shard content fingerprints + corpus root —
    * the integrity check two corpus replicas (or a pre/post-migration
    * pair) compare WITHOUT moving data: each doc contributes one 60-bit
    * md5 of (id, content-digest); a shard's fingerprint is the exact
    * integer SUM (commutative ⇒ partition- and order-independent,
    * mergeable up to the root). Any single-doc difference changes its
    * shard line and the root. One map-side projection + one nShards
    * aggregation. Output: shard rows (shard 0..n−1) plus the root row
    * (shard = −1).
    */
  def shardFingerprints(docs: DataFrame, nShards: Int): DataFrame = {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":"), md5(col("text")))), 1, 15), 16, 10).cast("long")
    val shard = pmod(conv(substring(md5(concat(lit("shard:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(nShards.toLong))
    // fingerprints live mod 2^60: fixed-width, exact in int64 on any
    // engine, and the root still folds from shard lines (sum mod)
    val m60 = "1152921504606846976"
    val per = docs.select(shard.as("shard"), h.as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        expr(s"CAST(sum(CAST(h AS decimal(38,0))) % $m60 AS BIGINT)")
          .as("fingerprint"))
      .localCheckpoint() // two consumers: shard rows + the root fold
    per.unionByName(per.agg(lit(-1L).as("shard"),
      sum(col("n_docs")).as("n_docs"),
      expr(s"CAST(sum(CAST(fingerprint AS decimal(38,0))) % $m60 AS BIGINT)")
        .as("fingerprint")))
  }

  /** Cross-snapshot integrity diff on [[shardFingerprints]]: compare
    * two corpus versions shard-by-shard WITHOUT moving documents — the
    * replica-divergence localizer (a changed/added/removed doc flips
    * exactly its shard's line, so only flagged shards need the
    * expensive row-level q164 diff). Output per shard (incl. the −1
    * root): doc counts, both fingerprints, and the equal verdict.
    */
  def fingerprintDiff(v1: DataFrame, v2: DataFrame, nShards: Int)
      : DataFrame = {
    val a = shardFingerprints(v1, nShards)
      .select(col("shard"), col("n_docs").as("n_docs_v1"),
        col("fingerprint").as("fp_v1"))
    val b = shardFingerprints(v2, nShards)
      .select(col("shard"), col("n_docs").as("n_docs_v2"),
        col("fingerprint").as("fp_v2"))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_docs_v1"), lit(0L)).as("n_docs_v1"),
        coalesce(col("n_docs_v2"), lit(0L)).as("n_docs_v2"),
        col("fp_v1"), col("fp_v2"),
        (coalesce(col("fp_v1"), lit(-1L)) === coalesce(col("fp_v2"),
          lit(-2L))).as("equal"))
  }

  /** Consistent-hash rebalancing plan: when a shard is added, how many
    * documents move under naive modulo placement (almost all) vs a
    * hash ring (≈ 1/(n+1)) — the migration-cost arithmetic behind the
    * ring. Everything is md5-deterministic: doc position = 60-bit md5,
    * ring anchors = md5 of the shard id, assignment = first anchor at
    * or clockwise-after the doc (wrapping to the minimum anchor). One
    * broadcast of ≤ 2(n+1) anchor rows; map-side assignment; one
    * aggregation. Output (one row): n_docs, moved_mod, moved_ring,
    * mod_share, ring_share.
    */
  /** Ring anchors for [[rebalancePlan]]: (60-bit md5 position, shard
    * id) per shard — driver-side literals shared with the SQL oracle.
    */
  def ringAnchors(n: Int): Seq[(Long, Long)] = (0 until n).map { s =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"anchor:$s".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16), s.toLong)
  }

  def rebalancePlan(docs: DataFrame, nShards: Int): DataFrame = {
    def ringCol(n: Int): Column = {
      val as = ringAnchors(n).sortBy(_._1)
      val minAnchor = as.head._2
      // first anchor with hash >= h, else wrap to the smallest anchor
      as.foldRight(lit(minAnchor)) { case ((ah, sid), acc) =>
        when(col("h") <= ah, lit(sid)).otherwise(acc)
      }
    }
    val h = conv(substring(md5(concat(lit("ring:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    docs.select(h.as("h"))
      .select(
        pmod(col("h"), lit(nShards.toLong)).as("m0"),
        pmod(col("h"), lit(nShards.toLong + 1)).as("m1"),
        ringCol(nShards).as("r0"), ringCol(nShards + 1).as("r1"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("m0") =!= col("m1"), 1L).otherwise(0L))
          .as("moved_mod"),
        sum(when(col("r0") =!= col("r1"), 1L).otherwise(0L))
          .as("moved_ring"))
      .select(col("n_docs"), col("moved_mod"), col("moved_ring"),
        round(col("moved_mod").cast("double") / col("n_docs").cast("double"),
          6).as("mod_share"),
        round(col("moved_ring").cast("double")
          / col("n_docs").cast("double"), 6).as("ring_share"))
  }

  /** Chunk-level duplication report over the [[chunkOverlap]] RAG
    * layout: a near-duplicate corpus deduped at DOCUMENT level still
    * floods a retrieval index with identical chunks — this measures it
    * before the index build (total/distinct chunks, dup rate, and the
    * cross-document share: digests appearing in ≥2 distinct docs). One
    * digest-keyed aggregation over the row-local chunk explode; text
    * never shuffles (16-byte digests do). Output (one row): n_chunks,
    * n_distinct, dup_rate, n_cross_digests, n_chunks_cross, cross_rate.
    */
  def chunkDupStats(docs: DataFrame, width: Int, stride: Int): DataFrame =
    chunkOverlap(docs, width, stride)
      .groupBy("digest")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
      .agg(sum(col("n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_cross_digests"),
        sum(when(col("nd") >= 2, col("n")).otherwise(0L))
          .as("n_chunks_cross"))
      .select(col("n_chunks"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double")
          / col("n_chunks").cast("double"), 6).as("dup_rate"),
        col("n_cross_digests"), col("n_chunks_cross"),
        round(col("n_chunks_cross").cast("double")
          / col("n_chunks").cast("double"), 6).as("cross_rate"))

  /** Neyman optimal allocation: split a sampling budget of `total`
    * draws across strata proportionally to N_h·σ_h — the minimum-
    * variance design for estimating a corpus mean under stratified
    * sampling (big AND internally-diverse strata get the draws; a huge
    * but homogeneous stratum needs few). Moments are exact decimal(38)
    * integers; σ_h is ONE correctly-rounded sqrt micro-quantized before
    * any further arithmetic, so the allocation is an exact integer
    * ratio in every engine. One stratum-keyed aggregation + a 1-row
    * broadcast. Output per stratum: n_pop, mean, sd, alloc_n.
    */
  def neymanAllocation(df: DataFrame, stratum: Column, value: Column,
                       total: Long): DataFrame = {
    val d38 = "decimal(38,0)"
    val a = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_pop"),
        sum(value.cast(d38)).cast(d38).as("sx"),
        sum(value.cast(d38) * value.cast(d38)).cast(d38).as("sxx"))
    val s = a.select(col("stratum"), col("n_pop"), col("sx"),
        round(sqrt((col("n_pop").cast(d38) * col("sxx")
          - col("sx") * col("sx")).cast("double")
          / (col("n_pop") * col("n_pop")).cast("double")) * 1000000.0)
          .cast("long").as("s_micro"))
      .select(col("stratum"), col("n_pop"), col("sx"), col("s_micro"),
        (col("n_pop") * col("s_micro")).as("wgt"))
      .localCheckpoint() // two consumers: total weight + the report
    val t = s.agg(sum(col("wgt").cast(d38)).cast(d38).as("tw"))
    s.crossJoin(broadcast(t))
      .select(col("stratum"), col("n_pop"),
        round(col("sx").cast("double") / col("n_pop").cast("double"), 6)
          .as("mean"),
        round(col("s_micro").cast("double") / 1000000.0, 6).as("sd"),
        expr(s"CAST((CAST($total AS $d38) * wgt) div tw AS BIGINT)")
          .as("alloc_n"))
  }

  /** Iterative proportional fitting (raking) of per-cell sampling
    * weights: scale the (row, col) contingency table — e.g. (lang,
    * source) document counts — until BOTH marginals match uniform
    * targets, the survey-statistics move a mixture recipe uses when two
    * stratifications must hold at once and per-cell targets are
    * underdetermined.
    *
    * Everything is exact integer arithmetic so any engine replays it:
    * weights live in ppm, each half-round computes the marginal masses
    * m = Σ n·w in decimal(38), a per-stratum factor (target_ppm ·
    * grand) div m, and reseats w ← (w · factor) div 10⁶ — truncation is
    * part of the definition, identically on both sides. The cell table
    * is |rows|·|cols|, so after ONE corpus-sized count aggregation the
    * whole fit runs on a broadcast-scale frame. Output per cell: grp_r,
    * grp_c, n, w_ppm, plus the achieved marginal shares (ppm) the fit
    * reached after `rounds` full rounds.
    */
  def ipfRake(df: DataFrame, rowKey: Column, colKey: Column,
              rounds: Int = 4): DataFrame = {
    val d38 = "decimal(38,0)"
    def step(cells: DataFrame, key: String): DataFrame = {
      val m = cells.groupBy(key)
        .agg(sum(col("n").cast(d38) * col("w").cast(d38)).cast(d38).as("m"))
      val grand = m.agg(sum(col("m")).cast(d38).as("grand"),
        count(lit(1)).cast(d38).as("n_strata"))
      val f = m.crossJoin(broadcast(grand))
        // uniform target: (10⁶ div n_strata) ppm of the grand mass
        .select(col(key),
          expr(s"CAST((CAST(1000000 AS $d38) div n_strata) * grand AS $d38)" +
            " div m").as("factor"))
      cells.join(broadcast(f), Seq(key))
        .select(col("grp_r"), col("grp_c"), col("n"),
          expr(s"(CAST(w AS $d38) * factor) div 1000000").as("w"))
    }
    // each round is a row half-round then a column half-round
    val (cells, _) = graft.core.Lineage.iterate(
        df.groupBy(rowKey.as("grp_r"), colKey.as("grp_c"))
          .agg(count(lit(1)).as("n"))
          .select(col("grp_r"), col("grp_c"), col("n"),
            lit(1000000L).as("w")), 2 * rounds) { (cells, i) =>
      step(cells, if (i % 2 == 0) "grp_r" else "grp_c")
    } { (_, _) => false }
    // achieved marginal shares after the final round
    val mr = cells.groupBy("grp_r")
      .agg(sum(col("n").cast(d38) * col("w").cast(d38)).cast(d38).as("mr"))
    val mc = cells.groupBy("grp_c")
      .agg(sum(col("n").cast(d38) * col("w").cast(d38)).cast(d38).as("mc"))
    val g = cells.agg(sum(col("n").cast(d38) * col("w").cast(d38))
      .cast(d38).as("g"))
    cells.join(broadcast(mr), Seq("grp_r"))
      .join(broadcast(mc), Seq("grp_c"))
      .crossJoin(broadcast(g))
      .select(col("grp_r"), col("grp_c"), col("n"), col("w").as("w_ppm"),
        expr(s"CAST(mr * 1000000 AS $d38) div g").cast("long")
          .as("row_share_ppm"),
        expr(s"CAST(mc * 1000000 AS $d38) div g").cast("long")
          .as("col_share_ppm"))
  }

  /** DSIR-style importance weights + deterministic top-share selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how
    * target-like its HASHED-bigram distribution is —
    * `log w(x) = Σ_bigrams [ln p_target(b) − ln p_raw(b)]` under
    * Laplace-smoothed hashed-bigram multinomials — then keep the top
    * `topNum/topDen` share. The published method's shape exactly:
    * hashing collapses the open vocabulary to a fixed bucket space, so
    * both multinomials are bounded state regardless of corpus size,
    * and the per-doc score is one pass over the doc's bigrams.
    *
    * Engine-exact cross-replay: buckets are the first 3 hex chars of
    * the bigram's md5 (4096 STRING buckets — no numeric hash
    * conversion, same md5 discipline as every sampler here); the lns
    * are micro-quantized to integer micro-nats BEFORE the per-doc sum
    * (the bigramCondEntropy discipline), the global totals fold in as
    * `n_bigrams · (uln(Nr) − uln(Nt))` with the two scalars riding a
    * 1-row broadcast; the selection rank is the two-pass
    * range-partitioned global ordinal over (w_micro desc, doc_id) —
    * no unpartitioned window, no RNG, retries and engine replays keep
    * identical rows. Output per doc: (doc_id, n_bigrams, w_micro,
    * selected).
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
                  topNum: Int, topDen: Int): DataFrame = {
    def uln(c: Column) = round(log(c.cast("double")) * 1000000.0).cast("long")
    val bg = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        split(col("text"), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("is_t"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"))
        .as("g"))
      .select(col("doc_id"), col("is_t"),
        substring(md5(col("g")), 1, 3).as("b"))
      .localCheckpoint() // three consumers: raw counts, target counts, doc sum
    val raw = bg.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = bg.filter(col("is_t")).groupBy("b").agg(count(lit(1)).as("ct"))
    val bucketScore = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .select(col("b"), (uln(col("ct") + 1) - uln(col("cr") + 1)).as("s"))
    // Laplace totals over the 4096-bucket space — two scalars, 1 row
    val totals = bg.agg(
      (count(lit(1)) + 4096L).as("nr"),
      (sum(when(col("is_t"), 1L).otherwise(0L)) + 4096L).as("nt"))
    val perDoc = bg.join(bucketScore, Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("_sb"))
    val weighted = docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "_sb"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_sb") + col("n_bigrams") * (uln(col("nr")) - uln(col("nt"))))
          .as("w_micro"))
    // deterministic top-share cut: keep the m = n·topNum div topDen
    // highest weights, doc_id tie-break, two-pass ordinal rank
    val (ranked, n) = graft.ops.Windows.globalOrdinalWithCount(
      weighted, Seq(col("w_micro").desc, col("doc_id")), "_pos")
    val m = n * topNum / topDen
    ranked.select(col("doc_id"), col("n_bigrams"), col("w_micro"),
      (col("_pos") <= m).as("selected"))
  }

  /** Per-source cap-and-spillover selection (RefinedWeb/CCNet-style
    * per-domain quotas — the curation step a pipeline runs on every
    * crawl snapshot so no domain dominates the mixture): cap every
    * source at `cap` docs, elected by a deterministic md5 rank within
    * the source (the q85 election), then reallocate the budget freed by
    * under-quota sources to the evicted docs with the smallest GLOBAL
    * md5 rank. Total kept = min(n_total, n_sources·cap) exactly, and no
    * source exceeds its cap except through the explicit, reported
    * spillover. Per source the report carries doc and weight mass kept/
    * evicted and how much freed budget reallocated INTO it (`kept_spill`).
    *
    * `cap` = (n_total·capNum) div (n_sources·capDen) — a capNum/capDen
    * fraction of the fair share, from one count aggregation (two driver
    * scalars; the corpus never collects).
    *
    * Scale: round 1 is the salted two-phase per-source election
    * ([[stratifiedTopN]]'s bound — no task ever holds a whole source,
    * only ≤ cap rows per (source, salt) then ≤ salts·cap survivors);
    * round 2 ranks the evicted docs with
    * [[graft.ops.Windows.globalOrdinal]] (range-partitioned two-pass,
    * no single-partition sort) and keeps rank ≤ freed. Only (id,
    * source, weight, 32-hex rank) tuples shuffle; text never moves.
    * Output: one row per source, `(source, cap, n_docs, kept_quota,
    * kept_spill, kept_total, n_evicted, total_w, kept_w, kept_w_frac)`.
    */
  /** Per-source TOKEN-budget quota with spillover — [[sourceCapSpillover]]
    * measured in mass instead of doc count (what RefinedWeb-style
    * curation actually budgets: a domain's share of the TRAINING TOKENS,
    * not its document count — a domain of few huge docs must not buy
    * extra mass through a doc-count cap). Per source, docs are admitted
    * in deterministic md5-rank order while the source's cumulative
    * weight stays ≤ `budget` = (total_w·num) div (n_sources·den); the
    * weight freed by under-budget sources readmits evicted docs in
    * global md5-rank order under the same cumulative rule.
    *
    * Scale: BOTH running sums ride [[graft.ops.Windows
    * .runningTotalLongWithPos]] — the per-source one via a global
    * (source, rk) sort plus a per-source offset subtraction (sources
    * are contiguous in the sort, so each source's exclusive prefix is
    * global_running − min(global_running) over the source; the offset
    * table is n_sources rows, broadcast) — so there is NO per-source
    * window holding a whole source in one task and no unpartitioned
    * window at all. Output: one row per source, `(source, budget,
    * n_docs, kept_quota, kept_spill, kept_total, n_evicted, total_w,
    * kept_w, kept_w_frac)`.
    */
  def sourceTokenBudget(docs: DataFrame, source: Column, id: Column,
                        weight: Column, num: Int = 4, den: Int = 5): DataFrame = {
    val u = graft.core.Lineage.reset(docs.select(source.as("source"),
      id.as("doc_id"), weight.cast("long").as("w"),
      md5(concat(lit("tok:"), id.cast("string"))).as("rk")))
    val scal = u.agg(sum(col("w")).as("tw"),
      countDistinct(col("source")).as("s")).head()
    require(!scal.isNullAt(0) && scal.getLong(1) > 0,
      "sourceTokenBudget: empty corpus")
    val (totalW, nSources) = (scal.getLong(0), scal.getLong(1))
    val budget = (totalW * num) / (nSources * den)
    val g = graft.ops.Windows.runningTotalLongWithPos(u,
      Seq(col("source"), col("rk"), col("doc_id")), "w", "_run", "_pos")
    val off = g.groupBy(col("source").as("_src"))
      .agg(min(col("_run")).as("_off"))
    val withCum = g.join(broadcast(off), col("source") === col("_src"))
      .withColumn("_cum", col("_run") - col("_off") + col("w"))
    val kept1 = graft.core.Lineage.reset(withCum
      .filter(col("_cum") <= budget)
      .select("source", "doc_id", "w", "rk"))
    val keptW = kept1.agg(sum(col("w"))).head()
    val freed = nSources * budget -
      (if (keptW.isNullAt(0)) 0L else keptW.getLong(0))
    val evicted = u.join(kept1.select("doc_id"), Seq("doc_id"), "left_anti")
    val spill =
      if (freed <= 0) evicted.limit(0)
      else graft.ops.Windows.runningTotalLongWithPos(evicted,
          Seq(col("rk"), col("doc_id")), "w", "_run2", "_pos2")
        .filter(col("_run2") + col("w") <= freed)
        .select("source", "doc_id", "w", "rk")
    val kept = kept1.withColumn("via", lit("quota"))
      .unionByName(spill.withColumn("via", lit("spill")))
    val aggU = u.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_w"))
    val aggK = kept.groupBy("source").agg(
      sum(when(col("via") === "quota", 1L).otherwise(0L)).as("kept_quota"),
      sum(when(col("via") === "spill", 1L).otherwise(0L)).as("kept_spill"),
      sum(col("w")).as("kept_w"))
    aggU.join(aggK, Seq("source"), "left")
      .na.fill(0L, Seq("kept_quota", "kept_spill", "kept_w"))
      .select(col("source"), lit(budget).as("budget"), col("n_docs"),
        col("kept_quota"), col("kept_spill"),
        (col("kept_quota") + col("kept_spill")).as("kept_total"),
        (col("n_docs") - col("kept_quota") - col("kept_spill")).as("n_evicted"),
        col("total_w"), col("kept_w"),
        round(col("kept_w").cast("double") / col("total_w").cast("double"), 6)
          .as("kept_w_frac"))
      .orderBy("source")
  }

  def sourceCapSpillover(docs: DataFrame, source: Column, id: Column,
                         weight: Column, capNum: Int = 4, capDen: Int = 5,
                         salts: Int = 16): DataFrame = {
    val u = graft.core.Lineage.reset(docs.select(source.as("source"),
      id.as("doc_id"), weight.cast("long").as("w"),
      md5(concat(lit("cap:"), id.cast("string"))).as("rk")))
    val scal = u.agg(count(lit(1)).as("n"),
      countDistinct(col("source")).as("s")).head()
    val (nTotal, nSources) = (scal.getLong(0), scal.getLong(1))
    require(nSources > 0, "sourceCapSpillover: empty corpus")
    val cap = (nTotal * capNum) / (nSources * capDen)
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "_salt").orderBy("rk", "doc_id")
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("rk", "doc_id")
    val kept1 = graft.core.Lineage.reset(u
      .withColumn("_salt", pmod(col("doc_id"), lit(salts)))
      .withColumn("_r", row_number().over(local))
      .filter(col("_r") <= cap).drop("_r", "_salt")
      .withColumn("_g", row_number().over(bySrc))
      .filter(col("_g") <= cap).drop("_g"))
    val freed = nSources * cap - kept1.count()
    val evicted = u.join(kept1.select("doc_id"), Seq("doc_id"), "left_anti")
    val spill =
      if (freed <= 0) evicted.limit(0)
      else graft.ops.Windows.globalOrdinal(
          evicted, Seq(col("rk"), col("doc_id")), "_pos")
        .filter(col("_pos") <= freed).drop("_pos")
    val kept = kept1.withColumn("via", lit("quota"))
      .unionByName(spill.withColumn("via", lit("spill")))
    val aggU = u.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_w"))
    val aggK = kept.groupBy("source").agg(
      sum(when(col("via") === "quota", 1L).otherwise(0L)).as("kept_quota"),
      sum(when(col("via") === "spill", 1L).otherwise(0L)).as("kept_spill"),
      sum(col("w")).as("kept_w"))
    aggU.join(aggK, Seq("source"), "left")
      .na.fill(0L, Seq("kept_quota", "kept_spill", "kept_w"))
      .select(col("source"), lit(cap).as("cap"), col("n_docs"),
        col("kept_quota"), col("kept_spill"),
        (col("kept_quota") + col("kept_spill")).as("kept_total"),
        (col("n_docs") - col("kept_quota") - col("kept_spill")).as("n_evicted"),
        col("total_w"), col("kept_w"),
        round(col("kept_w").cast("double") / col("total_w").cast("double"), 6)
          .as("kept_w_frac"))
      .orderBy("source")
  }
}
