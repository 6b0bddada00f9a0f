package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, sparse-native and
  * shuffle-conscious:
  *
  *  - exact dedup: hash-groupBy on the content digest — one shuffle keyed
  *    by digest; at 100 TB the digest (16 bytes) shuffles, never the text.
  *  - MinHash + LSH: shingle → per-seed min-hash signature → band keys →
  *    equi-join on band. The self-join runs on band buckets (tiny unless
  *    genuinely near-duplicate mass exists), not on all pairs.
  *  - n-gram Jaccard: inverted-index self-join on shared shingles —
  *    candidate pairs only materialize for documents that share content.
  *
  * MD5 is used as the hash family (seeded by prefixing the seed) so every
  * step is engine-independent and oracle-checkable.
  */
object Dedup {

  /** Word n-gram shingles, distinct per document: `(doc_id, shingle)`. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val toks = split(col("text"), "\\s+")
    // Docs shorter than n tokens yield no shingles: an unguarded
    // sequence(0, size-n) descends (ANSI error) for them.
    val starts = when(size(col("w")) >= n, sequence(lit(0), size(col("w")) - n))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        explode(transform(starts,
          i => concat_ws(" ", (0 until n).map(o => element_at(col("w"), i + o + 1)): _*)))
          .as("shingle"))
      .distinct()
  }

  /** Candidate-pair Jaccard sweep: histogram of exact Jaccard over a set
    * of candidate pairs, binned to `bands` equal bands — the
    * threshold-tuning curve for LSH dedup (how many pairs each candidate
    * threshold would keep, i.e. the precision profile of the banding
    * scheme). Every LSH candidate shares at least one shingle (equal
    * band minima imply an identical argmin shingle), so the inner
    * intersection join loses no pairs.
    *
    * Banding is exact integer arithmetic: `band = min(inter*bands DIV
    * union, bands-1)` — no float division before the cut, so a pair at
    * exactly 0.5 lands in the same band in every engine.
    */
  def jaccardSweep(sh: DataFrame, pairs: DataFrame, bands: Int = 10): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.withColumnRenamed("doc_id", "ida"), Seq("ida"))
      .join(sh.withColumnRenamed("doc_id", "idb"), Seq("idb", "shingle"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.toDF("ida", "sa"), Seq("ida"))
      .join(sz.toDF("idb", "sb"), Seq("idb"))
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      .withColumn("band",
        least(expr(s"inter * $bands div uni"), lit(bands - 1)).cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("band"),
        round(col("band").cast("double") / bands, 6).as("band_lo"),
        col("n_pairs"))
  }

  /** Incremental (snapshot-delta) dedup: every NEW document is labeled
    * `exact_dup` / `near_dup` / `kept` against the OLD corpus — the
    * crawl-refresh shape where each snapshot dedupes against what is
    * already in the training set, not against itself (within-snapshot
    * dedup is `exactDupGroups` / `nearDupGroups`).
    *
    * Phases: (1) exact — md5(text) anti-join against old digests (only
    * 16-byte digests shuffle); (2) near — MinHash bands on both sides,
    * candidates from the ASYMMETRIC new×old band join (a delta-sized
    * probe against the corpus index, never old×old), verified by exact
    * shingle Jaccard. The threshold is a rational `jacNum/jacDen` tested
    * as `inter * jacDen >= union * jacNum` — exact integers, no float
    * knife edge at the cut. Best match = highest 6dp-rounded Jaccard,
    * min old id on ties (a per-new-doc keyed window, never global).
    *
    * At scale the old side's signatures/bands are what you'd persist as
    * the dedup index; old band buckets above `bucketCap` are dropped
    * before the join (boilerplate mass, same guard as
    * `lshCandidatePairs`).
    */
  /** Normalization-sensitivity report: how many extra duplicate
    * documents exact dedup would find after canonicalizing text
    * (lowercase + whitespace collapse) vs on the raw bytes — the
    * "is my dedup key too strict" pre-run check (case/spacing variants
    * of the same page are the most common miss of byte-exact dedup).
    * Both passes are digest aggregations; text never shuffles.
    */
  def normalizedDedupGain(docs: DataFrame): DataFrame = {
    val d = docs.select(md5(col("text")).as("raw"),
      md5(regexp_replace(lower(col("text")), lit("\\s+"), lit(" ")))
        .as("canon"))
      .localCheckpoint()
    def dups(c: String, pfx: String) =
      d.groupBy(c).agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(coalesce(sum(col("n")), lit(0L)).as(s"${pfx}_dup_docs"),
          count(lit(1)).as(s"${pfx}_groups"))
    val tot = d.agg(count(lit(1)).as("n_docs"))
    tot.crossJoin(dups("raw", "raw")).crossJoin(dups("canon", "canon"))
      .withColumn("gain_docs", col("canon_dup_docs") - col("raw_dup_docs"))
  }

  /** Snapshot delta report — the crawl-refresh accounting run BEFORE
    * [[incrementalDedup]] decides what to keep: per doc_id, compare
    * content digests across two corpus versions and count
    * added / removed / modified / unchanged. One full-outer join on
    * doc_id; 16-byte digests shuffle, never text.
    */
  def snapshotDelta(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("dig_old"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("dig_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(when(col("dig_old").isNull, "added")
        .when(col("dig_new").isNull, "removed")
        .when(col("dig_old") === col("dig_new"), "unchanged")
        .otherwise("modified").as("change"))
      .groupBy("change").agg(count(lit(1)).as("n_docs"))
  }

  def incrementalDedup(oldDocs: DataFrame, newDocs: DataFrame,
                       numHashes: Int, rowsPerBand: Int,
                       jacNum: Int, jacDen: Int, n: Int = 3,
                       bucketCap: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oldDig = oldDocs.select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy("digest").agg(min(col("doc_id")).as("match_id"))
    // the OLD corpus's shingle materialization is independent of the
    // exact-dup phase — overlap it with the exactJ -> shNew chain
    // (the ivfSelfKnn concurrent-action pattern)
    val shOldF = scala.concurrent.Future {
      shingles(oldDocs, n).localCheckpoint()
    }(scala.concurrent.ExecutionContext.global)
    // The eager chain below runs while shOldF's detached job is in
    // flight: if it throws first, reap the orphan — await its result
    // and free its checkpointed blocks — so a failed incremental run
    // leaks neither a running background job nor block-manager copies
    // (Await alone has no failure coupling back to the detached job).
    // The reap Await is BOUNDED: if the background job itself hangs,
    // the timeout abandons the cleanup (at worst leaking its blocks)
    // rather than masking the primary failure behind an infinite wait;
    // a cleanup failure rides along as a suppressed exception.
    def reapingOrphanOnFailure[T](body: => T): T =
      try body catch { case t: Throwable =>
        try graft.core.Lineage.release(scala.concurrent.Await.result(
          shOldF, scala.concurrent.duration.Duration(5,
            scala.concurrent.duration.MINUTES)))
        catch { case c: Throwable => t.addSuppressed(c) }
        throw t
      }
    // three consumers (exact verdicts, the shingle phase via surv, the
    // kept anti-join) — materialize the digest join once
    val exactJ = reapingOrphanOnFailure {
      newDocs.withColumn("digest", md5(col("text")))
        .join(oldDig, Seq("digest"), "left")
        .localCheckpoint()
    }
    val exact = exactJ.filter(col("match_id").isNotNull)
      .select(col("doc_id"), lit("exact_dup").as("verdict"), col("match_id"),
        lit(1.0).as("jaccard"))
    val surv = exactJ.filter(col("match_id").isNull).select("doc_id", "text")

    // each shingle frame feeds three consumers (signature, intersection
    // join, size agg) — materialize once instead of re-exploding text
    // three times (the q62 lesson: cache the reused frame)
    val shNew = reapingOrphanOnFailure { shingles(surv, n).localCheckpoint() }
    val shOld = scala.concurrent.Await.result(
      shOldF, scala.concurrent.duration.Duration.Inf)
    def bandFrame(sig: DataFrame): DataFrame = {
      val nBands = numHashes / rowsPerBand
      (0 until nBands).map { b =>
        sig.select(col("doc_id"), lit(b).as("band_id"),
          concat((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"m$i")): _*).as("band_key"))
      }.reduce(_.unionByName(_))
    }
    val bn = bandFrame(minHashSignature(shNew, numHashes))
    val bo = bandFrame(minHashSignature(shOld, numHashes))
    val okOld = bo.groupBy("band_id", "band_key").agg(count(lit(1)).as("k"))
      .filter(col("k") <= bucketCap).select("band_id", "band_key")
    val boc = bo.join(okOld, Seq("band_id", "band_key"))
    val cand = bn.select(col("band_id"), col("band_key"), col("doc_id").as("nid"))
      .join(boc.select(col("band_id"), col("band_key"), col("doc_id").as("oid")),
        Seq("band_id", "band_key"))
      .select("nid", "oid").distinct()

    val szn = shNew.groupBy("doc_id").agg(count(lit(1)).as("szn"))
    val szo = shOld.groupBy("doc_id").agg(count(lit(1)).as("szo"))
    val inter = cand
      .join(shNew.withColumnRenamed("doc_id", "nid"), Seq("nid"))
      .join(shOld.withColumnRenamed("doc_id", "oid"), Seq("oid", "shingle"))
      .groupBy("nid", "oid").agg(count(lit(1)).as("inter"))
    val near = inter
      .join(szn.withColumnRenamed("doc_id", "nid"), Seq("nid"))
      .join(szo.withColumnRenamed("doc_id", "oid"), Seq("oid"))
      .withColumn("uni", col("szn") + col("szo") - col("inter"))
      .filter(col("inter") * jacDen >= col("uni") * jacNum)
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni").cast("double"), 6))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("nid").orderBy(col("jaccard").desc, col("oid"))))
      .filter(col("_rn") === 1)
      .select(col("nid").as("doc_id"), lit("near_dup").as("verdict"),
        col("oid").as("match_id"), col("jaccard"))
    val kept = surv.join(near.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("kept").as("verdict"),
        lit(null).cast("bigint").as("match_id"),
        lit(null).cast("double").as("jaccard"))
    exact.unionByName(near).unionByName(kept)
  }

  /** Cross-slice contamination matrix: for every slice pair, how many
    * distinct word n-gram shingles they share, plus each side's distinct
    * shingle count and the containment ratio `shared / min(|a|, |b|)` —
    * the between-source / between-snapshot leakage report a corpus audit
    * runs before mixing slices (train-vs-eval contamination is the
    * two-slice special case q74 handles per-document).
    *
    * Scale shape: shingle text collapses to (slice, digest) DISTINCT
    * rows immediately — 16-byte digests shuffle, never n-gram text. The
    * digest self-join is bounded by `sliceCap`: a shingle present in more
    * than `sliceCap` slices contributes C(k,2) pair rows and carries no
    * discrimination signal (it is corpus-universal boilerplate), so it is
    * dropped BEFORE the join — the same df-cap reasoning as
    * `ngramJaccardPairs`. Per-slice totals are computed pre-cap, so
    * |a| and |b| stay true set sizes.
    */
  def overlapMatrix(docs: DataFrame, sliceCol: Column, n: Int,
                    sliceCap: Int = 64): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val starts = when(size(col("w")) >= n, sequence(lit(0), size(col("w")) - n))
      .otherwise(array().cast("array<int>"))
    val sd = docs.select(sliceCol.as("slice"), toks.as("w"))
      .select(col("slice"), explode(transform(starts,
        i => md5(concat_ws(" ",
          (0 until n).map(o => element_at(col("w"), i + o + 1)): _*))))
        .as("digest"))
      .distinct()
      // three consumers (sizes, cap filter, both join sides) — compact
      // (slice, 16-byte digest) rows, materialized once
      .localCheckpoint()
    val sizes = sd.groupBy("slice").agg(count(lit(1)).as("n_sh"))
    val ok = sd.groupBy("digest").agg(count(lit(1)).as("k"))
      .filter(col("k") <= sliceCap).select("digest")
    val capped = sd.join(ok, Seq("digest"))
    val shared = capped.select(col("digest"), col("slice").as("slice_a"))
      .join(capped.select(col("digest"), col("slice").as("slice_b")), Seq("digest"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy("slice_a", "slice_b").agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(sizes.select(col("slice").as("slice_a"), col("n_sh").as("n_a"))),
        Seq("slice_a"))
      .join(broadcast(sizes.select(col("slice").as("slice_b"), col("n_sh").as("n_b"))),
        Seq("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"),
          6).as("containment"))
  }

  /** Exact duplicate groups: digest → group size + representative (min id).
    * Content never shuffles — only (digest, doc_id).
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** MinHash signature: for each seed, the minimum MD5 of `seed:shingle`
    * — one aggregation producing `numHashes` columns `m0..m{k-1}`.
    */
  def minHashSignature(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(s =>
      min(md5(concat(lit(s + ":"), col("shingle")))).as(s"m$s"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: band the signature (`rowsPerBand` hashes per
    * band), equi-join documents sharing any band value. Output distinct
    * `(ida, idb)` with ida < idb.
    *
    * Hot-bucket guard (the banded analogue of `ngramJaccardPairs`'
    * df cap): a band bucket holding `n` documents contributes n²/2 pairs,
    * so one degenerate bucket of boilerplate-identical docs makes the
    * self-join quadratic no matter how the rest of the corpus shards.
    * Buckets above `bucketCap` are dropped before the join — their
    * members are near-identical mass that exact dedup (or any surviving
    * smaller band) already covers, and the pair explosion carries no new
    * information.
    */
  def lshCandidatePairs(sig: DataFrame, numHashes: Int, rowsPerBand: Int,
                        bucketCap: Int = 10000): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val key = concat((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band_id"), key.as("band_key"))
    }
    val long0 = sig.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_key"))
    val hot = long0.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") > bucketCap)
      .select("band_id", "band_key")
    val long = long0.join(hot, Seq("band_id", "band_key"), "left_anti")
    val a = long.select(col("band_id"), col("band_key"), col("doc_id").as("ida"))
    val bb = long.select(col("band_id"), col("band_key"), col("doc_id").as("idb"))
    a.join(bb, Seq("band_id", "band_key"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
  }

  /** Near-duplicate GROUP assignment — the keep-one tail of the dedup
    * pipeline. Candidate pairs (from LSH banding or Jaccard scoring) are
    * closed under transitivity with distributed connected components
    * (large-star/small-star — A~B plus B~C collapses to one group even
    * when A~C never surfaced as a candidate), then every document in
    * `universe` gets `(doc_id, group_id, n_docs, keep)`:
    * `group_id` = the minimum doc_id of its duplicate group (singletons
    * are their own group), `keep` = this is that minimum — the canonical
    * deterministic keep-one policy large-scale pipelines apply before
    * training. Only ids shuffle; text never moves.
    */
  def nearDupGroups(universe: DataFrame, pairs: DataFrame): DataFrame = {
    val lbl = graft.graph.ConnectedComponents.labels(
      pairs.select(col("ida").as("src"), col("idb").as("dst")))
    val assigned = universe.select(col("doc_id").cast("long").as("doc_id"))
      .join(lbl.select(col("node").as("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("_comp"))
    // Re-base the group id to the minimum doc id WITHIN the universe:
    // when pairs come from a broader corpus than the slice being
    // labeled, the component minimum may not be a universe member, and
    // keying keep on it would keep ZERO documents of that group.
    val rebased = assigned.groupBy("_comp").agg(
      min(col("doc_id")).as("group_id"), count(lit(1)).as("n_docs"))
    assigned.join(rebased, Seq("_comp"))
      .select(col("doc_id"), col("group_id"), col("n_docs"),
        (col("doc_id") === col("group_id")).as("keep"))
  }

  /** Leakage-free train/validation split: documents are assigned to
    * splits by hashing their near-duplicate GROUP id, not their own id —
    * two near-identical documents must land in the same split or the
    * held-out set is contaminated by construction (the split-level twin
    * of q74's benchmark decontamination). ~1/`valMod` of GROUPS go to
    * `val`; singleton groups hash on their own id (group_id = doc_id).
    *
    * Determinism: the 60-bit md5 prefix of `split:<group_id>` mod
    * `valMod` — engine-replayable, stable under re-runs, and adding
    * documents never moves an existing group between splits (the
    * incremental-snapshot property q118 relies on).
    */
  def leakFreeSplit(universe: DataFrame, pairs: DataFrame,
                    valMod: Int = 10): DataFrame =
    nearDupGroups(universe, pairs)
      .withColumn("split",
        when(conv(substring(md5(concat(lit("split:"),
            col("group_id").cast("string"))), 1, 15), 16, 10).cast("long")
            % valMod === 0, "val")
          .otherwise("train"))
      .select("doc_id", "group_id", "split")

  /** Split-leakage audit: quantifies the contamination a NAIVE per-doc
    * hash split creates against the group-keyed [[leakFreeSplit]] rule —
    * how many near-dup groups straddle the train/val boundary and how
    * many documents sit in those leaked groups. The report that
    * justifies group-keyed splitting with numbers (the leak-free column
    * is the control, provably 0 since the whole group shares one hash
    * input). One aggregation over the CC labels.
    */
  def splitLeakageAudit(groups: DataFrame, valMod: Int = 10): DataFrame = {
    def splitOf(idCol: Column, prefix: String) =
      when(conv(substring(md5(concat(lit(prefix), idCol.cast("string"))),
          1, 15), 16, 10).cast("long") % valMod === 0, "val")
        .otherwise("train")
    val per = groups.select(col("doc_id"), col("group_id"),
        splitOf(col("doc_id"), "naive:").as("s_naive"),
        splitOf(col("group_id"), "split:").as("s_leakfree"))
      .groupBy("group_id").agg(
        count(lit(1)).as("sz"),
        countDistinct(col("s_naive")).as("k_naive"),
        countDistinct(col("s_leakfree")).as("k_lf"))
    per.agg(count(lit(1)).as("n_groups"),
      sum(when(col("k_naive") > 1, 1L).otherwise(0L)).as("n_straddling_naive"),
      sum(when(col("k_naive") > 1, col("sz")).otherwise(0L))
        .as("n_docs_leaked_naive"),
      sum(when(col("k_lf") > 1, 1L).otherwise(0L)).as("n_straddling_leakfree"))
  }

  /** Canonical-document selection over near-duplicate groups: the
    * quality-aware refinement of [[nearDupGroups]]'s min-id keep-one —
    * real pipelines keep the BEST copy of each duplicate cluster (longest
    * / highest quality score), not the smallest id. `universe` carries a
    * numeric `weight` (higher = better); the canonical member of each
    * group maximizes `(weight, -doc_id)` — a deterministic total order,
    * packed into one numeric key so the engine-replay is exact: weights
    * are integral and doc ids are below `idBase`.
    *
    * Scale: the group labels come from the O(log n) distributed
    * connected components; canonical election is ONE `max_by`
    * aggregation keyed by group id (partial map-side combine — a
    * popular boilerplate cluster contributes one candidate per
    * partition, never its full membership, to the reduce side).
    */
  def canonicalDocs(universe: DataFrame, pairs: DataFrame,
                    idBase: Long = 10000000L): DataFrame = {
    val groups = nearDupGroups(universe.select("doc_id"), pairs)
    // Materialize the weighted membership once: both consumers below
    // (the election aggregate and the final join) would otherwise
    // re-run the component-label joins end to end.
    val withW = graft.core.Lineage.reset(groups.join(
      universe.select(col("doc_id").cast("long").as("doc_id"),
        col("weight").cast("long").as("weight")), Seq("doc_id")))
    val canon = withW.groupBy("group_id").agg(
      max_by(col("doc_id"), col("weight") * idBase - col("doc_id"))
        .as("canonical_id"))
    withW.join(canon, Seq("group_id"))
      .select(col("doc_id"), col("group_id"), col("n_docs"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space dedup
    * via cluster-then-dedup. The k-means clusters ARE the buckets — the
    * pair join runs only WITHIN a cluster, so the clustering itself
    * bounds the quadratic stage by cluster size (SemDeDup's own scaling
    * argument; at 100 TB grow k with n / targetClusterSize exactly like
    * [[graft.sim.Similarity.planesFor]] grows planes). Deterministic end
    * to end with the q60/q69 replay chain: seeded Lloyd's on an
    * md5-ranked ≤`trainN` sample (9 dp-fenced centers), every vector
    * assigned to its nearest final center with the (distance, index)
    * tie-break, exact cosine within clusters at the 6 dp fence,
    * transitive closure + keep-one via distributed connected components.
    * `corpus(vec_id, embedding)` → `(vec_id, group_id, n_docs, keep)`.
    */
  /** SemDeDup cluster-count rule, mirroring
    * [[graft.sim.Similarity.planesFor]]: enough centroids that the
    * expected cluster occupancy n / k lands at `targetClusterSize` — the
    * in-cluster pair join is Σ_c |c|², so holding occupancy flat keeps it
    * linear in n instead of quadratic at fixed k.
    */
  def clustersFor(n: Long, targetClusterSize: Int = 1024, minK: Int = 8): Int =
    math.max(minK, ((n + targetClusterSize - 1) / targetClusterSize).toInt)

  def semDeDup(corpus: DataFrame, k: Int, iters: Int, seed: Long,
               minCos: Double, trainN: Int = 10000,
               clusterCap: Int = 10000,
               stragglerCap: Long = 1L << 20): DataFrame = {
    // cluster NORMALIZED embeddings, as the published method does:
    // euclidean k-means on the unit sphere ≈ cosine clustering, and a
    // scaled duplicate becomes bit-identical to its original after
    // normalization — so true near-dups provably co-cluster instead of
    // being split across Voronoi cells by magnitude. The norm is
    // projected ONCE per vector (an in-lambda dot would re-fold the
    // whole vector per element — O(dim²)); the per-element value is
    // bit-identical either way, so the oracle's in-lambda form replays
    // this exactly.
    val e = col("embedding").cast("array<double>")
    // zero-norm clamp (the int8Codes guard): an all-zero embedding would
    // otherwise yield a NaN latent that silently poisons the nearest-
    // center scan and diverges from the oracle's division behavior
    val latent = corpus
      .select(col("vec_id").cast("long").as("cell_id"), e.as("_e"))
      .withColumn("_n", greatest(
        sqrt(graft.sim.Similarity.dot(col("_e"), col("_e"))), lit(1e-300)))
      .select(col("cell_id"),
        transform(col("_e"), x => x / col("_n")).as("latent"))
    // k = 0 auto-sizes from the corpus count ([[clustersFor]]) — a caller
    // keeping a fixed default k on a grown corpus is the measured
    // quadratic regime, exactly like fixed LSH planes
    val nClusters = if (k > 0) k else clustersFor(corpus.count())
    val sample = latent
      .withColumn("h", md5(concat(lit(s"$seed:"), col("cell_id"))))
      .orderBy(col("h"), col("cell_id")).limit(trainN)
      .select("cell_id", "latent")
    val bc = graft.pipeline.Cluster.lloydWithCenters(sample, nClusters, iters, seed)._2
    // Assignment cost discipline (named by the r12 4x slope gate): the
    // flat scan is O(n·k) per corpus pass, and with the auto-sized
    // k = n/1024 that is QUADRATIC in n — measured 3.3x/doubling at
    // 400k docs. At ≤ 64 centers (every test SF and oracle path:
    // clustersFor floors at minK = 8 there) the flat scan stays, exact
    // and bit-stable. Above it, a two-level center index: super-centers
    // from a deterministic driver Lloyd over the CENTERS (strided init,
    // fixed iterations — pure function of bc), each vector scanning only
    // the `nprobe` nearest super-centers' children — O(√k·(1+nprobe))
    // per row, pushing the assignment wall out by ~√k. The trade is the
    // standard IVF one: a boundary vector may take its second-nearest
    // center, which moves it BETWEEN buckets (recall, not correctness —
    // identical/near-identical vectors still co-assign, the property
    // the dedup rests on). Past ~10⁸ docs swap the per-row scan for the
    // join-based bucketed cross-KNN (Knn.bucketedKnn) with an exact
    // fallback for uncovered vectors.
    val nearest =
      if (bc.length <= 64) udf { (v: Seq[Double]) =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < bc.length) {
          var d = 0.0; var j = 0
          while (j < bc(c).length) { val t = v(j) - bc(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c } // strict < keeps the lowest index
          c += 1                          // on ties, like ORDER BY (d, cid)
        }
        best
      }
      else {
        val dim = bc(0).length
        val k2 = math.max(1, math.round(math.sqrt(bc.length.toDouble)).toInt)
        // deterministic mini-Lloyd over the centers: strided init, 10
        // fixed iterations, empty super-centers keep their coords
        var sc = Array.tabulate(k2)(i =>
          bc((i.toLong * bc.length / k2).toInt).clone())
        for (_ <- 1 to 10) {
          val sums = Array.fill(k2)(new Array[Double](dim))
          val cnt = new Array[Long](k2)
          bc.foreach { p =>
            var best = 0; var bd = Double.MaxValue; var c = 0
            while (c < k2) {
              var d = 0.0; var j = 0
              while (j < dim) { val t = p(j) - sc(c)(j); d += t * t; j += 1 }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            cnt(best) += 1
            var j = 0
            while (j < dim) { sums(best)(j) += p(j); j += 1 }
          }
          sc = Array.tabulate(k2)(c =>
            if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else sc(c))
        }
        val scF = sc
        val children: Array[Array[Int]] = {
          val buf = Array.fill(k2)(scala.collection.mutable.ArrayBuffer[Int]())
          bc.indices.foreach { ci =>
            val p = bc(ci)
            var best = 0; var bd = Double.MaxValue; var c = 0
            while (c < k2) {
              var d = 0.0; var j = 0
              while (j < dim) { val t = p(j) - scF(c)(j); d += t * t; j += 1 }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            buf(best) += ci
          }
          buf.map(_.toArray) // each ascending by construction
        }
        val nprobe = math.min(4, k2)
        udf { (v: Seq[Double]) =>
          // nprobe nearest super-centers (selection by (dist, index))
          val d2 = new Array[Double](k2)
          var c = 0
          while (c < k2) {
            var d = 0.0; var j = 0
            while (j < dim) { val t = v(j) - scF(c)(j); d += t * t; j += 1 }
            d2(c) = d; c += 1
          }
          val probed = new Array[Int](nprobe)
          val taken = new Array[Boolean](k2)
          var p = 0
          while (p < nprobe) {
            var best = -1; var bd = Double.MaxValue; var i = 0
            while (i < k2) {
              if (!taken(i) && d2(i) < bd) { bd = d2(i); best = i }
              i += 1
            }
            taken(best) = true; probed(p) = best; p += 1
          }
          // scan the probed super-centers' children with the global
          // (dist, center-index) tie-break of the flat scan
          var bestC = Int.MaxValue; var bd = Double.MaxValue
          p = 0
          while (p < nprobe) {
            val kids = children(probed(p))
            var i = 0
            while (i < kids.length) {
              val ci = kids(i); val ctr = bc(ci)
              var d = 0.0; var j = 0
              while (j < dim) { val t = v(j) - ctr(j); d += t * t; j += 1 }
              if (d < bd || (d == bd && ci < bestC)) { bd = d; bestC = ci }
              i += 1
            }
            p += 1
          }
          if (bestC != Int.MaxValue) bestC
          else {
            // all probed super-centers were childless (possible when the
            // mini-Lloyd leaves empties) — flat-scan fallback, still
            // deterministic
            var best = 0; var bdf = Double.MaxValue; var ci = 0
            while (ci < bc.length) {
              var d = 0.0; var j = 0
              while (j < dim) { val t = v(j) - bc(ci)(j); d += t * t; j += 1 }
              if (d < bdf) { bdf = d; best = ci }
              ci += 1
            }
            best
          }
        }
      }
    // the assignment feeds BOTH sides of the in-cluster self-join —
    // without the cache the normalize + k-center distance scan over the
    // full corpus executes twice. Hot-cluster guard: members are ranked
    // inside their cluster by a content-independent md5 order and
    // sub-split into `clusterCap`-sized slices — for clusters under the
    // cap the slice id is 0 for every member (identity), so the guard is
    // always on yet replays exactly in the oracle; a degenerate cluster
    // (boilerplate mass) contributes Σ cap² pairs instead of |c|².
    // Near-dups straddling a slice boundary are the recall trade, same
    // as lshCandidatePairs' dropped hot buckets.
    // per-cluster rank in two regimes on the measured max cluster size
    // (identical ranks, hence identical sub-splits, either way):
    // a per-cluster window while every cluster fits one task (lazy, no
    // extra jobs), switching to the range-partitioned two-pass ordinal
    // over (cl, md5, id) minus the cluster's first ordinal above
    // `stragglerCap` — a degenerate corpus (boilerplate mass collapsing
    // into one cluster) then spreads its sort across tasks instead of
    // serializing it (the Knn hot-bucket pattern)
    val keyed = latent.withColumn("cl", nearest(col("latent")))
      .withColumn("_h", md5(concat(lit("split:"), col("cell_id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // max over ZERO groups is NULL — an empty corpus takes the window
    // regime and returns empty, as the pre-probe code did
    val maxClRow = keyed.groupBy("cl").count().agg(max("count")).head
    val maxCl = if (maxClRow.isNullAt(0)) 0L else maxClRow.getLong(0)
    val assigned = (if (maxCl <= stragglerCap) {
      keyed.withColumn("_rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("cl").orderBy(col("_h"), col("cell_id"))))
        .withColumn("sub", expr(s"(_rn - 1) div $clusterCap"))
    } else {
      val withG = graft.ops.Windows.globalOrdinal(
        keyed, Seq(col("cl"), col("_h"), col("cell_id")), "_g")
      val clBase = withG.groupBy("cl").agg(min(col("_g")).as("_g0"))
      withG.join(broadcast(clBase), Seq("cl"))
        .withColumn("sub", expr(s"(_g - _g0) div $clusterCap"))
    }).cache()
    // materialize the assignment NOW (one map-side pass over the cached
    // keyed frame) so the full-corpus keyed copy releases BEFORE the
    // |sub-slice|² pair join — otherwise two full-corpus persisted
    // copies (keyed AND assigned, both carrying latent) coexist through
    // the join, doubling peak block-manager footprint
    assigned.count()
    keyed.unpersist()
    val a = assigned.select(col("cl"), col("sub"), col("cell_id").as("ida"),
      col("latent").as("va"))
    val b = assigned.select(col("cl"), col("sub"), col("cell_id").as("idb"),
      col("latent").as("vb"))
    // eager checkpoint: the pair set is small (candidates over minCos);
    // materializing it here lets the full-corpus assignment cache be
    // released before the CC iterations instead of leaking (the
    // lloyd/ivfSelfKnn pattern)
    val pairs = a.join(b, Seq("cl", "sub"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        round(graft.sim.Similarity.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .select("ida", "idb")
      .localCheckpoint()
    assigned.unpersist()
    nearDupGroups(corpus.select(col("vec_id").cast("long").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("group_id"), col("n_docs"),
        col("keep"))
  }

  /** Benchmark decontamination (the GPT-3-style n-gram overlap check):
    * flag every training document sharing at least one word n-gram with
    * any evaluation document. Inverted-index join on the shingle — only
    * (train, eval) co-occurrences materialize, never the cross product —
    * with the same document-frequency cap as `ngramJaccardPairs` so one
    * boilerplate n-gram in half the corpus cannot quadratically explode
    * the join (a capped shingle is exactly the kind that carries no
    * contamination signal). Output per flagged train doc: distinct shared
    * n-grams and how many eval docs it collides with.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int,
                    dfCap: Int = 10000): DataFrame = {
    val trSh0 = shingles(train, n)
    val hot = trSh0.groupBy("shingle").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap).select("shingle")
    val trSh = trSh0.join(hot, Seq("shingle"), "left_anti")
    val evSh = shingles(evalDocs, n)
      .withColumnRenamed("doc_id", "eval_id")
    trSh.join(evSh, Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Fingerprint near-duplicate pairs over a long bit-fingerprint column
    * `(doc_id, fp)` — SimHash (text) and dHash/pHash (images) share this
    * one kernel. The `bits`-wide fingerprint is banded into `nBands`
    * equal keys; by pigeonhole the band index is EXACT (zero recall
    * loss) for `maxHam < nBands` — a pair within Hamming `nBands − 1`
    * must collide on some untouched band. Candidates come from the band
    * equi-join (hot buckets capped, the LSH rule), and every surviving
    * pair is refined by the codegen'd
    * [[graft.functions.Hamming64]] popcount — only (id, long) rows
    * shuffle.
    */
  def fingerprintNearDup(fps: DataFrame, bits: Int, nBands: Int,
                         maxHam: Int, bucketCap: Int = 10000): DataFrame = {
    require(maxHam < nBands,
      s"$nBands-band pigeonhole is only exact for maxHam < $nBands (got $maxHam)")
    require(bits % nBands == 0 && bits <= 64)
    val w = bits / nBands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val bands = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until nBands).map(b => struct(lit(b).as("band_id"),
        shiftright(col("fp"), b * w).bitwiseAND(lit(mask))
          .as("band_key"))): _*)).as("b"))
      .select(col("doc_id"), col("fp"), col("b.band_id"), col("b.band_key"))
    val hot = bands.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") > bucketCap)
      .select("band_id", "band_key")
    val ok = bands.join(hot, Seq("band_id", "band_key"), "left_anti")
    val a = ok.select(col("band_id"), col("band_key"),
      col("doc_id").as("ida"), col("fp").as("fa"))
    val bb = ok.select(col("band_id"), col("band_key"),
      col("doc_id").as("idb"), col("fp").as("fb"))
    a.join(bb, Seq("band_id", "band_key"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        graft.functions.Hamming64.column(col("fa"), col("fb")).as("ham"))
      .distinct()
      .filter(col("ham") <= maxHam)
  }

  /** Eval-side CONTAINMENT contamination: for each (train doc, eval doc)
    * pair sharing n-token shingles, `containment = |shared| / |eval
    * shingles|` — the asymmetric overlap measure that catches a short
    * benchmark item embedded verbatim inside a long training document,
    * where symmetric Jaccard (q74's count form, [[decontaminate]])
    * dilutes toward 0 as the host document grows. The standard
    * benchmark-decontamination criterion (GPT-3 appendix C / Dolma use
    * eval-side n-gram overlap exactly like this).
    *
    * The df cap applies to BOTH sides, so the ratio is a true
    * containment over the capped shingle universe (the
    * [[ngramJaccardPairs]] rule); the flag threshold is the exact
    * integer comparison `n_shared · minDen ≥ n_eval_sh · minNum` — no
    * float knife edge. Only 16-byte-bounded shingle strings and id
    * pairs shuffle.
    */
  def containmentContamination(train: DataFrame, evalDocs: DataFrame, n: Int,
                               minNum: Int = 4, minDen: Int = 5,
                               dfCap: Int = 10000): DataFrame = {
    val trSh0 = shingles(train, n)
    val hot = trSh0.groupBy("shingle").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap).select("shingle")
    val trSh = trSh0.join(hot, Seq("shingle"), "left_anti")
    val evSh = shingles(evalDocs, n).withColumnRenamed("doc_id", "eval_id")
      .join(hot, Seq("shingle"), "left_anti")
    val evSizes = evSh.groupBy("eval_id").agg(count(lit(1)).as("n_eval_sh"))
    trSh.join(evSh, Seq("shingle"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .join(evSizes, Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"), col("n_shared"), col("n_eval_sh"),
        round(col("n_shared").cast("double") / col("n_eval_sh").cast("double"),
          6).as("containment"),
        (col("n_shared") * minDen >= col("n_eval_sh") * minNum)
          .as("contaminated"))
  }

  /** Who-copies-whom: near-duplicate candidate pairs attributed to
    * unordered source pairs — the provenance cross-tab that tells a
    * curation pipeline which feeds mirror each other (and how much of
    * "dedup savings" is really one mirror pair). Two id-keyed joins of
    * the (ida, idb) pair set against the doc→source map + one count
    * aggregation; sources are normalized `least/greatest` so mirror
    * directions collapse into one cell.
    */
  def dupSourceAttribution(pairs: DataFrame, docSources: DataFrame): DataFrame = {
    val s = docSources.select(col("doc_id"), col("source"))
    pairs
      .join(s.select(col("doc_id").as("ida"), col("source").as("_sa")), Seq("ida"))
      .join(s.select(col("doc_id").as("idb"), col("source").as("_sb")), Seq("idb"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Duplicate-cluster size histogram — the corpus-level dedup yield
    * report over [[nearDupGroups]] output: per cluster size, how many
    * clusters, how many documents they hold, and how many a keep-one
    * policy removes. One `keep`-row-per-group aggregation (group
    * representatives are exactly the keep rows), so the report costs a
    * |groups|-row shuffle on top of the CC labels it summarizes.
    */
  def clusterSizeStats(groups: DataFrame): DataFrame =
    groups.filter(col("keep"))
      .groupBy(col("n_docs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs_total"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removed"))

  /** Exact-substring duplication signals — the relational form of
    * suffix-array substring dedup ("remove every substring of ≥ n tokens
    * that appears twice in the corpus", Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"; the reference corpus
    * tooling applies the same gate as a dup-fraction filter):
    *
    *  1. hash every SLIDING n-token window (doc_id, start, md5) — the
    *     map-side materialization is len× rows of 16-byte digests + two
    *     ints; the text itself never shuffles;
    *  2. a window is duplicated iff its hash occurs at ≥ 2 (doc, start)
    *     sites corpus-wide — one count aggregation keyed by digest, no
    *     pair join anywhere (this is what keeps it linear where the
    *     pairwise operators need df caps);
    *  3. per document, merge the duplicated windows' [start, start+n)
    *     intervals (classic island detection: running max of interval
    *     end over a doc_id-partitioned window) and report the covered
    *     token count.
    *
    * Output per input document: `(doc_id, n_tokens, n_dup_windows,
    * dup_tokens, dup_frac)` — `dup_frac` is the fraction of the
    * document's tokens inside at least one corpus-duplicated n-token
    * substring, the signal the ≥50-token-substring training-data gate
    * thresholds on. Deterministic: integer/digest logic with a single
    * 6 dp rounding at the end.
    */
  def dupWindowStats(docs0: DataFrame, n: Int): DataFrame = {
    val docs = docs0.select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val toks = docs.select(col("doc_id"), size(col("w")).as("n_tokens"))
    // 1-based starts (matches SQL array slicing); a doc shorter than n
    // tokens yields no windows (unguarded sequence would descend).
    val starts = when(size(col("w")) >= n, sequence(lit(1), size(col("w")) - n + 1))
      .otherwise(array().cast("array<int>"))
    val wins = docs.select(col("doc_id"), col("w"), explode(starts).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("h"))
    val dupH = wins.groupBy("h").agg(count(lit(1)).as("_sites"))
      .filter(col("_sites") >= 2).select("h")
    val dup = wins.join(dupH, Seq("h"))
      .select(col("doc_id"), col("i"), (col("i") + n).as("e"))
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val prevMaxEnd = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("_new",
        when(col("i") > coalesce(prevMaxEnd, lit(-1)), 1).otherwise(0))
      .withColumn("_isl", sum(col("_new"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val perDoc = islands.groupBy("doc_id", "_isl")
      .agg((max(col("e")) - min(col("i"))).as("_cov"), count(lit(1)).as("_nw"))
      .groupBy("doc_id")
      .agg(sum(col("_nw")).cast("long").as("n_dup_windows"),
        sum(col("_cov")).cast("long").as("dup_tokens"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"))
  }

  /** Pairwise n-gram Jaccard similarity via inverted-index self-join:
    * only pairs sharing at least one shingle are scored.
    *
    * Hot-shingle guard: a shingle appearing in `df` documents contributes
    * df² rows to the self-join, so one stopword-like shingle shared by all
    * docs makes the plan quadratic regardless of bucketing. Shingles with
    * document frequency > `dfCap` are removed from the shingle universe
    * (both intersection AND sizes — Jaccard stays a true Jaccard over the
    * capped universe). They carry no discriminative signal: a shingle in
    * half the corpus says nothing about any particular pair. This is the
    * standard df-cap used by large-scale near-dup pipelines.
    */
  def ngramJaccardPairs(sh0: DataFrame, minJaccard: Double,
                        dfCap: Int = 10000): DataFrame =
    sharedShinglePairs(sh0, dfCap)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("ida", "idb", "inter", "jaccard")

  /** The inverted-index pair kernel behind [[ngramJaccardPairs]] and
    * [[detectorPr]]'s ground truth: every pair sharing ≥ 1 shingle of
    * the df-capped universe, with its intersection and both set sizes —
    * callers apply their own (float or exact-integer) threshold.
    */
  /** IDF-weighted exact Jaccard over candidate pairs, next to the
    * unweighted [[sharedShinglePairs]]: shingles weighted 10⁶ div df,
    * so J_w discounts boilerplate shared by many documents and
    * concentrates on rare content — the signal that separates
    * "shares a footer" from "shares the article". Set semantics make
    * min/max reduce to membership: J_w = Σ_{A∩B} w / (W_A + W_B −
    * Σ_{A∩B} w), all integer until the single ppm division. Same
    * df-capped inverted-index shape as the unweighted kernel; the
    * weighted shingle table is localCheckpointed once (three
    * consumers). Output per pair: ida, idb, inter, j_ppm, jw_ppm.
    */
  def weightedJaccardPairs(sh0: DataFrame, dfCap: Int = 10000): DataFrame = {
    val dfc = sh0.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val sh = sh0
      .join(dfc.filter(col("_df") > dfCap).select("shingle"),
        Seq("shingle"), "left_anti")
      .join(dfc, Seq("shingle"))
      .select(col("doc_id"), col("shingle"), expr("1000000 div _df").as("w"))
      .localCheckpoint()
    val wsum = sh.groupBy("doc_id")
      .agg(sum(col("w")).as("wt"), count(lit(1)).as("sz"))
    val inter = sh.select(col("shingle"), col("w"), col("doc_id").as("ida"))
      .join(sh.select(col("shingle"), col("doc_id").as("idb")), Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("inter"), sum(col("w")).as("inter_w"))
    inter
      .join(wsum.select(col("doc_id").as("ida"), col("wt").as("wta"),
        col("sz").as("sza")), Seq("ida"))
      .join(wsum.select(col("doc_id").as("idb"), col("wt").as("wtb"),
        col("sz").as("szb")), Seq("idb"))
      .select(col("ida"), col("idb"), col("inter"),
        expr("(inter * 1000000) div (sza + szb - inter)").as("j_ppm"),
        expr("(inter_w * 1000000) div (wta + wtb - inter_w)").as("jw_ppm"))
  }

  /** Dedup-bias correction report: keep-one dedup changes per-stratum
    * statistics whenever duplication correlates with the metric (long
    * boilerplate-heavy docs duplicate more). Per stratum this reports
    * the raw mean, the naive kept-only mean, and the multiplicity-
    * WEIGHTED kept mean (each keeper re-weighted by its group size) —
    * the inverse-propensity correction. Weighting is exact for EXACT
    * duplicate groups (members share x); near-dup groups whose members
    * differ in the metric leave a residual, and the weighted-vs-raw gap
    * measures that within-group dispersion. `meta` is (doc_id, grp, x);
    * `groups` is [[nearDupGroups]] output. One join + one stratum
    * aggregation.
    */
  def dedupBiasReport(meta: DataFrame, groups: DataFrame): DataFrame =
    meta.join(groups.select("doc_id", "n_docs", "keep"), Seq("doc_id"))
      .groupBy("grp").agg(
        count(lit(1)).as("n_raw"),
        sum(col("x")).as("sx_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("x")).otherwise(0L)).as("sx_kept"),
        sum(when(col("keep"), col("n_docs")).otherwise(0L)).as("w_n"),
        sum(when(col("keep"), col("n_docs") * col("x")).otherwise(0L))
          .as("w_sx"))
      .select(col("grp"), col("n_raw"),
        round(col("sx_raw").cast("double") / col("n_raw").cast("double"), 6)
          .as("mean_raw"),
        col("n_kept"),
        round(col("sx_kept").cast("double") / col("n_kept").cast("double"), 6)
          .as("mean_kept"),
        round(col("w_sx").cast("double") / col("w_n").cast("double"), 6)
          .as("mean_weighted"))

  def sharedShinglePairs(sh0: DataFrame, dfCap: Int = 10000): DataFrame = {
    val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > dfCap).select("shingle")
    val sh = sh0.join(hot, Seq("shingle"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("shingle"), col("doc_id").as("ida"))
      .join(sh.select(col("shingle"), col("doc_id").as("idb")), Seq("shingle"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "ida").withColumnRenamed("sz", "sza"), Seq("ida"))
      .join(sizes.withColumnRenamed("doc_id", "idb").withColumnRenamed("sz", "szb"), Seq("idb"))
      .select("ida", "idb", "inter", "sza", "szb")
  }

  /** Transitive-chaining honesty report for near-dup GROUPS: connected-
    * component closure merges A~B and B~C even when A and C are NOT
    * near-duplicates — keep-one dedup then deletes documents that
    * duplicate nothing kept. This quantifies it: of all co-grouped
    * pairs, how many are DIRECT near-dups (exact shingle Jaccard ≥
    * `jacNum/jacDen`) vs chained-only. The within-group pair expansion
    * is capped at `groupCap` members per group (deterministic md5 draw,
    * the engine's seeded-sampling pattern) so one giant boilerplate
    * near-dup group — the pathology this report exists to expose —
    * cannot go |g|²; group/doc counts stay exact over all members, only
    * the pair sample is capped (a per-group C(groupCap, 2) ceiling).
    */
  def chainContamination(sh: DataFrame, pairs: DataFrame,
                         jacNum: Int, jacDen: Int,
                         dfCap: Int = 10000, groupCap: Int = 64): DataFrame = {
    val uni = sh.select("doc_id").distinct()
    val multi = nearDupGroups(uni, pairs)
      .filter(col("n_docs") > 1).select("doc_id", "group_id")
      .localCheckpoint()
    val capped = graft.ops.Windows.topKPerGroup(multi, "group_id", groupCap,
        Seq(md5(concat(lit("chain:"), col("doc_id"))), col("doc_id")))
      .select("doc_id", "group_id")
    val gp = capped.toDF("ida", "group_id")
      .join(capped.toDF("idb", "g2"),
        col("group_id") === col("g2") && col("ida") < col("idb"))
      .select("ida", "idb")
    val direct = sharedShinglePairs(sh, dfCap)
      .filter(col("inter") * jacDen >=
        (col("sza") + col("szb") - col("inter")) * jacNum)
      .select(col("ida"), col("idb"), lit(1).as("direct"))
    val pr = gp.join(direct, Seq("ida", "idb"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("direct")), lit(0)).cast("long").as("n_direct"))
    val gr = multi.agg(countDistinct(col("group_id")).as("n_groups"),
      count(lit(1)).as("n_grouped_docs"))
    gr.crossJoin(pr)
      .select(col("n_groups"), col("n_grouped_docs"), col("n_pairs"),
        col("n_direct"), (col("n_pairs") - col("n_direct")).as("n_chained"),
        when(col("n_pairs") > 0,
          round((col("n_pairs") - col("n_direct")).cast("double")
            / col("n_pairs").cast("double"), 6)).as("chained_frac"))
  }

  /** MinHash-LSH detector precision/recall curve vs exact-Jaccard
    * ground truth — the report that picks the band threshold BEFORE a
    * dedup run commits to one (q120 histograms candidate quality;
    * this scores the detector itself). For every threshold
    * `t ∈ 1..nBands`, pairs matching ≥ t bands are the prediction;
    * ground truth is exact shingle Jaccard ≥ `jacNum/jacDen` over the
    * df-capped shingle universe (every true pair shares a shingle, so
    * the inverted-index join finds ALL of them — recall's denominator
    * is complete, not candidates-only). Threshold tested as the exact
    * integer `inter·den ≥ union·num`.
    *
    * Scale shape: signature banding + hot-bucket cap on the detector
    * side, df-capped inverted index on the truth side — both the same
    * bounded joins the production operators use; the sweep itself is
    * one explode over nBands of the (nb, gt) pair table.
    */
  def detectorPr(sh0: DataFrame, numHashes: Int, rowsPerBand: Int,
                 jacNum: Int, jacDen: Int, dfCap: Int = 10000,
                 bucketCap: Int = 10000): DataFrame = {
    val sh = sh0.localCheckpoint()
    val nBands = numHashes / rowsPerBand
    val sig = minHashSignature(sh, numHashes)
    val bands = (0 until nBands).map { b =>
      val key = concat((0 until rowsPerBand).map(r =>
        col(s"m${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band_id"), key.as("band_key"))
    }
    val long0 = sig.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_key"))
    val hot = long0.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("_bn")).filter(col("_bn") > bucketCap)
      .select("band_id", "band_key")
    val long = long0.join(hot, Seq("band_id", "band_key"), "left_anti")
    val nb = long.select(col("band_id"), col("band_key"), col("doc_id").as("ida"))
      .join(long.select(col("band_id"), col("band_key"), col("doc_id").as("idb")),
        Seq("band_id", "band_key"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("nb"))
    val gt = sharedShinglePairs(sh, dfCap)
      .filter(col("inter") * jacDen >=
        (col("sza") + col("szb") - col("inter")) * jacNum)
      .select(col("ida"), col("idb"), lit(1).as("gt"))
    val merged = nb.join(gt, Seq("ida", "idb"), "full_outer")
      .select(coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("gt"), lit(0)).as("gt"))
    merged
      .select(col("nb"), col("gt"),
        explode(sequence(lit(1), lit(nBands))).as("t"))
      .groupBy("t").agg(
        sum(when(col("nb") >= col("t"), 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("nb") >= col("t") && col("gt") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(col("gt").cast("long")).as("n_true"))
      .select(col("t"), col("n_pred"), col("n_true"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_true") - col("tp")).as("fn"),
        when(col("n_pred") > 0, round(col("tp").cast("double")
          / col("n_pred").cast("double"), 6)).as("precision"),
        when(col("n_true") > 0, round(col("tp").cast("double")
          / col("n_true").cast("double"), 6)).as("recall"))
  }

  /** Bloom-filter decontamination — the broadcast-bitmap scale path for
    * [[decontaminate]]: instead of joining the train corpus's shingles
    * against the eval set (a shuffle of every matching posting), the eval
    * set's shingles are folded driver-side into an `mBits`-bit bloom
    * bitmap (`k` md5-derived probes each) that ships to every executor as
    * ONE literal array — the train side then runs a MAP-ONLY membership
    * pass with a codegen'd bit test, no join and no shuffle until the
    * per-doc count aggregation. The eval side is small by definition (a
    * benchmark suite); the driver materializes only bit positions,
    * bounded by min(k·|eval shingles|, mBits).
    *
    * Bloom error is one-sided and, because the probes are md5-derived,
    * DETERMINISTIC — the oracle replays the exact same false positives.
    * Output per train doc: shingle count, bloom-positive count, true
    * match count (kept here to validate the fp behavior; production
    * drops the exact join — that is the whole point), and the fp count.
    */
  def bloomDecontaminate(train: DataFrame, evalDocs: DataFrame, n: Int,
                         mBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && Integer.bitCount(mBits) == 1)
    val evSh = shingles(evalDocs, n).select("shingle").distinct()
    val posCol = (j: Int) =>
      pmod(conv(substring(md5(concat(lit(s"$j:"), col("shingle"))), 1, 15),
        16, 10).cast("long"), lit(mBits.toLong))
    val positions = evSh
      .select(explode(array((0 until k).map(posCol): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val bitmap = new Array[Long](mBits / 64)
    positions.foreach(p => bitmap((p / 64).toInt) |= (1L << (p % 64)))
    val trSh = shingles(train, n)
    val probed = (0 until k).foldLeft(
        trSh.withColumn("_bm", typedlit(bitmap.toIndexedSeq))) { (df, j) =>
        df.withColumn(s"_p$j", posCol(j))
      }
      .withColumn("_hits", expr((0 until k).map(j =>
        s"(shiftright(element_at(_bm, cast(_p$j div 64 as int) + 1), " +
          s"cast(_p$j % 64 as int)) & 1)").mkString("(", " + ", s") = $k")))
    val bloomCounts = probed.groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("_hits"), 1L).otherwise(0L)).as("n_bloom_hits"))
    val trueCounts = trSh.join(evSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_true_hits"))
    bloomCounts.join(trueCounts, Seq("doc_id"), "left")
      .withColumn("n_true_hits", coalesce(col("n_true_hits"), lit(0L)))
      .withColumn("n_false_pos", col("n_bloom_hits") - col("n_true_hits"))
  }

  /** Edit-distance near-duplicate pairs under prefix blocking — the
    * entity-resolution shape for short-text dedup (titles, snippets,
    * OCR variants) where token-set measures miss single-character noise.
    *
    * Blocking key = md5 of the first `prefixTokens` tokens: only
    * documents sharing an exact prefix ever pair, so the quadratic
    * Levenshtein work is confined to blocks. `blockCap` drops oversize
    * blocks before the self-join (the hot-bucket guard — a boilerplate
    * prefix would otherwise make one block |b|²); at 100 TB the block
    * key is what shuffles first, and only capped-block members carry
    * their text into the pair join. Levenshtein is the classic
    * unit-cost Wagner–Fischer distance in both Spark and DuckDB, so
    * pairs replay engine-exact.
    */
  def editDistanceNearDup(docs: DataFrame, maxDist: Int,
                          prefixTokens: Int = 3,
                          blockCap: Int = 32): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("text"),
      md5(concat_ws(" ",
        slice(split(col("text"), "\\s+"), 1, prefixTokens))).as("bk"))
    val sizes = keyed.groupBy("bk").agg(count(lit(1)).as("bn"))
    // localCheckpoint: both sides of the pair self-join consume this
    // frame (and `keyed` feeds both it and the size agg) — without it
    // the md5 block build re-evaluates three times (the q62 lesson)
    val bounded = keyed
      .join(sizes.filter(col("bn") <= blockCap), Seq("bk"))
      .select("bk", "doc_id", "text")
      .localCheckpoint()
    bounded.select(col("bk"), col("doc_id").as("a"), col("text").as("ta"))
      .join(bounded.select(col("bk"), col("doc_id").as("b"),
        col("text").as("tb")), Seq("bk"))
      .filter(col("a") < col("b"))
      // threshold-bounded levenshtein: banded O(len·maxDist) DP instead
      // of the full O(len²) matrix per pair; returns the EXACT distance
      // when ≤ maxDist (so surviving rows are bit-identical) and −1
      // when above it (rows the filter dropped anyway). The filter rides
      // INSIDE an array-filter + explode so the DP runs ONCE per pair:
      // a plain withColumn + filter had Catalyst push the predicate
      // below the projection and evaluate the banded DP 3× per pair
      // (twice in the pushed filter, once in the project — guide §4.4's
      // duplicated-UDF shape, with a builtin).
      .select(col("a"), col("b"),
        explode(filter(
          array(levenshtein(col("ta"), col("tb"), maxDist).cast("long")),
          d => d >= 0 && d <= lit(maxDist))).as("dist"))
  }

  /** Shape-identical power chains for [[lshPlanner]]: the Column and the
    * SQL string build the SAME multiplication tree (binary exponentiation),
    * so both engines execute the identical IEEE op sequence and the
    * per-pair probability replays bit-for-bit before quantization.
    */
  private[graft] def powChain(c: Column, e: Int): Column = e match {
    case 1 => c
    case n =>
      val h = powChain(c, n / 2)
      if (n % 2 == 0) h * h else h * h * c
  }
  private[graft] def powChainSql(s: String, e: Int): String = e match {
    case 1 => s
    case n =>
      val h = powChainSql(s, n / 2)
      if (n % 2 == 0) s"($h * $h)" else s"(($h * $h) * $s)"
  }

  /** LSH banding-parameter planner: for each (bands b, rows-per-band r)
    * split of the hash budget, the EXPECTED detection count over the
    * corpus's TRUE pair distribution — Σ over ground-truth candidate
    * pairs of the S-curve P(detect) = 1 − (1 − J^r)^b at each pair's
    * exact Jaccard. Split by the dedup threshold into expected true
    * positives and false positives, this is the design calculator run
    * BEFORE committing a fleet to a banding scheme (q170 then measures
    * the chosen scheme's realized PR). Ground truth is the df-capped
    * inverted index ([[sharedShinglePairs]] — complete, so the
    * expectation is over every pair that shares content). Engine-exact:
    * J is one division of exact integers, the S-curve is a shape-pinned
    * multiplication chain ([[powChain]]), and each pair's probability
    * quantizes to integer ppm BEFORE summation so no float sum order
    * exists. One pair scan (localCheckpointed), configs explode row-
    * locally, one aggregation.
    */
  def lshPlanner(sh0: DataFrame, configs: Seq[(Int, Int)],
                 thNum: Int = 2, thDen: Int = 5,
                 dfCap: Int = 10000): DataFrame = {
    val pairs = sharedShinglePairs(sh0, dfCap)
      .withColumn("union_sz", col("sza") + col("szb") - col("inter"))
      .withColumn("j",
        col("inter").cast("double") / col("union_sz").cast("double"))
      .withColumn("istrue",
        (col("inter") * lit(thDen.toLong) >=
          col("union_sz") * lit(thNum.toLong)).cast("long"))
      .localCheckpoint()
    val cfgStructs = configs.map { case (b, r) =>
      val inner = powChain(col("j"), r)
      val p = lit(1.0) - powChain(lit(1.0) - inner, b)
      struct(lit(b).as("bands"), lit(r).as("rpb"),
        round(p * lit(1000000.0)).cast("long").as("ppm"))
    }
    pairs.select(col("istrue"), explode(array(cfgStructs: _*)).as("c"))
      .select(col("c.bands"), col("c.rpb"), col("c.ppm"), col("istrue"))
      .groupBy("bands", "rpb")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("istrue")).as("n_true"),
        round(sum(col("ppm")).cast("double") / lit(1000000.0), 6)
          .as("exp_detected"),
        round(sum(when(col("istrue") === 1L, col("ppm")).otherwise(0L))
          .cast("double") / lit(1000000.0), 6).as("exp_tp"),
        round(sum(when(col("istrue") === 0L, col("ppm")).otherwise(0L))
          .cast("double") / lit(1000000.0), 6).as("exp_fp"))
  }

  /** Greedy maximum-coverage selection (the classic (1−1/e) submodular
    * greedy): pick `k` documents maximizing the running union of
    * distinct shingles — the text-side coreset/diversity sampler next to
    * the embedding-space k-centers. Each step is ONE full-corpus
    * aggregation (count of still-uncovered shingles per doc) + a global
    * top-1; the covered set grows by at most one document's shingles per
    * step, shuffles as 16-byte digests, and the k picked ids are the
    * only driver state. Deterministic argmax: (gain desc, doc_id asc).
    * Stops early if coverage saturates before k picks.
    */
  def maxCoverageSelect(sh0: DataFrame, k: Int): DataFrame = {
    val spark = sh0.sparkSession
    import spark.implicits._
    val sh = sh0.select(col("doc_id"), col("shingle")).localCheckpoint()
    var covered: DataFrame = null
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var done = false
    var rank = 1
    while (rank <= k && !done) {
      val uncovered =
        if (covered == null) sh
        else sh.join(covered, Seq("shingle"), "left_anti")
      val cand = picks.foldLeft(uncovered) { (d, p) =>
        d.filter(col("doc_id") =!= p._2)
      }
      val top = cand.groupBy("doc_id").agg(count(lit(1)).as("g"))
        .orderBy(col("g").desc, col("doc_id")).take(1)
      if (top.isEmpty) done = true
      else {
        val (doc, g) = (top(0).getLong(0), top(0).getLong(1))
        picks += ((rank, doc, g))
        val newCov = sh.filter(col("doc_id") === doc).select("shingle")
        covered = (if (covered == null) newCov
                   else covered.union(newCov).distinct()).localCheckpoint()
        rank += 1
      }
    }
    val cum = picks.scanLeft(0L)(_ + _._3).drop(1)
    picks.zip(cum).map { case ((r, doc, g), c) => (r, doc, g, c) }
      .toSeq.toDF("rank", "doc_id", "gain", "cum_covered")
  }
}
