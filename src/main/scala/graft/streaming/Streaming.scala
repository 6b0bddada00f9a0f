package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.text.TextOps

/** Structured Streaming surface: the event-table operators (hourly
  * windows, sessionization) in their streaming form. The batch queries
  * q41/q42 verify the same computations against the SQL oracle; these
  * plans add watermarks + state so they run incrementally on unbounded
  * input (`readStream` → transform → `writeStream`).
  */
object Streaming {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, session_start_ms: Long,
                           n_events: Int, sum_value: Double)

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming twin of q41_event_window.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming exact dedup — the streaming twin of q33_exact_dedup: drop
    * every document whose content digest was already seen inside the
    * watermark horizon. State is the digest set Spark maintains for
    * dropDuplicates; the watermark bounds it, which is the only way a
    * dedup state survives an unbounded corpus (SURVEY §2 training-data
    * ops; same digest-only-shuffles design as the batch operator).
    */
  def dedupStream(docs: Dataset[Doc], watermark: String = "1 hour"): DataFrame =
    docs.toDF()
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicates("digest")
      .select("doc_id", "ts", "digest")

  /** Streaming passage-level dedup — the streaming twin of
    * q84_passage_dedup: each incoming document explodes to its
    * non-overlapping `span`-token passages as a row-local projection
    * (no shuffle until the digest state lookup), and a passage is
    * emitted iff its digest was not seen inside the watermark horizon.
    * First-arrival-wins replaces the batch operator's min-site policy —
    * the inherent batch-vs-stream divergence for ties inside one
    * micro-batch, same caveat as [[nearDupStream]]'s documented one.
    * State = digest set under watermark (bounded on unbounded input).
    */
  def passageDedupStream(docs: Dataset[Doc], span: Int = 15,
                         watermark: String = "1 hour"): DataFrame = {
    docs.toDF()
      .select(col("doc_id"), col("ts"),
        posexplode(TextOps.passages(TextOps.tokensCol, span)).as(Seq("pos", "passage")))
      .withColumn("digest", md5(col("passage")))
      .withWatermark("ts", watermark)
      .dropDuplicates("digest")
      .select("doc_id", "pos", "ts", "digest")
  }

  case class BandHit(band_id: Int, band_key: String, doc_id: Long,
                     ts: java.sql.Timestamp)
  case class CandPair(ida: Long, idb: Long, band_id: Int)

  /** Per-document MinHash LSH band keys as a single row-local column
    * expression (shingle → seeded-md5 min per hash → concat per band) —
    * the streaming-safe form of `Dedup.minHashSignature` +
    * `lshCandidatePairs`'s banding: no shuffle, no per-doc aggregation,
    * so it runs identically in a batch projection or a stream.
    */
  def lshBandKeys(n: Int, numHashes: Int, rowsPerBand: Int): org.apache.spark.sql.Column = {
    val sh = array_distinct(TextOps.stringGrams(TextOps.tokensCol, n))
    val mins = (0 until numHashes).map(s =>
      array_min(transform(sh, g => md5(concat(lit(s + ":"), g)))))
    val nBands = numHashes / rowsPerBand
    array((0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        concat((0 until rowsPerBand).map(r => mins(b * rowsPerBand + r)): _*)
          .as("band_key"))
    }: _*)
  }

  /** [[lshBandKeys]]'s plain-Scala twin — band keys indexed by band_id,
    * empty when the doc has no n-gram (the expression's NULL-key case).
    * Exists for OBJECT-side consumers only: an expensive expression
    * tree consumed by an object operator (flatMapGroupsWithState) drops
    * out of whole-stage codegen and evaluates INTERPRETED — measured
    * 35×+ slower on the 100k-doc StreamingScaleSpec corpus (~17 s
    * codegen'd vs >600 s interpreted for a 33k-doc micro-batch). Since
    * the stateful near-dup stream is already in object land, one reused
    * MessageDigest here beats bouncing through the interpreted tree.
    * Relational consumers (incrementalDedupStream's band join) keep the
    * codegen'd column expression. Semantics replicated EXACTLY —
    * `split(text, "\\s+", -1)` (Spark's split keeps trailing empties),
    * first-occurrence-distinct shingles, lowercase-hex md5 of UTF-8,
    * min by ASCII order (equal-length hex ⇒ byte order = String order),
    * per-band concat of `rowsPerBand` consecutive minhashes — and
    * pinned against the expression by an equivalence spec.
    */
  private[graft] def bandKeysOf(text: String, n: Int, numHashes: Int,
                                rowsPerBand: Int): Array[String] = {
    val w = text.split("\\s+", -1)
    if (w.length < n) return Array.empty
    val sh = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= w.length) {
      val sb = new java.lang.StringBuilder(w(i))
      var j = 1
      while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
      sh.add(sb.toString)
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hexChars = "0123456789abcdef".toCharArray
    def md5Hex(s: String): String = {
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Char](32)
      var k = 0
      while (k < 16) {
        out(2 * k) = hexChars((d(k) >> 4) & 0xf)
        out(2 * k + 1) = hexChars(d(k) & 0xf)
        k += 1
      }
      new String(out)
    }
    val mins = new Array[String](numHashes)
    val it = sh.iterator()
    while (it.hasNext) {
      val g = it.next()
      var s = 0
      while (s < numHashes) {
        val hex = md5Hex(s + ":" + g)
        if (mins(s) == null || hex.compareTo(mins(s)) < 0) mins(s) = hex
        s += 1
      }
    }
    val nBands = numHashes / rowsPerBand
    Array.tabulate(nBands) { b =>
      (b * rowsPerBand until (b + 1) * rowsPerBand).map(mins).mkString("")
    }
  }

  /** Streaming near-duplicate detection — the streaming twin of
    * q34_minhash_lsh: every incoming document explodes to its LSH band
    * hits; keyed state per (band, band_key) bucket holds the doc ids
    * seen there and emits a candidate pair for each new arrival against
    * the bucket's history. Two state bounds make this run forever:
    * `maxBucket` caps per-bucket membership (the streaming analogue of
    * the batch df-cap — a degenerate bucket of boilerplate near-dups
    * stops growing state and stops emitting quadratic pairs), and
    * an EVENT-TIME timeout expires buckets whose last hit has fallen
    * `idleness` behind the watermark (exactly dedupStream's horizon
    * semantics: without it, TOTAL state grows with the number of
    * distinct band keys ever seen — unbounded on an unbounded corpus).
    * Downstream, pairs feed the same scoring/grouping as the batch path.
    *
    * DELIBERATE batch-path divergence on degenerate buckets: the batch
    * `Dedup.lshCandidatePairs` drops a bucket above `bucketCap` ENTIRELY
    * (zero pairs — the cap is applied after seeing the whole bucket),
    * while this stream emits pairs among a degenerate bucket's first
    * `maxBucket` arrivals (≤ maxBucket·(maxBucket−1)/2, ~2k at the
    * default 64) before capping. Append mode cannot retract pairs
    * already emitted when a bucket later turns out to be degenerate, so
    * the batch semantics are unreachable here by construction; the
    * stream bounds the damage (finite state, finite pairs per bucket)
    * instead of reproducing the batch result. Replaying the corpus
    * through the batch path remains the authority on bucket-capped
    * candidates.
    */
  def nearDupStream(docs: Dataset[Doc], n: Int = 3, numHashes: Int = 8,
                    rowsPerBand: Int = 2, maxBucket: Int = 64,
                    idleness: String = "1 hour"): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    // Band keys via the plain-Scala twin, NOT the column expression:
    // the downstream flatMapGroupsWithState is an object operator, and
    // an expression tree feeding one evaluates interpreted (no
    // whole-stage codegen) — see bandKeysOf's Scaladoc for the measured
    // 35× cliff. Docs shorter than n tokens emit no hits at all (the
    // expression's NULL-band-key case, same end state as the old
    // isNotNull filter). The watermark goes on AFTER the flatMap: the
    // event-time tag does not survive an object boundary's re-created
    // attributes, and ts values are unchanged either way.
    val hits = docs
      .flatMap { d =>
        val keys = bandKeysOf(d.text, n, numHashes, rowsPerBand)
        Iterator.tabulate(keys.length)(b => BandHit(b, keys(b), d.doc_id, d.ts))
      }
      .withWatermark("ts", idleness)
    // State is (members: Array[Long], lastTs) — a primitive long array
    // encodes as one UnsafeArrayData blit, where a List[Long] would
    // round-trip through the generic collection serializer per update
    // (measured neutral at 100k docs — the dominant cost there is the
    // per-group state-store machinery itself, see StreamingScaleSpec —
    // but the array never regresses and wins as buckets fill).
    hits.groupByKey(h => (h.band_id, h.band_key))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((bandId, _), it, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toSeq
            val st = state.getOption.getOrElse(
              BucketState(Array.emptyLongArray, Long.MinValue))
            var seen = st.members
            val out = scala.collection.mutable.ListBuffer[CandPair]()
            batch.map(_.doc_id).distinct.sorted.foreach { d =>
              if (!seen.contains(d) && seen.length < maxBucket) {
                seen.foreach { p =>
                  out += CandPair(math.min(p, d), math.max(p, d), bandId)
                }
                seen = seen :+ d
              }
            }
            // expire once the watermark passes the bucket's LAST hit +
            // idleness — the running max lives in state, so a late
            // (in-watermark) arrival cannot regress the expiry
            val lastTs = math.max(st.lastTs, batch.map(_.ts.getTime).max)
            state.update(BucketState(seen, lastTs))
            state.setTimeoutTimestamp(lastTs, idleness)
            out.iterator
          }
      }
  }

  /** [[nearDupStream]]'s keyed state: bucket membership as a primitive
    * long array (encoder-friendly) + the bucket's latest event time.
    */
  case class BucketState(members: Array[Long], lastTs: Long)

  /** Streaming twin of `Analytics.latestState`: the continuously
    * maintained "latest row per (user, type)" upsert view (update output
    * mode — each micro-batch emits the keys it changed). State is ONE
    * packed max-key per (user, type): `max_by` over the same
    * (ts, event_id) total order as the batch operator, so replaying the
    * log through the batch path gives exactly the final streaming state.
    * In-order and late IN-WATERMARK arrivals converge to the batch
    * answer by construction (max is order-insensitive); only
    * post-watermark drops diverge, as with every watermarked operator.
    */
  def latestStateStream(events: Dataset[Event],
                        watermark: String = "1 hour"): DataFrame =
    events.toDF()
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(col("value"),
          struct(col("ts"), col("event_id"))).as("last_value"),
        max(struct(col("ts"), col("event_id"))).getField("ts").as("last_ts"),
        max(struct(col("ts"), col("event_id"))).getField("event_id")
          .as("last_event_id"))

  /** Streaming twin of `Dedup.incrementalDedup`: an unbounded stream of
    * NEW documents probes a STATIC old-corpus index — the persisted
    * digest set (exact phase) and MinHash band index (near phase) a
    * 100 TB deployment would keep alongside the training set. Both
    * probes are stream-static equi-joins, which need NO keyed state at
    * all: every micro-batch joins against the index and moves on. The
    * only state is the watermarked `dropDuplicates` that collapses a
    * doc's multiple band hits on the same old doc.
    *
    * Output contract (append mode): EVIDENCE rows, not final verdicts —
    * `exact_dup` (digest match, min old id) and `near_candidate` (band
    * collision with a specific old doc, exact dups excluded via a
    * stream-static anti-join, mirroring the batch operator's phase
    * split). "Kept" is the absence of evidence for a doc_id: append mode
    * cannot emit a row for "no match arrived", so the final
    * keep/drop/verify decision (the batch operator's Jaccard
    * confirmation) runs downstream on the candidate subset.
    */
  def incrementalDedupStream(docs: Dataset[Doc], oldDocs: DataFrame,
                             n: Int = 3, numHashes: Int = 8,
                             rowsPerBand: Int = 2,
                             watermark: String = "1 hour"): DataFrame = {
    val oldDig = oldDocs.select(md5(col("text")).as("digest"), col("doc_id"))
      .groupBy("digest").agg(min(col("doc_id")).as("old_id"))
    val sig = graft.dedup.Dedup.minHashSignature(
      graft.dedup.Dedup.shingles(oldDocs, n), numHashes)
    val nBands = numHashes / rowsPerBand
    val oldBands = (0 until nBands).map { b =>
      sig.select(lit(b).as("band_id"),
        concat((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"m$i")): _*).as("band_key"),
        col("doc_id").as("old_id"))
    }.reduce(_.unionByName(_))

    val s = docs.toDF().withWatermark("ts", watermark)
      .withColumn("digest", md5(col("text")))
    val exact = s.join(oldDig, Seq("digest"))
      .select(col("doc_id"), col("ts"),
        lit("exact_dup").as("verdict"), col("old_id"))
    val cands = s.join(oldDig, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("ts"),
        explode(lshBandKeys(n, numHashes, rowsPerBand)).as("b"))
      .select(col("doc_id"), col("ts"),
        col("b.band_id").as("band_id"), col("b.band_key").as("band_key"))
      .filter(col("band_key").isNotNull)
      .join(oldBands, Seq("band_id", "band_key"))
      .dropDuplicates("doc_id", "old_id")
      .select(col("doc_id"), col("ts"),
        lit("near_candidate").as("verdict"), col("old_id"))
    exact.unionByName(cands)
  }

  case class Vec(vec_id: Long, ts: java.sql.Timestamp,
                 embedding: Array[Double])

  /** Streaming twin of q181 (`Pq.ivfAssignDelta`'s assignment pass): an
    * unbounded vector stream routed to the STATIC coarse centroid set —
    * the online index-ingest path (new embeddings land in their list
    * as they arrive; the drift report then reads the accumulated
    * assignments). Entirely map-side: the centroids ship as LITERAL
    * arrays inside one projection and the argmin is an `array_sort`
    * over nLists (d2, list) structs — no window, no join, NO keyed
    * state, so it runs at any input rate (windows and stream-side
    * joins would be illegal or stateful here anyway).
    * `centers` as `lloydWithCenters` returns them (0-based index →
    * 1-based list ids, matching the batch report).
    */
  def ivfAssignStream(vecs: Dataset[Vec], centers: Seq[Seq[Double]],
                      watermark: String = "1 hour"): DataFrame = {
    val s = vecs.toDF().withWatermark("ts", watermark)
      .withColumn("va", col("embedding").cast("array<double>"))
    val ds = centers.zipWithIndex.map { case (c, i) =>
      // codegen'd fold, IEEE-identical to aggregate(zip_with(...))
      struct(graft.functions.SqDiffSum.column(col("va"),
        typedLit(c).cast("array<double>")).as("d2"),
        lit(i + 1).as("list"))
    }
    s.withColumn("_best", element_at(array_sort(array(ds: _*)), 1))
      .select(col("vec_id"), col("ts"), col("_best.list").as("list"),
        round(sqrt(col("_best.d2")) * lit(1000000.0)).cast("long")
          .as("dist_micro"))
  }

  /** Streaming twin of q157 (`Knn.bucketedEpsNeighborsBetween`): an
    * unbounded stream of embedding vectors probes the STATIC corpus
    * LSH index — the online "does this eval item leak into the
    * corpus" check a 100 TB deployment runs as eval sets evolve. The
    * stream side computes its bucket per round as codegen'd sign-dot
    * projections (map-only) and explodes the Hamming-1 multi-probes;
    * the static side is the (round, bucket) index built once from the
    * corpus. Both probes are stream-static equi-joins needing NO
    * keyed state; the only state is the dropDuplicates collapsing a
    * query's multi-round hits on the same corpus vector (the
    * incrementalDedupStream stance). `corpus(cell_id, latent)`.
    */
  def semanticProbeStream(vecs: Dataset[Vec], corpus: DataFrame,
                          eps: Double, rounds: Int = 6,
                          watermark: String = "1 hour"): DataFrame = {
    import graft.sim.Similarity
    val stats = corpus.agg(count(lit(1)).as("n"),
      max(size(col("latent").cast("array<double>"))).as("d")).head
    val planes = Similarity.planesFor(stats.getLong(0))
    val dim = stats.getInt(1)
    val idx = (0 until rounds).map { r =>
      val signs = Similarity.signMatrix(planes, dim, r)
      corpus.select(lit(r).as("round"),
        Similarity.bucketCol(col("latent").cast("array<double>"), signs)
          .as("bucket"),
        col("cell_id").as("corpus_id"),
        col("latent").cast("array<double>").as("vb"))
    }.reduce(_ unionByName _)
    val s = vecs.toDF().withWatermark("ts", watermark)
      .withColumn("va", col("embedding").cast("array<double>"))
    val probed = (0 until rounds).map { r =>
      val signs = Similarity.signMatrix(planes, dim, r)
      val b = Similarity.bucketCol(col("va"), signs)
      val probes = array((b +: (0 until planes).map(h =>
        b.bitwiseXOR(lit(1L << h)))): _*)
      s.select(col("vec_id"), col("ts"), col("va"), lit(r).as("round"),
        explode(probes).as("bucket"))
    }.reduce(_ unionByName _)
    probed.join(idx, Seq("round", "bucket"))
      .select(col("vec_id"), col("ts"), col("corpus_id"),
        round(Similarity.l2(col("va"), col("vb")), 6).as("dist"))
      .filter(col("dist") <= eps)
      .dropDuplicates("vec_id", "corpus_id")
  }

  /** Gap-based sessionization with explicit keyed state — the streaming
    * twin of q42_sessionize (30-minute inactivity gap), emitting one
    * update per closed batch of a user's events.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Int, Double, Long), SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[(Long, Int, Double, Long)]) =>
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var (start, n, sum, last) =
            state.getOption.getOrElse((evs.head.ts.getTime, 0, 0.0, evs.head.ts.getTime))
          evs.foreach { e =>
            val t = e.ts.getTime
            if (t - last > gapMs) { start = t; n = 0; sum = 0.0 }
            n += 1; sum += e.value; last = t
          }
          state.update((start, n, sum, last))
          SessionUpdate(user, start, n, sum)
      }
  }

  case class AsofUpdate(event_id: Long, user_id: Long, ts_us: Long,
                        asof_value: Option[Double], asof_ts: Option[Long])

  /** Streaming twin of q94's as-of join: each `leftType` event is
    * annotated with the latest prior-or-simultaneous `rightType` event of
    * the same user. State per user is ONE (ts, id, value) triple — the
    * running best right event — so total state is O(users) and never
    * grows with the stream (no watermark needed to bound it).
    *
    * Batch-vs-stream divergence (deliberate, same convention as
    * [[nearDupStream]]): within a micro-batch events process in
    * (ts, right-before-left, id) order — identical to the batch total
    * order — but a right event arriving in a LATER micro-batch than an
    * already-emitted left event cannot retro-annotate it. An
    * out-of-order right is still absorbed into state only if it beats
    * the current best in the (ts, id) order, so state itself converges
    * to the batch answer.
    */
  def asofStream(events: Dataset[Event], leftType: String = "view",
                 rightType: String = "purchase"): Dataset[AsofUpdate] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == leftType || e.event_type == rightType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Double), AsofUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[(Long, Long, Double)]) =>
          val evs = it.toVector.sortBy(e =>
            (e.ts.getTime, if (e.event_type == rightType) 0 else 1, e.event_id))
          var st = state.getOption
          val out = Vector.newBuilder[AsofUpdate]
          evs.foreach { e =>
            val tsUs = e.ts.getTime * 1000L
            if (e.event_type == rightType) {
              if (st.forall(s => s._1 < tsUs || (s._1 == tsUs && s._2 < e.event_id)))
                st = Some((tsUs, e.event_id, e.value))
            } else {
              out += AsofUpdate(e.event_id, user, tsUs, st.map(_._3), st.map(_._1))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  case class FunnelUpdate(user_id: Long, t1: Option[Long], t2: Option[Long],
                          t3: Option[Long], steps_reached: Int)

  /** q98's streaming twin: per-user view→click→purchase progression
    * maintained continuously. State is ONE (t1, t2, t3) triple per user
    * — O(users), never the event log — advanced monotonically under the
    * batch query's STRICT ordering rule (a click counts only after the
    * recorded first view, a purchase only after the recorded first
    * click). Emits the user's funnel row in every batch where a step
    * advances. For in-watermark, in-order arrival the emitted rows
    * converge to the batch q98 answer; a late view that predates the
    * already-recorded t1 is absorbed only while t2 is unset (once a
    * click anchored on t1 has been emitted, retro-lowering t1 could
    * un-justify it — the same no-retro-annotation stance as
    * [[asofStream]], documented divergence from a batch recompute).
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events.filter(e =>
        e.event_type == "view" || e.event_type == "click" ||
          e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long), FunnelUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[(Long, Long, Long)]) =>
          val evs = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
          var (t1, t2, t3) = state.getOption.getOrElse((-1L, -1L, -1L))
          val before = (t1, t2, t3)
          evs.foreach { e =>
            val ts = e.ts.getTime * 1000L
            e.event_type match {
              case "view" if t1 < 0 || (t2 < 0 && ts < t1) => t1 = ts
              case "click" if t1 >= 0 && t2 < 0 && ts > t1 => t2 = ts
              case "purchase" if t2 >= 0 && t3 < 0 && ts > t2 => t3 = ts
              case _ =>
            }
          }
          if ((t1, t2, t3) == before) Iterator.empty
          else {
            state.update((t1, t2, t3))
            def opt(v: Long) = if (v >= 0) Some(v) else None
            Iterator.single(FunnelUpdate(user, opt(t1), opt(t2), opt(t3),
              1 + (if (t2 >= 0) 1 else 0) + (if (t3 >= 0) 1 else 0)))
          }
      }
  }

  /** q109's streaming twin — rate-anomaly ALERTING: per closing event-
    * time window, the per-type event count z-scored against a BATCH-
    * computed baseline (mean/std per type, e.g. from
    * `Analytics.rateAnomaly`'s historical stats) joined stream-static.
    * State is the watermarked windowed aggregation only; the baseline
    * is a |types|-row broadcast, so the alert path deploys with zero
    * coordination. Emits only windows beyond `threshold` sigmas.
    */
  def rateAnomalyStream(events: DataFrame, baseline: DataFrame,
                        threshold: Double, windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .join(org.apache.spark.sql.functions.broadcast(baseline),
        Seq("event_type"))
      .withColumn("z",
        round((col("n").cast("double") - col("mean")) / col("std"), 6))
      .filter(abs(col("z")) >= threshold)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("z"))

  /** q195's streaming twin — the memorization/novelty gate applied at
    * ingest as a MAP-ONLY projection: the static corpus's distinct
    * n-gram bit positions fold (distributed aggregation, never the gram
    * set itself) into a Bloom bitmap whose size is corpus-INDEPENDENT
    * (`mBits`), shipped as one literal array; each arriving document
    * scores its own distinct grams against the bitmap row-locally — no
    * stream-side join, no keyed state, no shuffle, so it deploys on any
    * number of executors with zero coordination. One-sided error: a
    * bloom false positive can only UNDERSTATE novelty, the conservative
    * direction for a memorization gate. Bit layout identical to
    * [[graft.dedup.Dedup.bloomDecontaminate]] (q103).
    */
  def noveltyStream(docs: Dataset[Doc], corpus: DataFrame, n: Int = 5,
                    mBits: Int = 1 << 16, k: Int = 3,
                    watermark: String = "1 hour"): DataFrame = {
    val bitmap = graft.stats.Sketches.bloomBitmap(
      graft.dedup.Dedup.shingles(corpus, n).select(col("shingle")).distinct(),
      mBits, k)
    docs.toDF().withWatermark("ts", watermark)
      .withColumn("_w", TextOps.tokensCol)
      .withColumn("_g", array_distinct(TextOps.stringGrams(col("_w"), n)))
      .select(col("doc_id"), col("ts"),
        size(col("_g")).cast("long").as("n_grams"),
        size(filter(col("_g"), g => graft.stats.Sketches.bloomHit(g, bitmap, k)))
          .cast("long").as("n_hits"))
      .withColumn("novelty_est",
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_hits").cast("double")
            / col("n_grams").cast("double"), 6)))
  }

  /** q76/q228's streaming twin — the PII scrub gate at ingest: a
    * MAP-ONLY projection (zero state, zero stream-side joins) that
    * counts email/phone/ip spans, emits the redacted text, and flags
    * documents needing review (2+ distinct PII types, q228's risk
    * rule). Identical patterns to the batch pass, so the stream and
    * the batch scrub agree byte-for-byte on the same input.
    */
  def piiStream(docs: Dataset[Doc], watermark: String = "1 hour")
      : DataFrame = {
    import graft.text.TextOps.{emailPat, phonePat, ipPat}
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("text"), lit(emailPat), lit("<EMAIL>")),
      lit(phonePat), lit("<PHONE>")), lit(ipPat), lit("<IP>"))
    def n(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long")
    docs.toDF().withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        n(emailPat).as("n_emails"), n(phonePat).as("n_phones"),
        n(ipPat).as("n_ips"), redacted.as("redacted"))
      .withColumn("n_types",
        (col("n_emails") > 0).cast("long") + (col("n_phones") > 0)
          .cast("long") + (col("n_ips") > 0).cast("long"))
      .withColumn("needs_review", col("n_types") >= 2)
  }
}
