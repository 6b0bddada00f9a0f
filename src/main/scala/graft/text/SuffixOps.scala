package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.ops.Windows

/** Distributed suffix-array machinery by prefix doubling (the
  * Manber–Myers / Flick–Aluru construction, re-expressed as DataFrame
  * rounds): after round i every position's rank equals the dense rank
  * of its 2^i-token prefix, so positions sharing a rank are EXACTLY the
  * start sites of repeated 2^i-grams — no hash, no collision, the
  * ground-truth version of the digest-based substring-dedup signals
  * (Lee 2022; cf. q79, which trades exactness for one aggregation).
  *
  * Each round is one self-join on the shifted position plus one dense
  * re-rank of the DISTINCT rank pairs on the two-pass range-partitioned
  * ordinal — no per-position window, no driver-side data. Rounds are
  * logarithmic in the longest repeat, not in corpus size, and a unique
  * per-document separator token caps repeats at document length (a
  * window crossing a document boundary contains the separator and is
  * unique by construction).
  */
object SuffixOps {

  /** Session-lifetime memo of materialized rank levels, keyed by
    * `"<corpus key>:<level>"` ([[graft.core.Fingerprint.key]] of the
    * docs): q219/q220/q231 — and every bench rep — share ONE doubling
    * chain per corpus instead of each re-deriving ~7 rounds of self-join
    * + re-rank (the CacheStore pattern, held in the block manager via
    * localCheckpoint rather than parquet because the tables are
    * intermediate, not user artifacts). 32 levels hold the last few
    * corpora (each ≤ ~8 levels of O(total tokens) rows); one call touches
    * all its levels, so LRU never evicts a level the call still holds.
    */
  private val levels =
    new graft.core.Memo[DataFrame]("SuffixOps levels", 32, Lineage.release)

  /** (level hits, level builds, evictions) since JVM start — Bench's
    * warm-rep tagging, same contract as FrameMemo.stats/DriverMemo.stats.
    */
  def memoStats: (Long, Long, Long) = levels.stats

  /** Rank tables `(doc_id, gp, is_sep, r)` for doubling levels
    * 0..maxRound, built incrementally on top of whatever levels the memo
    * already holds for this corpus; each level is localCheckpointed once.
    */
  private def sharedLevels(docs: DataFrame, maxRound: Int): Map[Int, DataFrame] = {
    val (fp, _) = graft.core.Fingerprint.key(docs, "doc_id, text")
    lazy val st = Lineage.reset(stream(docs))
    def lvl(i: Int): DataFrame = levels.cached(s"$fp:$i") {
      val r =
        if (i == 0) {
          val toks = st.select("tok").distinct()
          val rankTok = Windows.globalOrdinal(toks, Seq(col("tok")), "r")
          st.join(rankTok, Seq("tok"))
            .select(col("doc_id"), col("gp"),
              col("tok").startsWith("\u0001").as("is_sep"), col("r"))
        } else {
          val prev = lvl(i - 1)
          val off = 1L << (i - 1)
          val pair = prev.join(
              prev.select((col("gp") - off).as("gp"), col("r").as("r2")),
              Seq("gp"), "left")
            .select(col("doc_id"), col("gp"), col("is_sep"), col("r"),
              coalesce(col("r2"), lit(0L)).as("r2"))
          val ranked = Windows.globalOrdinal(
            pair.select("r", "r2").distinct(),
            Seq(col("r"), col("r2")), "nr")
          pair.join(ranked, Seq("r", "r2"))
            .select(col("doc_id"), col("gp"), col("is_sep"),
              col("nr").as("r"))
        }
      r.localCheckpoint()
    }
    (0 to maxRound).map(i => i -> lvl(i)).toMap
  }

  /** Token stream with global 1-based positions; one unique separator
    * token (\u0001 + doc_id) closes each document.
    */
  private def stream(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+"))
        .as(Seq("p", "tok")))
    val sep = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("int").as("p"),
      concat(lit("\u0001"), col("doc_id").cast("string")).as("tok"))
    Windows.globalOrdinal(toks.unionByName(sep),
      Seq(col("doc_id"), col("p")), "gp")
  }

  /** Suffix rank table after `rounds` doublings: (doc_id, gp, is_sep,
    * r) where equal r ⟺ equal 2^rounds-token prefixes.
    */
  private def ranks(docs: DataFrame, rounds: Int): DataFrame =
    sharedLevels(docs, rounds)(rounds)

  private def spectrumRow(r: DataFrame, len: Long): DataFrame =
    r.groupBy("r").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .as("n_pos_repeated"),
        max(col("c")).as("max_class"))
      .select(lit(len).as("len"), col("n_classes"),
        col("n_pos_repeated"), col("max_class"))

  /** Exact repeat spectrum: for each power-of-two length 1, 2, …,
    * 2^rounds, how many distinct prefix classes exist, how many
    * positions start a repeated substring of that length, and the
    * largest repeat class — the corpus's repetition structure measured
    * exactly at every scale in ONE doubling pass (each round's rank
    * table IS the report for its length). Output: one row per length.
    */
  def repeatSpectrum(docs: DataFrame, rounds: Int): DataFrame = {
    val levels = sharedLevels(docs, rounds)
    (0 to rounds).map(i => spectrumRow(levels(i), 1L << i))
      .reduce(_.unionByName(_))
  }


  /** Exact repeat census at ARBITRARY lengths (not just powers of
    * two): a length-L window equals another iff their leading and
    * trailing 2^i-windows both do, for i = ⌊log₂ L⌋ — the classic
    * two-overlapping-powers decomposition, so each requested length
    * costs ONE extra shifted join + class count over the already-built
    * level-i ranks (no re-rank needed: class statistics only). Output:
    * one row per length (len, n_classes, n_pos_repeated, max_class) —
    * the same report shape as [[repeatSpectrum]].
    */
  def repeatAtLengths(docs: DataFrame, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1))
    def lvl(l: Int) = 31 - Integer.numberOfLeadingZeros(l)
    val levels = sharedLevels(docs, lengths.map(lvl).max)
    val rows = lengths.sorted.map { l =>
      val i = lvl(l)
      val off = (l - (1 << i)).toLong
      val r = levels(i)
      r.join(r.select((col("gp") - off).as("gp"), col("r").as("r2")),
          Seq("gp"), "left")
        .select(col("r"), coalesce(col("r2"), lit(0L)).as("r2"))
        .groupBy("r", "r2").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("n_pos_repeated"),
          max(col("c")).as("max_class"))
        .select(lit(l.toLong).as("len"), col("n_classes"),
          col("n_pos_repeated"), col("max_class"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Per-document exact repeat coverage at window `2^rounds`: the
    * fraction of a document's token positions that start a substring
    * also occurring elsewhere in the corpus — the memorization-risk
    * gate with suffix-array exactness (q195 approximates the same
    * quantity with hashed 5-grams). Separator positions are excluded
    * from both numerator and denominator; a position within 2^rounds
    * of its document's end cannot repeat (its window holds the unique
    * separator), which is the honest boundary of the definition.
    * Output per doc: doc_id, n_tokens, n_repeat_pos, coverage.
    */
  def repeatCoverage(docs: DataFrame, rounds: Int): DataFrame = {
    val r = ranks(docs, rounds)
    val sizes = r.groupBy("r").agg(count(lit(1)).as("csz"))
    r.filter(!col("is_sep"))
      .join(sizes, Seq("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("csz") >= 2, 1L).otherwise(0L)).as("n_repeat_pos"))
      .select(col("doc_id"), col("n_tokens"), col("n_repeat_pos"),
        round(col("n_repeat_pos").cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage"))
  }
}
