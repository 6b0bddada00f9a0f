package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.ops.Windows

/** Distributed suffix-array machinery by prefix doubling (the
  * Manber–Myers / Flick–Aluru construction, re-expressed as DataFrame
  * rounds): after round i every position's label is the smallest global
  * position that starts the same 2^i-token prefix, so positions sharing
  * a label are EXACTLY the start sites of repeated 2^i-grams — no hash,
  * no collision, the ground-truth version of the digest-based
  * substring-dedup signals (Lee 2022; cf. q79, which trades exactness
  * for one aggregation).
  *
  * Each round is one self-join on the shifted position plus one
  * partitioned window, `min(gp)` over the (label, shifted label) pair —
  * the level's only shuffle while the shifted side broadcasts, no global
  * sort, no driver-side data. Labels are only compared for equality and
  * counted, never ordered, so a class's first position serves where the
  * textbook uses a dense rank: distinct classes hold disjoint positions,
  * hence distinct minima, and `gp ≥ 1` never meets the `0` "no shifted
  * position" sentinel. Rounds are logarithmic in the longest repeat, not
  * in corpus size, and a unique per-document separator token caps
  * repeats at document length (a window crossing a document boundary
  * contains the separator and is unique by construction).
  */
object SuffixOps {

  /** Session-lifetime memo of materialized label levels, keyed by
    * `"<corpus key>:<level>"` ([[graft.core.Fingerprint.key]] of the
    * docs): q219/q220/q231 — and every bench rep — share ONE doubling
    * chain per corpus instead of each re-deriving ~7 rounds of self-join
    * + relabel (the CacheStore pattern, held in the block manager via
    * Lineage.reset rather than parquet because the tables are
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

  /** Label tables `(doc_id, gp, is_sep, r)` for doubling levels
    * 0..maxRound, built incrementally on top of whatever levels the memo
    * already holds for this corpus. `r` is the first position of the
    * row's class: `min(gp)` over the token at level 0, over the pair
    * (level i−1 label, label 2^(i−1) positions on, 0 past the end) at
    * level i. Each level is materialized once by [[Lineage.reset]], so
    * it carries its measured size and the next level's self-join
    * broadcasts a small side instead of shuffling both.
    */
  private def sharedLevels(docs: DataFrame, maxRound: Int): Map[Int, DataFrame] = {
    val (fp, _) = graft.core.Fingerprint.key(docs, "doc_id, text")
    lazy val st = Lineage.reset(stream(docs))
    def lvl(i: Int): DataFrame = levels.cached(s"$fp:$i") {
      val (pos, cls) =
        if (i == 0)
          (st.withColumn("is_sep", col("tok").startsWith("\u0001")),
            Seq(col("tok")))
        else {
          val prev = lvl(i - 1)
          val off = 1L << (i - 1)
          (prev.join(
              prev.select((col("gp") - off).as("gp"), col("r").as("r2")),
              Seq("gp"), "left"),
            Seq(col("r"), coalesce(col("r2"), lit(0L))))
        }
      Lineage.reset(pos.select(col("doc_id"), col("gp"), col("is_sep"),
        min(col("gp")).over(Window.partitionBy(cls: _*)).as("r")))
    }
    (0 to maxRound).map(i => i -> lvl(i)).toMap
  }

  /** Token stream with global 1-based positions; one unique separator
    * token (\u0001 + doc_id) closes each document.
    */
  private def stream(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(TextOps.tokensCol)
        .as(Seq("p", "tok")))
    val sep = docs.select(col("doc_id"),
      size(TextOps.tokensCol).cast("int").as("p"),
      concat(lit("\u0001"), col("doc_id").cast("string")).as("tok"))
    Windows.globalOrdinal(toks.unionByName(sep),
      Seq(col("doc_id"), col("p")), "gp")
  }

  /** The repeat report of a class table: every column of `classes` is
    * part of a position's class identity, and `keys` (a prefix of them)
    * select one report. One row per `keys` value, in `keys` order:
    * (keys…, n_classes, n_pos_repeated, max_class) — the distinct
    * classes, the positions in classes of two or more, and the largest
    * class. One pass for every report at once.
    */
  private def classReport(classes: DataFrame, keys: String*): DataFrame =
    classes.groupBy(classes.columns.map(col): _*).agg(count(lit(1)).as("c"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .as("n_pos_repeated"),
        max(col("c")).as("max_class"))
      .coalesce(1).sortWithinPartitions(keys.map(col): _*)

  /** Exact repeat spectrum: for each power-of-two length 1, 2, …,
    * 2^rounds, how many distinct prefix classes exist, how many
    * positions start a repeated substring of that length, and the
    * largest repeat class — the corpus's repetition structure measured
    * exactly at every scale in ONE doubling pass (each round's label
    * table IS the report for its length). Output: one row per length.
    */
  def repeatSpectrum(docs: DataFrame, rounds: Int): DataFrame = {
    val levels = sharedLevels(docs, rounds)
    classReport((0 to rounds)
      .map(i => levels(i).select(lit(1L << i).as("len"), col("r")))
      .reduce(_.unionByName(_)), "len")
  }

  /** Exact repeat census at ARBITRARY lengths (not just powers of
    * two): a length-L window equals another iff their leading and
    * trailing 2^i-windows both do, for i = ⌊log₂ L⌋ — the classic
    * two-overlapping-powers decomposition, so each requested length
    * costs ONE extra shifted join over the already-built level-i labels
    * (no relabel needed: class statistics only). Output: one row per
    * requested length, repeats included, in length order (len,
    * n_classes, n_pos_repeated, max_class) — the same report shape as
    * [[repeatSpectrum]].
    */
  def repeatAtLengths(docs: DataFrame, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1))
    def lvl(l: Int) = 31 - Integer.numberOfLeadingZeros(l)
    val levels = sharedLevels(docs, lengths.map(lvl).max)
    // `k` (the slot in sorted order) keeps a repeated length its own row
    val classes = lengths.sorted.zipWithIndex.map { case (l, k) =>
      val i = lvl(l)
      val off = (l - (1 << i)).toLong
      val r = levels(i)
      r.join(r.select((col("gp") - off).as("gp"), col("r").as("r2")),
          Seq("gp"), "left")
        .select(lit(k).as("k"), lit(l.toLong).as("len"), col("r"),
          coalesce(col("r2"), lit(0L)).as("r2"))
    }
    classReport(classes.reduce(_.unionByName(_)), "k", "len").drop("k")
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
  def repeatCoverage(docs: DataFrame, rounds: Int): DataFrame =
    sharedLevels(docs, rounds)(rounds)
      .select(col("doc_id"), col("is_sep"),
        count(lit(1)).over(Window.partitionBy("r")).as("csz"))
      .filter(!col("is_sep"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("csz") >= 2, 1L).otherwise(0L)).as("n_repeat_pos"))
      .select(col("doc_id"), col("n_tokens"), col("n_repeat_pos"),
        round(col("n_repeat_pos").cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage"))
}
