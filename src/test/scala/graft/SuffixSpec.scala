package graft

import org.apache.spark.sql.functions._
import graft.text.{Mix, SuffixOps}

/** Specs for the suffix prefix-doubling operators (q219–q220) and
  * Neyman allocation (q221): hand-computed repeat structure on tiny
  * corpora; the driver oracles replay the full chains in DuckDB.
  */
class SuffixSpec extends SparkSpec {
  import spark.implicits._

  test("repeatSpectrum: hand-computed classes at lengths 1, 2, 4") {
    // doc1 = a b a b, doc2 = a b x (+ unique separators).
    // len 1: classes {a×3, b×3, x, sep1, sep2} → 5 classes, 6 repeated.
    // len 2: 'a b' ×3 (doc1 pos 0 and 2, doc2 pos 0); everything else
    // unique → 7 classes, 3 repeated.
    // len 4: the three 'a b …' sites diverge at token 3 (a / sep1 / x)
    // → all 9 positions unique.
    val docs = Seq((1L, "a b a b"), (2L, "a b x")).toDF("doc_id", "text")
    val out = SuffixOps.repeatSpectrum(docs, rounds = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      1L -> ((5L, 6L, 3L)),
      2L -> ((7L, 3L, 3L)),
      4L -> ((9L, 0L, 1L))))
  }

  test("repeatCoverage: duplicate docs repeat only where the window avoids the separator") {
    // docs 1 and 2 identical (4 tokens); at window 4 (rounds=2) only
    // position 0 fits before the unique separator → coverage 1/4.
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "z z q w"))
      .toDF("doc_id", "text")
    val out = SuffixOps.repeatCoverage(docs, rounds = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map(
      1L -> ((4L, 1L, 0.25)),
      2L -> ((4L, 1L, 0.25)),
      3L -> ((4L, 0L, 0.0))))
  }

  test("repeatAtLengths: non-power length 3 via the two-window decomposition") {
    // Two identical 4-token docs: length-3 windows 'a b c' and 'b c d'
    // each repeat across the pair; every window touching a separator
    // (unique per doc) is a singleton. 10 positions → 8 classes,
    // 4 repeated positions, max class 2.
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = SuffixOps.repeatAtLengths(docs, Seq(3)).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) == ((3L, 8L, 4L, 2L)))
  }

  // Repeats across documents (1 = 8, the 'b c d … m' run of 5 and 6),
  // a one-token doc, an empty-text doc (one empty token) and a doc
  // shorter than most windows.
  private val corpus = Seq(
    1L -> "a b c a b c d",
    2L -> "a b c a b",
    3L -> "x",
    4L -> "",
    5L -> "b c d e f g h i j k l m",
    6L -> "c d e f g h i j k l m n",
    7L -> "a b",
    8L -> "a b c a b c d")

  /** The token stream in plain Scala, one (doc, token) per position:
    * each doc's whitespace split (limit -1 keeps empty tokens, as Spark's
    * `split` does) closed by its unique separator (doc None), docs in id
    * order. */
  private val stream: Vector[(Option[Long], String)] =
    corpus.sortBy(_._1).flatMap { case (id, t) =>
      t.split("\\s+", -1).toSeq.map(Some(id) -> _) :+ (None -> s"\u0001$id")
    }.toVector

  /** The length-`len` token window at every position, cut at the
    * stream's end. */
  private def windows(len: Int): Vector[Vector[String]] = {
    val toks = stream.map(_._2)
    toks.indices.map(g => toks.slice(g, g + len)).toVector
  }

  private def bruteReport(len: Int): (Long, Long, Long, Long) = {
    val sizes = windows(len).groupBy(identity).values.map(_.size.toLong).toSeq
    (len.toLong, sizes.size.toLong, sizes.filter(_ >= 2).sum, sizes.max)
  }

  private def reportRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("repeatAtLengths / repeatSpectrum / repeatCoverage match a brute-force window count") {
    val docs = corpus.toDF("doc_id", "text")
    assert(reportRows(SuffixOps.repeatAtLengths(docs, (1 to 12).reverse))
      == (1 to 12).map(bruteReport))
    assert(reportRows(SuffixOps.repeatSpectrum(docs, rounds = 3))
      == Seq(1, 2, 4, 8).map(bruteReport))
    // a repeated length keeps its own row: neither merged nor doubled
    assert(reportRows(SuffixOps.repeatAtLengths(docs, Seq(3, 5, 3)))
      == Seq(3, 3, 5).map(bruteReport))
    val w = windows(4)
    val size = w.groupBy(identity).map { case (k, v) => k -> v.size }
    val want = stream.map(_._1).zip(w.map(size))
      .collect { case (Some(id), c) => id -> c }
      .groupBy(_._1).map { case (id, cs) =>
        val rep = cs.count(_._2 >= 2).toLong
        id -> ((cs.size.toLong, rep,
          math.round(rep.toDouble / cs.size * 1e6) / 1e6))
      }
    val got = SuffixOps.repeatCoverage(docs, rounds = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == want)
  }

  test("repeatSpectrum: job budget with AQE off in a fresh session") {
    // 12 jobs: the corpus key (1), the token stream's ordinal (sample +
    // counts, 2) and reset (1), one reset per level 0..3 (4; the level's
    // window is its only shuffle), the broadcasts of levels 1..3's
    // shifted self-joins (3) and the one report (1). A global dense
    // re-rank per level costs its own sampling, counting and re-join
    // jobs on top (27 jobs).
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = fresh.createDataFrame(corpus).toDF("doc_id", "text")
    val sc = fresh.sparkContext
    val group = "suffix-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "SuffixOps job budget")
    try SuffixOps.repeatSpectrum(docs, rounds = 3).collect()
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(counter)
    }
    assert(jobs.get == 12)
  }

  test("mutualTopPairs: isolated matches found, crowd asymmetry rejected, dup pair NULL margin") {
    // (1,2) isolated mutual pair at distance 1; (3,4) mutual at 1.5;
    // (5,6) exact duplicates → mutual with NULL margin.
    val vecs = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(30.0, 0.0)), (4L, Seq(30.0, 1.5)),
      (5L, Seq(60.0, 60.0)), (6L, Seq(60.0, 60.0)))
      .toDF("cell_id", "latent")
    val out = graft.pipeline.Knn.mutualTopPairs(vecs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(out.keySet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(out((5L, 6L)).isEmpty)           // zero-distance → NULL margin
    assert(out((1L, 2L)).exists(_ > 1000000L)) // isolated → margin > 1
  }

  test("neymanAllocation: zero-variance stratum gets zero draws") {
    val df = Seq(("g1", 0L), ("g1", 0L), ("g1", 10L), ("g1", 10L),
      ("g2", 5L), ("g2", 5L), ("g2", 5L), ("g2", 5L))
      .toDF("g", "v")
    val out = Mix.neymanAllocation(df, col("g"), col("v"), total = 100L)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toMap
    assert(out("g1") == ((5.0, 5.0, 100L)))
    assert(out("g2") == ((5.0, 0.0, 0L)))
  }
}
