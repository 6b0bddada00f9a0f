package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.AsOf
import graft.stats.Sketches
import graft.text.TextOps

/** Specs for the temporal-join + sketching surface (q94–q97): as-of join
  * semantics (including the tie rules that make it a total order), binned
  * range self-join vs the naive quadratic definition, KMV's exact branch
  * and estimator accuracy, and PMI on a corpus with a known value.
  */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  test("kaplanMeier: hand-computed at-risk/death table and product-limit curve") {
    val dayUs = 86400000000L
    // lifetimes (last − first day), censor = last activity ON the
    // cutoff day (10): u1 t=2 death, u2 t=10 censored, u3 t=2 death,
    // u4 t=5 censored, u5 t=5 death
    val ev = Seq(
      (1L, 0L), (1L, 2L),
      (2L, 0L), (2L, 10L),
      (3L, 1L), (3L, 3L),
      (4L, 5L), (4L, 10L),
      (5L, 0L), (5L, 5L)
    ).toDF("user_id", "day")
      .select(col("user_id"), (col("day") * dayUs + 7L).as("ts_us"))
    val out = graft.analytics.Analytics.kaplanMeier(ev)
      .orderBy("t_days").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(5)))
    // S(2) = 1 − 2/5 = 0.6; S(5) = 0.6 · (1 − 1/3) = 0.4; S(10)
    // unchanged (no deaths — the censored tail moves nothing)
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq((2L, 5L, 2L, 0L), (5L, 3L, 1L, 1L), (10L, 1L, 0L, 1L)))
    assert(approx(out(0)._5, 0.6, 1e-5))
    assert(approx(out(1)._5, 0.4, 1e-5))
    assert(approx(out(2)._5, 0.4, 1e-5))
  }

  test("kaplanMeier: all-deaths tail drives survival to exactly zero") {
    val dayUs = 86400000000L
    // cutoff = 9 (u3); u1/u2 die at t=4 — at t=4 they are the only two
    // at risk... n_risk(4)=2, d=2 → sentinel → S(4) = 0
    val ev = Seq(
      (1L, 0L), (1L, 4L),
      (2L, 1L), (2L, 5L),
      (3L, 9L), (3L, 9L)
    ).toDF("user_id", "day")
      .select(col("user_id"), (col("day") * dayUs).as("ts_us"))
    val out = graft.analytics.Analytics.kaplanMeier(ev)
      .orderBy("t_days").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    // t=0: the censored u3 (lifetime 0); t=4: both deaths, n_risk 2
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0L, 3L, 0L), (4L, 2L, 2L)))
    assert(out(0)._4 == 1.0 && out(1)._4 == 0.0)
  }

  test("asofJoin: latest right row at-or-before each left ts; ties visible") {
    val left = Seq( // (event_id, user_id, ts)
      (100L, 1L, 10L), (101L, 1L, 25L), (102L, 1L, 5L),
      (103L, 2L, 50L), (104L, 3L, 7L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq( // purchase at ts; one tie pair for user 1 at ts=25
      (1L, 1L, 8L, 1.5), (2L, 1L, 25L, 2.5), (3L, 1L, 25L, 3.5),
      (4L, 2L, 50L, 9.0), (5L, 2L, 60L, 7.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = AsOf.asofJoin(left, right, "user_id", "ts", "event_id", "value")
      .select("event_id", "asof_value", "asof_ts")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out(100L) == ((Some(1.5), Some(8L))))  // plain before
    assert(out(101L) == ((Some(3.5), Some(25L)))) // tie ts: larger right id wins
    assert(out(102L) == ((None, None)))           // nothing precedes
    assert(out(103L) == ((Some(9.0), Some(50L)))) // equal ts is visible
    assert(out(104L) == ((None, None)))           // user with no right rows
  }

  test("asofJoinWithin: stale matches null out, fresh ones survive") {
    val left = Seq((100L, 1L, 50L), (101L, 1L, 500L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, 1L, 40L, 2.5)).toDF("event_id", "user_id", "ts", "value")
    val out = AsOf.asofJoinWithin(left, right, "user_id", "ts", "event_id",
        "value", toleranceUs = 100L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[Any]("asof_value")), Option(r.getAs[Any]("asof_ts"))))).toMap
    assert(out(100L) == ((Some(2.5), Some(40L))))  // lag 10 <= 100
    assert(out(101L) == ((None, None)))            // lag 460 > 100: capped
  }

  test("journeys: trigram counts under the (ts, id) order; shares sum to 1") {
    val ev = Seq(
      (1L, 1L, 10L, "view"), (2L, 1L, 20L, "click"), (3L, 1L, 30L, "purchase"),
      (4L, 1L, 40L, "view"),
      (5L, 2L, 10L, "view"), (6L, 2L, 20L, "click"), (7L, 2L, 30L, "purchase"))
      .toDF("event_id", "user_id", "ts_us", "event_type")
    val out = graft.analytics.Analytics.journeys(ev)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("view", "click", "purchase")) == ((2L, 0.666667)))
    assert(out(("click", "purchase", "view")) == ((1L, 0.333333)))
    assert(out.size == 2)
  }

  test("dupSourceAttribution: unordered cells, mirror direction collapses") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("ida", "idb")
    val srcs = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "a"), (5L, "a"), (6L, "a"))
      .toDF("doc_id", "source")
    val out = graft.dedup.Dedup.dupSourceAttribution(pairs, srcs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("a", "b")) == 2L) // (a,b) and (b,a) collapse into one cell
    assert(out(("a", "a")) == 1L)
  }

  test("rangePairs == naive quadratic filter, each pair exactly once") {
    // deterministic pseudo-random event log; consecutive id pairs share
    // (user, ts) so zero-gap tie pairs are exercised
    val ev = (0L until 400L).map { i =>
      val user = (i / 2) % 7
      val ts = ((i / 2) * 2654435761L) % 997L
      (user, ts, i)
    }.toDF("user_id", "ts", "event_id")
    val w = 100L
    val got = AsOf.rangePairs(ev, "user_id", "ts", "event_id", w)
      .select("id_a", "id_b", "gap").as[(Long, Long, Long)].collect().toSet
    val a = ev.select(col("user_id").as("u"), col("ts").as("ta"),
      col("event_id").as("ia"))
    val b = ev.select(col("user_id").as("u"), col("ts").as("tb"),
      col("event_id").as("ib"))
    val naive = a.join(b, Seq("u"))
      .filter(col("tb") - col("ta") <= w &&
        (col("tb") > col("ta") ||
          (col("tb") === col("ta") && col("ib") > col("ia"))))
      .select(col("ia"), col("ib"), (col("tb") - col("ta")).as("gap"))
      .as[(Long, Long, Long)].collect()
    assert(naive.length == naive.toSet.size)
    assert(got == naive.toSet)
    assert(got.nonEmpty && got.exists(_._3 == 0L)) // same-ts pairs exercised
  }

  test("kmvDistinct: exact below capacity, close above it") {
    val small = (0 until 40).map(i => ("g1", i)).toDF("grp", "k")
    val sOut = Sketches.kmvDistinct(small, "grp", "k", k = 64).collect().head
    assert(sOut.getLong(1) == 40L && sOut.getDouble(2) == 40.0)

    val big = (0 until 5000).flatMap(i => Seq(("g2", i), ("g2", i))) // dups collapse
      .toDF("grp", "k")
    val bOut = Sketches.kmvDistinct(big, "grp", "k", k = 64).collect().head
    assert(bOut.getLong(1) == 5000L)
    val rel = math.abs(bOut.getDouble(2) - 5000.0) / 5000.0
    assert(rel < 0.5, s"KMV estimate ${bOut.getDouble(2)} off by $rel")
  }

  test("kmvDistinct: the topKPerGroup min-k equals the global min-k") {
    val df = (0 until 2000).map(i => ("g", i * 31)).toDF("grp", "k")
    val viaOp = Sketches.kmvDistinct(df, "grp", "k", k = 32)
      .collect().head.getDouble(2)
    // single-window replay of the definition
    val h = df.select(col("grp"), md5(col("k").cast("string")).as("hhex")).distinct()
    val mk = h.withColumn("_r",
        row_number().over(Window.partitionBy("grp").orderBy("hhex")))
      .filter(col("_r") <= 32)
      .agg(max(conv(substring(col("hhex"), 1, 15), 16, 10).cast("long")))
      .collect().head.getLong(0)
    val want = BigDecimal(31.0 * math.pow(2.0, 60) / mk.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(viaOp == want)
  }

  test("funnel: strict ordering — out-of-order steps don't count") {
    val ev = Seq( // user 1: full ordered funnel; user 2: purchase BEFORE
      // first view (must not count) then click, no purchase after;
      // user 3: view only; user 4: never views (absent from output)
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "purchase", 5L), (2L, "view", 10L), (2L, "click", 15L),
      (3L, "view", 40L), (3L, "purchase", 35L),
      (4L, "click", 1L), (4L, "purchase", 2L))
      .toDF("user_id", "event_type", "ts_us")
    val out = graft.analytics.Analytics
      .funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getInt(4)))).toMap
    assert(out(1L) == ((Some(10L), Some(20L), Some(30L), 3)))
    assert(out(2L) == ((Some(10L), Some(15L), None, 2))) // early buy ignored
    assert(out(3L) == ((Some(40L), None, None, 1)))      // early buy ignored
    assert(!out.contains(4L))
  }

  test("funnel: same-ts step does not satisfy strict 'after'") {
    val ev = Seq((1L, "view", 10L), (1L, "click", 10L), (1L, "click", 11L))
      .toDF("user_id", "event_type", "ts_us")
    val out = graft.analytics.Analytics.funnel(ev, Seq("view", "click"))
      .collect().head
    assert(out.getLong(1) == 10L && out.getLong(2) == 11L)
  }

  test("retention: cohort by first period, offsets count distinct actives") {
    val ev = Seq( // period width 10: u1 first in p0, active p0/p2;
      // u2 first in p1, active p1 only (twice — distinct); u3 p0+p1
      (1L, 3L), (1L, 25L), (2L, 12L), (2L, 17L), (3L, 8L), (3L, 14L))
      .toDF("user_id", "ts_us")
    val out = graft.analytics.Analytics.retention(ev, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L))
  }

  test("countMinCompare: never underestimates, exact at generous width") {
    val items = (0 until 500).flatMap(i =>
      Seq.fill(1 + i % 5)(s"item${i % 50}")).toDF("item")
    val wide = Sketches.countMinCompare(items, "item", depth = 4,
      width = 4096, minCount = 1L).collect()
    assert(wide.length == 50)
    assert(wide.forall(r => r.getLong(2) >= r.getLong(1)))
    assert(wide.forall(r => !r.getBoolean(3))) // 50 items in 4096 cells: exact
    val tight = Sketches.countMinCompare(items, "item", depth = 2,
      width = 8, minCount = 1L).collect()
    assert(tight.forall(r => r.getLong(2) >= r.getLong(1)))
    assert(tight.exists(r => r.getBoolean(3))) // 50 items in 8 cells: collides
  }

  test("zOrder16 interleaves bits; zOrderStats boxes nest both dims") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
    val z = pts.select(graft.ops.Layout.zOrder16(col("x"), col("y")).as("z"))
      .as[Long].collect().toSet
    // x=3 (011), y=5 (101): interleave → y2 x2 y1 x1 y0 x0 = 100111 = 39
    assert(z == Set(0L, 1L, 2L, 39L, 4294967295L))

    val grid = (for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x * 1000L, y * 1000L)).toDF("px", "py")
    val stats = graft.ops.Layout.zOrderStats(grid, "px", "py", bucketBits = 2)
      .collect()
    assert(stats.length == 4 && stats.map(_.getLong(1)).sum == 4096L)
    // each of the 4 buckets must bound BOTH dims to half the domain
    stats.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 32768L, s"x box too wide: $r")
      assert(r.getLong(5) - r.getLong(4) <= 32768L, s"y box too wide: $r")
    }
  }

  test("bm25TopK: exact-match doc outranks partial; rare term dominates") {
    // doc 1 has both query terms, doc 2 one, doc 3 none; doc 4 is long
    // with one occurrence (length-normalization pushes it below doc 2)
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta epsilon"),
      (3L, "zeta eta theta"),
      (4L, "alpha " + Seq.fill(60)("filler").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq((1, "alpha beta")), topK = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 4L)) // doc 3 absent
    assert(out.head.getDouble(2) > out(1).getDouble(2))
    assert(out(1).getDouble(2) > out(2).getDouble(2))
  }

  test("bm25TopK: the topKPerGroup cut equals the naive single-window top-k") {
    val docs = (0L until 200L).map(i =>
      (i, Seq.fill(1 + (i % 7).toInt)("term").mkString(" ") + s" pad$i"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs.repartition(4), Seq((1, "term")), topK = 5)
      .select("doc_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side replay: one query term, present in every doc
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1).split("\\s+")))
    val avgdl = rows.map(_._2.length).sum.toDouble / rows.length
    val idf = math.log(1.0 + 0.5 / (rows.length + 0.5))
    val naive = rows.map { case (id, toks) =>
        val tf = toks.count(_ == "term").toDouble
        val s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
        (id, math.rint(s * 1e6))
      }.sortBy { case (id, s) => (-s, id) }.take(5)
      .zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }.toSet
    assert(got == naive && got.size == 5)
  }

  test("bloomDecontaminate: no false negatives; clean corpus under-reports only via fp") {
    val mkDoc = (i: Long, s: String) => (i, s)
    val train = Seq(
      mkDoc(1L, "a b c d e f g"),       // contains eval shingle "a b c d e"
      mkDoc(2L, "x y z w v u t"),       // clean
      mkDoc(3L, "a b c d e q r"))       // contaminated too
      .toDF("doc_id", "text")
    val eval_ = Seq(mkDoc(9L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup
      .bloomDecontaminate(train, eval_, n = 5, mBits = 1 << 16, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // bloom hits ⊇ true hits (one-sided error), and every true hit found
    assert(out(1L)._3 == 1L && out(1L)._2 >= 1L)
    assert(out(3L)._3 == 1L && out(3L)._2 >= 1L)
    assert(out(2L)._3 == 0L)
    assert(out.values.forall(v => v._4 == v._2 - v._3 && v._4 >= 0L))
  }

  test("groupQuantiles: nearest-rank values, no interpolation") {
    val df = (1 to 100).map(v => ("g1", v.toDouble)) ++
      (1 to 10).map(v => ("g2", v * 10.0))
    val out = graft.analytics.Analytics
      .groupQuantiles(df.toDF("grp", "v"), "grp", "v", Seq(0.5, 0.95, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(out(("g1", 0.5)) == 50.0)   // ceil(0.5*100)=50
    assert(out(("g1", 0.95)) == 95.0)
    assert(out(("g1", 0.99)) == 99.0)
    assert(out(("g2", 0.5)) == 50.0)   // ceil(0.5*10)=5 → 5th value = 50
    assert(out(("g2", 0.99)) == 100.0) // ceil(9.9)=10 → max
  }

  test("decayedCounts: exact powers-of-two sum, half-life semantics") {
    // ref period = 3; ages: u1 -> {3,1,0}, u2 -> {0,0}
    val ev = Seq((1L, 0L), (1L, 25L), (1L, 30L), (2L, 31L), (2L, 39L))
      .toDF("user_id", "ts_us")
    val out = graft.analytics.Analytics.decayedCounts(ev, periodUs = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((3L, 0.125 + 0.5 + 1.0))) // ages {3,1,0}, exact fractions
    assert(out(2L) == ((2L, 2.0)))
  }

  test("phraseSearch: adjacency required, n-term chains, overlaps counted") {
    val docs = Seq(
      (1L, "a b c a b"),     // "a b" twice, "a b c" once
      (2L, "a x b a"),       // terms present but never adjacent
      (3L, "a b c b c a b c")) // "a b c" twice (pos 0, 5)
      .toDF("doc_id", "text")
    val out = TextOps.phraseSearch(docs, Seq((1, "a b"), (2, "a b c")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1, 1L)) == 2L)
    assert(out((1, 3L)) == 2L)
    assert(!out.contains((1, 2L))) // non-adjacent terms never match
    assert(out((2, 1L)) == 1L)
    assert(out((2, 3L)) == 2L)
    assert(out.size == 4)
  }

  test("collocations: known PMI for an always-paired bigram") {
    // 10 docs, each "x y f f": c(x y)=10, c(x)=c(y)=10, c(f f)=10,
    // c(f)=20, N=40 tokens, Nb=30 bigram positions
    val docs = (0L until 10L).map(i => (i, "x y f f")).toDF("doc_id", "text")
    val out = TextOps.collocations(docs, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    def pmi(c12: Long, c1: Long, c2: Long): Double =
      BigDecimal(math.log(c12.toDouble * 40.0 * 40.0 / (30.0 * c1 * c2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("x", "y")) == pmi(10, 10, 10))
    assert(out(("y", "f")) == pmi(10, 10, 20))
    assert(out(("f", "f")) == pmi(10, 20, 20))
    assert(out.size == 3)
  }
}
