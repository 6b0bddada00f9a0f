package graft

import org.apache.spark.sql.functions._
import graft.analytics.Analytics

/** Specs for the event-analytics surface added in round 6 (q107–q109):
  * sessionization boundary semantics, transition-matrix row-stochastic
  * property, and rate-anomaly z-scores against hand-computed values.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("sessionize: gap strictly-greater starts a session; ties ordered by id") {
    // user 1: gaps 10 (<=10 keeps), 11 (>10 splits), 0-tie; user 2: single
    val ev = Seq(
      (1L, 100L, 1L), (1L, 110L, 2L), (1L, 121L, 3L), (1L, 121L, 4L),
      (2L, 500L, 5L))
      .toDF("user_id", "ts_us", "event_id")
    val out = Analytics.sessionize(ev, gapUs = 10L)
      .orderBy("user_id", "session_seq")
      .select("user_id", "session_seq", "n_events", "start_us", "end_us", "duration_us")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 2L, 100L, 110L, 10L),   // gap exactly 10 does NOT split
      (1L, 2L, 2L, 121L, 121L, 0L),    // gap 11 splits; tie pair coalesces
      (2L, 1L, 1L, 500L, 500L, 0L)))
  }

  test("transitions: counts follow per-user order and rows sum to 1") {
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (2L, 1L, "a"), (2L, 2L, "b"))
      .toDF("user_id", "ts_us", "event_id_raw")
      .withColumn("event_id", col("ts_us"))
      .withColumn("event_type", col("event_id_raw"))
    val out = Analytics.transitions(ev)
      .select("from_type", "to_type", "n", "prob")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out(("a", "b")) == ((2L, 1.0)))  // a->b twice (both users)
    assert(out(("b", "a")) == ((1L, 1.0)))  // b->a once (user 1)
    // row-stochastic: per from_type the probs sum to ~1
    val sums = out.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    sums.foreach { case (_, s) => assert(approx(s, 1.0)) }
  }

  test("histQuantiles: estimate is the bin upper edge; merge of shards == whole") {
    import graft.stats.Sketches
    // 100 values 0.5..99.5 => p50 rank 50 -> value 49.5 in bin 24 -> edge 50.0
    val vals = (0 until 100).map(i => ("g", i + 0.5))
    val whole = vals.toDF("grp", "v")
    val est = Sketches.histQuantiles(whole, "grp", "v")
      .select("n", "p50", "p95", "p99").as[(Long, Double, Double, Double)]
      .collect().head
    assert(est == ((100L, 50.0, 96.0, 100.0)))
    // mergeability: sketching the union == sketching shards and summing
    // counters; with the same bins this reduces to the union result, so
    // shard-order/partitioning must not matter
    val shuffled = scala.util.Random.shuffle(vals).toDF("grp", "v").repartition(7)
    val est2 = Sketches.histQuantiles(shuffled, "grp", "v")
      .select("n", "p50", "p95", "p99").as[(Long, Double, Double, Double)]
      .collect().head
    assert(est2 == est)
    // clamp: values past the last edge land in the top bin
    val hi = Seq(("g", 1e9)).toDF("grp", "v")
    assert(Sketches.histQuantiles(hi, "grp", "v")
      .select("p50").as[Double].collect().head == 512.0)
  }

  test("latestState: newest wins; equal-ts tie goes to the larger event id") {
    val ev = Seq(
      (1L, 100L, 1L, "view", 1.0), (2L, 200L, 1L, "view", 2.0), // newer wins
      (3L, 300L, 1L, "click", 3.0), (4L, 300L, 1L, "click", 4.0), // tie: id 4
      (5L, 50L, 2L, "view", 5.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val out = graft.analytics.Analytics.latestState(ev)
      .select("user_id", "event_type", "last_value", "last_event_id")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(out == Set((1L, "view", 2.0, 2L), (1L, "click", 4.0, 4L),
      (2L, "view", 5.0, 5L)))
  }

  test("keySkew: the topKPerGroup top-k equals the naive ranking; shares sum right") {
    val ev = (1 to 100).flatMap(i =>
      Seq.fill(if (i == 7) 50 else if (i == 13) 20 else 1)(
        (i.toLong, "e"))).toDF("user_id", "event_type")
    val out = graft.analytics.Analytics.keySkew(ev, "user_id", 3)
      .select("rank", "user_id", "n", "share", "n_keys")
      .as[(Int, Long, Long, Double, Long)].collect().sortBy(_._1)
    val total = 100 - 2 + 50 + 20
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1, 7L, 50L), (2, 13L, 20L), (3, 1L, 1L)))
    assert(out.head._4 == math.rint(50.0 / total * 1e6) / 1e6 || out.head._4 == 50.0 / total)
    assert(out.forall(_._5 == 100L))
  }

  test("saltedJoin: identical result to the plain join, every row exactly once") {
    import graft.ops.Joins
    // hot key 1 dominates the big side
    val big = ((1 to 50).map(_ => (1L, "hot")) ++ Seq((2L, "a"), (3L, "b")))
      .zipWithIndex.map { case ((k, v), i) => (k, v + i.toString) }
      .toDF("k", "payload")
    val small = Seq((1L, "dim1"), (2L, "dim2"), (4L, "dim4")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
      .collect().map(_.toSeq).sorted(Ordering.by((s: Seq[Any]) => s.toString))
    val salted = Joins.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "dim")
      .collect().map(_.toSeq).sorted(Ordering.by((s: Seq[Any]) => s.toString))
    assert(salted.toSeq == plain.toSeq)
  }

  test("saltedJoin: identical duplicate rows of one hot key reach every salt") {
    import graft.ops.Joins
    // no broadcast, no AQE: the join hash-partitions on (k, _salt), so a
    // row lands in its salt's partition and the partitions the result
    // occupies name the salts the big side carried
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    import s.implicits._
    val salts = 16
    val big = Seq.fill(1000)((1L, "dup")).toDF("k", "payload")
    val small = Seq((1L, "dim1")).toDF("k", "dim")
    val joined = Joins.saltedJoin(big, small, "k", salts)
    val reached = joined.select(spark_partition_id()).distinct().as[Int].collect().toSet
    val everySalt = s.range(salts).select(pmod(hash(lit(1L), col("id")), lit(64)))
      .as[Int].collect().toSet
    assert(reached == everySalt, s"reached ${reached.size} of ${everySalt.size} salt partitions")
    assert(joined.count() == 1000)
  }

  test("latestStateStream: upsert view converges to the batch answer across batches") {
    import graft.streaming.Streaming
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streaming.Event]
    val q = Streaming.latestStateStream(input.toDS())
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("update").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    input.addData(Streaming.Event(1L, ts(0), 1L, "view", 1.0),
      Streaming.Event(2L, ts(5), 1L, "view", 2.0))
    q.processAllAvailable()
    // batch 2: newer row for user 1 + an older (in-watermark) row that
    // must NOT win + a new key
    input.addData(Streaming.Event(3L, ts(9), 1L, "view", 3.0),
      Streaming.Event(4L, ts(1), 1L, "view", 9.9),
      Streaming.Event(5L, ts(2), 2L, "view", 5.0))
    q.processAllAvailable()
    val last = spark.sql(
      """SELECT user_id, last_value, last_event_id FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             ORDER BY last_ts DESC, last_event_id DESC) AS rn FROM latest_out)
         WHERE rn = 1""")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    q.stop()
    assert(last == Set((1L, 3.0, 3L), (2L, 5.0, 5L)))
  }

  test("hllDistinct: duplicate-invariant, exact small counts via linear counting") {
    import graft.stats.Sketches
    val once = (0 until 30).map(i => ("g", i)).toDF("grp", "k")
    val dup = (0 until 30).flatMap(i => Seq(("g", i), ("g", i), ("g", i)))
      .toDF("grp", "k")
    val a = Sketches.hllDistinct(once, "grp", "k").collect().head
    val b = Sketches.hllDistinct(dup, "grp", "k").collect().head
    // duplicates never move a register: identical sketch state + estimate
    assert(a.getLong(2) == b.getLong(2) && a.getDouble(3) == b.getDouble(3))
    assert(a.getLong(1) == 30L)
    assert(math.abs(a.getDouble(3) - 30.0) / 30.0 < 0.4)
  }

  test("hllDistinct: estimate within HLL error bounds at 20k distinct") {
    import graft.stats.Sketches
    val big = (0 until 20000).map(i => ("g", i * 131)).toDF("grp", "k")
    val out = Sketches.hllDistinct(big, "grp", "k").collect().head
    assert(out.getLong(1) == 20000L)
    // m=64 → σ ≈ 1.04/√64 = 13 %; allow 3σ
    assert(math.abs(out.getDouble(3) - 20000.0) / 20000.0 < 0.39,
      s"HLL estimate ${out.getDouble(3)}")
  }

  test("rateAnomaly: zero-filled span, exact z, threshold cut") {
    // user 1 active days {0, 2}: counts [4, 0, 1] after zero-fill
    //   mean 5/3, var (17 - 25/3)/3 = 26/9, sd = sqrt(26)/3
    //   z(day0) = (4 - 5/3)/(sqrt(26)/3) = 7/sqrt(26) ≈ 1.3728
    // user 2 uniform: variance 0 → dropped entirely
    val day = 86400000000L
    val ev = (Seq.fill(4)((1L, 0L)) ++ Seq((1L, 2L)) ++
      Seq((2L, 0L), (2L, 1L)))
      .zipWithIndex
      .map { case ((u, d), i) => (u, d * day + i, i.toLong) }
      .toDF("user_id", "ts_us", "event_id")
    val all = Analytics.rateAnomaly(ev, day, threshold = 0.0)
      .select("user_id", "p", "c", "z")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(all.forall(_._1 == 1L))         // user 2 has zero variance
    assert(all.map(_._3) == Seq(4L, 0L, 1L))
    assert(approx(all.head._4, 7.0 / math.sqrt(26.0), 1e-4))
    // threshold excludes everything below it
    val cut = Analytics.rateAnomaly(ev, day, threshold = 1.3)
      .select("p").as[Long].collect().toSeq
    assert(cut == Seq(0L))
  }

  test("scd2: intervals chain per key; only the last row is current") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 7L, "state", 1.0), (2L, 20L, 7L, "state", 2.0),
      (3L, 20L, 7L, "state", 3.0),  // equal-ts change: zero-length interval
      (4L, 5L, 8L, "state", 9.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val out = graft.analytics.Analytics.scd2(ev)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("valid_from_us"), Option(r.getAs[Any]("valid_to_us")),
          r.getAs[Boolean]("is_current")))).toMap
    assert(out(1L) == ((10L, Some(20L), false)))
    assert(out(2L) == ((20L, Some(20L), false))) // zero-length, preserved
    assert(out(3L) == ((20L, None, true)))
    assert(out(4L) == ((5L, None, true)))        // other key independent
  }
}
