package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the r14 kernel rewrites to the exact formulations they replaced:
  *
  *  - QuantSqDiffSum vs the interpreted
  *    `aggregate(zip_with((fix(x)−fix(y))²))` fixed-point fold (including
  *    .5 rounding knife edges, where HALF_UP vs HALF_EVEN would diverge);
  *  - TopKMin vs the `groupBy(src, dst).min(dist)` dedup + per-src
  *    row_number window chain, on candidate streams WITH cross-round
  *    duplicates and rounded-distance ties;
  *  - Windows.topKPerGroup vs a driver-side sort, plus the plan shape it
  *    relies on to bound a hot group (a map-side pre-cut before the
  *    shuffle).
  */
class KernelEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("QuantSqDiffSum matches the fixed-point HOF fold bit-for-bit") {
    val rnd = new scala.util.Random(4466)
    val dims = 7
    val base = (1 to 300).map { i =>
      (i.toLong,
        Seq.fill(dims)(rnd.nextDouble() * 4 - 2),
        Seq.fill(dims)(rnd.nextDouble() * 4 - 2))
    }
    // knife edges: components whose ×1e6 lands exactly on .5, both signs
    // (HALF_UP rounds 2.5→3 and −2.5→−3; HALF_EVEN would give 2/−2)
    val edges = Seq(
      (1001L, Seq(0.0000025, -0.0000025, 1.0000005, 0.5, -0.5, 0.0, 2.0),
        Seq(0.0000015, 0.0000035, -1.0000015, 0.25, 0.75, 0.0, -2.0)),
      (1002L, Seq.fill(dims)(0.0000005), Seq.fill(dims)(-0.0000005)))
    val df = (base ++ edges).toDF("id", "a", "b")
    def fix(c: org.apache.spark.sql.Column) = round(c * lit(1e6)).cast("long")
    val out = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => (fix(x) - fix(y)) * (fix(x) - fix(y))),
        lit(0L), (acc, x) => acc + x).as("fold"),
      graft.functions.QuantSqDiffSum.column(col("a"), col("b"), 1e6)
        .as("kernel"))
    assert(out.filter(col("fold") =!= col("kernel")).count() === 0)
    // and through an aggregation (codegen'd path), like the ADC sum uses
    val sums = out.agg(sum("fold").as("f"), sum("kernel").as("k")).head
    assert(sums.getLong(0) === sums.getLong(1))
  }

  test("TopKMin reproduces the dedup-groupBy + row_number window top-k") {
    val rnd = new scala.util.Random(77)
    // candidate stream with duplicates (same (src, dst) repeated with the
    // SAME dist — the multi-round LSH shape) and forced rounded ties
    val cand0 = for {
      src <- 1L to 40L
      dst <- 1L to 30L
      if rnd.nextDouble() < 0.7
    } yield (src, dst + 100L,
      // coarse grid ⇒ many exact ties at 6dp, exercising the dst tie-break
      math.floor(rnd.nextDouble() * 20) / 10.0 + src * 1e-9)
    val dups = cand0.filter(_ => rnd.nextBoolean())
    val cand = (cand0 ++ dups ++ dups).toDF("src", "dst", "dist")
    val k = 5
    val ref = cand.groupBy("src", "dst").agg(min(col("dist")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(round(col("dist"), 6), col("dst"))))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), round(col("dist"), 6).as("dist"), col("rn"))
    val got = cand.groupBy("src")
      .agg(graft.functions.TopKMin.column(
        struct(round(col("dist"), 6).as("dist"), col("dst").as("dst")), k).as("_tk"))
      .select(col("src"), posexplode(col("_tk")).as(Seq("_p", "_e")))
      .select(col("src"), col("_e.dst").as("dst"), col("_e.dist").as("dist"),
        (col("_p") + 1).as("rn"))
    assert(ref.count() > 0)
    assert(ref.unionByName(got).distinct().count() === ref.count(),
      "TopKMin rows differ from the window formulation")
    assert(got.count() === ref.count())
  }

  test("TopKMin survives partial-aggregation merges across many partitions") {
    val n = 5000
    val df = spark.range(n)
      .select((col("id") % 7).as("src"), col("id").as("dst"),
        (col("id") % 997).cast("double").as("dist"))
      .repartition(16)
    val k = 3
    val ref = df
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(col("dist"), col("dst"))))
      .filter(col("rn") <= k)
      .select("src", "dst", "dist", "rn")
    val got = df.groupBy("src")
      .agg(graft.functions.TopKMin.column(
        struct(col("dist").as("dist"), col("dst").as("dst")), k).as("_tk"))
      .select(col("src"), posexplode(col("_tk")).as(Seq("_p", "_e")))
      .select(col("src"), col("_e.dst").as("dst"), col("_e.dist").as("dist"),
        (col("_p") + 1).as("rn"))
    assert(got.count() === 7L * k)
    assert(ref.unionByName(got).distinct().count() === ref.count())
  }

  // 4 partitions of (g1, g2, score, id): scores on a coarse grid, so
  // many rows tie on score and only the id decides the cut
  private def scored = spark.range(600).repartition(4)
    .select(concat(lit("g"), (col("id") % 3).cast("string")).as("g1"),
      (col("id") % 4).cast("int").as("g2"),
      (pmod(col("id") * 37, lit(11)) / 2).cast("int").as("score"),
      col("id"))
    .union(Seq(("solo", 9, 5, 9999L)).toDF("g1", "g2", "score", "id"))

  private val byScore = Seq(col("score").desc, col("id"))

  /** (g1, g2, id, rn) of the reference cut: sort each group on the driver. */
  private def driverTopK(groups: Seq[String], k: Int): Set[(String, Int, Long, Int)] =
    scored.collect().toSeq
      .groupBy(r => groups.map(g => r.getAs[Any](g)))
      .values.flatMap(_.sortBy(r => (-r.getInt(2), r.getLong(3))).take(k)
        .zipWithIndex.map { case (r, i) =>
          (r.getString(0), r.getInt(1), r.getLong(3), i + 1) })
      .toSet

  test("topKPerGroup equals a driver-side sort: ties at k, 0-2 groups, k past a group, k = 0") {
    def got(groups: Seq[String], k: Int) =
      graft.ops.Windows.topKPerGroup(scored, groups, k, byScore)
        .select("g1", "g2", "id", "rn").as[(String, Int, Long, Int)]
        .collect().toSet
    // (groups, k, expected row count): 3 g1 groups + "solo";
    // 12 (g1, g2) groups + "solo"; one global cut
    for ((groups, k, n) <- Seq((Seq("g1"), 7, 22), (Seq("g1", "g2"), 4, 49),
                               (Nil, 9, 9), (Seq("g1", "g2"), 60, 601),
                               (Seq("g1"), 0, 0))) {
      val want = driverTopK(groups, k)
      assert(want.size == n, s"reference size for $groups, k=$k")
      assert(got(groups, k) == want, s"groups=$groups k=$k")
    }
    // the boundary really is a tie: rows 7 and 8 of some g1 group share
    // their score, so the id tie-break decides which one is kept
    val ranked = scored.collect().toSeq.groupBy(_.getString(0)).values
      .map(_.map(_.getInt(2)).sorted(Ordering[Int].reverse))
    assert(ranked.exists(s => s.size > 7 && s(6) == s(7)))
  }

  test("topKPerGroup plans a map-side WindowGroupLimit, and TakeOrderedAndProject without groups") {
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def executed(groups: Seq[String], k: Int): Seq[SparkPlan] = {
      val df = graft.ops.Windows.topKPerGroup(scored, groups, k, byScore)
      df.collect()
      nodes(df.queryExecution.executedPlan)
    }
    // partitioned: a Partial pre-cut at k sits on the exchange's map side
    val partitioned = executed(Seq("g1", "g2"), 4)
    val preCut = partitioned.collect { case x: ShuffleExchangeExec => nodes(x) }
      .flatten.collect { case w: WindowGroupLimitExec if w.mode == Partial => w.limit }
    assert(preCut == Seq(4), partitioned.map(_.nodeName).mkString(" > "))
    // global: a per-partition take-ordered merge, no full shuffle of the rows
    val global = executed(Nil, 9)
    assert(global.collect { case t: TakeOrderedAndProjectExec => t.limit } == Seq(9),
      global.map(_.nodeName).mkString(" > "))
  }
}
