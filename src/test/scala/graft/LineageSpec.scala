package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.core.Lineage

class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
  private def cached: Set[Int] =
    sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet

  /** Spark's size formula for `rows` rows of `df`'s output. */
  private def measured(df: DataFrame, rows: Long): BigInt =
    EstimationUtils.getOutputSize(df.queryExecution.analyzed.output, BigInt(rows))

  /** Every operator of a physical plan, through adaptive wrappers. */
  private def ops(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
    case _ => p +: p.children.flatMap(ops)
  }

  private def nodes(n: Int): DataFrame =
    (0L until n).toDF("node").select(col("node"), (col("node") % 7).as("v"))

  // x ← x ⋈ x: every round reads its previous state twice
  private def selfJoin(x: DataFrame): DataFrame =
    x.join(x.select(col("node"), col("v").as("v2")), Seq("node"))
      .select(col("node"), ((col("v") + col("v2")) % 1000).as("v"))

  test("release frees the blocks of a reset frame") {
    val before = persisted
    val df = Lineage.reset(nodes(200))
    val created = persisted -- before
    assert(created.nonEmpty)
    assert(created.subsetOf(cached))
    Lineage.release(df)
    assert((persisted intersect created).isEmpty)
    assert((cached intersect created).isEmpty)
  }

  test("sizeInBytes stays at the measured size over 20 self-referencing rounds") {
    val (x, _) = Lineage.iterate(nodes(50), 20)((x, _) => selfJoin(x))((_, _) => false)
    assert(x.queryExecution.optimizedPlan.stats.sizeInBytes == measured(x, 50))
    assert(x.count() == 50)
    Lineage.release(x)
  }

  test("a reset frame carries its measured row count and size") {
    val df = Lineage.reset(nodes(321).filter(col("v") =!= 2))
    val stats = df.queryExecution.optimizedPlan.stats
    val n = df.count()
    assert(stats.rowCount.contains(BigInt(n)))
    assert(stats.sizeInBytes == measured(df, n))
    Lineage.release(df)
  }

  test("an empty reset frame is sized at 1 byte and still joins") {
    val empty = Lineage.reset(nodes(10).filter(col("v") > 100))
    val stats = empty.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(0)))
    assert(stats.sizeInBytes == 1)
    assert(nodes(10).join(empty, Seq("node")).count() == 0)
    assert(nodes(10).join(empty, Seq("node"), "left").count() == 10)
    Lineage.release(empty)
  }

  test("a small reset frame is the broadcast side of a join with a larger one") {
    val small = Lineage.reset(nodes(20))
    val big = nodes(200000)
    val j = big.join(small.withColumnRenamed("v", "w"), Seq("node"))
    val plan = j.queryExecution.executedPlan
    val bhj = ops(plan).collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size == 1, plan.toString)
    assert(bhj.head.buildSide == BuildRight)
    assert(ops(bhj.head.left).forall(!_.isInstanceOf[ShuffleExchangeExec]), plan.toString)
    assert(j.count() == 20)
    Lineage.release(small)
  }

  test("a reset frame's size counts every array element") {
    // 40k × 50 doubles: about 16 MB of elements, 960 kB by Spark's formula
    val vecs = Lineage.reset(spark.range(40000).select(col("id").as("node"),
      array_repeat(col("id").cast("double"), 50).as("vec")))
    assert(vecs.queryExecution.optimizedPlan.stats.sizeInBytes >= 16000000)
    val big = spark.range(200000).select(col("id").as("node"), (col("id") % 7).as("v"))
    val j = big.join(vecs, Seq("node"))
    val plan = j.queryExecution.executedPlan
    val bhj = ops(plan).collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.forall(_.buildSide != BuildRight), plan.toString)
    assert(j.count() == 40000)
    Lineage.release(vecs)
  }

  test("a null array, or no row, adds no array elements to a reset frame's size") {
    val df = nodes(100).select(col("node"),
      when(col("v") === 0, lit(null)).otherwise(array_repeat(col("v"), 3)).as("a"))
    val out = Lineage.reset(df)
    val nulls = df.filter(col("a").isNull).count()
    assert(nulls > 0)
    val elems = 3 * (100 - nulls)
    assert(out.queryExecution.optimizedPlan.stats.sizeInBytes ==
      measured(out, 100) + (elems - 100) * 8)
    val empty = Lineage.reset(df.filter(col("node") < 0))
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 1)
    Seq(out, empty).foreach(Lineage.release)
  }

  test("iterate keeps only the final state cached") {
    val held = Lineage.reset(nodes(30))
    val before = cached
    val (x, stopped) = Lineage.iterate(nodes(100), 5)((x, _) => selfJoin(x))((_, _) => false)
    assert(!stopped)
    assert(rddIds(x).nonEmpty)
    assert(cached -- before == rddIds(x))
    assert(rddIds(held).subsetOf(cached))
    Seq(x, held).foreach(Lineage.release)
  }

  test("iterate never frees the caller's checkpoint behind its init") {
    val s = Lineage.reset(nodes(40))
    val (x, _) = Lineage.iterate(s.select(col("node"), (col("v") + 1).as("v")), 3) {
      (x, _) => selfJoin(x)
    }((_, _) => false)
    assert(rddIds(s).subsetOf(persisted))
    assert(s.collect().length == 40)
    Seq(x, s).foreach(Lineage.release)
  }

  test("reset observes its metrics on the materializing pass") {
    val df = nodes(123).filter(col("v") =!= 3)
    val (out, m) = Lineage.reset(df, count(lit(1)).as("n"), sum("v").as("s"))
    assert(m.getLong(0) == df.count())
    assert(m.getLong(1) == df.agg(sum("v")).head().getLong(0))
    assert(out.count() == m.getLong(0))
    Lineage.release(out)
  }

  test("the metrics row holds the caller's metrics only, in order") {
    val df = nodes(90)
    val (out, m) = Lineage.reset(df, sum("v").as("s"), max("node").as("hi"))
    assert(m.length == 2)
    assert(m.schema.fieldNames.toSeq == Seq("s", "hi"))
    assert(m.getLong(0) == df.agg(sum("v")).head().getLong(0))
    assert(m.getLong(1) == 89L)
    val (none, empty) = Lineage.reset(df, Nil: _*)
    assert(empty.length == 0)
    // a loop's stop test reads the first metric, as Louvain's and CC's do
    var seen = Seq.empty[Long]
    val (x, stopped) = Lineage.iterate(df, 5, sum("v").as("s")) {
      (x, _) => x.select(col("node"), (col("v") * 0).as("v"))
    } { (_, cur) => seen :+= cur.getLong(0); cur.getLong(0) == 0 }
    assert(stopped && seen == Seq(0L))
    Seq(out, none, x).foreach(Lineage.release)
  }
}
