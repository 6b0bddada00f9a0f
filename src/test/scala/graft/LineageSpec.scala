package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
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

  test("sizeInBytes stays at the engine default over 20 self-referencing rounds") {
    val (x, _) = Lineage.iterate(nodes(50), 20)((x, _) => selfJoin(x))((_, _) => false)
    assert(x.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 64)
    assert(x.count() == 50)
    Lineage.release(x)
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
}
