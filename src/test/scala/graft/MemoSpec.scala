package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.core.{Fingerprint, Lineage, Memo}

class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet
  private def frame(n: Int): DataFrame = (0L until n).toDF("id").localCheckpoint()
  private def frameMemo(capacity: Int) =
    new Memo[DataFrame]("test", capacity, Lineage.release)

  test("a repeated key returns the same value and counts one hit") {
    val memo = frameMemo(4)
    var builds = 0
    def get() = memo.cached("a") { builds += 1; frame(10) }
    val first = get()
    val second = get()
    assert(second eq first)
    assert(builds == 1)
    assert(memo.stats == ((1L, 1L, 0L)))
    memo.clear()
  }

  test("capacity eviction frees the least-recently-used frame") {
    val memo = frameMemo(2)
    val a = memo.cached("a")(frame(3))
    val b = memo.cached("b")(frame(4))
    memo.cached("a")(frame(3)) // touch a: b is now the eldest
    val c = memo.cached("c")(frame(5))
    assert(memo.stats._3 == 1L)
    assert(rddIds(b).intersect(persisted).isEmpty)
    assert(rddIds(a).subsetOf(persisted) && rddIds(c).subsetOf(persisted))
    memo.clear()
  }

  test("clear frees every frame it holds") {
    val memo = frameMemo(4)
    val held = Seq("a", "b", "c").map(k => memo.cached(k)(frame(6)))
    val ids = held.flatMap(rddIds).toSet
    assert(ids.nonEmpty && ids.subsetOf(persisted))
    memo.clear()
    assert(ids.intersect(persisted).isEmpty)
    assert(memo.stats._3 == 0L)
  }

  test("two threads building one key both get the winner; the loser is freed") {
    val memo = frameMemo(4)
    val inBuild = new CountDownLatch(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (0 until 2).map(_ => Future {
      memo.cached("k") {
        inBuild.countDown(); inBuild.await()
        val df = frame(8); built.add(df); df
      }
    })
    val got = futs.map(Await.result(_, Duration("60s")))
    assert(got(0) eq got(1))
    val losers = built.toArray(Array.empty[DataFrame]).filterNot(_ eq got(0))
    assert(built.size == 2 && losers.length == 1)
    assert(rddIds(got(0)).subsetOf(persisted))
    assert(rddIds(losers.head).intersect(persisted).isEmpty)
    assert(memo.stats == ((0L, 2L, 0L)))
    memo.clear()
  }

  test("Fingerprint.key ignores row order and is scoped to the session") {
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val (k1, r1) = Fingerprint.key(rows.toDF("id", "t"), "id, t", max(col("id")))
    val (k2, _) = Fingerprint.key(rows.reverse.toDF("id", "t").repartition(3), "id, t")
    assert(k1 == k2)
    assert(r1.getLong(0) == 3L && r1.getLong(1) == 3L)
    val (kOther, _) = Fingerprint.key(rows.take(2).toDF("id", "t"), "id, t")
    assert(kOther != k1)
    val other = spark.newSession()
    val (k3, _) = Fingerprint.key(other.createDataFrame(rows).toDF("id", "t"), "id, t")
    assert(k3 != k1)
    assert(k3.dropWhile(_ != ':') == k1.dropWhile(_ != ':'))
    val (kEmpty, _) = Fingerprint.key(rows.toDF("id", "t").filter(lit(false)), "id, t")
    assert(kEmpty.endsWith(":empty"))
  }
}
