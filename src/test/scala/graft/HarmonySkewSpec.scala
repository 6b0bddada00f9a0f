package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew
import graft.pipeline.Harmony

class HarmonySkewSpec extends SparkSpec {
  import spark.implicits._

  test("harmony reduces the between-batch offset of matched clusters") {
    // two clusters at (0,0) and (10,10); batch b2 shifted by +2 in x
    val rnd = new scala.util.Random(7)
    val pts = for {
      c <- Seq(0.0, 10.0); b <- Seq("b1", "b2"); i <- 1 to 30
    } yield {
      val shift = if (b == "b2") 2.0 else 0.0
      (s"$c-$b-$i".hashCode.toLong & 0xffffff,
        Seq(c + shift + rnd.nextGaussian() * 0.1, c + rnd.nextGaussian() * 0.1), b)
    }
    val latent = pts.map(p => (p._1, p._2)).toDF("cell_id", "latent")
    val batches = pts.map(p => (p._1, p._3)).toDF("cell_id", "batch")

    def batchGap(df: org.apache.spark.sql.DataFrame): Double = {
      val m = df.join(batches, Seq("cell_id"))
        .select(col("batch"), element_at(col("latent"), 1).as("x"),
          (element_at(col("latent"), 2) > 5).cast("int").as("c"))
        .groupBy("batch", "c").agg(avg("x").as("mx"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      math.abs(m(("b1", 0)) - m(("b2", 0))) + math.abs(m(("b1", 1)) - m(("b2", 1)))
    }

    val before = batchGap(latent)
    val after = batchGap(Harmony.correct(latent, batches, k = 2, iters = 2))
    assert(before > 3.0, s"before=$before")
    assert(after < before / 2, s"after=$after before=$before")
  }

  test("saltedSumCount equals plain groupBy aggregation") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(df, "k", "v", nSalts = 4)
    assert(rows(plain.orderBy("k")) === rows(salted.orderBy("k")))
  }
}
