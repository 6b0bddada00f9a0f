package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.pipeline.{Knn, TsneLayout, UmapLayout}
import graft.streaming.Streaming

/** The graph-affinity t-SNE kernel — against a dense textbook
  * reference, its size guard — and the streaming dedup twin. */
class TsneStreamSpec extends SparkSpec {

  /** Two tight 6-d latent clusters of `half` cells each → exact self-KNN
    * → smoothed graph, the input makeGraph hands runTsne. */
  private def twoClusterGraph(half: Int, k: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(2)
    val latent = (0 until 2 * half).map { i =>
      (i.toLong, Array.tabulate(6)(_ => (i / half) * 8.0 + rnd.nextDouble() * 0.2))
    }.toDF("cell_id", "latent")
    val edges = Knn.smoothEdges(Knn.exactSelfKnn(latent, k))
    (edges, latent.select("cell_id"))
  }

  test("tsne separates two tight latent clusters") {
    val (edges, nodes) = twoClusterGraph(10, 4)
    val out = TsneLayout.layout(edges, UmapLayout.randomInit(nodes), nIter = 250)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val intra = (for (i <- 0 until 10; j <- i + 1 until 10)
      yield dist(out(i.toLong), out(j.toLong))).max
    val inter = (for (i <- 0 until 10; j <- 10 until 20)
      yield dist(out(i.toLong), out(j.toLong))).min
    assert(intra < inter, s"clusters not separated: intra $intra vs inter $inter")
    out.values.foreach { case (a, b) => assert(!a.isNaN && !b.isNaN) }
  }

  test("tsne is deterministic for a fixed seed") {
    val (edges, nodes) = twoClusterGraph(4, 3)
    def run() = TsneLayout.layout(edges, UmapLayout.randomInit(nodes, seed = 7L),
        nIter = 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("the sparse kernel matches a dense textbook t-SNE to 1e-9 over 5 iterations") {
    import spark.implicits._
    val (edges, nodes) = twoClusterGraph(30, 5)
    val init = UmapLayout.randomInit(nodes)
    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)].collect()
    val xy = init.select("cell_id", "x", "y").as[(Long, Double, Double)].collect()
      .sortBy(_._1)
    assert(xy.length == 60)
    for (nIter <- Seq(1, 2, 5)) {
      val got = TsneLayout.layout(edges, init, nIter = nIter).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val want = TsneStreamSpec.denseTsne(es, xy, nIter)
      val err = want.map { case (id, (a, b)) =>
        math.max(math.abs(got(id)._1 - a), math.abs(got(id)._2 - b)) }.max
      assert(err < 1e-9, s"nIter $nIter: max |sparse − dense| = $err")
    }
  }

  test("the kernel refuses 100k nodes before descent, naming runUmap") {
    import spark.implicits._
    val init = spark.range(100000L)
      .select($"id".as("cell_id"), ($"id" % 7).cast("double").as("x"),
        ($"id" % 5).cast("double").as("y"))
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0))
      .toDF("src", "dst", "weight")
    val e = intercept[IllegalArgumentException](
      TsneLayout.layout(edges, init, nIter = 1))
    assert(e.getMessage.contains("O(n²)") && e.getMessage.contains("runUmap"),
      e.getMessage)
  }

  test("streaming dedup keeps the first occurrence of each digest") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Streaming.Doc]
    val q = Streaming.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    input.addData(
      Streaming.Doc(1L, ts(0), "alpha"),
      Streaming.Doc(2L, ts(1), "beta"),
      Streaming.Doc(3L, ts(2), "alpha")) // dup of doc 1
    q.processAllAvailable()
    input.addData(
      Streaming.Doc(4L, ts(3), "beta"),  // dup of doc 2, later batch
      Streaming.Doc(5L, ts(4), "gamma"))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM dedup_out").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(got == Set(1L, 2L, 5L), s"got $got")
  }
}

object TsneStreamSpec {

  /** Textbook t-SNE (van der Maaten 2008) over a graph affinity: dense
    * P (symmetrized, mass-normalized edge weights), a dense Student-t Q
    * every iteration, the full gradient before any point moves, and the
    * kernel's n/12 step, exaggeration / momentum / gains schedule and
    * std-1e-4 init rescale. O(n²) memory — the test-scale oracle for
    * TsneLayout. */
  def denseTsne(edges: Seq[(Long, Long, Double)], init: Seq[(Long, Double, Double)],
                nIter: Int): Map[Long, (Double, Double)] = {
    val n = init.length
    val learningRate = n / 12.0
    val idx = init.map(_._1).zipWithIndex.toMap
    val p = Array.ofDim[Double](n, n)
    edges.foreach { case (s, d, w) =>
      if (s != d) { p(idx(s))(idx(d)) += w; p(idx(d))(idx(s)) += w }
    }
    val tot = p.map(_.sum).sum
    for (i <- 0 until n; j <- 0 until n) p(i)(j) /= tot
    val mx = init.map(_._2).sum / n
    val my = init.map(_._3).sum / n
    val sd = math.sqrt(init.map(r =>
      (r._2 - mx) * (r._2 - mx) + (r._3 - my) * (r._3 - my)).sum / (2 * n))
    val y = init.map(r => Array((r._2 - mx) * 1e-4 / sd, (r._3 - my) * 1e-4 / sd)).toArray
    val dy = Array.fill(n, 2)(0.0)
    val gains = Array.fill(n, 2)(1.0)
    for (iter <- 0 until nIter) {
      val exag = if (iter < 100) 12.0 else 1.0
      val momentum = if (iter < 250) 0.5 else 0.8
      val w = Array.tabulate(n, n) { (i, j) =>
        if (i == j) 0.0
        else 1.0 / (1.0 + math.pow(y(i)(0) - y(j)(0), 2) + math.pow(y(i)(1) - y(j)(1), 2))
      }
      val z = w.map(_.sum).sum
      val grad = Array.tabulate(n, 2) { (i, k) =>
        4 * (0 until n).map(j => (exag * p(i)(j) - w(i)(j) / z) * w(i)(j) *
          (y(i)(k) - y(j)(k))).sum
      }
      for (i <- 0 until n; k <- 0 until 2) {
        val g = grad(i)(k)
        gains(i)(k) = math.max(0.01,
          if (math.signum(g) != math.signum(dy(i)(k))) gains(i)(k) + 0.2
          else gains(i)(k) * 0.8)
        dy(i)(k) = momentum * dy(i)(k) - learningRate * gains(i)(k) * g
        y(i)(k) += dy(i)(k)
      }
    }
    init.indices.map(i => init(i)._1 -> (y(i)(0), y(i)(1))).toMap
  }
}
