package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.ops.{Joins, Windows}
import graft.stats.Pseudobulk

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("alignFeatures: hit gets target ordinal, miss gets -1") {
    val src = Seq(10L, 20L, 30L).toDF("id")
    val tgt = Seq(20L, 30L, 40L).toDF("id")
    val r = rows(Joins.alignFeatures(src, "id", tgt, "id").orderBy("id"))
    assert(r === Seq(Seq(10L, -1), Seq(20L, 0), Seq(30L, 1)))
  }

  test("overlapJoin matches strict interval overlap") {
    val a = Seq((1L, 0, 10), (2L, 20, 30)).toDF("id", "lo", "hi")
    val b = Seq((100L, 5, 25), (200L, 40, 50)).toDF("bin", "b_lo", "b_hi")
    val r = rows(Joins.overlapJoin(a, b).select("id", "bin").orderBy("id"))
    assert(r === Seq(Seq(1L, 100L), Seq(2L, 100L)))
  }

  test("unionDedup keeps lowest source per key") {
    val r = rows(Joins.unionDedup(Seq(1L, 2L).toDF("k"), Seq(2L, 3L).toDF("k"), "k")
      .orderBy("k"))
    assert(r === Seq(Seq(1L, 1), Seq(2L, 1), Seq(3L, 2)))
  }

  test("ranks: dense and average with ties") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0)).toDF("grp", "v")
    val r = rows(Windows.ranks(df, "grp", "v").select("v", "drank", "arank").orderBy("v", "drank"))
    assert(r === Seq(Seq(1.0, 1, 1.0), Seq(2.0, 2, 2.5), Seq(2.0, 2, 2.5), Seq(3.0, 3, 4.0)))
  }

  test("winsorize clips to the exact percentile band") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = Windows.winsorize(df, "v", 0.05, 0.95)
      .agg(min("clipped"), max("clipped")).head()
    assert(approx(r.getDouble(0), 1 + 0.05 * 99))
    assert(approx(r.getDouble(1), 1 + 0.95 * 99))
  }

  test("rollingMean window frame is centered") {
    val df = Seq(("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, 6.0)).toDF("grp", "i", "v")
    val r = Windows.rollingMean(df, "grp", Seq(col("i")), "v", 1)
      .orderBy("i").select("rolling_mean").as[Double].collect()
    assert(r.toSeq === Seq(1.5, 3.0, 4.0))
  }

  test("smartLabel picks majority with lexicographic tie-break") {
    val df = Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "q"), ("y", "p")).toDF("a", "b")
    val r = rows(Pseudobulk.smartLabel(df, "a", "b").select("a", "label").orderBy("a"))
    assert(r === Seq(Seq("x", "p"), Seq("y", "p"))) // y ties -> lexicographic p
  }

  test("ariNmi: identical labelings give ARI = NMI = 1") {
    val df = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"), ("c", "z"))
      .toDF("l1", "l2")
    val r = Pseudobulk.ariNmi(df, "l1", "l2").head()
    assert(approx(r.getDouble(0), 1.0))
    assert(approx(r.getDouble(1), 1.0))
  }

  test("snn counts shared neighbors symmetrically (i < j)") {
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("src", "dst")
    val r = rows(GraphOps.snn(e, 1).orderBy("i", "j"))
    assert(r === Seq(Seq(1L, 2L, 2L), Seq(1L, 3L, 1L), Seq(2L, 3L, 1L)))
  }

  test("diffuse: one step of D^-1 A x on a row-normalized graph") {
    // 1 -> 2 (w 1), 1 -> 3 (w 3); x(2)=4, x(3)=8 => x'(1) = (1*4 + 3*8)/4 = 7
    val e = Seq((1L, 2L, 1.0), (1L, 3L, 3.0)).toDF("src", "dst", "weight")
    val x = Seq((2L, 4.0), (3L, 8.0)).toDF("cell_id", "x")
    val r = GraphOps.diffuse(e, x).select("x").as[Double].head()
    assert(approx(r, 7.0))
  }

  test("labelTransfer assigns above threshold, NA below") {
    val hits = Seq(
      (1L, 10L, 0.1), (1L, 11L, 0.2), (1L, 12L, 0.9),  // strong 'a' majority
      (2L, 10L, 0.5), (2L, 13L, 0.5), (2L, 14L, 0.5)   // even 3-way split
    ).toDF("target_id", "ref_id", "dist")
    val labels = Seq((10L, "a"), (11L, "a"), (12L, "b"), (13L, "b"), (14L, "c"))
      .toDF("ref_id", "label")
    val r = rows(GraphOps.labelTransfer(hits, labels, 0.5)
      .select("target_id", "assigned").orderBy("target_id"))
    assert(r === Seq(Seq(1L, "a"), Seq(2L, "NA")))
  }

  test("symmetrize unions swapped edges keeping max weight") {
    val e = Seq((1L, 2L, 0.5), (2L, 1L, 0.9)).toDF("src", "dst", "weight")
    val r = rows(GraphOps.symmetrize(e).orderBy("src"))
    assert(r === Seq(Seq(1L, 2L, 0.9), Seq(2L, 1L, 0.9)))
  }

  test("distributed louvain separates two weakly-linked cliques") {
    val edges = Seq(
      (1L, 2L, 5.0), (2L, 3L, 5.0), (1L, 3L, 5.0),
      (4L, 5L, 5.0), (5L, 6L, 5.0), (4L, 6L, 5.0),
      (3L, 4L, 0.1)).toDF("src", "dst", "weight")
    val c = graft.graph.DistributedLouvain.cluster(edges, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(1L) === c(2L) && c(2L) === c(3L))
    assert(c(4L) === c(5L) && c(5L) === c(6L))
    assert(c(1L) !== c(4L))
    // deterministic
    val c2 = graft.graph.DistributedLouvain.cluster(edges, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === c2)
  }

  test("distributed louvain on an all-zero-weight graph keeps every node apart") {
    // m2 = 0 would make every gain NaN; the defined output is one
    // cluster per node, dense by node id
    val edges = Seq((3L, 1L, 0.0), (1L, 2L, 0.0), (5L, 4L, 0.0), (2L, 3L, 0.0))
      .toDF("src", "dst", "weight")
    val c = graft.graph.DistributedLouvain.cluster(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === (1L to 5L).map(n => n -> n).toMap)
  }
}
