package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps

class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different content about spark engines here")
  ).toDF("doc_id", "text")

  test("exactDupGroups groups identical texts, keeps min id") {
    val g = Dedup.exactDupGroups(docs).filter($"n_docs" > 1)
    assert(rows(g.select("keep_id", "n_docs")) === Seq(Seq(1L, 2L)))
  }

  test("shingles: n-grams are distinct per doc") {
    val sh = Dedup.shingles(docs, 3)
    // doc 1: 9 tokens -> 7 trigram positions, all distinct here
    assert(sh.filter($"doc_id" === 1).count() === 7)
  }

  test("ngramJaccard: exact dup pair has jaccard 1; near dup lower but > 0.3") {
    val p = Dedup.ngramJaccardPairs(Dedup.shingles(docs, 3), 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(approx(p((1L, 2L)), 1.0))
    assert(p((1L, 3L)) > 0.3 && p((1L, 3L)) < 1.0)
    assert(!p.contains((1L, 4L)))
  }

  test("ngramJaccard dfCap drops a universal hot shingle from the join") {
    // 40 docs, each with a unique trigram plus one shingle shared by ALL of
    // them ("common filler words"). Without the cap the hot shingle alone
    // makes 40*39/2 = 780 candidate pairs; with dfCap below 40 it is
    // treated as a stopword and contributes none.
    val hotDocs = (0 until 40).map(i =>
      (i.toLong, s"unique$i token$i here common filler words")).toDF("doc_id", "text")
    val sh = Dedup.shingles(hotDocs, 3)
    val capped = Dedup.ngramJaccardPairs(sh, 0.0, dfCap = 10)
    assert(capped.count() === 0)
    // sanity: uncapped, the hot shingle does create the quadratic pair set
    val uncapped = Dedup.ngramJaccardPairs(sh, 0.0)
    assert(uncapped.count() === 40L * 39 / 2)
    // and a genuine near-dup pair still survives the cap
    val near = Dedup.ngramJaccardPairs(Dedup.shingles(docs, 3), 0.0, dfCap = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(approx(near((1L, 2L)), 1.0))
  }

  test("dupWindowStats: interval-union coverage, adjacency merge, short docs") {
    // n=3 windows. Duplicated hashes across this corpus: "a b c" (docs
    // 1/2/5), "b c d" (1/2), "c d e" (1/2), "f g h" (1/5).
    val dd = Seq(
      (1L, "a b c d e f g h"),       // dup wins i=1,2,3,6 -> [1,6) U [6,9)
                                     // ADJACENT: i=6 == prevMaxEnd merges
                                     // into ONE island [1,9) = 8 tokens
      (2L, "a b c d e x y z"),       // dup wins i=1,2,3 -> [1,6) = 5 tokens
      (3L, "p q r s t u v w"),       // nothing shared
      (5L, "a b c m1 m2 m3 f g h"),  // TWO disjoint islands [1,4) + [7,10)
      (6L, "a b")                    // shorter than n: zero windows
    ).toDF("doc_id", "text")
    val r = rows(Dedup.dupWindowStats(dd, 3).orderBy("doc_id"))
    assert(r === Seq(
      Seq(1L, 8L, 4L, 8L, 1.0),
      Seq(2L, 8L, 3L, 5L, 0.625),
      Seq(3L, 8L, 0L, 0L, 0.0),
      Seq(5L, 9L, 2L, 6L, 0.666667),
      Seq(6L, 2L, 0L, 0L, 0.0)))
  }

  test("dupWindowStats: within-doc repetition alone counts as duplication") {
    // Lee et al.'s gate also fires on a substring repeated INSIDE one
    // document: both occurrences are sites of the same hash.
    val dd = Seq((1L, "x y z q q2 q3 x y z"), (2L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val r = rows(Dedup.dupWindowStats(dd, 3).filter($"doc_id" === 1))
    // "x y z" at i=1 and i=7 -> two islands, 6 covered of 9
    assert(r === Seq(Seq(1L, 9L, 2L, 6L, 0.666667)))
  }

  test("minhash LSH finds the exact-dup pair as a candidate") {
    val sig = Dedup.minHashSignature(Dedup.shingles(docs, 3), 8)
    val pairs = rows(Dedup.lshCandidatePairs(sig, 8, 2))
    assert(pairs.contains(Seq(1L, 2L)))
  }

  test("simhash: identical docs get identical fingerprints in [0, 65536)") {
    val h = TextOps.simHash16(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(h.values.forall(v => v >= 0 && v < 65536))
    assert(h(1L) !== h(4L))
  }

  lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosineTopK: nearest neighbor ordering and self-exclusion") {
    val q = vecs.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val r = rows(Similarity.cosineTopK(q, vecs, 3)
      .select("vec_id", "rn"))
    assert(r === Seq(Seq(1L, 1), Seq(2L, 2), Seq(3L, 3)))
  }

  test("l2TopK: 6 dp ties break by vec_id; self excluded unless asked; k past the corpus") {
    val corpus = Seq(
      (10L, Array(1.0, 1.0)), (11L, Array(1.0, 1.0)),
      (12L, Array(2.0000001, 1.0)), (13L, Array(1.0, 2.0)),
      (14L, Array(4.0, 5.0))).toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 10).toDF("qid", "qvec")
    // 12 is farther than 13 unrounded and level with it at 6 dp
    val raw = corpus.join(q).select($"vec_id",
        Similarity.l2($"qvec", $"embedding")).as[(Long, Double)].collect().toMap
    assert(raw(12L) > raw(13L))
    def top(excludeSelf: Boolean) = rows(Similarity.l2TopK(q, corpus, 10, excludeSelf)
      .orderBy("rn").select("vec_id", "dist", "rn"))
    assert(top(excludeSelf = true) === Seq(Seq(11L, 0.0, 1), Seq(12L, 1.0, 2),
      Seq(13L, 1.0, 3), Seq(14L, 5.0, 4)))
    assert(top(excludeSelf = false).take(2) === Seq(Seq(10L, 0.0, 1), Seq(11L, 0.0, 2)))
  }

  test("recallAtK: a query with no approximate hits counts with h = 0") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("q", "n")
    val approx = Seq((1L, 11L), (1L, 10L), (2L, 99L), (3L, 30L)).toDF("q", "n")
    assert(rows(Similarity.recallAtK(truth, approx, 2)) === Seq(Seq(2L, 0.5, 1L)))
    assert(rows(Similarity.recallAtK(truth, approx.limit(0), 2)) ===
      Seq(Seq(2L, 0.0, 0L)))
  }

  test("cosine of identical vectors is 1, orthogonal 0, opposite -1") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    assert(approx(c, 1.0))
  }

  test("lshBuckets is deterministic and groups identical vectors") {
    val b1 = rows(Similarity.lshBuckets(vecs, 8).orderBy("vec_id"))
    val b2 = rows(Similarity.lshBuckets(vecs, 8).orderBy("vec_id"))
    assert(b1 === b2)
    // opposite vectors land in complementary buckets, identical in same
    val m = b1.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    assert(m(0L) !== m(3L))
  }

  test("precomputed sign-matrix buckets are bit-identical to the per-row md5 form") {
    // the legacy formulation bucketsWithKey replaced: per-row, per-plane,
    // per-element md5 parity inside a zip_with/aggregate fold — kept here
    // as the ground truth the driver-side MessageDigest signs must match
    def legacy(corpus: org.apache.spark.sql.DataFrame, nPlanes: Int, seed: Int) = {
      val v = col("embedding").cast("array<double>")
      val bits = (0 until nPlanes).map { h =>
        val proj = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1), (x, j) =>
            when(substring(md5(concat(lit(s"$seed:$h:"), j.cast("string"))), 1, 1)
              .isInCollection(Seq("8", "9", "a", "b", "c", "d", "e", "f")), x)
              .otherwise(-x)),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, lit(1L << h)).otherwise(lit(0L))
      }
      corpus.select(col("vec_id"), bits.reduce(_ + _).as("bucket"))
    }
    val mixed = (0L until 50L).map(i =>
      (i, Array.tabulate(7)(j => math.sin(i * 31 + j * 17).toFloat)))
      .toDF("vec_id", "embedding")
    (0 until 3).foreach { seed =>
      val fast = rows(Similarity.lshBucketsSeeded(mixed, 9, seed).orderBy("vec_id"))
      val slow = rows(legacy(mixed, 9, seed).orderBy("vec_id"))
      assert(fast === slow, s"seed $seed")
    }
  }

  test("planesFor holds expected bucket occupancy flat as n grows") {
    assert(Similarity.planesFor(100) === 4)          // floor at minPlanes
    assert(Similarity.planesFor(2048) === 4)         // 2048/128 = 16 = 2^4
    assert(Similarity.planesFor(20800) === 8)        // sf0.1 embeddings+planted
    assert(Similarity.planesFor(2080000) === 14)     // 100× that — still ~128/bucket
    // integer-exact at power-of-two ratios: no float-log spurious plane
    // (the old ln-division gave 30/32/40/48 here — ADVICE r4)
    assert(Similarity.planesFor(128L << 29) === 29)
    assert(Similarity.planesFor(128L << 31) === 31)
    assert(Similarity.planesFor((128L << 29) + 1) === 30)
    // occupancy n / 2^planes stays bounded (≤ 256) across 4 decades
    Seq(1000L, 10000L, 100000L, 1000000L, 10000000L).foreach { n =>
      val occ = n.toDouble / (1L << Similarity.planesFor(n))
      assert(occ <= 256, s"n=$n occupancy $occ")
    }
  }

  test("cosineNearDupPairs: hot-bucket cap suppresses a degenerate bucket") {
    // 40 identical vectors: every round puts all of them in ONE bucket →
    // 780 pairs uncapped; with bucketCap=10 the bucket is dropped whole
    val same = (0L until 40L).map(i => (i, Array(1.0, 2.0, 3.0, 4.0)))
    val df = same.toDF("vec_id", "embedding")
    val uncapped = Similarity.cosineNearDupPairs(df, rounds = 2, minCos = 0.999,
      bucketCap = 10000)
    assert(uncapped.count() === 780L)
    val capped = Similarity.cosineNearDupPairs(df, rounds = 2, minCos = 0.999,
      bucketCap = 10)
    assert(capped.count() === 0L)
  }

  test("cosineNearDupPairs finds planted scaled copies and no self pairs") {
    val base = (0L until 30L).map(i =>
      (i, Array.tabulate(6)(j => math.sin(i * 7.0 + j) + 2.0)))
    val planted = base.take(5).map { case (i, v) => (i + 1000L, v.map(_ * 1.5)) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairs(df, rounds = 2, minCos = 0.9999)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    // every planted copy is exactly collinear with its source → same side
    // of every hyperplane → guaranteed candidate, cos = 1
    assert((0L until 5L).forall(i => got.contains((i, i + 1000L))))
    assert(got.forall { case (a, b) => a < b })
  }

  test("semDeDup: empty corpus returns empty (max-occupancy probe is null-safe)") {
    // regression: the straggler-regime probe (max over ZERO groups =
    // NULL) crashed on an empty corpus where the pre-probe code
    // returned empty
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.semDeDup(e, k = 2, iters = 2, seed = 1L, minCos = 0.999)
      .count() === 0L)
  }

  test("semDeDup: scaled copies group under keep-one; distinct vectors stay singletons") {
    // three well-separated directions; ids 10/11 are scaled copies of 1
    // (identical after normalization → same cluster, cosine exactly 1)
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.5f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Dedup.semDeDup(e, k = 3, iters = 5, seed = 1L, minCos = 0.999)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) === ((1L, 3L, true)))   // keeps the min id of the group
    assert(r(10L) === ((1L, 3L, false)))
    assert(r(11L) === ((1L, 3L, false)))
    assert(r(2L) === ((2L, 1L, true)))
    assert(r(3L) === ((3L, 1L, true)))
  }

  test("semDeDup: hot-cluster cap sub-splits a degenerate cluster before the pair join") {
    // 50 identical vectors all land in ONE cluster: uncapped that is
    // C(50,2) = 1225 pairs; clusterCap = 10 slices the cluster into 5
    // md5-ranked sub-clusters, bounding the join at 5 × C(10,2) = 225
    // pairs while still deduping within each slice → exactly 5 keeps of
    // n_docs = 10, instead of one giant |c|² stage
    val same = (0L until 50L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.semDeDup(same, k = 2, iters = 3, seed = 1L,
      minCos = 0.999, clusterCap = 10).collect()
    val groups = capped.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    assert(groups.size === 5, s"expected 5 cap-sized groups, got $groups")
    assert(groups.values.forall(_ == 10))
    assert(capped.count(_.getBoolean(3)) === 5)
    // identity for clusters under the cap: the default-cap result still
    // collapses everything into one group
    val uncapped = Dedup.semDeDup(same, k = 2, iters = 3, seed = 1L,
      minCos = 0.999).collect()
    assert(uncapped.count(_.getBoolean(3)) === 1)
    assert(uncapped.forall(_.getLong(2) === 50L))
    // straggler-safe regime: forcing the range-partitioned ordinal rank
    // (stragglerCap = 1) must reproduce the per-cluster window result
    // EXACTLY — same md5 order, same sub-splits, same groups
    val ordinal = Dedup.semDeDup(same, k = 2, iters = 3, seed = 1L,
      minCos = 0.999, clusterCap = 10, stragglerCap = 1L)
      .orderBy("vec_id").collect()
    assert(ordinal === Dedup.semDeDup(same, k = 2, iters = 3, seed = 1L,
        minCos = 0.999, clusterCap = 10)
      .orderBy("vec_id").collect(),
      "ordinal-ranked sub-split diverged from the window-ranked one")
  }

  test("semDeDup: k = 0 auto-sizes clusters from the corpus count") {
    assert(Dedup.clustersFor(100) === 8)           // floor at minK
    assert(Dedup.clustersFor(1024 * 8) === 8)
    assert(Dedup.clustersFor(1024 * 8 + 1) === 9)  // ceil-div growth
    assert(Dedup.clustersFor(10000000) === 9766)   // occupancy stays ~1024
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (10L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Dedup.semDeDup(e, k = 0, iters = 3, seed = 1L, minCos = 0.999)
      .collect().map(x => x.getLong(0) -> x.getBoolean(3)).toMap
    assert(r === Map(1L -> true, 10L -> false, 2L -> true))
  }

  test("int8Codes: max component codes to +-127, codes are integers in range") {
    val e = Seq((1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
                (2L, Array(-0.002f, 0.001f, 0.0005f, 0.002f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.int8Codes(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c(1L) === Seq(64.0, -127.0, 32.0, 0.0))
    // tiny magnitudes still span the full code range (per-vector scale)
    assert(c(2L).map(math.abs).max === 127.0)
    c.values.flatten.foreach { x =>
      assert(x == math.floor(x) && math.abs(x) <= 127.0)
    }
  }

  test("quantized cosine tracks float cosine within quantization error") {
    // deterministic pseudo-random vectors (no RNG): md5-derived components
    val n = 60
    val dim = 16
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$i:$j".getBytes).take(4)
        (java.nio.ByteBuffer.wrap(h).getInt.toDouble / Int.MaxValue).toFloat
      })
    }.toDF("vec_id", "embedding")
    val q = Similarity.quantizedSelfTopK(vecs, 5, rounds = 2,
      targetBucketSize = 16)
    val codesCos = q.select(col("src"), col("dst"), col("qcos"))
    val exact = codesCos
      .join(vecs.select(col("vec_id").as("src"), col("embedding").cast("array<double>").as("va")), Seq("src"))
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").cast("array<double>").as("vb")), Seq("dst"))
      .select(col("qcos"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02,
        s"qcos ${r.getDouble(0)} vs cos ${r.getDouble(1)}")
    }
  }

  test("quantizedSelfTopK: identical vectors rank each other first with qcos 1") {
    val e = Seq((1L, Array(0.3f, 0.7f, -0.2f)), (2L, Array(0.3f, 0.7f, -0.2f)),
                (3L, Array(-0.9f, 0.1f, 0.4f))).toDF("vec_id", "embedding")
    val top = Similarity.quantizedSelfTopK(e, 1, rounds = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(top(1L) === ((2L, 1.0)))
    assert(top(2L) === ((1L, 1.0)))
  }

  test("native DotProduct matches the interpreted fold bit-for-bit") {
    val df = vecs.select($"vec_id",
      $"embedding".cast("array<double>").as("a"))
    val both = df.crossJoin(df.select($"a".as("b")))
      .select(Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
  }

  test("randomProject: k coordinates, exact linearity on integer vectors") {
    import spark.implicits._
    // signs are ±1, so integer-valued inputs give exactly representable
    // projections: P(2a) must equal 2·P(a) elementwise, exactly
    val a = (1 to 8).map(_.toDouble).toArray
    val df = Seq((1L, a), (2L, a.map(_ * 2))).toDF("vec_id", "embedding")
    val p = Similarity.randomProject(df, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p(1L).length === 16 && p(2L).length === 16)
    assert(p(2L) === p(1L).map(_ * 2))
    // not the zero map: some coordinate is nonzero
    assert(p(1L).exists(_ != 0.0))
  }

  test("DotProduct runs inside whole-stage codegen") {
    val df = spark.range(100)
      .select(array((0 to 4).map(i => (col("id") + i).cast("double")): _*).as("a"))
    val r = df.select(Similarity.dot(col("a"), col("a")).as("d"))
    val plan = r.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Project [dotproduct"))
    // value check: dot([id..id+4], same) for id=0 -> 0+1+4+9+16 = 30
    assert(approx(r.as[Double].head(), 30.0))
  }
}
