package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{Mix, TextOps}

/** Specs for the round-6 selection primitives: Efraimidis–Spirakis
  * weighted sampling (salt-invariance, weight monotonicity) and DSIR
  * importance weights (target-domain tokens score higher).
  */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) =
    (1 to n).map(i => (i.toLong, 1L + (i * 7919) % 500)).toDF("doc_id", "w")

  test("weightedSample: the topKPerGroup cut equals the naive single window") {
    val docs = corpus(300).repartition(4) // pre-cut runs per partition
    val naive = {
      val u60 = conv(substring(
        md5(concat(lit("7:"), col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long")
      val key = round(log((u60.cast("double") + 1.0) / lit(math.pow(2.0, 60)))
        / col("w").cast("double"), 9)
      docs.select(col("doc_id"), key.as("key"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("key").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 40)
        .select("doc_id", "rank").as[(Long, Long)].collect().toSet
    }
    val got = Mix.weightedSample(docs, col("w"), n = 40, seed = 7)
      .select("doc_id", "rank").as[(Long, Long)].collect().toSet
    assert(got == naive && got.size == 40)
  }

  test("weightedSample: raising a doc's weight never worsens its rank") {
    val base = corpus(200)
    def rankOf(df: org.apache.spark.sql.DataFrame, id: Long): Option[Long] =
      Mix.weightedSample(df, col("w"), n = 200, seed = 3)
        .filter(col("doc_id") === id).select("rank")
        .as[Long].collect().headOption
    val before = rankOf(base, 42L).get
    val boosted = base.withColumn("w",
      when(col("doc_id") === 42L, lit(100000L)).otherwise(col("w")))
    val after = rankOf(boosted, 42L).get
    assert(after <= before)
    assert(after <= 20) // w=1e5 vs ≤500: key ≈ 0, lands near the top
  }

  test("shardAssign: shards conserve totals and balance tokens within max doc length") {
    // doc lengths vary 1..40 tokens — a doc-count split would skew badly
    val docs = (1 to 200).map { i =>
      (i.toLong, Seq.fill(1 + (i * 31) % 40)("tok").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Mix.shardAssign(docs, nShards = 8, seed = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val totalTokens = (1 to 200).map(i => 1L + (i * 31) % 40).sum
    assert(out.map(_._1).sorted.toSeq == (0 until 8))
    assert(out.map(_._2).sum == 200L)
    assert(out.map(_._3).sum == totalTokens)
    // balance: every shard within one max-length doc of the ideal slice
    val ideal = totalTokens.toDouble / 8
    assert(out.forall(s => math.abs(s._3 - ideal) <= 40),
      s"unbalanced: ${out.toSeq}")
    // deterministic: same seed reproduces, different seed still balances
    val again = Mix.shardAssign(docs, nShards = 8, seed = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == out.toSet)
  }

  test("nbClassify: separable vocabularies classify perfectly; priors break OOV ties") {
    // lang A speaks {aa bb}, lang B speaks {cc dd}; ids chosen so each
    // lang has train (id%10!=0) and test (id%10==0) docs
    val docs = (Seq.tabulate(30)(i => (i.toLong + 1, "A", "aa bb aa")) ++
      Seq.tabulate(30)(i => (i.toLong + 101, "B", "cc dd cc"))).toSeq
      .toDF("doc_id", "lang", "text")
    val out = TextOps.nbClassify(docs)
      .select("label_true", "label_pred", "n")
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(out == Seq(("A", "A", 3L), ("B", "B", 3L)))

    // a fully-OOV test doc falls back to priors: token totals are
    // equalized (80 vs 80) so the smoothed OOV likelihoods cancel and
    // the majority-class prior alone decides
    val skewed = (Seq.tabulate(40)(i => (i.toLong * 10 + 1, "A", "aa bb")) ++
      Seq.tabulate(10)(i =>
        (i.toLong * 10 + 3, "B", "cc dd cc dd cc dd cc dd")) ++
      Seq((20L, "B", "zz zz zz"))).toSeq // test doc, all tokens unseen
      .toDF("doc_id", "lang", "text")
    val pred = TextOps.nbClassify(skewed)
      .select("label_true", "label_pred", "n")
      .as[(String, String, Long)].collect().toSeq
    assert(pred == Seq(("B", "A", 1L))) // prior(A) >> prior(B) decides
  }

  test("klDrift: zero for an undrifted slice, positive and exact for a known drift") {
    // one slice = the whole corpus → P_s ≡ P_corpus → KL = 0
    val uni = Seq((1L, "s", "aa bb"), (2L, "s", "aa bb"))
      .toDF("doc_id", "source", "text")
    val z = TextOps.klDrift(uni, col("source")).select("kl").as[Double].collect()
    assert(z.toSeq == Seq(0.0))

    // slice A = {aa}, slice B = {bb}, equal sizes: corpus is 50/50 →
    // KL(A‖corpus) = ln 2 for both slices
    val drift = Seq((1L, "A", "aa aa aa aa"), (2L, "B", "bb bb bb bb"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.klDrift(drift, col("source"))
      .select("grp", "kl").as[(String, Double)].collect().toMap
    assert(approx(out("A"), math.log(2.0), 1e-5))
    assert(approx(out("B"), math.log(2.0), 1e-5))
  }

  test("centroidCosine: identical labels → 1, opposite → -1, orthogonal → 0") {
    val embs = (Seq.tabulate(5)(i => (i.toLong, Array(1.0f, 0.0f), 0)) ++
      Seq.tabulate(5)(i => (i.toLong + 10, Array(0.5f, 0.0f), 1)) ++
      Seq.tabulate(5)(i => (i.toLong + 20, Array(0.0f, 2.0f), 2)) ++
      Seq.tabulate(5)(i => (i.toLong + 30, Array(-1.0f, 0.0f), 3))).toSeq
      .toDF("vec_id", "embedding", "label")
    val out = graft.sim.Similarity.centroidCosine(embs)
      .select("label_a", "label_b", "n_a", "n_b", "cosine")
      .as[(Int, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(out((0, 1)) == 1.0)   // same direction, different magnitude
    assert(out((0, 2)) == 0.0)   // orthogonal
    assert(out((0, 3)) == -1.0)  // opposite
    assert(out((1, 2)) == 0.0 && out((2, 3)) == 0.0 && out((1, 3)) == -1.0)
  }

  test("dsirWeights: target-domain tokens score above raw-only tokens") {
    // target docs (lang=t) speak 'aaa bbb'; raw-only docs speak 'zzz yyy'
    val docs = ((1 to 20).map(i => (i.toLong, "t", "aaa bbb aaa bbb aaa")) ++
      (21 to 40).map(i => (i.toLong, "r", "zzz yyy zzz yyy zzz"))).toSeq
      .toDF("doc_id", "lang", "text")
    val out = TextOps.dsirWeights(docs, col("lang") === "t")
      .select("doc_id", "n_toks", "logw_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.length == 40)
    assert(out.forall(_._2 == 5L))
    val (tgt, raw) = out.partition(_._1 <= 20)
    // every target doc scores strictly above every raw-only doc
    assert(tgt.map(_._3).min > raw.map(_._3).max)
    // raw-only docs are penalized below zero, target docs rewarded above
    assert(raw.forall(_._3 < 0L) && tgt.forall(_._3 > 0L))
  }

  test("sourceCapSpillover: planted over-quota source capped, freed budget spills") {
    // 3 sources: hot=60 docs, mid=20, cold=5 -> n=85, fair share 28,
    // cap = 85*4 div 15 = 22. cold/mid under quota (freed 22-5 + 22-20
    // = 19); hot evicts 38, readmits exactly the 19 freed slots.
    val docs = ((1 to 60).map(i => (i.toLong, "hot")) ++
      (61 to 80).map(i => (i.toLong, "mid")) ++
      (81 to 85).map(i => (i.toLong, "cold")))
      .toDF("doc_id", "source")
      .withColumn("w", lit(10L) + col("doc_id") % 7)
    val out = Mix.sourceCapSpillover(docs, col("source"), col("doc_id"),
        col("w"))
      .select("source", "cap", "n_docs", "kept_quota", "kept_spill",
        "kept_total", "n_evicted")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("hot") === ("hot", 22L, 60L, 22L, 19L, 41L, 19L))
    assert(out("mid") === ("mid", 22L, 20L, 20L, 0L, 20L, 0L))
    assert(out("cold") === ("cold", 22L, 5L, 5L, 0L, 5L, 0L))
    // total kept = budget = n_sources * cap exactly
    assert(out.values.map(_._6).sum === 3 * 22L)
    // deterministic: a second run elects the identical partition
    val again = Mix.sourceCapSpillover(docs, col("source"), col("doc_id"),
      col("w")).select("source", "kept_total")
      .as[(String, Long)].collect().toMap
    assert(out.values.map(r => r._1 -> r._6).toMap === again)
  }

  test("sourceTokenBudget: mass-based admission, freed mass spills globally") {
    // hot: 10 docs of w=100 (mass 1000); cold: 5 docs of w=10 (mass 50).
    // total 1050, budget = 1050*4 div 10 = 420: hot admits 4 docs
    // (400 <= 420 < 500), cold admits all 5. freed = 840 - 450 = 390;
    // spill readmits evicted hot docs while cumulative mass <= 390 -> 3.
    val docs = ((1 to 10).map(i => (i.toLong, "hot", 100L)) ++
      (11 to 15).map(i => (i.toLong, "cold", 10L)))
      .toDF("doc_id", "source", "w")
    val out = Mix.sourceTokenBudget(docs, col("source"), col("doc_id"),
        col("w"))
      .select("source", "budget", "n_docs", "kept_quota", "kept_spill",
        "kept_total", "kept_w")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("hot") === ("hot", 420L, 10L, 4L, 3L, 7L, 700L))
    assert(out("cold") === ("cold", 420L, 5L, 5L, 0L, 5L, 50L))
    // no source's quota-kept mass exceeds the budget
    assert(out.values.forall(r => r._7 - r._5 * 100L <= 420L))
  }

  test("sourceCapSpillover: no spill when every source is over quota") {
    val docs = ((1 to 40).map(i => (i.toLong, "a")) ++
      (41 to 80).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
      .withColumn("w", lit(1L))
    // cap = 80*4 div 10 = 32; both sources evict 8, freed = 0
    val out = Mix.sourceCapSpillover(docs, col("source"), col("doc_id"),
        col("w"))
      .select("source", "kept_quota", "kept_spill", "n_evicted")
      .as[(String, Long, Long, Long)].collect()
    assert(out.forall(r => r._2 == 32L && r._3 == 0L && r._4 == 8L))
  }
}
