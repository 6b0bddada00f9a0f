package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exactness baseline: queries × corpus
  * pairs with an O(dim) fold per pair, all inside Catalyst higher-order
  * functions (no UDF, no driver loop). The query side is expected to be
  * small → broadcast; the corpus side streams, so the plan scales to any
  * corpus size at O(|queries| · |corpus| · dim).
  *
  * The scale path is [[lshBuckets]]: deterministic random-hyperplane
  * signs bucket the corpus; candidates only compare within a bucket
  * (the IVF/LSH shape), trading recall for a |corpus|-independent
  * per-query cost.
  */
object Similarity {

  private def toDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential dot product via the native codegen'd Catalyst expression
    * (graft.functions.DotProduct) — same ascending-index evaluation order
    * as a SQL engine's list_dot_product, so results are
    * engine-reproducible; ~order-of-magnitude faster than the interpreted
    * `aggregate(zip_with(...))` fold it replaces.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** The interpreted higher-order-function formulation (kept for
    * cross-checking the native expression in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Euclidean distance via the dot-product identity |a−b|² =
    * a·a − 2a·b + b·b — the same ascending fold a SQL engine's
    * list_dot_product performs, so results are engine-reproducible
    * bit-for-bit. Clamped at 0 against −1e−16 cancellation noise.
    * The single shared kernel behind Knn.bucketedSelfKnn and
    * Metrics.silhouetteScores.
    */
  def l2(a: Column, b: Column): Column =
    sqrt(greatest(dot(a, a) - lit(2) * dot(a, b) + dot(b, b), lit(0.0)))

  /** Greedy k-center (farthest-point) coreset selection — the
    * diversity-sampling primitive of data curation: pick `k` vectors
    * such that every corpus vector is near some pick (2-approximation
    * of the optimal covering radius, Gonzalez 1985). Deterministic:
    * start at the min vec_id, each step takes the vector maximizing
    * the 6-dp-rounded min distance to the chosen set (vec_id
    * tie-break). Scale: the chosen set is k driver-held vectors
    * embedded as literals, so each step is ONE map-only scan + a
    * global top-1 — k scans total, no pairwise materialization.
    * Returns `(rank, vec_id, radius)` where radius is the pick's
    * covering distance at selection time (non-increasing — the
    * coverage curve a sampling budget is read off of).
    */
  def kCenters(corpus0: DataFrame, k: Int): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    kCenterLoop(corpus0, k)._1.toDF("rank", "vec_id", "radius")
  }

  /** [[kCenters]] plus the assignment pass: every corpus vector joins
    * its nearest chosen center (6-dp-rounded distance, center-rank
    * tie-break), reported per center as (rank, vec_id, n_assigned,
    * max_dist) — the partition manifest a coreset-based sampler or
    * router consumes. The centers ride along as a k-row broadcast;
    * the argmin is a k-bounded per-vector window.
    */
  def kCenterAssign(corpus0: DataFrame, k: Int): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val (centers, centerVecs) = kCenterLoop(corpus0, k)
    val cdf = centers.zip(centerVecs)
      .map { case ((r, id, _), v) => (r, id, v) }
      .toDF("rank", "cid", "cvec")
    val corpus = corpus0.select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist").asc, col("rank").asc)
    corpus.crossJoin(broadcast(cdf))
      .select(col("vec_id"), col("rank"), col("cid"),
        round(l2(col("e"), col("cvec")), 6).as("dist"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .groupBy("rank", "cid")
      .agg(count(lit(1)).as("n_assigned"), max(col("dist")).as("max_dist"))
      .select(col("rank"), col("cid").as("vec_id"), col("n_assigned"),
        col("max_dist"))
  }

  private def kCenterLoop(corpus0: DataFrame, k: Int)
      : (List[(Int, Long, Double)], List[Seq[Double]]) = {
    val corpus = corpus0
      .select(col("vec_id"), toDouble(col("embedding")).as("e")).cache()
    val first = corpus.orderBy("vec_id").head
    var centers = List[(Int, Long, Double)]((1, first.getLong(0), 0.0))
    var centerVecs = List[Seq[Double]](first.getSeq[Double](1))
    for (r <- 2 to k) {
      val md = centerVecs.map(c => round(l2(col("e"), lit(c.toArray)), 6))
        .reduce((a, b) => least(a, b))
      val pick = corpus.select(col("vec_id"), col("e"), md.as("md"))
        .orderBy(col("md").desc, col("vec_id")).head
      centers = centers :+ ((r, pick.getLong(0), pick.getDouble(2)))
      centerVecs = centerVecs :+ pick.getSeq[Double](1)
    }
    corpus.unpersist()
    (centers, centerVecs)
  }

  /** Achlioptas ±1 random projection — the database-friendly
    * Johnson–Lindenstrauss transform: y_h = (1/√k)·Σ_j s_hj·x_j over
    * the same deterministic md5 sign matrices the LSH family uses, so
    * the projection replays bit-for-bit in any engine. Map-only: each
    * output coordinate is ONE codegen'd dot product against a literal
    * sign row — no shuffle, no stored projection matrix, no
    * per-row hashing. The memory lever of a 100 TB embedding store:
    * d-dim doubles shrink to k/d the bytes while pairwise distances
    * hold within (1±ε), ε ≈ √(8·ln n / k) — measured, not assumed, by
    * q158's distortion report. `corpus(vec_id, embedding)` →
    * `(vec_id, proj: array<double>[k])`.
    */
  def randomProject(corpus: DataFrame, k: Int, seed: Int = 0): DataFrame = {
    val dim = embeddingDim(corpus)
    val signs = signMatrix(k, dim, seed)
    val scale = lit(1.0 / math.sqrt(k.toDouble))
    corpus.select(col("vec_id"),
      array(signs.map(s => dot(toDouble(col("embedding")), lit(s)) * scale): _*)
        .as("proj"))
  }

  /** Exact top-k cosine neighbors of each query vector.
    * `queries(qid, qvec)`, `corpus(vec_id, embedding)`. `excludeSelf`
    * drops id-equal pairs — right when queries are drawn FROM the corpus
    * (self-KNN); set false when the two id spaces are different datasets
    * (run_mapping projections: a target cell identical to a reference
    * cell legitimately hits it).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("qid"), toDouble(col("qvec")).as("qvec"))
    val c = corpus.select(col("vec_id"), toDouble(col("embedding")).as("cvec"))
    val crossed = c.crossJoin(broadcast(q))
    val pairs = (if (excludeSelf) crossed.filter(col("qid") =!= col("vec_id")) else crossed)
      .select(col("qid"), col("vec_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
    graft.ops.Windows.topKPerGroup(pairs, Seq("qid"), k,
        Seq(round(col("cos"), 6).desc, col("vec_id")))
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rn"))
  }

  /** Exact top-k EUCLIDEAN neighbors — the metric of the reference's
    * latent-space HNSW index ('l2', scarf/ann.py:50). Same broadcast
    * shape and tie-break discipline as [[cosineTopK]] (6 dp-rounded
    * dist asc, then id). Unlike cosine it is not magnitude-blind, so a
    * query identical to a corpus vector beats every merely-collinear
    * one — the property mapping projections rely on. It is also the
    * exact ground truth every retrieval-quality query (q125, q144,
    * q174, q179, q182, q192, q241, q242) scores its ANN, PQ or IVF
    * index against.
    */
  def l2TopK(queries: DataFrame, corpus: DataFrame, k: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("qid"), toDouble(col("qvec")).as("qvec"))
    val c = corpus.select(col("vec_id"), toDouble(col("embedding")).as("cvec"))
    val crossed = c.crossJoin(broadcast(q))
    val pairs = (if (excludeSelf) crossed.filter(col("qid") =!= col("vec_id")) else crossed)
      .select(col("qid"), col("vec_id"), l2(col("qvec"), col("cvec")).as("dist"))
    graft.ops.Windows.topKPerGroup(pairs, Seq("qid"), k,
        Seq(round(col("dist"), 6), col("vec_id")))
      .select(col("qid"), col("vec_id"), round(col("dist"), 6).as("dist"), col("rn"))
  }

  /** Deterministic random-hyperplane LSH bucketing: hyperplane h has
    * pseudo-random ±1 components derived from md5(h:dim) parity; bucket id
    * packs the `nPlanes` sign bits. Vectors in the same bucket are
    * near-duplicates candidates — the scale path for ANN.
    */
  def lshBuckets(corpus: DataFrame, nPlanes: Int): DataFrame =
    bucketsWithKey(corpus, nPlanes, h => s"$h:", embeddingDim(corpus))

  /** Seeded hyperplane set for multi-round ANN: round r uses planes keyed
    * `"r:h:j"`, giving `rounds` independent bucketings whose candidate
    * unions drive recall toward 1 (see Knn.bucketedSelfKnn).
    */
  def lshBucketsSeeded(corpus: DataFrame, nPlanes: Int, seed: Int): DataFrame =
    bucketsWithKey(corpus, nPlanes, h => s"$seed:$h:", embeddingDim(corpus))

  /** The ±1 hyperplane sign matrix, built ONCE on the driver: component j
    * of plane h is +1 iff the first md5 hex digit of `prefix(h) + j` is
    * in '8'..'f' — i.e. the digest's top bit is set. Bit-identical to the
    * per-row `md5(concat(...))` expression it replaces (Spark's `md5`
    * hashes the UTF-8 bytes and the first hex char is the first byte's
    * high nibble), but computed nPlanes × dim times TOTAL instead of
    * nPlanes × dim times PER ROW: embedded as a literal array, each
    * plane's projection becomes one codegen'd [[dot]] against the sign
    * vector (x·(+1.0)/x·(−1.0) are exact, and the ascending fold order
    * is unchanged, so bucket ids are bit-for-bit the old ones).
    */
  private def signMatrix(nPlanes: Int, dim: Int,
                         prefix: Int => String): Array[Array[Double]] =
    Array.tabulate(nPlanes) { h =>
      val key = prefix(h)
      Array.tabulate(dim) { j =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest((key + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((d(0) & 0x80) != 0) 1.0 else -1.0
      }
    }

  /** Seeded sign matrix (keys `"seed:h:j"`, the lshBucketsSeeded keying)
    * for orchestrators that bucket several frames per round (Knn).
    */
  def signMatrix(nPlanes: Int, dim: Int, seed: Int): Array[Array[Double]] =
    signMatrix(nPlanes, dim, h => s"$seed:$h:")

  /** Packed LSH bucket id of vector column `v` for a precomputed sign
    * matrix — one codegen'd dot product per plane, no per-row hashing.
    */
  def bucketCol(v: Column, signs: Array[Array[Double]]): Column =
    signs.zipWithIndex.map { case (s, h) =>
      when(dot(v, lit(s)) > 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Seeded bucketing with a caller-known dimension (skips the dim probe
    * job — orchestrators that loop over rounds resolve dim once).
    */
  def lshBucketsSeeded(corpus: DataFrame, nPlanes: Int, seed: Int,
                       dim: Int): DataFrame =
    bucketsWithKey(corpus, nPlanes, h => s"$seed:$h:", dim)

  private def embeddingDim(corpus: DataFrame): Int =
    corpus.select(size(toDouble(col("embedding"))).as("d")).head.getInt(0)

  /** ANN/LSH sizing rule (measured by PERF.md's scale-up probe): enough
    * hyperplanes that the expected bucket occupancy n / 2^planes lands
    * at `targetBucketSize` — in-bucket pair work is Σ_b |b|², so holding
    * occupancy constant keeps the candidate join linear in n instead of
    * quadratic at fixed planes. Integer arithmetic (ceil-div then
    * bit-length) so exact power-of-two ratios don't pick up a spurious
    * extra plane from float log noise — the DuckDB oracles mirror it as
    * CEIL(LOG2(CAST(CEIL(n / target) AS BIGINT))), exact for integer
    * inputs.
    */
  def planesFor(n: Long, targetBucketSize: Int = 128, minPlanes: Int = 4): Int = {
    val ratio = math.max(1L, (n + targetBucketSize - 1) / targetBucketSize)
    math.max(minPlanes, 64 - java.lang.Long.numberOfLeadingZeros(ratio - 1))
  }

  /** Seeded multi-round LSH candidate generation — the one shared block
    * behind [[cosineNearDupPairs]] and [[quantizedSelfTopK]]: planes
    * sized from n by [[planesFor]], per-round hot-bucket cap, within-
    * bucket self-join, union + distinct across rounds. `undirected`
    * emits each pair once (left < right); otherwise both directions
    * (each side needs its own top-k).
    */
  private def lshCandidates(corpus: DataFrame, rounds: Int,
                            targetBucketSize: Int, bucketCap: Int,
                            leftCol: String, rightCol: String,
                            undirected: Boolean): DataFrame = {
    // one pass resolves BOTH auto-sizing inputs (row count for planesFor,
    // dim for the sign matrices) instead of a count() plus a dim probe
    val stats = corpus.agg(count(lit(1)).as("n"),
      max(size(toDouble(col("embedding")))).as("d")).head
    val nPlanes = planesFor(stats.getLong(0), targetBucketSize)
    val dim = stats.getInt(1)
    (0 until rounds).map { r =>
      // localCheckpoint (eager): the tiny (vec_id, bucket) frame feeds the
      // hot-bucket agg AND both sides of the self-join — without it the
      // bucketing projection re-evaluates three times per round
      val b = lshBucketsSeeded(corpus, nPlanes, r, dim).localCheckpoint()
      val hot = b.groupBy("bucket").agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > bucketCap).select("bucket")
      val ok = b.join(hot, Seq("bucket"), "left_anti")
      val j = ok.select(col("bucket"), col("vec_id").as(leftCol))
        .join(ok.select(col("bucket"), col("vec_id").as(rightCol)), Seq("bucket"))
      (if (undirected) j.filter(col(leftCol) < col(rightCol))
       else j.filter(col(leftCol) =!= col(rightCol)))
        .select(leftCol, rightCol)
    }.reduce(_ unionByName _).distinct()
  }

  /** Embedding-cosine near-duplicate pairs at corpus scale: seeded
    * multi-round hyperplane LSH buckets (planes sized from n by
    * [[planesFor]]), exact cosine only WITHIN buckets, pairs above
    * `minCos`. Two skew guards mirror `Dedup.lshCandidatePairs`:
    * buckets above `bucketCap` are dropped before the self-join (a
    * degenerate bucket of near-identical mass contributes |b|²/2 pairs
    * and no new information — exact dedup already covers it), and the
    * rule-sized plane count keeps expected occupancy flat as n grows.
    * `corpus(vec_id, embedding)` → `(ida, idb, cos)` with ida < idb,
    * cos rounded 6 dp (the cross-engine fence).
    */
  def cosineNearDupPairs(corpus0: DataFrame, rounds: Int, minCos: Double,
                         targetBucketSize: Int = 128,
                         bucketCap: Int = 10000): DataFrame = {
    // the corpus feeds the sizing pass, every round's bucketing, and both
    // sides of the scoring join — cache once, release after the eager
    // checkpoint of the (small) pair output (the ivfSelfKnn pattern)
    val corpus = corpus0.cache()
    val cand = lshCandidates(corpus, rounds, targetBucketSize, bucketCap,
      "ida", "idb", undirected = true)
    val out = cand
      .join(corpus.select(col("vec_id").as("ida"),
        toDouble(col("embedding")).as("va")), Seq("ida"))
      .join(corpus.select(col("vec_id").as("idb"),
        toDouble(col("embedding")).as("vb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .localCheckpoint()
    corpus.unpersist()
    out
  }

  /** Per-vector symmetric int8 scalar quantization — the memory side of
    * a 100 TB ANN index: codes are 4-8× smaller than the float
    * embeddings they stand in for, which is what lets the
    * candidate-scoring working set stay in executor memory when the
    * corpus doesn't. `scale = 127 / max|x|` per vector, `code_j =
    * floor(x_j·scale + 0.5)` — pure double arithmetic in a fixed
    * operation order, so a SQL engine replays it bit-for-bit (no
    * banker's-rounding ambiguity: floor(+0.5) is deterministic on both
    * engines). The max-magnitude component always codes to ±127, so
    * code vectors are never all-zero and code-space cosine is always
    * defined.
    */
  def int8Codes(corpus: DataFrame): DataFrame = {
    val e = toDouble(col("embedding"))
    val scale = lit(127.0) /
      greatest(array_max(transform(e, x => abs(x))), lit(1e-300))
    corpus.select(col("vec_id"),
      transform(e, x => floor(x * scale + lit(0.5)).cast("double")).as("code"))
  }

  /** Quantized ANN self-top-k: seeded multi-round hyperplane LSH
    * candidates (planes sized from n by [[planesFor]], hot buckets
    * capped like [[cosineNearDupPairs]]) scored with INT8-code cosine
    * instead of the float embeddings. Code-space cosine is
    * scale-invariant (each vector's quantization scale cancels), and
    * because every term is an exact small integer held in a double
    * (|code| ≤ 127 → dot ≤ dim·127² ≪ 2⁵³), the score is
    * order-independent and engine-exact — the strongest determinism
    * class of any scoring kernel here; the 6 dp rounding is only for
    * the rank tie-break fence. Returns `(src, dst, qcos, rn)`.
    */
  def quantizedSelfTopK(corpus0: DataFrame, k: Int, rounds: Int,
                        targetBucketSize: Int = 128,
                        bucketCap: Int = 10000): DataFrame = {
    val corpus = corpus0.cache()
    val cand = lshCandidates(corpus, rounds, targetBucketSize, bucketCap,
      "src", "dst", undirected = false)
    val codes = int8Codes(corpus)
    val scored = cand
      .join(codes.select(col("vec_id").as("src"), col("code").as("ca")), Seq("src"))
      .join(codes.select(col("vec_id").as("dst"), col("code").as("cb")), Seq("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))), 6)
          .as("qcos"))
    val out = graft.ops.Windows.topKPerGroup(scored, Seq("src"), k,
        Seq(col("qcos").desc, col("dst")))
      .localCheckpoint()
    corpus.unpersist()
    out
  }

  /** RBO denominator 10·D and the integer suffix coefficients s_m —
    * shared with the DuckDB oracle builder so both engines embed the
    * SAME integers. */
  private[graft] val rboDen = 10.0 * 2520L * 1000000000L
  private[graft] def rboSuffix(k: Int): Seq[Long] = {
    // c_d = 9^(d−1) · D/(10^(d−1)·d) with D = lcm(1..10)·10⁹ = 2520·10⁹;
    // every term is integral because d | 2520 and 10^(d−1) | 10⁹
    require(k <= 10, "exact-rational coefficients are built for k <= 10")
    val D = 2520L * 1000000000L
    val cs = (1 to k).map { d =>
      var c = D / d
      (1 until d).foreach { _ => c = c / 10 * 9 }
      c
    }
    cs.indices.map(i => cs.drop(i).sum) // s_m = Σ_{d>=m} c_d
  }

  /** Truncated rank-biased overlap (Webber 2010) between two top-`k`
    * rankings per query — the top-weighted agreement metric for
    * comparing an ANN/compressed ranking against the exact one (plain
    * recall treats rank 1 and rank k alike; RBO's geometric weighting
    * matches how results are consumed). p is FIXED at 9/10 so the
    * whole statistic is exact rational arithmetic: RBO@k =
    * (1−p)·Σ_d p^(d−1)·X_d/d with X_d = |A_1..d ∩ B_1..d| becomes, per
    * common item with depth m = max(rank_a, rank_b), one integer
    * suffix-coefficient s_m = Σ_{d≥m} 9^(d−1)·(2520·10⁹)/(10^(d−1)·d);
    * the per-query sum stays integral (< 10¹⁵) and ONE final division
    * by 10·2520·10⁹ produces the score — no float summation anywhere,
    * so the metric replays engine-exactly. One (qid, dst) equi-join +
    * one keyed aggregation.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int = 10): DataFrame = {
    val suffix = rboSuffix(k)
    val sArr = array(suffix.map(lit): _*)
    val j = a.toDF("qid", "dst", "ra").filter(col("ra") <= k)
      .join(b.toDF("qid", "dst", "rb").filter(col("rb") <= k),
        Seq("qid", "dst"))
      .select(col("qid"), greatest(col("ra"), col("rb")).as("m"))
      .select(col("qid"), element_at(sArr, col("m").cast("int")).as("s"))
    val qs = a.toDF("qid", "dst", "ra").select("qid").distinct()
    qs.join(j.groupBy("qid").agg(sum(col("s")).as("_num"),
        count(lit(1)).as("n_common")), Seq("qid"), "left")
      .na.fill(0L, Seq("_num", "n_common"))
      .select(col("qid"), col("n_common"),
        round(col("_num").cast("double") / lit(rboDen), 6).as("rbo"))
  }

  /** Recall@k of an approximate top-k against the exact one. Both
    * sides are `(query, neighbour)` pairs, read by position; the query
    * set is `truth`'s. Per query, h counts the true neighbours `approx`
    * also lists (0 when it lists none). Returns one row `(n_queries,
    * recall_mean = Σh / (k·n_queries) at 6 dp, n_perfect = #[h = k])`.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val t = truth.toDF("src", "dst")
    val hits = t.select("src").distinct()
      .join(t.join(approx.toDF("src", "dst"), Seq("src", "dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("h")), Seq("src"), "left")
      .na.fill(0, Seq("h"))
    hits.agg(count(lit(1)).as("n_queries"),
      round(sum(col("h")).cast("double")
        / (lit(k.toDouble) * count(lit(1)).cast("double")), 6).as("recall_mean"),
      sum(when(col("h") === k, 1L).otherwise(0L)).as("n_perfect"))
  }

  /** RRF denominator D = lcm(k0+1 .. k0+depth) and the integer
    * coefficients D/(k0+r) — shared with the oracle builder so both
    * engines embed the SAME integers (the q182 exact-rational stance:
    * fuse scores are integer sums, ONE final division). */
  private[graft] def rrfCoeffs(k0: Int, depth: Int): (Long, Seq[Long]) = {
    def gcd(a: BigInt, b: BigInt): BigInt = if (b == 0) a else gcd(b, a % b)
    val den = (1 to depth).map(r => BigInt(k0 + r))
      .reduce((a, b) => a * b / gcd(a, b))
    require(den * 2 * depth < BigInt(Long.MaxValue),
      s"rrf coefficients for k0=$k0 depth=$depth overflow 64 bits")
    (den.toLong, (1 to depth).map(r => (den / (k0 + r)).toLong))
  }

  /** Reciprocal-rank fusion of two rankings (Cormack 2009): per (query,
    * item), score = Σ_lists 1/(k0 + rank) over the lists that ranked it
    * in the top `depth`, fused top-`topN` per query. Exact rational: the
    * geometric-mean-ish RRF weights become the integer coefficients
    * D/(k0+r) over the common denominator D = lcm(k0+1..k0+depth), so
    * the fused ORDER is decided on integer sums (score desc, dst asc) —
    * no float knife edge — and only the reported score divides. Shape:
    * a union + one (qid, dst) aggregation + a per-qid top-n whose groups
    * are bounded by 2·depth rows — never a whole-corpus window.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k0: Int = 60, depth: Int = 10,
              topN: Int = 5): DataFrame = {
    val (den, cs) = rrfCoeffs(k0, depth)
    val cArr = array(cs.map(lit): _*)
    val u = a.toDF("qid", "dst", "rn").filter(col("rn") <= depth)
      .unionByName(b.toDF("qid", "dst", "rn").filter(col("rn") <= depth))
    val scored = u
      .select(col("qid"), col("dst"),
        element_at(cArr, col("rn").cast("int")).as("w"))
      .groupBy("qid", "dst")
      .agg(sum(col("w")).as("score_num"), count(lit(1)).as("n_lists"))
    graft.ops.Windows.topKPerGroup(scored, Seq("qid"), topN,
        Seq(col("score_num").desc, col("dst")))
      .select(col("qid"), col("rn"), col("dst"), col("n_lists"),
        round(col("score_num").cast("double") / lit(den.toDouble), 6)
          .as("rrf_score"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversity-vs-relevance selection every RAG retrieval layer
    * runs between the index and the context window: greedily pick the
    * candidate maximizing λ·rel(q, j) − (1−λ)·max_{s∈S} sim(j, s),
    * where S is the already-selected set. Exact rational: relevances
    * and similarities arrive as integer micros, λ = lamNum/lamDen, so
    * each step's score is the INTEGER lamNum·rel − (lamDen−lamNum)·ms
    * and the pick order has no float knife edge (score desc, dst asc);
    * the reported score does one final division. Shape: `k` bounded
    * rounds, each a (qid)-keyed join of the remaining candidates
    * against the ≤k selected rows and a per-qid top-1 over ≤depth
    * candidates — everything is candidate-scale (n_queries·depth), the
    * corpus is never touched. Step 1 is pure relevance (empty S —
    * max-sim term is 0 by convention).
    *
    * `cand (qid, dst, rel)` — per-query candidate list (rel integer
    * micros); `sims (qid, a, b, sim)` — DIRECTIONAL candidate-pair
    * similarities covering every ordered pair with a ≠ b (integer
    * micros). Returns `(qid, rn, dst, score)` with rn = selection
    * order 1..k and score the integer λ-scaled micros.
    */
  def mmrRerank(cand: DataFrame, sims: DataFrame,
                lamNum: Long, lamDen: Long, k: Int): DataFrame = {
    val c0 = cand.select(col("qid"), col("dst"), col("rel")).localCheckpoint()
    val s0 = sims.select(col("qid"), col("a"), col("b"), col("sim"))
      .localCheckpoint()
    val w = Window.partitionBy("qid").orderBy(col("_s").desc, col("dst"))
    var selAll = c0.withColumn("_s", col("rel") * lamNum)
      .withColumn("_r", row_number().over(w)).filter(col("_r") === 1)
      .select(col("qid"), col("dst"), col("_s").as("score"),
        lit(1).as("rn"))
      .localCheckpoint()
    var rem = c0.join(selAll.select("qid", "dst"), Seq("qid", "dst"),
      "left_anti").localCheckpoint()
    for (i <- 2 to k) {
      val pick = rem
        .join(selAll.select(col("qid"), col("dst").as("b")), Seq("qid"))
        .join(s0.withColumnRenamed("a", "dst"), Seq("qid", "dst", "b"))
        .groupBy("qid", "dst", "rel").agg(max(col("sim")).as("_ms"))
        .withColumn("_s",
          col("rel") * lamNum - col("_ms") * (lamDen - lamNum))
        .withColumn("_r", row_number().over(w)).filter(col("_r") === 1)
        .select(col("qid"), col("dst"), col("_s").as("score"),
          lit(i).as("rn"))
      selAll = selAll.unionByName(pick).localCheckpoint()
      rem = rem.join(pick.select("qid", "dst"), Seq("qid", "dst"),
        "left_anti").localCheckpoint()
    }
    selAll
  }

  /** Per-dimension embedding QC report — the sanity pass an indexing
    * pipeline runs BEFORE building ANN structures on a new embedding
    * drop: per dim, the count, exact min/max (integer micros), mean and
    * population variance. A dead dimension (variance ~ 0), a mean far
    * off center, or a clipped min/max all surface here. Exact
    * arithmetic: components quantize to integer micros first (the q115
    * trick), sums and the n·Σx²−(Σx)² variance numerator stay
    * integral (decimal(38) for the products), and the only IEEE ops are
    * the two final divisions — so the report replays engine-exactly.
    * One explode + one (dim)-keyed aggregation; map-side combinable.
    */
  def embeddingQc(embs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val q = embs.select(posexplode(transform(toDouble(col(vecCol)),
      x => round(x * lit(1e6)).cast("long"))).as(Seq("dim", "x")))
    q.groupBy("dim").agg(
        count(lit(1)).as("n"),
        min(col("x")).as("min_micro"),
        max(col("x")).as("max_micro"),
        sum(col("x")).as("_s"),
        sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
          .as("_s2"))
      .select(col("dim"), col("n"), col("min_micro"), col("max_micro"),
        round(col("_s").cast("double") / col("n").cast("double")
          / lit(1000000.0), 6).as("mean"),
        round((col("n").cast("decimal(38,0)") * col("_s2")
          - col("_s").cast("decimal(38,0)") * col("_s").cast("decimal(38,0)"))
          .cast("double")
          / (col("n").cast("double") * col("n").cast("double"))
          / lit(1000000000000.0), 6).as("variance"))
  }

  /** Per-label centroid similarity report: the pairwise cosine between
    * every two labels' mean embeddings — the cluster-separation /
    * label-drift diagnostic (near-1 pairs are candidates for merging or
    * relabeling audits).
    *
    * Engine-exactness: components are quantized to `2^scaleBits` fixed
    * point FIRST (exact in double: float mantissa × a power of two), so
    * the per-(label, dim) sums are EXACT integers — a float mean would be
    * partition-order-sensitive. The cosine then needs no division by
    * counts at all: `cos(Σa/n_a, Σb/n_b) = ΣSaSb / (√ΣSa² · √ΣSb²)`
    * (the 1/n factors cancel), three exact-integer dim-sums and a fixed
    * IEEE tree on top — bit-identical in any engine.
    *
    * Shape: one narrow (label, dim) aggregation — |labels|·dim rows —
    * then a |labels|²·dim self-join of that TINY frame. Corpus size only
    * enters the first aggregation, which is map-side combinable.
    */
  def centroidCosine(embs: DataFrame, labelCol: String = "label",
                     scaleBits: Int = 14): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    val q = embs.select(col(labelCol).as("label"),
      posexplode(transform(toDouble(col("embedding")),
        x => round(x * lit(scale)).cast("long"))).as(Seq("dim", "qv")))
    // |labels|·dim rows feeding both self-join sides — materialize once
    // so the corpus-wide explode+agg runs once
    val sums = q.groupBy("label", "dim")
      .agg(sum(col("qv")).as("sv"), count(lit(1)).as("n"))
      .localCheckpoint()
    val a = sums.select(col("label").as("label_a"), col("dim"),
      col("sv").as("sa"), col("n").as("n_a"))
    val b = sums.select(col("label").as("label_b"), col("dim"),
      col("sv").as("sb"), col("n").as("n_b"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("sa") * col("sb")).as("_dot"),
        sum(col("sa") * col("sa")).as("_na2"),
        sum(col("sb") * col("sb")).as("_nb2"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("_dot").cast("double")
          / (sqrt(col("_na2").cast("double")) * sqrt(col("_nb2").cast("double"))),
          6).as("cosine"))
  }

  /** Per-label embedding diversity: mean pairwise SQUARED distance over
    * ordered non-self pairs, via the closed form
    * `Σ_{x,y}|x−y|² = 2n·Σ|x|² − 2|Σx|²` — NO pair join at any label
    * size (the sums are one aggregation), where the naive form is |c|²
    * per label. Components quantize to integer micros first (the q115
    * fixed-point trick) so both Σ-terms are exact integers; the two
    * big products run in decimal(38) (they exceed int64 at ~10⁵ vectors
    * per label), and the single double conversion happens at the end.
    * The data-diversity audit a curation pipeline runs per source/label
    * before mixing.
    */
  def labelDiversity(embs: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    val v = embs.select(col(labelCol).as("label"),
      expr(s"transform(cast($vecCol as array<double>), x -> cast(round(x * 1000000.0) as bigint))")
        .as("q"))
    val perVec = v.select(col("label"), col("q"),
      expr("aggregate(q, cast(0 as bigint), (acc, x) -> acc + x * x)").as("s2v"))
    val s2n = perVec.groupBy("label")
      .agg(sum(col("s2v")).as("s2"), count(lit(1)).as("n"))
    val xd = v.select(col("label"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(sum(col("x")).as("xd"))
    val xx = xd.groupBy("label")
      .agg(sum(col("xd").cast("decimal(38,0)") * col("xd").cast("decimal(38,0)"))
        .as("xx"))
    s2n.join(xx, Seq("label"))
      // singleton labels have no pairs — drop rather than divide by zero
      .filter(col("n") >= 2)
      .select(col("label"), col("n"),
        round(
          (lit(2).cast("decimal(38,0)") * col("n").cast("decimal(38,0)")
            * col("s2").cast("decimal(38,0)")
            - lit(2).cast("decimal(38,0)") * col("xx")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double")
            / lit(1e12), 6).as("mean_sq_dist"))
  }

  private def bucketsWithKey(corpus: DataFrame, nPlanes: Int,
                             prefix: Int => String, dim: Int): DataFrame =
    corpus.select(col("vec_id"),
      bucketCol(toDouble(col("embedding")),
        signMatrix(nPlanes, dim, prefix)).as("bucket"))
}
