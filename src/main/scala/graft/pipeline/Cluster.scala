package graft.pipeline

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering (SURVEY.md §2.10-2.11): distributed KMeans seeding (MLlib,
  * mirrors scarf's MiniBatchKMeans stage) and graph community detection.
  *
  * The KNN graph has n·k edges (k ≈ 11-21), so like the reference —
  * which hands igraph/sknetwork a CSR built on one machine
  * (scarf/datastore/graph_datastore.py:1379-1584) — community detection
  * collects the edge list to the driver. That stays feasible up to ~10⁷
  * cells; beyond that the Pregel/aggregateMessages path replaces it.
  */
object Cluster {

  /** KMeans labels over the latent space: `(cell_id, cluster)`, 1-based
    * like the reference's labels (scarf/datastore/graph_datastore.py:1446).
    */
  def kmeans(latent: DataFrame, k: Int, seed: Long = 4466L): DataFrame = {
    val toVec = udf((a: Seq[Double]) => Vectors.dense(a.toArray))
    val vecs = latent.select(col("cell_id"), toVec(col("latent")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cluster0").fit(vecs)
    model.transform(vecs)
      .select(col("cell_id"), (col("cluster0") + 1).cast("long").as("cluster"))
  }

  /** Deterministic seeded Lloyd's KMeans over array latent vectors.
    * Unlike MLlib's KMeans (k-means|| randomized init, engine-private
    * RNG), every step here is a deterministic join + aggregate an
    * external engine can replay bit-for-bit: init = the k cells with
    * the smallest md5(seed:cell_id) digests; fixed iteration count;
    * argmin ties break to the lowest center index; empty clusters keep
    * their previous center; per-iteration centers are rounded to 9 dp
    * so cross-engine float-summation-order noise cannot accumulate.
    * This is what makes the full HTO-demux chain (q60) oracle-checkable
    * end-to-end. Per iteration: one distributed aggregation; only the
    * k×dims center matrix ever reaches the driver. Returns
    * `(cell_id, cluster)` 1-based.
    */
  def lloyd(latent0: DataFrame, k: Int, iters: Int = 25,
            seed: Long = 4466L): DataFrame =
    lloydWithCenters(latent0, k, iters, seed)._1

  /** [[lloyd]] plus the final 9 dp-rounded center matrix (index i =
    * init-rank i, the oracle's `cid = i+1`). Callers that assign OTHER
    * vectors to the trained centers (IVF list assignment) must use these
    * exact centers — recomputing means from the assignment adds an extra
    * un-rounded update step that drifts from the replayable fence.
    */
  def lloydWithCenters(latent0: DataFrame, k: Int, iters: Int = 25,
                       seed: Long = 4466L): (DataFrame, Array[Array[Double]]) = {
    val (cached, latent, centers) = trained(latent0, k, iters, seed)
    // materialize the final assignment (eager localCheckpoint) so the
    // input cache can be released NOW — repeated lloyd calls in one
    // session (ivfSelfKnn trains one per round) no longer accumulate
    // cached partitions, and downstream consumers re-read a tiny
    // (cell_id, cluster) frame instead of re-running the assign UDF
    val assigned = latent.withColumn("c0", assignUdf(centers)(col("latent")))
      .select(col("cell_id"), (col("c0") + 1).cast("long").as("cluster"))
      .localCheckpoint()
    cached.unpersist()
    (assigned, centers)
  }

  /** Training-only variant of [[lloydWithCenters]]: identical init and
    * iterations (bit-identical centers by construction), but skips the
    * final assignment job — for callers like the IVF index build that
    * only assign OTHER vectors to the trained centers and never read the
    * sample's own labels.
    */
  def lloydCenters(latent0: DataFrame, k: Int, iters: Int = 25,
                   seed: Long = 4466L): Array[Array[Double]] = {
    val (cached, _, centers) = trained(latent0, k, iters, seed)
    cached.unpersist()
    centers
  }

  /** Cache the vector frame (it feeds init + every iteration + the final
    * assignment — iters + 2 actions; without a cache the whole upstream
    * plan re-executes each time) and compact it: wall-clock here is
    * `iters` SEQUENTIAL tiny jobs, so per-job task overhead multiplies
    * by 25 — ~200k-vector partitions (a cap keeps a real cluster
    * parallel) schedule a handful of tasks per iteration instead of one
    * per input partition. Partitioning only — every value and the 9 dp
    * center fence are untouched (group-sum order shifts are exactly the
    * noise the fence already absorbs across engines). The one
    * materializing action also computes the content key of the
    * trained-center memo (DriverMemo — reps and repeated facade calls on
    * the same vectors skip all `iters` training jobs; the memoized matrix
    * is bit-identical by construction, so the q60/q68 oracle replay is
    * untouched). Returns `(cached handle to unpersist, compacted frame to
    * compute on, centers)`.
    */
  private def trained(latent0: DataFrame, k: Int, iters: Int, seed: Long)
      : (DataFrame, DataFrame, Array[Array[Double]]) = {
    val cached = latent0.cache()
    val (fp, r) = graft.core.Fingerprint.key(cached, "cell_id, latent")
    val parts = math.max(1, math.min(((r.getLong(0) - 1) / 200000L).toInt + 1, 1024))
    val latent = cached.coalesce(parts)
    (cached, latent, graft.core.DriverMemo.cached(s"lloyd:$fp:$k:$iters:$seed") {
      lloydTrain(latent, k, iters, seed)
    })
  }

  private def assignUdf(cs: Array[Array[Double]]) = udf { (v: Seq[Double]) =>
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < cs(c).length) {
        val t = v(i) - cs(c)(i); d += t * t; i += 1
      }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** The deterministic training core over an already-cached+compacted
    * vector frame: digest-ranked distinct init, `iters` assign/mean
    * rounds with the 9 dp center fence, empty clusters keeping their
    * previous center.
    */
  private def lloydTrain(latent: DataFrame, k: Int, iters: Int,
                         seed: Long): Array[Array[Double]] = {
    val spark = latent.sparkSession
    import spark.implicits._
    // init: k smallest-digest cells with DISTINCT vectors (duplicate
    // init centers would permanently empty the later cluster)
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("latent")).orderBy(col("h"), col("cell_id"))
    var centers: Array[Array[Double]] = latent
      .withColumn("h", md5(concat(lit(s"$seed:"), col("cell_id"))))
      .withColumn("rv", row_number().over(byVec)).filter(col("rv") === 1)
      .orderBy(col("h"), col("cell_id")).limit(k)
      .select("latent").as[Seq[Double]].collect().map(_.toArray)
    for (_ <- 1 to iters) {
      val means = latent.withColumn("c0", assignUdf(centers)(col("latent")))
        .select(col("c0"), posexplode(col("latent")).as(Seq("pos", "x")))
        .groupBy("c0", "pos").agg(round(avg(col("x")), 9).as("m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).map { case (c, rs) =>
          c -> rs.sortBy(_._2).map(_._3).toArray
        }
      centers = centers.zipWithIndex.map { case (old, c) =>
        means.getOrElse(c, old)
      }
    }
    centers
  }

  /** Driver-side greedy modularity (Louvain-style, deterministic node
    * order) over a collected weighted edge list — the stand-in for the
    * reference's Leiden call (external C library). Returns
    * `(cell_id, cluster)` with clusters relabeled 1..C by size desc.
    */
  /** DBSCAN over a precomputed ε-neighborhood pair set (from
    * [[Knn.bucketedEpsNeighbors]] at scale, or an exact radius join):
    * the classic density clustering a curation pipeline uses for
    * embedding-space outlier pruning. `pairs (src, dst)` must contain
    * both directions of every ε-pair (the LSH chain's symmetric
    * construction guarantees it). A point is `core` iff its
    * ε-neighborhood (self included) holds ≥ minPts points; clusters are
    * connected components over core–core edges (distributed
    * large/small-star, min-id labels); non-core points with a core
    * ε-neighbor are `border` and take the MINIMUM neighboring core
    * cluster (the deterministic tie policy — plain DBSCAN leaves border
    * assignment order-dependent, which an engine replay cannot be);
    * everything else is `noise` with a null cluster.
    * Shapes: one degree aggregation, the CC rounds, two id-keyed joins.
    */
  def dbscan(universe: DataFrame, pairs: DataFrame, minPts: Int): DataFrame = {
    val deg = pairs.groupBy("src").agg(count(lit(1)).as("_n"))
    val core = deg.filter(col("_n") + 1 >= minPts)
      .select(col("src").as("id")).localCheckpoint()
    val coreEdges = pairs
      .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
    val lbl = graft.graph.ConnectedComponents.labels(coreEdges)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreLbl = core
      .join(lbl.select(col("node").as("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
      .localCheckpoint()
    val borderLbl = pairs
      .join(core.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(coreLbl.select(col("id").as("dst"), col("cluster")), Seq("dst"))
      .groupBy("src").agg(min(col("cluster")).as("cluster"))
      .select(col("src").as("id"), col("cluster"))
    val assigned = coreLbl.select(col("id"), col("cluster"), lit("core").as("role"))
      .unionByName(borderLbl.select(col("id"), col("cluster"),
        lit("border").as("role")))
    universe.select(col("cell_id").as("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster"))
  }

  /** One sweep-until-stable greedy local-move phase over an adjacency
    * with optional self-loop weights (self-loops arise from contraction;
    * they stay with the node under any move, so they never enter the
    * per-candidate gain, only the degrees). Returns node → community.
    */
  private def localMoves(adj: Map[Long, Map[Long, Double]],
                         selfW: Map[Long, Double],
                         maxPasses: Int,
                         initial: Map[Long, Long] = Map.empty): Map[Long, Long] = {
    val nodes = adj.keys.toArray.sorted
    val deg = nodes.map(n => n -> (adj(n).values.sum + 2 * selfW.getOrElse(n, 0.0))).toMap
    val m2 = deg.values.sum // 2m
    val comm = scala.collection.mutable.Map(
      nodes.map(n => n -> initial.getOrElse(n, n)): _*)
    val commDeg = scala.collection.mutable.Map[Long, Double]()
    nodes.foreach(n => commDeg(comm(n)) = commDeg.getOrElse(comm(n), 0.0) + deg(n))

    var moved = true
    var pass = 0
    while (moved && pass < maxPasses) {
      moved = false
      pass += 1
      nodes.foreach { n =>
        val cOld = comm(n)
        commDeg(cOld) -= deg(n)
        // weight from n to each neighboring community
        val toComm = scala.collection.mutable.Map[Long, Double]()
        adj(n).foreach { case (nb, w) =>
          toComm(comm(nb)) = toComm.getOrElse(comm(nb), 0.0) + w
        }
        // best community by modularity gain, deterministic tie-break
        val candidates = (toComm.keys ++ Iterator(cOld)).toSeq.distinct.sorted
        val best = candidates.maxBy { c =>
          (toComm.getOrElse(c, 0.0) - deg(n) * commDeg(c) / m2, -c)
        }
        if (best != cOld) moved = true
        comm(n) = best
        commDeg(best) += deg(n)
      }
    }
    comm.toMap
  }

  /** Contract a partition to super-nodes: inter-part sums become edges,
    * intra-part totals (plus member self-loops) become each super-node's
    * self-loop. Part ids become the new node ids.
    */
  private def contract(adj: Map[Long, Map[Long, Double]],
                       selfW: Map[Long, Double],
                       part: Map[Long, Long])
      : (Map[Long, Map[Long, Double]], Map[Long, Double]) = {
    val newSelf = scala.collection.mutable.Map[Long, Double]()
    selfW.foreach { case (n, w) =>
      val c = part(n)
      newSelf(c) = newSelf.getOrElse(c, 0.0) + w
    }
    val newAdj = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    part.values.toSet.foreach { c: Long =>
      newAdj(c) = scala.collection.mutable.Map()
    }
    adj.foreach { case (n, nbrs) =>
      val cn = part(n)
      nbrs.foreach { case (nb, w) =>
        val cb = part(nb)
        if (cn == cb) {
          // each undirected intra edge appears twice in adj — halve
          newSelf(cn) = newSelf.getOrElse(cn, 0.0) + w / 2
        } else {
          val m = newAdj(cn)
          m(cb) = m.getOrElse(cb, 0.0) + w
        }
      }
    }
    (newAdj.map { case (n, m) => n -> m.toMap }.toMap, newSelf.toMap)
  }

  /** Multi-LEVEL Louvain (Blondel 2008, both phases): greedy local moves,
    * then CONTRACT communities to super-nodes (inter-community weights
    * summed, intra-community weight becoming the super-node's self-loop)
    * and repeat on the contracted graph until a level yields no merge.
    * The aggregation phase is what lets distant same-community nodes
    * find each other: local moves alone fragment a 50k-node KNN graph
    * into hundreds of k-hop-sized communities (measured NMI 0.31 vs a
    * 5-block plant in E2eScaleSpec; multi-level recovers the blocks).
    * Driver-side over the n·k edge list like the reference's igraph
    * call; deterministic (sorted sweeps, smallest-id tie-breaks).
    */
  def louvain(edges: DataFrame, maxPasses: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("src", "dst", "weight")
      .as[(Long, Long, Double)].collect()

    // undirected adjacency with combined weights
    val adj0 = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    def add(a: Long, b: Long, w: Double): Unit = {
      val m = adj0.getOrElseUpdate(a, scala.collection.mutable.Map())
      m(b) = m.getOrElse(b, 0.0) + w
    }
    es.foreach { case (s, d, w) => if (s != d) { add(s, d, w); add(d, s, w) } }

    var curAdj: Map[Long, Map[Long, Double]] =
      adj0.map { case (n, m) => n -> m.toMap }.toMap
    var curSelf: Map[Long, Double] = Map.empty
    // original node -> current super-node
    var mapping: Map[Long, Long] = curAdj.keys.map(n => n -> n).toMap

    var improved = true
    while (improved) {
      val comm = localMoves(curAdj, curSelf, maxPasses)
      val nComms = comm.values.toSet.size
      improved = nComms < curAdj.size
      if (improved) {
        mapping = mapping.map { case (orig, sup) => orig -> comm(sup) }
        val (a, s) = contract(curAdj, curSelf, comm)
        curAdj = a
        curSelf = s
      }
    }
    // relabel by community size desc (size in ORIGINAL nodes, stable)
    val bySize = mapping.groupBy(_._2).toSeq
      .map { case (c, ms) => (c, ms.size) }
      .sortBy { case (c, sz) => (-sz, c) }
      .zipWithIndex.map { case ((c, _), i) => c -> (i + 1L) }.toMap
    mapping.toSeq.map { case (n, c) => (n, bySize(c)) }
      .toDF("cell_id", "cluster")
  }

  /** Leiden refinement phase (Traag, Waltman & van Eck 2019, §A/B — the
    * reason scarf uses Leiden over Louvain,
    * scarf/datastore/graph_datastore.py:1379-1459): within each community,
    * rebuild sub-communities from singletons; a node may only merge with a
    * sub-community of its own community, and only if it is well-connected
    * to the community (w(v, P∖v) ≥ γ·deg(v)·(vol(P)−deg(v))/2m, γ = 1).
    * Badly-connected nodes stay singletons, so every output community is
    * internally connected — the property greedy Louvain cannot guarantee.
    * Returns `(cell_id, cluster)` relabeled 1..C by size desc.
    */
  def refine(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)].collect()
    val lab = labels.select("cell_id", "cluster").as[(Long, Long)].collect().toMap

    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    def add(a: Long, b: Long, w: Double): Unit = {
      val m = adj.getOrElseUpdate(a, scala.collection.mutable.Map())
      m(b) = m.getOrElse(b, 0.0) + w
    }
    es.foreach { case (s, d, w) => if (s != d) { add(s, d, w); add(d, s, w) } }
    val sub = refineParts(
      adj.map { case (n, m) => n -> m.toMap }.toMap, Map.empty, lab)
    // dense relabel of the sub-partition by size desc (a sub never spans
    // two communities, so sub ids alone carry the (comm, sub) identity)
    val bySize = sub.groupBy(_._2).toSeq
      .map { case (s, ms) => (s, ms.size) }
      .sortBy { case (s, sz) => (-sz, s) }
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1L) }.toMap
    sub.toSeq.map { case (n, s) => (n, bySize(s)) }.toDF("cell_id", "cluster")
  }

  /** The refinement core over an adjacency (self-loops allowed — they
    * arise on contracted graphs): within each community of `lab`,
    * rebuild sub-communities from singletons under the well-connectedness
    * gate. Returns node → sub root id (node ids, globally unique).
    */
  private def refineParts(adj: Map[Long, Map[Long, Double]],
                          selfW: Map[Long, Double],
                          lab: Map[Long, Long]): Map[Long, Long] = {
    val deg = adj.map { case (n, m) =>
      n -> (m.values.sum + 2 * selfW.getOrElse(n, 0.0)) }
    val m2 = deg.values.sum
    val out = scala.collection.mutable.Map[Long, Long]() // node -> sub root
    lab.keys.groupBy(lab).toSeq.sortBy(_._1).foreach { case (_, members0) =>
      val members = members0.toSeq.sorted
      val inP = members.toSet
      val volP = members.map(deg.getOrElse(_, 0.0)).sum
      val sub = scala.collection.mutable.Map(members.map(n => n -> n): _*)
      val subVol = scala.collection.mutable.Map(members.map(n => n -> deg.getOrElse(n, 0.0)): _*)
      def wellConnected(v: Long): Boolean = {
        val wIn = adj.getOrElse(v, Map.empty[Long, Double])
          .collect { case (nb, w) if inP(nb) => w }.sum
        val d = deg.getOrElse(v, 0.0)
        wIn >= d * (volP - d) / m2
      }
      var moved = true
      var pass = 0
      while (moved && pass < 10) {
        moved = false
        pass += 1
        members.foreach { v =>
          if (wellConnected(v)) {
            val cOld = sub(v)
            val d = deg.getOrElse(v, 0.0)
            subVol(cOld) -= d
            val toSub = scala.collection.mutable.Map[Long, Double]()
            adj.getOrElse(v, Map.empty[Long, Double]).foreach { case (nb, w) =>
              if (inP(nb)) toSub(sub(nb)) = toSub.getOrElse(sub(nb), 0.0) + w
            }
            val candidates = (toSub.keys ++ Iterator(cOld)).toSeq.distinct.sorted
            val best = candidates.maxBy { c =>
              (toSub.getOrElse(c, 0.0) - d * subVol(c) / m2, -c)
            }
            if (best != cOld) moved = true
            sub(v) = best
            subVol(best) += d
          }
        }
      }
      members.foreach(n => out(n) = sub(n))
    }
    out.toMap
  }

  /** Faithful Leiden loop (Traag 2019, Alg. 1): per level, greedy local
    * MOVES from the carried-in partition, REFINE each community into
    * well-connected sub-communities, then AGGREGATE on the REFINED
    * partition while the next level's initial communities come from the
    * MOVE partition. The output communities are the move phase's — the
    * refined partition only shapes the aggregation — which is the
    * detail that separates Leiden from "Louvain, then split": returning
    * the refined sub-partition directly fragments every large community
    * back into k-hop pieces (measured NMI 0.31 vs a 5-block plant at
    * 50k cells in E2eScaleSpec; this loop recovers the blocks) while
    * still guaranteeing internally connected communities.
    * Driver-side over the n·k edge list like the reference's sknetwork
    * call (scarf/datastore/graph_datastore.py:1379-1459); deterministic.
    */
  def leiden(edges: DataFrame, maxPasses: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("src", "dst", "weight")
      .as[(Long, Long, Double)].collect()
    val adj0 = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    def add(a: Long, b: Long, w: Double): Unit = {
      val m = adj0.getOrElseUpdate(a, scala.collection.mutable.Map())
      m(b) = m.getOrElse(b, 0.0) + w
    }
    es.foreach { case (s, d, w) => if (s != d) { add(s, d, w); add(d, s, w) } }

    var adj: Map[Long, Map[Long, Double]] =
      adj0.map { case (n, m) => n -> m.toMap }.toMap
    var selfW: Map[Long, Double] = Map.empty
    var mapping: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    var labels: Map[Long, Long] = mapping // current nodes -> community
    var done = false
    var level = 0
    while (!done && level < 20) {
      level += 1
      val comm = localMoves(adj, selfW, maxPasses, initial = labels)
      val refined = refineParts(adj, selfW, comm)
      if (refined.values.toSet.size == adj.size) {
        // every sub a singleton — nothing left to aggregate
        labels = comm
        done = true
      } else {
        val superComm = refined.toSeq.map { case (n, s) => s -> comm(n) }.toMap
        mapping = mapping.map { case (o, cur) => o -> refined(cur) }
        val (a, s) = contract(adj, selfW, refined)
        adj = a
        selfW = s
        labels = superComm
      }
    }
    val finalLab = mapping.map { case (o, cur) => o -> labels(cur) }
    val bySize = finalLab.groupBy(_._2).toSeq
      .map { case (c, ms) => (c, ms.size) }
      .sortBy { case (c, sz) => (-sz, c) }
      .zipWithIndex.map { case ((c, _), i) => c -> (i + 1L) }.toMap
    finalLab.toSeq.map { case (n, c) => (n, bySize(c)) }
      .toDF("cell_id", "cluster")
  }
}
