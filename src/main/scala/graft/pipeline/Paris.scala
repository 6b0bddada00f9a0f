package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Paris hierarchical graph clustering (SURVEY.md §2.11;
  * scarf/datastore/graph_datastore.py:1461-1584): agglomeration over the
  * (collected) weighted KNN graph producing a scipy-style linkage matrix,
  * plus cut_straight and the reference's BalancedCut
  * (scarf/dendrogram.py:106-239).
  *
  * Like the reference (sknetwork on an in-process CSR), the O(n·k)-edge
  * agglomeration runs on the driver. The distance is the exact Paris
  * node-pair sampling ratio (Bonald et al. 2018, §3):
  * d(a,b) = (w(a)/W)·(w(b)/W) / (w(a,b)/W), with w(x) the weighted
  * degree mass (additive under merges) and W the total directed weight.
  * This distance is reducible, so global-minimum merging (here: a
  * lazy-invalidation priority queue) yields the same dendrogram as the
  * reference's nearest-neighbor-chain up to tie order.
  */
object Paris {

  /** Linkage row: merged clusters a, b (ids into the linkage forest),
    * merge distance, resulting size — the (n−1, 4) dendrogram shape.
    */
  case class Link(a: Long, b: Long, dist: Double, size: Long)

  def dendrogram(edges: DataFrame): (Array[Link], Map[Long, Long]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // driver-bound: runParis's Scale.driverGraph gate; features (PtimeAgg); anchors (sketchedCut)
    val es = edges.select("src", "dst", "weight").as[(Long, Long, Double)].collect()

    // symmetric adjacency between current clusters
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    def addE(a: Long, b: Long, w: Double): Unit = {
      val m = adj.getOrElseUpdate(a, scala.collection.mutable.Map())
      m(b) = m.getOrElse(b, 0.0) + w
    }
    es.foreach { case (s, d, w) => if (s != d) { addE(s, d, w); addE(d, s, w) } }

    val nodes = adj.keys.toArray.sorted
    val n = nodes.length
    // node ids -> dendrogram leaf ids 0..n-1
    val leafId = nodes.zipWithIndex.map { case (nd, i) => nd -> i.toLong }.toMap
    val size = scala.collection.mutable.Map(nodes.map(nd => leafId(nd) -> 1L): _*)
    // rekey adjacency to leaf ids
    val cadj = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[Long, Double]]()
    adj.foreach { case (a, m) =>
      cadj(leafId(a)) = scala.collection.mutable.Map(
        m.toSeq.map { case (b, w) => leafId(b) -> w }: _*)
    }
    // Paris masses: weighted degree, additive under merges; W = Σ masses
    val mass = scala.collection.mutable.Map(
      cadj.toSeq.map { case (a, m) => a -> m.values.sum }: _*)
    val wTot = mass.values.sum
    val links = scala.collection.mutable.ArrayBuffer[Link]()
    var nextId = n.toLong
    val alive = scala.collection.mutable.Set(cadj.keys.toSeq: _*)

    def pairDist(a: Long, b: Long): Double = {
      val w = cadj(a).getOrElse(b, 0.0)
      if (w <= 0) Double.PositiveInfinity
      else (mass(a) * mass(b)) / (wTot * w)
    }

    // lazy-invalidation priority queue of candidate pairs: O(E log E)
    // total instead of an O(n·E) scan per merge. Entries carry the
    // distance at push time; stale entries (dead endpoint or changed
    // distance) are discarded on pop. Deterministic tie-break on ids.
    val ord: Ordering[(Double, Long, Long)] = Ordering.Tuple3(
      Ordering.Double.TotalOrdering.reverse, Ordering.Long.reverse, Ordering.Long.reverse)
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Long)](ord)
    cadj.foreach { case (a, m) =>
      m.keys.foreach { b => if (b > a) pq.enqueue((pairDist(a, b), a, b)) }
    }

    while (alive.size > 1) {
      var picked: Option[(Double, Long, Long)] = None
      while (picked.isEmpty && pq.nonEmpty) {
        val e @ (d, a, b) = pq.dequeue()
        if (alive(a) && alive(b) && math.abs(pairDist(a, b) - d) < 1e-12)
          picked = Some(e)
      }
      val (bestD, a, b) = picked.getOrElse {
        val s = alive.toSeq.sorted // disconnected components: merge at inf
        (Double.PositiveInfinity, s(0), s(1))
      }
      // merge a, b into a new cluster c
      val c = nextId; nextId += 1
      val merged = scala.collection.mutable.Map[Long, Double]()
      Seq(a, b).foreach { x =>
        cadj(x).foreach { case (nb, w) =>
          if (nb != a && nb != b) merged(nb) = merged.getOrElse(nb, 0.0) + w
        }
      }
      links += Link(a, b, if (bestD.isPosInfinity) -1.0 else bestD, size(a) + size(b))
      size(c) = size(a) + size(b)
      mass(c) = mass(a) + mass(b)
      alive -= a; alive -= b
      merged.keys.foreach { nb =>
        cadj(nb) -= a; cadj(nb) -= b
        cadj(nb)(c) = merged(nb)
      }
      cadj(c) = merged
      alive += c
      merged.foreach { case (nb, _) =>
        val (lo, hi) = if (nb < c) (nb, c) else (c, nb)
        pq.enqueue((pairDist(lo, hi), lo, hi))
      }
    }
    (links.toArray, leafId)
  }

  /** Cut the dendrogram to `nClusters` by undoing the last merges
    * (cut_straight): returns `(cell_id, cluster)` with clusters 1..C
    * ordered by size desc.
    */
  def cut(edges: DataFrame, nClusters: Int): DataFrame = {
    val (links, leafId) = dendrogram(edges)
    cutFromLinkage(edges.sparkSession, links, leafId, nClusters)
  }

  /** cut_straight over an already-computed linkage. */
  def cutFromLinkage(spark: org.apache.spark.sql.SparkSession, links: Array[Link],
                     leafId: Map[Long, Long], nClusters: Int): DataFrame = {
    import spark.implicits._
    val n = leafId.size
    val parent = scala.collection.mutable.Map[Long, Long]()
    // apply all but the last (nClusters - 1) merges
    val keep = math.max(0, links.length - (nClusters - 1))
    links.take(keep).zipWithIndex.foreach { case (l, i) =>
      parent(l.a) = n + i.toLong; parent(l.b) = n + i.toLong
    }
    def root(x: Long): Long = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      r
    }
    val assign = leafId.toSeq.map { case (cell, leaf) => (cell, root(leaf)) }
    val bySize = assign.groupBy(_._2).toSeq
      .map { case (c, ms) => (c, ms.size) }
      .sortBy { case (c, sz) => (-sz, c) }
      .zipWithIndex.map { case ((c, _), i) => c -> (i + 1L) }.toMap
    assign.map { case (cell, c) => (cell, bySize(c)) }.toDF("cell_id", "cluster")
  }

  /** BalancedCut (scarf/dendrogram.py:106-239): size- and distance-aware
    * dendrogram cut — from each unclaimed leaf, climb while the parent (a)
    * is not already a branchpoint, (b) holds <= maxSize leaves, and (c)
    * has mergeable subtrees (size > minSize on both ⇒ their merge
    * distances and mean subtree distances may not differ by more than
    * maxDistFc×); then claim every unclaimed leaf under the stop node.
    * Returns leafId -> 1-based cluster in branchpoint discovery order.
    */
  def balancedCutLabels(links: Array[Link], n: Int, maxSize: Int, minSize: Int,
                        maxDistFc: Double): Map[Long, Long] = {
    val total = 2 * n - 1
    val childA = new Array[Long](total)
    val childB = new Array[Long](total)
    val nleaves = new Array[Long](total)
    val dist = new Array[Double](total)
    val parent = scala.collection.mutable.Map[Long, Long]()
    links.zipWithIndex.foreach { case (l, i) =>
      val id = n + i
      childA(id) = l.a; childB(id) = l.b
      nleaves(id) = l.size; dist(id) = l.dist
      parent(l.a) = id; parent(l.b) = id
      // leaves inherit the distance of the merge that consumed them
      if (l.a < n) dist(l.a.toInt) = l.dist
      if (l.b < n) dist(l.b.toInt) = l.dist
    }

    def successorsAbove(start: Int, minLeaves: Long): Seq[Int] = {
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      val q = scala.collection.mutable.Queue(start)
      while (q.nonEmpty) {
        val i = q.dequeue()
        if (nleaves(i) > minLeaves) {
          out += i
          if (i >= n) { q.enqueue(childA(i).toInt); q.enqueue(childB(i).toInt) }
        }
      }
      out.drop(1).toSeq
    }

    def meanDist(start: Int): Double = {
      val s = successorsAbove(start, -1L)
      if (s.isEmpty) 0.0 else s.map(dist(_)).sum / s.length
    }

    def mergeable(s1: Int, s2: Int): Boolean = {
      // leaves carry nleaves = 0 (make_digraph), so they never trip this
      if (nleaves(s1) > minSize && nleaves(s2) > minSize) {
        val (d1, d2) = (dist(s1), dist(s2))
        if (d1 / d2 > maxDistFc || d2 / d1 > maxDistFc) false
        else {
          val (m1, m2) = (meanDist(s1), meanDist(s2))
          !(m1 / m2 > maxDistFc || m2 / m1 > maxDistFc)
        }
      } else true
    }

    // leaves popped LIFO (python dict.popitem), branchpoints keep
    // discovery order (python dict insertion order)
    val leaves = scala.collection.mutable.LinkedHashSet((0 until n): _*)
    val bps = scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.ArrayBuffer[Int]]()
    while (leaves.nonEmpty) {
      val leaf = leaves.last
      leaves -= leaf
      var cur = leaf
      var stop = false
      while (!stop) {
        parent.get(cur.toLong) match {
          case None => stop = true // reached the root
          case Some(p) =>
            val pi = p.toInt
            if (bps.contains(pi)) stop = true
            else if (nleaves(pi) > maxSize) stop = true
            else if (!mergeable(childA(pi).toInt, childB(pi).toInt)) stop = true
            else cur = pi
        }
      }
      val mine = scala.collection.mutable.ArrayBuffer(leaf)
      bps(cur) = mine
      val stack = scala.collection.mutable.Stack(cur)
      while (stack.nonEmpty) {
        val i = stack.pop()
        if (leaves.contains(i)) { mine += i; leaves -= i }
        else if (bps.contains(i) && i != cur) () // branch already taken
        else if (nleaves(i) >= maxSize && i != cur) () // prevent greed
        else if (i >= n) { stack.push(childA(i).toInt); stack.push(childB(i).toInt) }
      }
    }
    bps.zipWithIndex.flatMap { case ((_, ls), ci) =>
      ls.map(l => l.toLong -> (ci + 1L))
    }.toMap
  }

  /** Paris over a TopACeDo-sketched CONTRACTION of the graph — the scale
    * path for the driver-side agglomeration (VERDICT r2 #7). The full
    * graph never reaches the driver:
    *
    *  1. [[graft.graph.Sketch.topacedo]] picks s anchor cells
    *     (density/SNN-modulated seeded rates, all distributed);
    *  2. every cell is assigned to its nearest anchor by iterated
    *     weighted majority vote over the KNN edges (`assignRounds`
    *     join+agg rounds — multilevel coarsening, the aggregation step
    *     of METIS/Louvain);
    *  3. the graph is CONTRACTED onto the anchors: supergraph edge
    *     (a, b) = Σ weights between a's and b's assigned groups. Paris
    *     collects only this s-node graph. Contraction (vs inducing on
    *     the sketch) preserves the full graph's mass structure, so
    *     weak inter-cluster bridges keep merging last — an induced
    *     subgraph would give Paris tiny node masses and let a bridge
    *     between two low-degree sketched cells masquerade as a tight
    *     pair (d = m·m′/(W·w) collapses when masses shrink);
    *  4. disconnected (infinite-distance) merges are undone, the
    *     nClusters largest real clusters form the core, and each cell
    *     inherits its anchor's label. Cells unreached by any anchor
    *     after all rounds keep cluster 0.
    *
    * Driver memory bound: the contracted graph has ≤ s·k̄ edges (s =
    * sketch size ≈ maxRate·n + connectors) — with the default maxRate
    * 0.05 that is ~5 % of the reference's own sknetwork boundary
    * (scarf/datastore/graph_datastore.py:1461-1584, full n·k CSR).
    */
  def sketchedCut(edges: DataFrame, clusters: DataFrame, nClusters: Int,
                  maxRate: Double = 0.05, minRate: Double = 0.01,
                  minCellsPerGroup: Int = 3, assignRounds: Int = 4,
                  seed: Long = 4466L): DataFrame = {
    import org.apache.spark.sql.functions._
    // usePcst = false: sketchedCut's contract is that the driver only
    // ever sees the contracted supergraph, so the connector pass stays
    // relational here; exact GW-PCST connectors are the Sketch.topacedo
    // default for graphs within its documented collect boundary
    val sk = graft.graph.Sketch.topacedo(edges, clusters,
        maxRate = maxRate, minRate = minRate,
        minCellsPerGroup = minCellsPerGroup, seed = seed, usePcst = false)
      .filter(col("sketched")).select("cell_id")
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(max("weight").as("weight"))
    val symCk = graft.core.Lineage.reset(sym)
    // nearest-anchor assignment by iterated weighted vote
    val (anchored, _) = graft.core.Lineage.iterate(
        sk.select(col("cell_id"), col("cell_id").as("anchor")),
        assignRounds) { (anchored, _) =>
      val votes = symCk
        .join(anchored.select(col("cell_id").as("dst"), col("anchor")), Seq("dst"))
        .join(anchored.select(col("cell_id").as("src")), Seq("src"), "left_anti")
        .groupBy(col("src").as("cell_id"), col("anchor"))
        .agg(sum("weight").as("w"))
      val byVote = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell_id")).orderBy(col("w").desc, col("anchor"))
      val pick = votes.withColumn("rn", row_number().over(byVote))
        .filter(col("rn") === 1).select("cell_id", "anchor")
      anchored.unionByName(pick)
    } { (_, _) => false }
    // contract onto anchors; each undirected cross-group edge lands in
    // both ordered buckets with equal weight, so keep src < dst once
    val superE = symCk
      .join(anchored.select(col("cell_id").as("src"), col("anchor").as("asrc")), Seq("src"))
      .join(anchored.select(col("cell_id").as("dst"), col("anchor").as("adst")), Seq("dst"))
      .filter(col("asrc") < col("adst"))
      .groupBy(col("asrc").as("src"), col("adst").as("dst"))
      .agg(sum("weight").as("weight"))
    // the ONLY collect: the s-node contracted graph
    val (links, leafId) = dendrogram(superE)
    val nComponents = links.count(_.dist < 0) + 1
    val anchorLabels = cutFromLinkage(edges.sparkSession, links, leafId,
        math.max(nClusters, nComponents))
      .filter(col("cluster") <= nClusters)
      .withColumnRenamed("cell_id", "anchor")
    val all = symCk.select(col("src").as("cell_id")).distinct()
    all.join(anchored, Seq("cell_id"), "left")
      .join(anchorLabels, Seq("anchor"), "left")
      .na.fill(0L, Seq("cluster"))
      .select("cell_id", "cluster")
  }

  /** BalancedCut over a weighted edge DataFrame → (cell_id, cluster). */
  def balancedCut(edges: DataFrame, maxSize: Int, minSize: Int,
                  maxDistFc: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (links, leafId) = dendrogram(edges)
    val labels = balancedCutLabels(links, leafId.size, maxSize, minSize, maxDistFc)
    leafId.toSeq.map { case (cell, leaf) => (cell, labels(leaf)) }
      .toDF("cell_id", "cluster")
  }
}
