package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Distributed one-level Louvain (SURVEY.md §2.11 scale-up path for
  * Cluster.louvain): every node iteratively moves to the neighboring
  * community with the best modularity gain, computed entirely with
  * joins/aggregations — no driver-side graph.
  *
  * Synchronous updates can oscillate (two nodes swapping into each
  * other's communities forever), so moves alternate by DIRECTION — even
  * rounds only admit moves toward a smaller community id, odd rounds
  * larger — which makes a simultaneous swap structurally impossible
  * (it would need both directions in one round). Labels converge to a
  * local modularity optimum; exact agreement with sequential Louvain is
  * not guaranteed (same caveat as distributed Leiden implementations).
  *
  * Input: directed edge list `(src, dst, weight)`; treated as
  * undirected by symmetrization.
  */
object DistributedLouvain {

  def cluster(edges: DataFrame, rounds: Int = 8): DataFrame = {
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max(col("weight")).as("weight"))
    val symCk = Lineage.reset(sym)

    // self-loops (contracted intra-community mass from clusterMultiLevel)
    // count TWICE in the degree — the standard convention — but never
    // enter the per-candidate gain (they stay with the node under any
    // move); plain edge lists have none and are unaffected
    val selfDeg = edges.filter(col("src") === col("dst"))
      .groupBy("src").agg((sum(col("weight")) * 2).as("sdeg"))
    // Node universe = symmetrized endpoints ∪ self-loop-only nodes. After
    // clusterMultiLevel's contraction a fully-merged component is a
    // super-node whose ONLY edge is its self-loop; deriving nodes from
    // the self-loop-filtered symCk alone would drop it from the label
    // table (and its cells from the multi-level mapping join).
    val nodes = symCk.select(col("src"))
      .unionByName(selfDeg.select(col("src"))).distinct()
    val deg = nodes
      .join(symCk.groupBy("src").agg(sum(col("weight")).as("deg0")), Seq("src"), "left")
      .join(selfDeg, Seq("src"), "left")
      .select(col("src"),
        (coalesce(col("deg0"), lit(0.0)) + coalesce(col("sdeg"), lit(0.0))).as("deg"))
    val m2Row = deg.agg(sum(col("deg")).as("m2"))
    // total weight observed on degCk's own pass (no extra job): with
    // m2 = 0 every gain is 0/0 = NaN, so a zero-weight graph skips the
    // rounds and each node stays its own cluster (dense by node id)
    val (degCk, m2Obs) = Lineage.reset(deg.crossJoin(broadcast(m2Row)),
      coalesce(max(col("m2")), lit(0.0)).as("m2"))

    // community = own node initially; each state carries a _moved flag
    // whose count is observed on the state's own materializing pass.
    // EXACT early exit: moves alternate by direction parity, so the state
    // can only be stable once BOTH parities pass without a move — after a
    // zero-move even round AND a zero-move odd round, every later round
    // recomputes an identical scored table and moves nothing. The
    // remaining fixed rounds were pure re-scans of the full edge table
    // (guide §1.2: don't compute things you throw away); on converged
    // graphs this cuts the 8-round schedule to convergence + 2. The
    // initial state marks every node moved so it never counts as a
    // zero-move round.
    val init = degCk.select(col("src").as("node"), col("src").as("comm"),
      lit(true).as("_moved"))
    val (comm, _) = Lineage.iterate(init,
        if (m2Obs.getDouble(0) == 0.0) 0 else rounds,
        count_if(col("_moved")).as("moved")) { (comm, round) =>
      // community volumes (sum of member degrees)
      val vol = comm.join(degCk.withColumnRenamed("src", "node"), Seq("node"))
        .groupBy("comm").agg(sum(col("deg")).as("vol"))
      // per (node, neighboring community): total edge weight into it;
      // the node's OWN community is always a candidate (w_in may be 0)
      // so "stay" competes fairly
      val nbrComm = symCk
        .join(comm.select(col("node").as("dst"), col("comm").as("c_dst")), Seq("dst"))
        .select(col("src").as("node"), col("c_dst").as("cand"), col("weight"))
      val ownComm = comm.select(col("node"), col("comm").as("cand"), lit(0.0).as("weight"))
      val toComm = nbrComm.unionByName(ownComm)
        .groupBy("node", "cand").agg(sum(col("weight")).as("w_in"))
      // modularity gain with the node removed from its own community's
      // volume (the standard Louvain correction — without it, smaller
      // communities always look better and synchronous moves oscillate)
      val scored = toComm
        .join(vol.withColumnRenamed("comm", "cand"), Seq("cand"))
        .join(degCk.withColumnRenamed("src", "node"), Seq("node"))
        .join(comm.select("node", "comm"), Seq("node"))
        .withColumn("vol_adj",
          when(col("cand") === col("comm"), col("vol") - col("deg")).otherwise(col("vol")))
        .withColumn("gain", col("w_in") - col("deg") * col("vol_adj") / col("m2"))
      // DIRECTION damping: even rounds only allow moves toward a SMALLER
      // community id, odd rounds larger. Simultaneous A↔B swaps (which
      // the earlier node-hash-parity damping could not rule out when two
      // nodes shared a parity — they exchanged communities forever and
      // the merge never happened, found by the multi-level planted-block
      // spec) are impossible: a swap needs both directions in one round.
      // "Stay" (cand == comm) always passes, so every node keeps a row.
      // The filter runs BEFORE the rank so a node whose best overall move
      // is direction-disallowed this round still takes its best ALLOWED
      // positive-gain move instead of stalling a round.
      val allowed =
        if (round % 2 == 0) col("cand") <= col("comm")
        else col("cand") >= col("comm")
      // best allowed move as a min(struct) aggregation — picks the same
      // row as the former row_number().over(orderBy(gain.desc, cand))
      // rank-1 filter (desc on gain = asc on -gain under the identical
      // double total order, cand tie-break is the struct's second
      // field), but with map-side partial aggregation instead of a full
      // per-node sort window — one fewer sort and a far smaller exchange
      val best = scored
        .filter(allowed)
        .groupBy("node", "comm")
        .agg(min(struct(negate(col("gain")).as("ng"), col("cand").as("cand")))
          .as("_b"))
        .select(col("node"), col("_b.cand").as("cand"), col("comm"))
      comm.select("node", "comm").join(best.select("node", "cand"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("cand"), col("comm")).as("comm"),
          (col("cand").isNotNull && col("cand") =!= col("comm")).as("_moved"))
    } { (prev, cur) => prev.getLong(0) == 0 && cur.getLong(0) == 0 }
    // relabel to dense 1..C by size desc
    val sizes = comm.groupBy("comm").agg(count(lit(1)).as("sz"))
    val relabel = graft.ops.Windows.globalOrdinal(
        sizes, Seq(col("sz").desc, col("comm")), "cluster")
      .select("comm", "cluster")
    val out = Lineage.reset(
      comm.join(broadcast(relabel), Seq("comm"))
        .select(col("node").as("cell_id"), col("cluster")))
    // everything internal is materialized into `out` — release it all
    Seq(comm, symCk, degCk).foreach(Lineage.release)
    out
  }

  /** Multi-LEVEL distributed Louvain (Blondel 2008 phase 2 for the
    * all-DataFrame path, mirroring the round-8 driver-side
    * `Cluster.louvain` fix): run [[cluster]]'s synchronous local moves,
    * CONTRACT communities to super-nodes (inter-community weights summed,
    * intra-community mass becoming self-loops that [[cluster]] now counts
    * in the degrees), and repeat until a level yields no merge. Local
    * moves alone cannot merge communities farther than one hop per round,
    * so one-level fragments large sparse communities; aggregation is what
    * lets them coalesce. Everything is joins/aggregations — the per-level
    * label table and contracted edge list, never a driver graph; levels
    * are bounded (each strictly shrinks the node count, ≤ maxLevels).
    * Returns `(cell_id, cluster)` dense 1..C by size desc.
    */
  def clusterMultiLevel(edges: DataFrame, rounds: Int = 8,
                        maxLevels: Int = 5): DataFrame = {
    // undirected dedup once, then levels contract it
    var cur = Lineage.reset(
      edges.select(col("src"), col("dst"), col("weight"))
        .unionByName(edges.select(col("dst").as("src"),
          col("src").as("dst"), col("weight")))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(max(col("weight")).as("weight"))
        .filter(col("src") < col("dst")))
    var mapping = Lineage.reset(
      cur.select(col("src").as("cell_id"))
        .unionByName(cur.select(col("dst").as("cell_id"))).distinct()
        .select(col("cell_id"), col("cell_id").as("node")))
    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      level += 1
      // cluster() returns a reset frame: releasing this projection of it
      // frees its blocks
      val lab = cluster(cur, rounds)
        .select(col("cell_id").as("node"), col("cluster"))
      val counts = lab.agg(count(lit(1)).as("n"),
        countDistinct(col("cluster")).as("c")).head
      if (counts.getLong(1) == counts.getLong(0)) done = true
      else {
        // LEFT join: a node absent from lab keeps a label instead of
        // silently dropping its cells. Unreachable since cluster() keeps
        // self-loop-only super-nodes in its node universe (every
        // mapping.node is an endpoint of cur, contraction gives every
        // cluster a self-loop or an inter-cluster edge), but kept as a
        // structural guard. First miss negates the id (cannot collide
        // with cluster()'s dense positive 1..C labels); an ALREADY
        // negative node keeps its label as-is — re-negating would flip
        // it back into the positive label space on a second consecutive
        // miss and silently merge the orphan into an unrelated cluster.
        val prevMapping = mapping
        val prevCur = cur
        mapping = Lineage.reset(mapping.join(lab, Seq("node"), "left")
          .select(col("cell_id"),
            coalesce(col("cluster"),
              when(col("node") < 0, col("node"))
                .otherwise(-col("node") - 1)).as("node")))
        cur = Lineage.reset(cur
          .join(lab.select(col("node").as("src"), col("cluster").as("_cs")), Seq("src"))
          .join(lab.select(col("node").as("dst"), col("cluster").as("_cd")), Seq("dst"))
          .groupBy(col("_cs").as("src"), col("_cd").as("dst"))
          .agg(sum(col("weight")).as("weight"))
          // normalize pair order; contracted self-loops keep src == dst
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"), col("weight"))
          .groupBy("src", "dst").agg(sum(col("weight")).as("weight")))
        // superseded level state: free the blocks now (guide §5 — the
        // per-level frames otherwise accumulate for the whole run)
        Seq(prevMapping, prevCur).foreach(Lineage.release)
      }
      Lineage.release(lab)
    }
    Lineage.release(cur)
    val sizes = mapping.groupBy("node").agg(count(lit(1)).as("sz"))
    val relabel = graft.ops.Windows.globalOrdinal(
        sizes, Seq(col("sz").desc, col("node")), "cluster")
      .select("node", "cluster")
    mapping.join(broadcast(relabel), Seq("node"))
      .select(col("cell_id"), col("cluster"))
  }

  /** Distributed Leiden-style refinement: split every community into its
    * connected components (the guarantee Leiden adds over Louvain —
    * Traag 2019 Thm. 1 gives connectivity, not optimality). Components
    * come from [[ConnectedComponents.labels]] — alternating large-star/
    * small-star, O(log n) rounds — restricted to same-community edges.
    * (This replaced a min-label-propagation loop whose round count grew
    * with the component DIAMETER: a path-shaped trajectory cluster of
    * length 10⁴ needed 10⁴ rounds there, ~14 here.) The resulting `sub`
    * label is identical — the minimum node id of each within-community
    * component. All-DataFrame, no driver graph. Schema:
    * `(cell_id, cluster)`.
    */
  def refine(edges: DataFrame, labels: DataFrame, maxRounds: Int = 64): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val lab = labels.select(col("cell_id").as("node"), col("cluster").as("comm"))
    // same-community edges only
    val within = Lineage.reset(sym
      .join(lab.withColumnRenamed("node", "src").withColumnRenamed("comm", "c_src"), Seq("src"))
      .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("comm", "c_dst"), Seq("dst"))
      .filter(col("c_src") === col("c_dst"))
      .select("src", "dst"))
    val cc = ConnectedComponents.labels(within, maxIter = maxRounds)
    // nodes with no within-community edge are their own singleton
    val sub = lab.join(cc, Seq("node"), "left")
      .select(col("node"), col("comm"),
        coalesce(col("component"), col("node")).as("sub"))
    val sizes = sub.groupBy("comm", "sub").agg(count(lit(1)).as("sz"))
    val relabel = graft.ops.Windows.globalOrdinal(
        sizes, Seq(col("sz").desc, col("comm"), col("sub")), "cluster")
      .select("comm", "sub", "cluster")
    sub.join(broadcast(relabel), Seq("comm", "sub"))
      .select(col("node").as("cell_id"), col("cluster"))
  }
}
