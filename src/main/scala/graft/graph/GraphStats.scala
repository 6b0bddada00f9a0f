package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-graph structural statistics over undirected edge lists —
  * the diagnostics a pipeline runs on its near-duplicate candidate
  * graph before trusting connected-component closure (a high global
  * clustering coefficient says candidate pairs corroborate each other;
  * disassortative hubs say one boilerplate node is stitching unrelated
  * docs together; PageRank ranks the most-connected duplicates).
  *
  * Edge schema: `(ida, idb)` with `ida < idb`, one row per undirected
  * edge. Every kernel here is join+aggregate only — no windows, no
  * driver-side loops over data. The edge lists come from the banded /
  * df-capped detectors upstream, whose hot-bucket and df caps already
  * bound per-node degree (the same boundedness argument as
  * [[graft.dedup.Dedup.chainContamination]]).
  */
object GraphStats {

  private def dirColsOf(e: DataFrame): DataFrame =
    e.select(col("ida").as("node"), col("idb").as("nbr"))
      .unionByName(e.select(col("idb").as("node"), col("ida").as("nbr")))

  /** Triangle count and global clustering coefficient.
    *
    * Triangles are enumerated once each via the ordered-edge join
    * (a < b < c): e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — the standard
    * distributed triangle-counting plan (three shuffles on edge
    * endpoints, no node ever sees more than its own neighborhood
    * squared, which the upstream detector caps bound). Wedges
    * (open+closed paths of length 2) come from the degree table alone:
    * Σ deg·(deg−1)/2. Global CC = 3·triangles / wedges — integer until
    * the single final division.
    *
    * Output (one row): n_nodes, n_edges, max_deg, n_wedges,
    * n_triangles, global_cc.
    */
  def triangleStats(edges0: DataFrame): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb")).localCheckpoint()
    val deg = dirColsOf(e).groupBy("node").agg(count(lit(1)).as("deg"))
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_deg"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.select(col("ida").as("a"), col("idb").as("b"))
      .join(e.select(col("ida").as("b"), col("idb").as("c")), Seq("b"))
      .join(e.select(col("ida").as("a"), col("idb").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    degAgg.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
        col("n_wedges"), col("n_triangles"),
        round((lit(3) * col("n_triangles")).cast("double")
          / col("n_wedges").cast("double"), 6).as("global_cc"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over all DIRECTED edge instances (both orientations, so the moment
    * sums are symmetric and the correlation needs only Σd, Σd², Σd·d').
    * Every moment is summed in decimal(38,0) (the q150 exact-OLS
    * discipline), so the statistic is two exact integer polynomials and
    * ONE final IEEE division — engine-replayable at any scale.
    *
    * Output (one row): n_nodes, n_edges, max_deg, assortativity
    * (NULL when the degree distribution is constant).
    */
  def degreeAssortativity(edges0: DataFrame): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb")).localCheckpoint()
    val deg = dirColsOf(e).groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    def dec(c: Column) = c.cast("decimal(38,0)")
    val dp = dirColsOf(e)
      .join(deg, Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("deg").as("deg_n")),
        Seq("nbr"))
      .agg(count(lit(1)).as("m2"),
        sum(dec(col("deg"))).as("sx"),
        sum(dec(col("deg")) * dec(col("deg_n"))).as("sxy"),
        sum(dec(col("deg")) * dec(col("deg"))).as("sxx"))
    val degAgg = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_deg"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    dp.crossJoin(broadcast(degAgg)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
        round(when(dec(col("m2")) * col("sxx") - col("sx") * col("sx") =!= lit(0),
          (dec(col("m2")) * col("sxy") - col("sx") * col("sx")).cast("double")
            / (dec(col("m2")) * col("sxx") - col("sx") * col("sx")).cast("double")),
          6).as("assortativity"))
  }

  /** Global PageRank, integer-quantized so every engine computes the
    * identical ranks: each node starts at 10¹² scaled units; one
    * iteration sends each node's `rank div deg` share to every
    * neighbor and re-seats `v' = (15·10¹²) div 100 + (85·Σshares) div
    * 100` (damping 0.85 in exact integer arithmetic; all values
    * positive, so Spark's `div` and DuckDB's `//` agree). The graph is
    * undirected (edges used in both orientations), so there are no
    * dangling nodes and every node receives mass each round.
    *
    * Iteration-bound, not volume-bound: `iters` join+agg rounds on the
    * neighbor key, lineage reset per round ([[graft.core.Lineage]]).
    * Output: (node, deg, rank_scaled) per node.
    */
  /** k-core: the unique maximal subgraph where every node keeps degree
    * ≥ k — the dense-core detector (a boilerplate hub's neighborhood
    * survives peeling long after honest pairwise duplicates drop out).
    * Iterative peel: drop nodes under degree k, re-induce, repeat. The
    * fixed point is order-independent (the k-core is unique), so a fixed
    * `rounds` unroll replays engine-exact once converged — and
    * non-convergence THROWS (the [[ConnectedComponents]] discipline)
    * rather than returning a not-yet-core subgraph.
    *
    * Iteration-bound join+agg rounds; each round's survivor set is a
    * node-id column only (text/payloads never enter the loop). Output:
    * (node, core_deg) over the k-core members.
    */
  def kCore(edges0: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb")).localCheckpoint()
    def degOf(sub: DataFrame): DataFrame =
      dirColsOf(sub).groupBy("node").agg(count(lit(1)).as("deg"))
    def induce(nodes: DataFrame): DataFrame =
      e.join(nodes.select(col("node").as("ida")), Seq("ida"), "left_semi")
        .join(nodes.select(col("node").as("idb")), Seq("idb"), "left_semi")
    // Peel until the survivor count stops moving, observing the count
    // on the materializing pass itself (the ConnectedComponents fused-
    // checksum discipline — no separate count job, no fixed unroll past
    // the fixpoint). Each peel's survivors are a SUBSET of the previous
    // set (every survivor is an endpoint of the induced subgraph), so
    // an equal count proves an identical set — exactly the guarantee
    // the old post-unroll verification pass re-derived with two extra
    // full passes.
    val (nodes, converged) = graft.core.Lineage.iterate(
        degOf(e).filter(col("deg") >= k).select("node"), rounds,
        count(lit(1)).as("n")) { (nodes, _) =>
      degOf(induce(nodes)).filter(col("deg") >= k).select("node")
    } { (prev, cur) => prev == cur }
    require(converged,
      s"kCore(k=$k) not converged after $rounds rounds")
    degOf(induce(nodes)).select(col("node"), col("deg").as("core_deg"))
  }

  /** Per-node clustering coefficient: how much of each node's
    * neighborhood is itself connected — the node-level view of
    * [[triangleStats]] (a doc whose duplicate-candidates corroborate
    * each other vs a hub stitching strangers). Triangles are counted
    * once via the ordered join and credited to all three corners;
    * wedges come from the degree alone. Output per node: node, deg,
    * n_tri, n_wedges, local_cc (NULL for degree-1 nodes).
    */
  def localClustering(edges0: DataFrame): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb")).localCheckpoint()
    val deg = dirColsOf(e).groupBy("node").agg(count(lit(1)).as("deg"))
    val corners = e.select(col("ida").as("a"), col("idb").as("b"))
      .join(e.select(col("ida").as("b"), col("idb").as("c")), Seq("b"))
      .join(e.select(col("ida").as("a"), col("idb").as("c")), Seq("a", "c"))
    val triPerNode = corners.select(col("a").as("node"))
      .unionByName(corners.select(col("b").as("node")))
      .unionByName(corners.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("deg * (deg - 1) div 2").as("n_wedges"),
        round(when(col("deg") >= 2,
          coalesce(col("n_tri"), lit(0L)).cast("double")
            / expr("deg * (deg - 1) div 2").cast("double")), 6)
          .as("local_cc"))
  }

  /** Deterministic label propagation: community detection on the
    * candidate graph WITHOUT the transitive sweep of connected
    * components — a bridge edge between two dense duplicate cliques
    * loses the vote that CC closure would have won by fiat. Synchronous
    * rounds; each node votes its own current label once plus one vote
    * per neighbor, and adopts the (count desc, label asc) winner — the
    * self-vote breaks the 2-cycle oscillation of textbook LPA and makes
    * a fixed `rounds` unroll engine-replayable (no RNG tie-breaks).
    * Iteration-bound join+agg rounds, labels are node ids (never
    * payloads). Output per node: node, community.
    */
  def labelPropagation(edges0: DataFrame, rounds: Int = 4): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb"))
    val dir = dirColsOf(e).localCheckpoint()
    val (lbl, _) = graft.core.Lineage.iterate(dir.select("node").distinct()
        .select(col("node"), col("node").as("lbl")), rounds) { (lbl, _) =>
      val votes = dir
        .join(lbl.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .select("node", "lbl")
        .unionByName(lbl)
      votes.groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("w"))
        .select(col("node"), (-col("w.nl")).as("lbl"))
    } { (_, _) => false }
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** Edges whose endpoints land in DIFFERENT communities of the given
    * partition — with an LPA membership this is the actionable
    * bridge-suspect list (candidate pairs CC closure would sweep
    * through but the vote rejected): review these before trusting
    * transitive dedup groups. Two membership joins, no aggregation.
    * Output: ida, idb, com_a, com_b.
    */
  def cutEdges(edges0: DataFrame, membership: DataFrame): DataFrame =
    edges0.select(col("ida").cast("long").as("ida"),
        col("idb").cast("long").as("idb"))
      .join(membership.select(col("node").as("ida"),
        col("community").as("com_a")), Seq("ida"))
      .join(membership.select(col("node").as("idb"),
        col("community").as("com_b")), Seq("idb"))
      .filter(col("com_a") =!= col("com_b"))
      .select("ida", "idb", "com_a", "com_b")

  /** Newman modularity of a partition: Q = Σ_c [L_c/m − (D_c/2m)²] —
    * how much denser the communities are than a degree-preserving
    * random rewiring. Computed as the exact integer polynomial
    * Q·4m² = Σ_c (4·m·L_c − D_c²) in decimal(38) with ONE final IEEE
    * division, so the score replays engine-identically. `membership`
    * is (node, community); two membership joins + two community-keyed
    * aggregations. Output (one row): n_communities, m_edges,
    * modularity.
    */
  def modularity(edges0: DataFrame, membership: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb")).localCheckpoint()
    val mAgg = e.agg(count(lit(1)).as("m"))
    val deg = dirColsOf(e).groupBy("node").agg(count(lit(1)).as("deg"))
    val lc = e
      .join(membership.select(col("node").as("ida"), col("community").as("ca")),
        Seq("ida"))
      .join(membership.select(col("node").as("idb"), col("community").as("cb")),
        Seq("idb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("l_c"))
    val dc = deg.join(membership, Seq("node"))
      .groupBy(col("community").as("c")).agg(sum(col("deg")).as("d_c"))
    dc.join(lc, Seq("c"), "left")
      .select(col("c"), coalesce(col("l_c"), lit(0L)).as("l_c"), col("d_c"))
      .crossJoin(broadcast(mAgg))
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("m_edges"),
        sum(lit(4).cast(d38) * col("m").cast(d38) * col("l_c").cast(d38)
          - col("d_c").cast(d38) * col("d_c").cast(d38)).cast(d38)
          .as("q_num"))
      .select(col("n_communities"), col("m_edges"),
        round(col("q_num").cast("double")
          / (lit(4).cast(d38) * col("m_edges").cast(d38)
            * col("m_edges").cast(d38)).cast("double"), 6).as("modularity"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on a DIRECTED bipartite
    * edge list `(src, dst)` — the mutual-reinforcement ranking
    * PageRank's single score can't express: a hub is good because it
    * points at good authorities and vice versa. Same exact-integer
    * discipline as [[pageRank]]: scores live in pico-units (Σ = 10¹²
    * after each normalization), the per-iteration normalization is
    * (raw·10¹²) div Σraw with decimal(38) products (HUGEINT in the
    * oracle — positive values, so truncating and flooring division
    * agree), so every iteration replays engine-exactly with no float
    * drift and no L2 norm. Each iteration is two keyed aggregations +
    * one 1-row broadcast; the edge list shuffles once per direction.
    * Returns `(side 'hub'|'authority', id, score_scaled)` for ALL
    * nodes; callers cut top-n.
    */
  def hits(edges0: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint()
    def normalized(raw0: DataFrame, idCol: String): DataFrame = {
      // raw feeds BOTH the Σ and the projection: checkpoint it (or the
      // upstream subtree executes twice per normalization, compounding
      // 2^(2·iters) across the chain) and ride the Σ on the
      // checkpoint's OWN materializing pass via Dataset.observe — the
      // ConnectedComponents fused-checksum discipline — so each
      // normalization is ONE barrier job, not checkpoint + a separate
      // scalar-broadcast job. The scalar enters the projection as a
      // decimal literal; values are identical to a broadcast-join form.
      val (raw, m) = graft.core.Lineage.reset(raw0,
        sum(col("raw").cast("decimal(38,0)")).as("s"))
      // an empty frame observes a NULL sum and an all-zero one observes
      // 0 — either would make the div expression NPE/div-by-zero. No
      // mass to distribute means zero scores (and an empty input frame
      // stays empty); `div` is LongType, so the guard branch matches.
      val sBig = Option(m.getDecimal(0))
        .map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
      if (sBig.signum == 0)
        raw.select(col(idCol), lit(0L).as("score"))
      else
        raw.select(col(idCol),
          expr(s"(CAST(raw AS DECIMAL(38,0)) * 1000000000000)" +
            s" div CAST('$sBig' AS DECIMAL(38,0))").as("score"))
    }
    // h and a move together, so this loop keeps both states itself and
    // releases each superseded one (both are projections of reset frames
    // from the second iteration on; the first h is a projection of e)
    var h = e.select(col("src")).distinct()
      .select(col("src"), lit(1000000000000L).as("score"))
    var a: DataFrame = null
    for (i <- 1 to iters) {
      // decimal sums: a hot node's raw score is Σ over its edges of
      // ≤10¹² values — a long would overflow past ~10⁷ in-edges.
      // The node-score side is broadcast EXPLICITLY: the checkpointed
      // frames carry no size stats, so Catalyst would otherwise pick a
      // sort-merge join and re-sort the edge list every iteration
      // (measured 2× the whole query's wall). Node scores are
      // |nodes|·16 B; past executor memory the swap-in is a
      // pre-partitioned shuffle join, not a different algorithm.
      val a2 = normalized(
        e.join(broadcast(h), Seq("src"))
          .groupBy("dst")
          .agg(sum(col("score").cast("decimal(38,0)")).as("raw")), "dst")
      if (i > 1) graft.core.Lineage.release(a)
      a = a2
      val h2 = normalized(
        e.join(broadcast(a), Seq("dst"))
          .groupBy("src")
          .agg(sum(col("score").cast("decimal(38,0)")).as("raw")), "src")
      if (i > 1) graft.core.Lineage.release(h)
      h = h2
    }
    h.select(lit("hub").as("side"), col("src").as("id"), col("score"))
      .unionByName(a.select(lit("authority").as("side"),
        col("dst").as("id"), col("score")))
  }

  def pageRank(edges0: DataFrame, iters: Int = 8): DataFrame = {
    val e = edges0.select(col("ida").cast("long").as("ida"),
      col("idb").cast("long").as("idb"))
    val dir = dirColsOf(e)
    val deg = dir.groupBy("node").agg(count(lit(1)).as("deg"))
    val adj = dir.join(deg, Seq("node")).localCheckpoint()
    val (r, _) = graft.core.Lineage.iterate(adj.select("node").distinct()
        .select(col("node"), lit(1000000000000L).as("r")), iters) { (r, _) =>
      adj.join(r, Seq("node"))
        .groupBy(col("nbr"))
        .agg(sum(expr("r div deg")).as("s"))
        .select(col("nbr").as("node"),
          (lit(150000000000L) + expr("(85 * s) div 100")).as("r"))
    } { (_, _) => false }
    r.join(deg, Seq("node"))
      .select(col("node"), col("deg"), col("r").as("rank_scaled"))
  }
}
