package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.graph.GraphOps

/** Driver-verified queries for the remaining SURVEY §2 relational
  * operators: MAGIC diffusion step (§2.11), mapping score (§2.12),
  * gene-set scoring + cell-cycle phase (§2.4), auto_filter_cells (§2.2),
  * membership strength (§2.4), HTO-demux classification (§2.4), merge
  * interleave + DummyAssay zero-fill (§2.5), prevalent peaks (§2.4).
  */
object ExtendedQueries {
  private def tb(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** SNN-derived symmetric weighted graph over orders (shared-part counts,
    * shared >= 2), reused by the diffusion query.
    */
  private def snnGraph(s: SparkSession, d: String): DataFrame = {
    val edges = tb(s, d, "lineitem").filter(col("l_partkey") % 10 === 0)
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")).distinct()
    val snn = GraphOps.snn(edges, 2)
    snn.select(col("i").as("src"), col("j").as("dst"), col("shared").cast("double").as("weight"))
      .unionByName(snn.select(col("j").as("src"), col("i").as("dst"),
        col("shared").cast("double").as("weight")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_diffusion" -> ((s, d) => {
      val signal = tb(s, d, "orders")
        .select(col("o_orderkey").as("cell_id"), col("o_totalprice").as("x"))
      GraphOps.diffuse(snnGraph(s, d), signal)
        .select(col("cell_id"), round(col("x"), 6).as("x"))
        .orderBy("cell_id")
    }),

    "q44_mapping_score" -> ((s, d) => {
      val e = tb(s, d, "embeddings")
      // hits: exact cosine top-5 of the sampled queries (see
      // TrainingQueries.topKHits), dist = 1 − cos
      val q = Sample.capped(e, "vec_id")
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val hits = graft.sim.Similarity.cosineTopK(q, e, 5, excludeSelf = true)
        .select(col("vec_id").as("ref_id"), col("qid").as("target_id"),
          (lit(1.0) - col("cos")).as("dist"))
      val groups = e.select(col("vec_id").as("target_id"),
        col("label").cast("string").as("group"))
      GraphOps.mappingScore(hits, groups)
        .select(col("ref_id"), col("group").as("grp"), round(col("score"), 6).as("score"))
        .orderBy("ref_id", "grp")
    }),

    "q45_score_features" -> ((s, d) => {
      val coo = Tables.coo(s, d)
      val nTot = Tables.nCells(coo)
      // per-feature mean over ALL cells = the binning statistic
      val values = coo.groupBy("feat_id").agg(sum(col("value")).as("tot"))
        .crossJoin(broadcast(nTot))
        .select(col("feat_id"), (col("tot") / col("n_total_cells")).as("value"))
      val set = tb(s, d, "part").filter(upper(col("p_name")).rlike("WIDGET"))
        .select(col("p_partkey").as("feat_id"))
      // seeded binned control sampling (binned_sampling, feat_utils.py:49-92)
      val ctrl = graft.stats.Pseudobulk.binnedSampling(values, set,
        ctrlSize = 50, nBins = 10, seed = 4466L)
      val nSet = set.agg(count(lit(1)).as("n_set"))
      val nCtrl = ctrl.agg(count(lit(1)).as("n_ctrl"))
      val setSum = coo.join(broadcast(set), Seq("feat_id"))
        .groupBy("cell_id").agg(sum("value").as("s_set"))
      val ctrlSum = coo.join(broadcast(ctrl), Seq("feat_id"))
        .groupBy("cell_id").agg(sum("value").as("s_ctrl"))
      tb(s, d, "orders").select(col("o_orderkey").as("cell_id"))
        .join(setSum, Seq("cell_id"), "left")
        .join(ctrlSum, Seq("cell_id"), "left")
        .crossJoin(broadcast(nSet)).crossJoin(broadcast(nCtrl))
        .select(col("cell_id"),
          round(coalesce(col("s_set"), lit(0.0)) / col("n_set")
            - coalesce(col("s_ctrl"), lit(0.0)) / col("n_ctrl"), 6).as("score"))
        .orderBy("cell_id")
    }),

    "q46_cell_cycle" -> ((s, d) => {
      val coo = Tables.coo(s, d)
      def setScore(pattern: String, out: String): DataFrame = {
        val set = tb(s, d, "part").filter(upper(col("p_name")).rlike(pattern))
          .select(col("p_partkey").as("feat_id"))
        val n = set.agg(count(lit(1)).as("n"))
        coo.join(broadcast(set), Seq("feat_id"))
          .groupBy("cell_id").agg(sum("value").as("s"))
          .crossJoin(broadcast(n))
          .select(col("cell_id"), (col("s") / col("n")).as(out))
      }
      tb(s, d, "orders").select(col("o_orderkey").as("cell_id"))
        .join(setScore("ROD", "s_score"), Seq("cell_id"), "left")
        .join(setScore("BOLT", "g2m_score"), Seq("cell_id"), "left")
        .na.fill(0.0, Seq("s_score", "g2m_score"))
        .select(col("cell_id"), round(col("s_score"), 6).as("s_score"),
          round(col("g2m_score"), 6).as("g2m_score"),
          when(col("s_score") <= 0 && col("g2m_score") <= 0, "G1")
            .when(col("g2m_score") > col("s_score"), "G2M")
            .otherwise("S").as("phase"))
        .orderBy("cell_id")
    }),

    "q47_auto_filter" -> ((s, d) => {
      // Normal(median, std).ppf(0.01 / 0.99) bounds, as in auto_filter_cells
      val z = 2.3263478740408408
      val stats = tb(s, d, "orders").agg(
        expr("percentile(o_totalprice, 0.5)").as("med"),
        stddev_samp(col("o_totalprice")).as("sd"))
      tb(s, d, "orders").crossJoin(broadcast(stats))
        .filter(col("o_totalprice") >= col("med") - lit(z) * col("sd") &&
          col("o_totalprice") <= col("med") + lit(z) * col("sd"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "q48_membership_strength" -> ((s, d) => {
      val joined = tb(s, d, "lineitem")
        .join(broadcast(tb(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("cell_id"), col("p_brand"))
      val counts = joined.groupBy("cell_id", "p_brand").agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("total", sum(col("cnt")).over(Window.partitionBy("cell_id")))
        .withColumn("rn", row_number().over(Window.partitionBy("cell_id")
          .orderBy(col("cnt").desc, col("p_brand"))))
        .filter(col("rn") === 1)
        .select(col("cell_id"), col("p_brand").as("modal_brand"),
          round(col("cnt") / col("total"), 6).as("membership"))
        .orderBy("cell_id")
    }),

    "q49_hto_demux" -> ((s, d) => {
      val coo = Tables.coo(s, d)
      val h = coo.groupBy("cell_id").agg(
        sum(when(col("feat_id").between(1, 50), col("value")).otherwise(0.0)).as("h1"),
        sum(when(col("feat_id").between(51, 100), col("value")).otherwise(0.0)).as("h2"))
      val c = 30.0
      tb(s, d, "orders").select(col("o_orderkey").as("cell_id"))
        .join(h, Seq("cell_id"), "left").na.fill(0.0, Seq("h1", "h2"))
        .select(col("cell_id"), col("h1"), col("h2"),
          when(col("h1") < c && col("h2") < c, "Negative")
            .when(col("h1") >= c && col("h2") >= c, "Doublet")
            .when(col("h1") >= c, "HTO1").otherwise("HTO2").as("call"))
        .orderBy("cell_id")
    }),

    "q50_merge_interleave" -> ((s, d) => {
      val o = tb(s, d, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("cell_id"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("cell_id"))
      graft.ops.Merge.concatCells(Seq(("a", a), ("b", b)), seed = 42L)
        .select(col("pos").cast("int").as("pos"), col("id"))
        .orderBy("pos")
    }),

    "q51_prevalent_peaks" -> ((s, d) => {
      val coo = Tables.coo(s, d)
      val normed = graft.norm.Normalize.tfIdf(coo, Tables.nCells(coo))
      val prev = normed.groupBy("feat_id")
        .agg(round(sum(col("normed")), 6).as("prevalence"))
      graft.ops.Windows.globalOrdinal(
          prev.orderBy(col("prevalence").desc, col("feat_id")).limit(50),
          Seq(col("prevalence").desc, col("feat_id")), "_rk")
        .withColumn("rk", col("_rk").cast("int")).drop("_rk")
        .orderBy("rk")
    }),

    // run_pseudotime_aggregation's relational core (scarf/assay.py:577-696):
    // order cells by pseudotime, densify the top-feature slice, centered
    // rolling mean, per-feature z-scale, ntile-bin, per-bin means.
    // (PtimeAgg.binnedProfiles — the same stage feeds q67's full chain.)
    "q56_ptime_agg" -> ((s, d) => {
      val coo = Tables.coo(s, d).groupBy("cell_id", "feat_id")
        .agg(sum(col("value")).as("value"))
      val sel = coo.groupBy("feat_id").agg(count(lit(1)).as("nnz"))
        .orderBy(col("nnz").desc, col("feat_id")).limit(20).select("feat_id")
      val ptime = tb(s, d, "orders").select(col("o_orderkey").as("cell_id"),
        unix_millis(to_utc_timestamp(col("o_orderdate"), "UTC")).as("ptime"))
      graft.pipeline.PtimeAgg.binnedProfiles(coo, ptime, sel,
          halfWidth = 2, nBins = 20)
        .select(col("feat_id"), col("bin"), round(col("z_mean"), 6).as("z_mean"))
        .orderBy("feat_id", "bin")
    }),

    // add_grouped_assay (scarf/datastore/datastore.py:824-894): features
    // collapsed into module identities, per-(cell, group) dense mean of
    // lib-size-normalized values; group -1 excluded.
    "q65_grouped_assay" -> ((s, d) => {
      val normed = graft.norm.Normalize.libSize(Tables.coo(s, d))
        .select("cell_id", "feat_id", "normed")
      val groups = tb(s, d, "part").select(col("p_partkey").as("feat_id"),
        when(col("p_partkey") % 7 === 0, lit(-1L))
          .otherwise(col("p_partkey") % 5).as("group"))
      val cells = tb(s, d, "orders").select(col("o_orderkey").as("cell_id"))
      graft.ops.Meld.groupedAssay(normed, groups, cells)
        .select(col("cell_id"), col("group"),
          round(col("mean_normed"), 6).as("mean_normed"))
        .orderBy("cell_id", "group")
    }),

    // create_counts_mat (scarf/meld_assay.py:385-440): TF-IDF → peak→
    // feature many-to-one sum (some peaks feed two features) → per-cell
    // rescale to 1e5.
    "q66_counts_mat" -> ((s, d) => {
      val parts = tb(s, d, "part")
      val m1 = parts.select(col("p_partkey").as("feat_id"),
        expr("p_partkey div 10").as("new_feat"))
      val m2 = parts.filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").as("feat_id"),
          expr("p_partkey div 10 + 1").as("new_feat"))
      val coo = Tables.coo(s, d)
      // 4 dp, not 6: value = 1e5·sum/rowsum where both sums are
      // order-nondeterministic float aggregations (~1e-9 reassociation
      // noise on a ~5e4 magnitude). At 6 dp one sf0.1 row per ~1e6 lands
      // on the rounding knife edge and flips between engines; 4 dp keeps
      // 9 significant digits while pushing the flip probability below
      // 1e-2 per full sf0.1 run.
      graft.ops.Meld.createCountsMat(coo, m1.unionByName(m2),
          Tables.nCells(coo), scalarCoeff = 1e5, renormalization = true)
        .select(col("cell_id"), col("new_feat"),
          round(col("value"), 4).as("value"))
        .orderBy("cell_id", "new_feat")
    }),

    // hto_demux discretize-and-classify tail (scarf/feat_utils.py:140-162)
    // with deterministic rank-quantile cutoffs — the pure-relational back
    // half of q60's demux, fully oracled. Cutoff derivation is histogram-
    // bounded: the cumulative window runs over |distinct count values|
    // rows per HTO, never |cells|.
    "q68_hto_classify" -> ((s, d) => {
      val counts = Tables.coo(s, d).groupBy("cell_id").agg(
          sum(when(col("feat_id").between(1, 50), col("value")).otherwise(0.0)).as("HTO1"),
          sum(when(col("feat_id").between(51, 100), col("value")).otherwise(0.0)).as("HTO2"))
        .select(col("cell_id"), explode(array(
          struct(lit("HTO1").as("hto"), col("HTO1").as("count")),
          struct(lit("HTO2").as("hto"), col("HTO2").as("count")))).as("e"))
        .select(col("cell_id"), col("e.hto"), col("e.count"))
      // per-HTO cutoff = smallest count value whose cumulative frequency
      // reaches ceil(0.95 n) — an exact discrete quantile
      val hist = counts.groupBy("hto", "count").agg(count(lit(1)).as("m"))
      val cum = hist.withColumn("cum",
        sum("m").over(Window.partitionBy("hto").orderBy("count")))
      val n = counts.groupBy("hto").agg(count(lit(1)).as("n"))
      val cutoffs = cum.join(n, Seq("hto"))
        .filter(col("cum") >= ceil(col("n") * lit(0.95)))
        .groupBy("hto").agg(min(col("count")).as("cutoff"))
      graft.stats.HtoDemux.classify(counts, cutoffs).orderBy("cell_id")
    }),

    "q52_dummy_assay" -> ((s, d) => {
      val coo = Tables.coo(s, d)
      val a = coo.filter(col("cell_id") % 2 === 0).groupBy("feat_id")
        .agg(sum("value").as("sum_a"))
      val b = coo.filter(col("cell_id") % 2 === 1).groupBy("feat_id")
        .agg(sum("value").as("sum_b"))
      a.join(b, Seq("feat_id"), "full_outer")
        .na.fill(0.0, Seq("sum_a", "sum_b"))
        .orderBy("feat_id")
    }))

  val oracle: Map[String, String] = Map(
    "q43_diffusion" ->
      """WITH e AS (
           SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           FROM lineitem WHERE l_partkey % 10 = 0),
         snn AS (
           SELECT a.src AS i, b.src AS j, CAST(COUNT(*) AS DOUBLE) AS w
           FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (
           SELECT i AS src, j AS dst, w FROM snn
           UNION ALL SELECT j, i, w FROM snn),
         norm AS (
           SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM sym)
         SELECT n.src AS cell_id, ROUND(SUM(n.p * o.o_totalprice), 6) AS x
         FROM norm n JOIN orders o ON n.dst = o.o_orderkey
         GROUP BY n.src ORDER BY cell_id""",

    "q44_mapping_score" ->
      ("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
             WHERE """ + Sample.inSql("embeddings", "vec_id", "vec_id") + """),
       c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
       p AS (SELECT q.qid, c.vec_id,
               LIST_DOT_PRODUCT(qv, cv)
                 / (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) AS cos
             FROM q CROSS JOIN c WHERE q.qid != c.vec_id),
       topk AS (
         SELECT qid, vec_id, ROUND(cos, 6) AS cos,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY ROUND(cos, 6) DESC, vec_id) AS rn
         FROM p),
       hits AS (
         SELECT vec_id AS ref_id, qid AS target_id, 1.0 - cos AS dist
         FROM topk WHERE rn <= 5)
       SELECT h.ref_id, CAST(e.label AS VARCHAR) AS grp,
              ROUND(SUM(1.0 / (LN(1 + h.dist) + 1)), 6) AS score
       FROM hits h JOIN embeddings e ON h.target_id = e.vec_id
       GROUP BY h.ref_id, CAST(e.label AS VARCHAR)
       ORDER BY ref_id, grp"""),

    "q45_score_features" ->
      """WITH nt AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM lineitem),
         avgs AS (
           SELECT l_partkey AS feat_id, SUM(l_quantity) / nt.n AS value
           FROM lineitem CROSS JOIN nt GROUP BY l_partkey, nt.n),
         nf AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nfeats FROM avgs),
         ranked AS (
           SELECT feat_id, CAST(RANK() OVER (ORDER BY value) AS BIGINT) AS rnk
           FROM avgs),
         cuts AS (
           SELECT feat_id,
                  CAST(FLOOR(rnk / FLOOR(nf.nfeats / 9 + 0.5)) AS INT) AS cut
           FROM ranked CROSS JOIN nf),
         st AS (
           SELECT p_partkey AS feat_id FROM part
           WHERE REGEXP_MATCHES(UPPER(p_name), 'WIDGET')),
         set_cuts AS (
           SELECT DISTINCT c.cut FROM cuts c JOIN st ON c.feat_id = st.feat_id),
         samp AS (
           SELECT feat_id,
                  ROW_NUMBER() OVER (PARTITION BY cut
                    ORDER BY MD5('4466:' || feat_id), feat_id) AS rn
           FROM cuts WHERE cut IN (SELECT cut FROM set_cuts)),
         ctrl AS (
           SELECT feat_id FROM samp
           WHERE rn <= 50 AND feat_id NOT IN (SELECT feat_id FROM st)),
         ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_set FROM st),
         nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_ctrl FROM ctrl),
         ss AS (
           SELECT l_orderkey AS cell_id, SUM(l_quantity) AS s_set
           FROM lineitem WHERE l_partkey IN (SELECT feat_id FROM st)
           GROUP BY l_orderkey),
         cs AS (
           SELECT l_orderkey AS cell_id, SUM(l_quantity) AS s_ctrl
           FROM lineitem WHERE l_partkey IN (SELECT feat_id FROM ctrl)
           GROUP BY l_orderkey)
         SELECT o.o_orderkey AS cell_id,
                ROUND(COALESCE(ss.s_set, 0) / ns.n_set
                    - COALESCE(cs.s_ctrl, 0) / nc.n_ctrl, 6) AS score
         FROM orders o
         LEFT JOIN ss ON o.o_orderkey = ss.cell_id
         LEFT JOIN cs ON o.o_orderkey = cs.cell_id
         CROSS JOIN ns CROSS JOIN nc
         ORDER BY cell_id""",

    "q46_cell_cycle" ->
      """WITH sset AS (
           SELECT p_partkey FROM part WHERE REGEXP_MATCHES(UPPER(p_name), 'ROD')),
         gset AS (
           SELECT p_partkey FROM part WHERE REGEXP_MATCHES(UPPER(p_name), 'BOLT')),
         sc AS (
           SELECT l_orderkey AS cell_id,
                  SUM(l_quantity) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM sset) AS s
           FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM sset)
           GROUP BY l_orderkey),
         gc AS (
           SELECT l_orderkey AS cell_id,
                  SUM(l_quantity) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM gset) AS g
           FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM gset)
           GROUP BY l_orderkey)
         SELECT o.o_orderkey AS cell_id,
                ROUND(COALESCE(sc.s, 0), 6) AS s_score,
                ROUND(COALESCE(gc.g, 0), 6) AS g2m_score,
                CASE WHEN COALESCE(sc.s, 0) <= 0 AND COALESCE(gc.g, 0) <= 0 THEN 'G1'
                     WHEN COALESCE(gc.g, 0) > COALESCE(sc.s, 0) THEN 'G2M'
                     ELSE 'S' END AS phase
         FROM orders o
         LEFT JOIN sc ON o.o_orderkey = sc.cell_id
         LEFT JOIN gc ON o.o_orderkey = gc.cell_id
         ORDER BY cell_id""",

    "q47_auto_filter" ->
      """WITH s AS (
           SELECT QUANTILE_CONT(o_totalprice, 0.5) AS med,
                  STDDEV_SAMP(o_totalprice) AS sd
           FROM orders)
         SELECT o_orderkey, o_totalprice
         FROM orders CROSS JOIN s
         WHERE o_totalprice >= med - 2.3263478740408408 * sd
           AND o_totalprice <= med + 2.3263478740408408 * sd
         ORDER BY o_orderkey""",

    "q48_membership_strength" ->
      """WITH j AS (
           SELECT l_orderkey AS cell_id, p_brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         counts AS (
           SELECT cell_id, p_brand, COUNT(*) AS cnt
           FROM j GROUP BY cell_id, p_brand),
         ranked AS (
           SELECT cell_id, p_brand, cnt,
                  SUM(cnt) OVER (PARTITION BY cell_id) AS total,
                  ROW_NUMBER() OVER (PARTITION BY cell_id
                    ORDER BY cnt DESC, p_brand) AS rn
           FROM counts)
         SELECT cell_id, p_brand AS modal_brand,
                ROUND(cnt / CAST(total AS DOUBLE), 6) AS membership
         FROM ranked WHERE rn = 1 ORDER BY cell_id""",

    "q49_hto_demux" ->
      """WITH h AS (
           SELECT l_orderkey AS cell_id,
                  SUM(CASE WHEN l_partkey BETWEEN 1 AND 50 THEN l_quantity ELSE 0 END) AS h1,
                  SUM(CASE WHEN l_partkey BETWEEN 51 AND 100 THEN l_quantity ELSE 0 END) AS h2
           FROM lineitem GROUP BY l_orderkey)
         SELECT o.o_orderkey AS cell_id,
                COALESCE(h.h1, 0) AS h1, COALESCE(h.h2, 0) AS h2,
                CASE WHEN COALESCE(h.h1, 0) < 30 AND COALESCE(h.h2, 0) < 30 THEN 'Negative'
                     WHEN COALESCE(h.h1, 0) >= 30 AND COALESCE(h.h2, 0) >= 30 THEN 'Doublet'
                     WHEN COALESCE(h.h1, 0) >= 30 THEN 'HTO1'
                     ELSE 'HTO2' END AS call
         FROM orders o LEFT JOIN h ON o.o_orderkey = h.cell_id
         ORDER BY cell_id""",

    "q50_merge_interleave" ->
      """WITH u AS (
           SELECT 'a__' || o_orderkey AS id FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT 'b__' || o_orderkey FROM orders WHERE o_orderkey % 2 = 1)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY MD5('42:' || id)) AS INT) AS pos, id
         FROM u ORDER BY pos""",

    "q51_prevalent_peaks" ->
      """WITH nt AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem),
         idf AS (
           SELECT l_partkey AS feat_id,
                  LOG2(1 + nt.n / (COUNT(CASE WHEN l_quantity > 0 THEN 1 END) + 1)) AS idf
           FROM lineitem CROSS JOIN nt GROUP BY l_partkey, nt.n),
         tf AS (
           SELECT l_orderkey, l_partkey AS feat_id, l_quantity,
                  COUNT(CASE WHEN l_quantity > 0 THEN 1 END)
                    OVER (PARTITION BY l_orderkey) AS nf
           FROM lineitem),
         prev AS (
           SELECT tf.feat_id,
                  ROUND(SUM(tf.l_quantity / tf.nf * idf.idf), 6) AS prevalence
           FROM tf JOIN idf ON tf.feat_id = idf.feat_id
           GROUP BY tf.feat_id)
         SELECT feat_id, prevalence,
                CAST(ROW_NUMBER() OVER (ORDER BY prevalence DESC, feat_id) AS INT) AS rk
         FROM prev ORDER BY prevalence DESC, feat_id LIMIT 50""",

    "q56_ptime_agg" ->
      """WITH coo AS (
           SELECT l_orderkey AS cell_id, l_partkey AS feat_id,
                  SUM(l_quantity) AS value
           FROM lineitem GROUP BY 1, 2),
         sel AS (
           SELECT feat_id FROM (
             SELECT feat_id, COUNT(*) AS nnz FROM coo GROUP BY feat_id)
           ORDER BY nnz DESC, feat_id LIMIT 20),
         dense AS (
           SELECT o.o_orderkey AS cell_id, s.feat_id,
                  EPOCH_MS(o.o_orderdate) AS ptime,
                  COALESCE(c.value, 0) AS v
           FROM orders o CROSS JOIN sel s
           LEFT JOIN coo c ON c.cell_id = o.o_orderkey AND c.feat_id = s.feat_id),
         rolled AS (
           SELECT *, AVG(v) OVER (PARTITION BY feat_id ORDER BY ptime, cell_id
                  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS r
           FROM dense),
         st AS (
           SELECT feat_id, AVG(r) AS mu, STDDEV_SAMP(r) AS sd
           FROM rolled GROUP BY feat_id),
         zb AS (
           SELECT rolled.feat_id AS feat_id, (rolled.r - st.mu) / st.sd AS z,
                  NTILE(20) OVER (PARTITION BY rolled.feat_id
                    ORDER BY rolled.ptime, rolled.cell_id) AS bin
           FROM rolled JOIN st ON rolled.feat_id = st.feat_id)
         SELECT feat_id, CAST(bin AS INT) AS bin, ROUND(AVG(z), 6) AS z_mean
         FROM zb GROUP BY feat_id, bin ORDER BY feat_id, bin""",

    "q52_dummy_assay" ->
      """WITH a AS (
           SELECT l_partkey AS feat_id, SUM(l_quantity) AS sum_a
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_partkey),
         b AS (
           SELECT l_partkey AS feat_id, SUM(l_quantity) AS sum_b
           FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY l_partkey)
         SELECT COALESCE(a.feat_id, b.feat_id) AS feat_id,
                COALESCE(a.sum_a, 0) AS sum_a, COALESCE(b.sum_b, 0) AS sum_b
         FROM a FULL OUTER JOIN b ON a.feat_id = b.feat_id
         ORDER BY feat_id""",

    "q65_grouped_assay" ->
      """WITH normed AS (
           SELECT l_orderkey AS cell_id, l_partkey AS feat_id,
                  10000.0 * l_quantity / SUM(l_quantity) OVER (PARTITION BY l_orderkey) AS normed
           FROM lineitem),
         g AS (
           SELECT p_partkey AS feat_id, p_partkey % 5 AS grp
           FROM part WHERE p_partkey % 7 <> 0),
         sizes AS (SELECT grp, COUNT(*) AS gsz FROM g GROUP BY grp),
         sums AS (
           SELECT n.cell_id, g.grp, SUM(n.normed) AS gsum
           FROM normed n JOIN g ON n.feat_id = g.feat_id
           GROUP BY n.cell_id, g.grp),
         cells AS (SELECT o_orderkey AS cell_id FROM orders)
         SELECT c.cell_id, s.grp AS "group",
                ROUND(COALESCE(m.gsum, 0) / s.gsz, 6) AS mean_normed
         FROM cells c CROSS JOIN sizes s
         LEFT JOIN sums m ON c.cell_id = m.cell_id AND s.grp = m.grp
         ORDER BY c.cell_id, "group"""",

    "q66_counts_mat" ->
      """WITH n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_total_cells FROM lineitem),
         idf AS (
           SELECT l_partkey AS feat_id,
                  LOG2(1 + n.n_total_cells / (COUNT(CASE WHEN l_quantity > 0 THEN 1 END) + 1)) AS idf
           FROM lineitem CROSS JOIN n GROUP BY l_partkey, n.n_total_cells),
         tf AS (
           SELECT l_orderkey AS cell_id, l_partkey AS feat_id, l_quantity,
                  COUNT(CASE WHEN l_quantity > 0 THEN 1 END) OVER (PARTITION BY l_orderkey) AS nf
           FROM lineitem),
         tfidf AS (
           SELECT tf.cell_id, tf.feat_id, tf.l_quantity / tf.nf * idf.idf AS normed
           FROM tf JOIN idf ON tf.feat_id = idf.feat_id),
         map AS (
           SELECT p_partkey AS feat_id, p_partkey // 10 AS new_feat FROM part
           UNION ALL
           SELECT p_partkey, p_partkey // 10 + 1 FROM part WHERE p_partkey % 3 = 0),
         melded AS (
           SELECT t.cell_id, m.new_feat, SUM(t.normed) AS value
           FROM tfidf t JOIN map m ON t.feat_id = m.feat_id
           GROUP BY t.cell_id, m.new_feat),
         rs AS (SELECT cell_id, SUM(value) AS rs FROM melded GROUP BY cell_id)
         SELECT m.cell_id, m.new_feat, ROUND(100000.0 * m.value / r.rs, 4) AS value
         FROM melded m JOIN rs r ON m.cell_id = r.cell_id
         ORDER BY m.cell_id, m.new_feat""",

    "q68_hto_classify" ->
      """WITH h AS (
           SELECT l_orderkey AS cell_id,
                  SUM(CASE WHEN l_partkey BETWEEN 1 AND 50 THEN l_quantity ELSE 0 END) AS h1,
                  SUM(CASE WHEN l_partkey BETWEEN 51 AND 100 THEN l_quantity ELSE 0 END) AS h2
           FROM lineitem GROUP BY l_orderkey),
         c AS (SELECT cell_id, 'HTO1' AS hto, h1 AS cnt FROM h
               UNION ALL SELECT cell_id, 'HTO2', h2 FROM h),
         hist AS (SELECT hto, cnt, COUNT(*) AS m FROM c GROUP BY hto, cnt),
         cum AS (SELECT hto, cnt, SUM(m) OVER (PARTITION BY hto ORDER BY cnt) AS cum FROM hist),
         n AS (SELECT hto, COUNT(*) AS n FROM c GROUP BY hto),
         cut AS (SELECT cum.hto, MIN(cnt) AS cutoff
                 FROM cum JOIN n ON cum.hto = n.hto
                 WHERE cum.cum >= CEIL(n.n * 0.95) GROUP BY cum.hto),
         disc AS (SELECT c.cell_id, c.hto, c.cnt,
                         CASE WHEN c.cnt > t.cutoff THEN 1 ELSE 0 END AS pos
                  FROM c JOIN cut t ON c.hto = t.hto),
         best AS (SELECT cell_id, hto AS top_hto FROM (
                    SELECT cell_id, hto,
                           ROW_NUMBER() OVER (PARTITION BY cell_id ORDER BY cnt DESC, hto) AS rn
                    FROM disc) WHERE rn = 1),
         agg AS (SELECT cell_id, SUM(pos) AS n_pos FROM disc GROUP BY cell_id)
         SELECT a.cell_id,
                CASE WHEN a.n_pos = 0 THEN 'Negative'
                     WHEN a.n_pos > 1 THEN 'Doublet'
                     ELSE b.top_hto END AS call
         FROM agg a JOIN best b ON a.cell_id = b.cell_id
         ORDER BY a.cell_id""")
}
