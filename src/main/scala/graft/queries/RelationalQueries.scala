package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Joins, Windows}
import graft.stats.{Markers, Pseudobulk}

/** Driver-verified queries for the join / window / group-aggregation /
  * statistical-test operators (SURVEY.md §2.5-2.9, §2.13).
  */
object RelationalQueries {
  private def tb(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** cells = all orders; group label = the owning customer's market
    * segment (broadcast dim join) — the stand-in for cluster labels.
    */
  private def cellGroups(s: SparkSession, d: String): DataFrame =
    tb(s, d, "orders").join(broadcast(tb(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("cell_id"), col("c_mktsegment").as("group"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_star_join" -> ((s, d) => {
      val li = tb(s, d, "lineitem")
      li.join(tb(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tb(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tb(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tb(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    "q15_align_features" -> ((s, d) => {
      val target = tb(s, d, "lineitem").filter(year(col("l_shipdate")) === 1997)
        .select(col("l_partkey").as("p_partkey"))
      Joins.alignFeatures(tb(s, d, "part").select("p_partkey"), "p_partkey",
          target, "p_partkey")
        .orderBy("p_partkey")
    }),

    "q16_overlap_join" -> ((s, d) => {
      val a = tb(s, d, "part").select(col("p_partkey"),
        col("p_size").as("lo"), (col("p_size") + 3).as("hi"))
      val b = tb(s, d, "part").select(col("p_size")).distinct()
        .select(col("p_size").as("bin_id"),
          (col("p_size") - 2).as("b_lo"), (col("p_size") + 2).as("b_hi"))
      Joins.overlapJoin(a, b).select("p_partkey", "bin_id")
        .orderBy("p_partkey", "bin_id")
    }),

    "q17_union_dedup" -> ((s, d) => {
      val p = tb(s, d, "part")
      Joins.unionDedup(
          p.filter(col("p_size") < 25).select("p_partkey"),
          p.filter(col("p_size") >= 15).select("p_partkey"), "p_partkey")
        .orderBy("p_partkey")
    }),

    "q18_anti_join" -> ((s, d) => {
      val sold = tb(s, d, "lineitem")
        .select(col("l_partkey").as("p_partkey")).distinct()
      val blacklist = tb(s, d, "part")
        .filter(upper(col("p_name")).rlike("WIDGET")).select("p_partkey")
      Joins.exceptBlacklist(sold, "p_partkey", blacklist).orderBy("p_partkey")
    }),

    "q19_topk_window" -> ((s, d) =>
      Windows.topKPerGroup(tb(s, d, "lineitem"), Seq("l_orderkey"), 3,
          Seq(col("l_extendedprice").desc, col("l_linenumber")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn")
        .orderBy("l_orderkey", "rn")),

    "q20_ranks" -> ((s, d) =>
      Windows.ranks(tb(s, d, "lineitem"), "l_partkey", "l_quantity")
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_quantity",
          "drank", "arank")
        .orderBy("l_partkey", "l_orderkey", "l_linenumber", "l_quantity")),

    "q21_rolling_mean" -> ((s, d) =>
      Windows.rollingMean(tb(s, d, "lineitem"), "l_partkey",
          Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")),
          "l_quantity", 2)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          round(col("rolling_mean"), 6).as("rolling_mean"))
        .orderBy("l_partkey", "l_orderkey", "l_linenumber", "rolling_mean")),

    "q22_ntile_bin" -> ((s, d) =>
      Windows.ntileBinAgg(tb(s, d, "orders"),
          Seq(col("o_orderdate"), col("o_orderkey")), 20, "o_totalprice")
        .select(col("bin"), col("n"), round(col("bin_mean"), 6).as("bin_mean"))),

    "q23_winsorize" -> ((s, d) =>
      Windows.winsorize(tb(s, d, "orders"), "o_totalprice", 0.05, 0.95)
        .select(col("o_orderkey"), round(col("clipped"), 6).as("clipped"))
        .orderBy("o_orderkey")),

    "q24_make_bulk" -> ((s, d) => {
      val cg = tb(s, d, "orders")
        .join(broadcast(tb(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey").as("cell_id"),
          concat_ws("|", col("c_mktsegment"), col("o_orderstatus")).as("group"))
      Pseudobulk.makeBulk(Tables.coo(s, d), cg)
        .select(col("group").as("grp"), col("feat_id"), col("sum_value"),
          round(col("frac_exp"), 6).as("frac_exp"))
        .orderBy("grp", "feat_id")
    }),

    // make_bulk with seeded pseudo-replicate splits (datastore.py:1016-1022)
    "q58_make_bulk_reps" -> ((s, d) => {
      val cg = tb(s, d, "orders")
        .join(broadcast(tb(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey").as("cell_id"), col("c_mktsegment").as("group"))
      Pseudobulk.makeBulk(Tables.coo(s, d), cg, pseudoReps = 3, seed = 4466L)
        .select(col("group").as("grp"), col("feat_id"), col("sum_value"),
          round(col("frac_exp"), 6).as("frac_exp"))
        .orderBy("grp", "feat_id")
    }),

    "q25_smart_label" -> ((s, d) =>
      Pseudobulk.smartLabel(tb(s, d, "orders"), "o_orderpriority", "o_orderstatus")
        .orderBy("o_orderpriority")),

    "q26_ari_nmi" -> ((s, d) =>
      Pseudobulk.ariNmi(tb(s, d, "orders"), "o_orderstatus", "o_orderpriority")),

    "q27_markers" -> ((s, d) =>
      Markers.findMarkersByRank(Tables.coo(s, d), cellGroups(s, d))
        .select(col("feat_id"), col("group").as("grp"),
          round(col("score"), 6).as("score"),
          round(col("mean"), 6).as("mean"),
          round(col("mean_rest"), 6).as("mean_rest"),
          round(col("frac_exp"), 6).as("frac_exp"),
          round(col("frac_exp_rest"), 6).as("frac_exp_rest"),
          round(col("fold_change"), 6).as("fold_change"),
          round(col("p_value"), 6).as("p_value"))
        .orderBy("feat_id", "grp")),

    "q28_reg_markers" -> ((s, d) => {
      val cellVar = tb(s, d, "orders")
        .select(col("o_orderkey").as("cell_id"), col("o_totalprice").as("y"))
      Markers.findMarkersByRegression(Tables.coo(s, d), cellVar, minCells = 10)
        .select(col("feat_id"), col("nnz"), round(col("r"), 6).as("r"))
        .orderBy("feat_id")
    }))

  /** Shared SQL fragment: the A&S 7.1.26 two-sided MWU p-value given a
    * column expression for |z|/sqrt(2) aliased `x` and `t = 1/(1+px)`.
    */
  private val pPoly =
    "(((((1.061405429*t - 1.453152027)*t) + 1.421413741)*t - 0.284496736)*t + 0.254829592)*t*EXP(-x*x)"

  val oracle: Map[String, String] = Map(
    "q14_star_join" ->
      """SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q15_align_features" ->
      """WITH tgt AS (
           SELECT DISTINCT l_partkey FROM lineitem
           WHERE EXTRACT(YEAR FROM l_shipdate) = 1997),
         ordt AS (
           SELECT l_partkey,
                  CAST(ROW_NUMBER() OVER (ORDER BY l_partkey) AS INT) - 1 AS target_idx
           FROM tgt)
         SELECT p.p_partkey AS p_partkey, COALESCE(o.target_idx, -1) AS target_idx
         FROM part p LEFT JOIN ordt o ON p.p_partkey = o.l_partkey
         ORDER BY p.p_partkey""",

    "q16_overlap_join" ->
      """WITH b AS (
           SELECT DISTINCT p_size AS bin_id, p_size - 2 AS b_lo, p_size + 2 AS b_hi
           FROM part)
         SELECT a.p_partkey AS p_partkey, b.bin_id AS bin_id
         FROM part a JOIN b ON a.p_size < b.b_hi AND a.p_size + 3 > b.b_lo
         ORDER BY a.p_partkey, b.bin_id""",

    "q17_union_dedup" ->
      """SELECT p_partkey, MIN(src) AS src FROM (
           SELECT p_partkey, 1 AS src FROM part WHERE p_size < 25
           UNION ALL
           SELECT p_partkey, 2 AS src FROM part WHERE p_size >= 15)
         GROUP BY p_partkey ORDER BY p_partkey""",

    "q18_anti_join" ->
      """SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
         WHERE l_partkey NOT IN (
           SELECT p_partkey FROM part WHERE REGEXP_MATCHES(UPPER(p_name), 'WIDGET'))
         ORDER BY p_partkey""",

    "q19_topk_window" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_extendedprice DESC, l_linenumber) AS INT) AS rn
           FROM lineitem)
         WHERE rn <= 3 ORDER BY l_orderkey, rn""",

    "q20_ranks" ->
      """SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
           CAST(DENSE_RANK() OVER (PARTITION BY l_partkey ORDER BY l_quantity) AS INT) AS drank,
           RANK() OVER (PARTITION BY l_partkey ORDER BY l_quantity)
             + (COUNT(*) OVER (PARTITION BY l_partkey, l_quantity) - 1) / 2.0 AS arank
         FROM lineitem ORDER BY l_partkey, l_orderkey, l_linenumber, l_quantity""",

    "q21_rolling_mean" ->
      """SELECT l_partkey, l_orderkey, l_linenumber,
           ROUND(AVG(l_quantity) OVER (PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS rolling_mean
         FROM lineitem ORDER BY l_partkey, l_orderkey, l_linenumber, rolling_mean""",

    "q22_ntile_bin" ->
      """SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 6) AS bin_mean
         FROM (SELECT o_totalprice,
                 NTILE(20) OVER (ORDER BY o_orderdate, o_orderkey) AS bin
               FROM orders)
         GROUP BY bin ORDER BY bin""",

    "q23_winsorize" ->
      """WITH q AS (
           SELECT QUANTILE_CONT(o_totalprice, 0.05) AS q_lo,
                  QUANTILE_CONT(o_totalprice, 0.95) AS q_hi
           FROM orders)
         SELECT o_orderkey,
                ROUND(LEAST(GREATEST(o_totalprice, q.q_lo), q.q_hi), 6) AS clipped
         FROM orders CROSS JOIN q ORDER BY o_orderkey""",

    "q58_make_bulk_reps" ->
      """WITH cg0 AS (
           SELECT o_orderkey AS cell_id, c_mktsegment AS g
           FROM orders JOIN customer ON o_custkey = c_custkey),
         cg AS (
           SELECT cell_id,
                  g || '_Rep' || NTILE(3) OVER (PARTITION BY g
                    ORDER BY MD5('4466:' || cell_id), cell_id) AS grp
           FROM cg0),
         sizes AS (SELECT grp, COUNT(*) AS n_cells FROM cg GROUP BY grp),
         agg AS (
           SELECT cg.grp, l.l_partkey AS feat_id,
                  SUM(l.l_quantity) AS sum_value,
                  COUNT(CASE WHEN l.l_quantity > 0 THEN 1 END) AS n_expr
           FROM lineitem l JOIN cg ON l.l_orderkey = cg.cell_id
           GROUP BY cg.grp, l.l_partkey)
         SELECT agg.grp AS grp, agg.feat_id AS feat_id, agg.sum_value AS sum_value,
                ROUND(agg.n_expr / CAST(s.n_cells AS DOUBLE), 6) AS frac_exp
         FROM agg JOIN sizes s ON agg.grp = s.grp
         ORDER BY grp, feat_id""",

    "q24_make_bulk" ->
      """WITH cg AS (
           SELECT o_orderkey AS cell_id,
                  c_mktsegment || '|' || o_orderstatus AS grp
           FROM orders JOIN customer ON o_custkey = c_custkey),
         sizes AS (SELECT grp, COUNT(*) AS n_cells FROM cg GROUP BY grp),
         agg AS (
           SELECT cg.grp, l.l_partkey AS feat_id,
                  SUM(l.l_quantity) AS sum_value,
                  COUNT(CASE WHEN l.l_quantity > 0 THEN 1 END) AS n_expr
           FROM lineitem l JOIN cg ON l.l_orderkey = cg.cell_id
           GROUP BY cg.grp, l.l_partkey)
         SELECT agg.grp AS grp, agg.feat_id AS feat_id, agg.sum_value AS sum_value,
                ROUND(agg.n_expr / sizes.n_cells, 6) AS frac_exp
         FROM agg JOIN sizes ON agg.grp = sizes.grp
         ORDER BY agg.grp, agg.feat_id""",

    "q25_smart_label" ->
      """SELECT o_orderpriority, o_orderstatus AS label, overlap FROM (
           SELECT o_orderpriority, o_orderstatus, COUNT(*) AS overlap,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                    ORDER BY COUNT(*) DESC, o_orderstatus) AS rn
           FROM orders GROUP BY o_orderpriority, o_orderstatus)
         WHERE rn = 1 ORDER BY o_orderpriority""",

    "q26_ari_nmi" ->
      """WITH cont AS (
           SELECT o_orderstatus AS a, o_orderpriority AS b,
                  CAST(COUNT(*) AS DOUBLE) AS nij
           FROM orders GROUP BY 1, 2),
         m AS (
           SELECT *, SUM(nij) OVER (PARTITION BY a) AS ai,
                  SUM(nij) OVER (PARTITION BY b) AS bj,
                  (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS n
           FROM cont),
         s AS (
           SELECT SUM(nij * (nij - 1) / 2) AS sij,
                  SUM(nij / ai * (ai * (ai - 1) / 2)) AS si_rep,
                  SUM(nij / bj * (bj * (bj - 1) / 2)) AS sj_rep,
                  ANY_VALUE(n) AS n,
                  SUM(nij / n * LN(n * nij / (ai * bj))) AS mi,
                  SUM(nij / ai * (-(ai / n) * LN(ai / n))) AS hu,
                  SUM(nij / bj * (-(bj / n) * LN(bj / n))) AS hv
           FROM m)
         SELECT ROUND((sij - si_rep * sj_rep / (n * (n - 1) / 2))
                  / ((si_rep + sj_rep) / 2 - si_rep * sj_rep / (n * (n - 1) / 2)), 6) AS ari,
                ROUND(mi / ((hu + hv) / 2), 6) AS nmi
         FROM s""",

    "q27_markers" ->
      s"""WITH cg AS (
           SELECT o_orderkey AS cell_id, c_mktsegment AS grp
           FROM orders JOIN customer ON o_custkey = c_custkey),
         sizes AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n_g FROM cg GROUP BY grp),
         nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM cg),
         coo AS (SELECT l_orderkey AS cell_id, l_partkey AS feat_id,
                        l_quantity AS value FROM lineitem),
         vg AS (SELECT coo.*, cg.grp FROM coo JOIN cg USING (cell_id)),
         ranked AS (
           SELECT *,
             DENSE_RANK() OVER (PARTITION BY feat_id ORDER BY value) AS dr_nz,
             RANK() OVER (PARTITION BY feat_id ORDER BY value)
               + (COUNT(*) OVER (PARTITION BY feat_id, value) - 1) / 2.0 AS ar_nz
           FROM vg),
         ft AS (SELECT feat_id, CAST(COUNT(*) AS DOUBLE) AS nnz_tot,
                       SUM(value) AS sum_tot FROM coo GROUP BY feat_id),
         tie AS (SELECT feat_id, SUM(t * t * t - t) AS tie_nz FROM
                   (SELECT feat_id, value, CAST(COUNT(*) AS DOUBLE) AS t
                    FROM coo GROUP BY feat_id, value) GROUP BY feat_id),
         ga AS (SELECT feat_id, grp, CAST(COUNT(*) AS DOUBLE) AS nnz_g,
                       SUM(value) AS sum_g, SUM(dr_nz) AS sum_dr_nz,
                       SUM(ar_nz) AS sum_ar_nz
                FROM ranked GROUP BY feat_id, grp),
         base AS (
           SELECT f.feat_id, s.grp, s.n_g, f.nnz_tot, f.sum_tot, nt.n_total,
                  nt.n_total - f.nnz_tot AS n_zero, t.tie_nz,
                  COALESCE(ga.nnz_g, 0) AS nnz_g, COALESCE(ga.sum_g, 0) AS sum_g,
                  COALESCE(ga.sum_dr_nz, 0) AS sum_dr_nz,
                  COALESCE(ga.sum_ar_nz, 0) AS sum_ar_nz
           FROM ft f CROSS JOIN sizes s CROSS JOIN nt
           JOIN tie t ON f.feat_id = t.feat_id
           LEFT JOIN ga ON ga.feat_id = f.feat_id AND ga.grp = s.grp),
         calc AS (
           SELECT feat_id, grp,
             (sum_dr_nz + nnz_g + (n_g - nnz_g)) / n_g AS mean_dr,
             sum_g / n_g AS mean,
             (sum_tot - sum_g) / (n_total - n_g) AS mean_rest,
             nnz_g / n_g AS frac_exp,
             (nnz_tot - nnz_g) / (n_total - n_g) AS frac_exp_rest,
             ((n_g - nnz_g) * (n_zero + 1) / 2 + sum_ar_nz + nnz_g * n_zero)
               - n_g * (n_g + 1) / 2 AS u1,
             n_g * (n_total - n_g) / 2 AS mu_u,
             SQRT(n_g * (n_total - n_g) / 12 * (n_total + 1
               - (tie_nz + n_zero * n_zero * n_zero - n_zero)
                 / (n_total * (n_total - 1)))) AS sigma_u
           FROM base),
         zc AS (SELECT *, ABS((u1 - mu_u - 0.5) / sigma_u) / SQRT(2.0) AS x FROM calc),
         tc AS (SELECT *, 1 / (1 + 0.3275911 * x) AS t FROM zc)
         SELECT feat_id, grp,
           ROUND(mean_dr / SUM(mean_dr) OVER (PARTITION BY feat_id), 6) AS score,
           ROUND(mean, 6) AS mean,
           ROUND(mean_rest, 6) AS mean_rest,
           ROUND(frac_exp, 6) AS frac_exp,
           ROUND(frac_exp_rest, 6) AS frac_exp_rest,
           ROUND(CASE WHEN mean_rest = 0 THEN 0 ELSE mean / mean_rest END, 6) AS fold_change,
           ROUND($pPoly, 6) AS p_value
         FROM tc ORDER BY feat_id, grp""",

    "q28_reg_markers" ->
      """WITH ym AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n_total,
                  SUM(o_totalprice) AS sum_y,
                  SUM(o_totalprice * o_totalprice) AS sum_y2
           FROM orders),
         xa AS (
           SELECT l_partkey AS feat_id, COUNT(*) AS nnz,
                  SUM(l_quantity) AS sum_x,
                  SUM(l_quantity * l_quantity) AS sum_x2,
                  SUM(l_quantity * o_totalprice) AS sum_xy
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY l_partkey)
         SELECT feat_id, nnz,
           ROUND(CASE WHEN nnz < 10 THEN 0 ELSE
             (n_total * sum_xy - sum_x * sum_y)
             / SQRT((n_total * sum_x2 - sum_x * sum_x)
                  * (n_total * sum_y2 - sum_y * sum_y)) END, 6) AS r
         FROM xa CROSS JOIN ym ORDER BY feat_id""")
}
