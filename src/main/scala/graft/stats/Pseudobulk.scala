package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group-wise aggregation operators: pseudobulk, cluster relabeling, and
  * clustering-agreement metrics (SURVEY.md §2.4, §2.13).
  */
object Pseudobulk {

  /** Pseudobulk (make_bulk, scarf/datastore/datastore.py:978-1116):
    * group cells by metadata columns, per-group-per-feature sum plus
    * fraction-of-cells-expressing; all-zero features drop out naturally in
    * COO form. `cellGroups(cell_id, group)`; group sizes are re-derived so
    * frac_exp uses the full group population, not just expressing cells.
    */
  def makeBulk(coo: DataFrame, cellGroups: DataFrame): DataFrame =
    makeBulk(coo, cellGroups, pseudoReps = 1)

  /** make_bulk with pseudo-replicates (scarf/datastore/datastore.py:
    * 1016-1022 make_reps): each group's cells are split into `pseudoReps`
    * near-equal partitions in seeded-shuffle order, labeled
    * `<group>_Rep<n>`. The shuffle is a deterministic md5(seed:cell_id)
    * ordering (same WHAT as the reference's seeded numpy permutation, an
    * engine-independent HOW) and the split is ntile = numpy array_split
    * sizing. The per-group window is partitioned — no global sort.
    */
  def makeBulk(coo: DataFrame, cellGroups: DataFrame, pseudoReps: Int,
               seed: Long = 4466L): DataFrame = {
    val grouped =
      if (pseudoReps <= 1) cellGroups.select(col("cell_id"), col("group"))
      else {
        val w = Window.partitionBy("group")
          .orderBy(md5(concat(lit(s"$seed:"), col("cell_id"))), col("cell_id"))
        cellGroups
          .withColumn("rep", ntile(pseudoReps).over(w))
          .select(col("cell_id"),
            concat(col("group"), lit("_Rep"), col("rep")).as("group"))
      }
    val sizes = grouped.groupBy("group").agg(count(lit(1)).as("n_cells"))
    coo.join(grouped, Seq("cell_id"))
      .groupBy("group", "feat_id")
      .agg(sum(col("value")).as("sum_value"),
        count(when(col("value") > 0, 1)).as("n_expr"))
      .join(broadcast(sizes), Seq("group"))
      .select(col("group"), col("feat_id"), col("sum_value"),
        (col("n_expr") / col("n_cells")).as("frac_exp"))
  }

  /** Seeded binned control-feature sampling (binned_sampling,
    * scarf/feat_utils.py:49-92; Seurat/Scanpy score_genes): rank all
    * feature values (ties → min rank), cut = floor(rank / round(N/(nBins−1))),
    * and from every cut that contains a set feature draw ctrlSize features
    * in md5(seed:feat_id) order (deterministic seeded sampling — same
    * WHAT, engine-reproducible HOW). Output: control feat_ids, set
    * features excluded. Rank uses the scale-safe running-total pass, not a
    * global window.
    */
  def binnedSampling(values: DataFrame, featureSet: DataFrame, ctrlSize: Int,
                     nBins: Int, seed: Long = 4466L): DataFrame = {
    val n = values.count()
    // guard tiny feature sets: round(n/(nBins-1)) = 0 would null every cut
    val nItems = math.max(1.0, math.floor(n.toDouble / (nBins - 1) + 0.5))
    // min-rank by value: 1 + (count of strictly smaller values)
    val perVal = values.groupBy("value").agg(count(lit(1)).cast("double").as("cnt"))
    val ranked = graft.ops.Windows.runningTotal(perVal,
        Seq(col("value")), "cnt", "below")
      .select(col("value"), (lit(1) + col("below")).cast("long").as("rank"))
    val cuts = values.join(ranked, Seq("value"))
      .select(col("feat_id"), floor(col("rank") / nItems).cast("int").as("cut"))
    val setCuts = cuts.join(featureSet, Seq("feat_id")).select("cut").distinct()
    graft.ops.Windows.topKPerGroup(
        cuts.join(broadcast(setCuts), Seq("cut")),
        Seq("cut"), ctrlSize,
        Seq(md5(concat(lit(s"$seed:"), col("feat_id"))), col("feat_id")))
      .join(featureSet, Seq("feat_id"), "left_anti")
      .select("feat_id")
  }

  /** Full smart_label naming (scarf/datastore/datastore.py:1189-1239):
    * per A-value majority B-value; A-values sharing a majority B get
    * letter suffixes ordered by their fraction of that B row ("1a", "1b",
    * …); B-values claimed by no A are hyphen-appended into the label of
    * the A-column holding their maximum ("1-3a"). The crosstab is
    * |A|×|B| — collected, like the reference's pandas solve.
    * Returns `(a_value, label)`.
    */
  def smartLabelNames(df: DataFrame, a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // driver-bound: |A| × |B| label pairs
    val ct = df.groupBy(a, b).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    val aVals = ct.map(_._1).distinct.sorted
    val bVals = ct.map(_._2).distinct.sorted
    val n = ct.map(t => (t._1, t._2) -> t._3).toMap.withDefaultValue(0L)
    val rowSum = bVals.map(bv => bv -> aVals.map(av => n((av, bv))).sum).toMap
    // per-A majority B (pandas idxmax: first max in sorted row order)
    val idxmax = aVals.map(av => av -> bVals.maxBy(bv => (n((av, bv)), bVals.length -
      bVals.indexOf(bv)))).toMap
    val newNames = scala.collection.mutable.LinkedHashMap[String, String]()
    idxmax.values.toSeq.distinct.sorted.foreach { bv =>
      val claimants = aVals.filter(idxmax(_) == bv)
        .sortBy(av => (-n((av, bv)).toDouble / rowSum(bv), aVals.indexOf(av)))
      claimants.zipWithIndex.foreach { case (av, i) =>
        newNames(av) = s"$bv${('a' + i).toChar}"
      }
    }
    val missing = bVals.filterNot(idxmax.values.toSet)
    missing.sorted.foreach { bv =>
      val v = aVals.maxBy(av => (n((av, bv)), aVals.length - aVals.indexOf(av)))
      val cur = newNames(v)
      newNames(v) = s"${cur.dropRight(1)}-$bv${cur.last}"
    }
    newNames.toSeq.toDF("a_value", "label")
  }

  /** smart_label (scarf/datastore/datastore.py:1189-1239): relabel each
    * value of column A by its majority-overlap value of column B.
    * Crosstab + per-A argmax window; ties break lexicographically on B —
    * deterministic stand-in for the reference's suffix ordering.
    */
  def smartLabel(df: DataFrame, a: String, b: String): DataFrame =
    df.groupBy(a, b).agg(count(lit(1)).as("overlap"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(a).orderBy(col("overlap").desc, col(b))))
      .filter(col("rn") === 1)
      .select(col(a), col(b).as("label"), col("overlap"))

  /** ARI + NMI between two label columns (scarf/metrics.py:436-465) from
    * the contingency table, closed-form. Output: single row
    * (ari, nmi) with NMI's arithmetic-mean normalization (sklearn default).
    * Everything after the first groupBy is over |A|×|B| rows — trivial.
    */
  def ariNmi(df: DataFrame, a: String, b: String): DataFrame = {
    val cont = df.groupBy(a, b).agg(count(lit(1)).cast("double").as("nij"))
    val withMargins = cont
      .withColumn("ai", sum(col("nij")).over(Window.partitionBy(a)))
      .withColumn("bj", sum(col("nij")).over(Window.partitionBy(b)))
      .crossJoin(broadcast(df.agg(count(lit(1)).cast("double").as("n"))))
    withMargins.agg(
        sum(col("nij") * (col("nij") - 1) / 2).as("sij"),
        // ai/bj margins are replicated per contingency cell; divide the
        // per-cell contribution through nij's share to sum each margin once
        sum(col("nij") / col("ai") * (col("ai") * (col("ai") - 1) / 2)).as("si_rep"),
        sum(col("nij") / col("bj") * (col("bj") * (col("bj") - 1) / 2)).as("sj_rep"),
        first(col("n")).as("n"),
        sum(col("nij") / col("n") *
          log(col("n") * col("nij") / (col("ai") * col("bj")))).as("mi"),
        sum(col("nij") / col("ai") *
          (-(col("ai") / col("n")) * log(col("ai") / col("n")))).as("hu"),
        sum(col("nij") / col("bj") *
          (-(col("bj") / col("n")) * log(col("bj") / col("n")))).as("hv"))
      .select(
        round((col("sij") - col("si_rep") * col("sj_rep") / (col("n") * (col("n") - 1) / 2)) /
          ((col("si_rep") + col("sj_rep")) / 2 -
            col("si_rep") * col("sj_rep") / (col("n") * (col("n") - 1) / 2)), 6).as("ari"),
        round(col("mi") / ((col("hu") + col("hv")) / 2), 6).as("nmi"))
  }
}
