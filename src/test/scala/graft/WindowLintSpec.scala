package graft

/** Bounded-window invariant, asserted instead of documented: an
  * unpartitioned `Window.orderBy` funnels the whole frame through ONE
  * task — fine on a bounded domain (a distinct-lifetime table, the ≤ k
  * rows of a global top-k cut), a scale-killer on a corpus-sized one.
  * The repo's rule (VERDICT r11) is that every such site must be
  * bounded-by-argument;
  * this spec turns the comment into a gate: it builds every
  * `SparkEntry.queries` plan against the smallest SF and fails if a
  * logical Window with an empty partitionSpec appears in an OPTIMIZED
  * plan outside the named allowlist.
  *
  * Boundary: checkpointed sub-plans (Lineage.reset/localCheckpoint) are
  * already executed when the final plan is inspected, so windows behind
  * a checkpoint don't surface here — those sites are the audited kernel
  * internals (globalOrdinal's two-pass machinery is RDD-based and
  * window-free anyway). What this catches is the contributor case: new
  * query wiring that adds a global row_number()/rank() over an unbounded
  * frame, which works at test SF and dies at 100×.
  */
@org.scalatest.tags.Slow
class WindowLintSpec extends SparkSpec {

  // query -> max allowed unpartitioned Window nodes, each traced to a
  // documented bounded-by-argument site (VERDICT r11's audit list):
  //  - q110: Mix.weightedSample's global top-n, a topKPerGroup cut with
  //    no groups: Spark plans it as TakeOrderedAndProject, so the window
  //    sees ≤ n rows;
  //  - q129: Analytics.keySkew's global top-k, the same cut: ≤ k rows;
  //  - q184: Sketches KMV merge — two global min-k cuts, the same plan,
  //    each window seeing ≤ k hashes;
  //  - q246: Analytics.kaplanMeier's running sums on the distinct-
  //    lifetime domain (bounded by the corpus day span).
  // A NEW query appearing here means an unbounded global sort unless
  // its domain is argument-bounded — document the bound, then add it.
  private val allow: Map[String, Int] = Map(
    "q110_weighted_sample" -> 1,
    "q129_key_skew" -> 1,
    "q184_kmv_merge" -> 2,
    "q246_kaplan_meier" -> 2)

  test("no oracle query plans an unpartitioned Window outside the allowlist") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.SortedMap[String, Int]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.size
      if (n > allow.getOrElse(name, 0)) offenders(name) = n
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window outside the allowlist: $offenders")
  }
}
