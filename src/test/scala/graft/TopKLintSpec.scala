package graft

import org.scalatest.funsuite.AnyFunSuite

/** One per-group top-k, asserted instead of documented: a
  * `row_number()` window cut by a `<=` filter is
  * `graft.ops.Windows.topKPerGroup`'s job, so this spec scans every
  * source under `src/main/scala/graft` outside `ops/Windows.scala` and
  * fails on any `row_number()` followed, before the next one and within
  * six lines, by a `<=` comparison. Comments and strings are blanked
  * first.
  *
  * Two cuts keep their own window, each named with its method below:
  *  - `Sketch.topacedo`: each cluster's quota `n_take` is a column, not
  *    a number, so there is no `k` to pass;
  *  - `Mix.sourceCapSpillover`: its cap comes from the data and may
  *    exceed 1000, above which Spark plans no map-side pre-cut, so it
  *    keeps its salted two-phase election.
  */
class TopKLintSpec extends AnyFunSuite {

  import SourceScan.code

  private val root = new java.io.File("src/main/scala/graft")

  /** The primitive's own file. */
  private val home = "ops/Windows.scala"

  private val allowed = Set(
    "graph/Sketch.scala:topacedo",
    "text/Mix.scala:sourceCapSpillover")

  private val rowNumber = """\brow_number\s*\(\s*\)""".r
  private val defName = """\bdef\s+([^\s(\[:=]+)""".r

  /** Offset where the `n`-th line after the one holding `from` ends. */
  private def linesOn(c: String, from: Int, n: Int): Int =
    Iterator.iterate(from) { i =>
      val e = c.indexOf('\n', i + 1)
      if (e < 0) c.length else e
    }.drop(n + 1).next()

  /** The enclosing `def` of every hand-rolled cut in `c`. */
  private def cuts(c: String): Seq[String] = {
    val starts = rowNumber.findAllMatchIn(c).map(_.start).toSeq
    starts.zip(starts.drop(1) :+ c.length).collect {
      case (s, next) if c.substring(s, math.min(next, linesOn(c, s, 6))).contains("<=") =>
        defName.findAllMatchIn(c.substring(0, s)).toSeq.lastOption
          .fold("<top>")(_.group(1))
    }
  }

  test("scanner: finds a cut and its method, ignores comments and rank picks") {
    val src =
      """def a(df: DataFrame) = df
        |  .withColumn("r", row_number().over(w))
        |  .filter(col("r") <= 3)
        |// def b = x.withColumn("r", row_number().over(w)).filter(col("r") <= 3)
        |def c(df: DataFrame) = df.withColumn("r", row_number().over(w))
        |  .filter(col("r") === 1).filter(col("n") > 2)
        |def d(df: DataFrame) = df.filter("r <= 2")""".stripMargin
    assert(cuts(code(src)) === Seq("a"))
  }

  test("every row_number() <= k cut goes through Windows.topKPerGroup") {
    val files = SourceScan.scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val base = root.getPath + "/"
    val hits = files.map(f => f -> f.getPath.stripPrefix(base))
      .filter(_._2 != home)
      .flatMap { case (f, rel) =>
        cuts(code(SourceScan.read(f))).map(m => s"$rel:$m") }
    val extra = hits.filterNot(allowed)
    assert(extra.isEmpty, s"${extra.size} hand-rolled top-k cuts: ${extra.mkString(", ")}")
    // the scan sees real code: both named exceptions are still found
    assert(allowed.subsetOf(hits.toSet), s"exceptions not found: ${allowed -- hits}")
  }
}
