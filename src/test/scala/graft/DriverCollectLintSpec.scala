package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver memory is bounded on every path, asserted instead of
  * documented: every `.collect()` under `graft` either sits in a method
  * that consults `Scale` (the method itself decides whether the driver
  * path is safe) or carries a `// driver-bound: <what bounds it>` tag on
  * its line or the line before (k rows, the feature dimension, one row
  * per partition, the facade's `Scale.driverGraph` gate). Comments and strings are blanked before
  * the scan; the tags are read from the raw source.
  */
class DriverCollectLintSpec extends AnyFunSuite {

  import SourceScan.code

  private val root = new java.io.File("src/main/scala/graft")

  private val collectCall = """\.collect\s*\(\s*\)""".r
  private val defKw = """\bdef\s""".r
  private val scaleCall = """\bScale\s*\.""".r
  private val tag = """//\s*driver-bound:\s*\S""".r

  private def lineOf(c: String, offset: Int): Int = c.substring(0, offset).count(_ == '\n') + 1

  private def indent(line: String): Int = line.takeWhile(_ == ' ').length

  /** 1-based (first, last) line of every method in blanked code `c`: from
    * its `def` to the last line before the next non-blank line indented
    * no deeper than the `def`'s line (a closing brace there is the
    * method's own). */
  private def methods(c: String): Seq[(Int, Int)] = {
    val lines = c.split("\n", -1)
    defKw.findAllMatchIn(c).map { m =>
      val first = lineOf(c, m.start)
      val ind = indent(lines(first - 1))
      val next = (first until lines.length)
        .find(i => lines(i).trim.nonEmpty && indent(lines(i)) <= ind)
      val last = next match {
        case Some(i) if lines(i).trim.startsWith("}") || lines(i).trim.startsWith(")") => i + 1
        case Some(i) => i
        case None => lines.length
      }
      (first, last)
    }.toSeq
  }

  /** The 1-based line of every `.collect()` in `src` that is neither in
    * a method calling `Scale.*` nor tagged `// driver-bound:`. */
  private def unbounded(src: String): Seq[Int] = {
    val c = code(src)
    val raw = src.split("\n", -1)
    val cl = c.split("\n", -1)
    val gated = methods(c).filter { case (a, b) =>
      scaleCall.findFirstIn(cl.slice(a - 1, b).mkString("\n")).nonEmpty
    }
    collectCall.findAllMatchIn(c).map(m => lineOf(c, m.start)).toSeq.filterNot { l =>
      gated.exists { case (a, b) => a <= l && l <= b } ||
        Seq(l, l - 1).exists(t => t >= 1 && tag.findFirstIn(raw(t - 1)).nonEmpty)
    }
  }

  test("scanner: gated methods and tagged lines pass; untagged, empty-tag and far-tag sites fail") {
    val src =
      """object X {
        |  def gated(e: DataFrame) = {
        |    if (Scale.driverGraph(3)) e.collect()
        |  }
        |  def helper(e: DataFrame) =
        |    e.collect()
        |  def tagged(e: DataFrame) = {
        |    // driver-bound: k rows
        |    e.collect()
        |    e.limit(3).collect() // driver-bound: 3 rows
        |    // driver-bound:
        |    e.collect()
        |    // e.collect() in a comment
        |    val s = "x.collect()"
        |    xs.collect { case x => x }
        |  }
        |  def outer(e: DataFrame) = {
        |    def inner() = e.collect()
        |    Scale.ann(3)
        |  }
        |  // driver-bound: too far above
        |
        |  def last(e: DataFrame) = e.collect()
        |}""".stripMargin
    assert(unbounded(src) === Seq(6, 12, 23))
    assert(methods(code(src)).take(2) === Seq((2, 4), (5, 6)))
  }

  test("every driver collect under graft is Scale-gated or tagged") {
    val files = SourceScan.scalaFiles(root)
    assert(files.size > 10, s"only ${files.size} sources found under $root")
    val srcs = files.map(f => f.getPath -> SourceScan.read(f))
    // the scan sees real code: the driver solvers' collects are in it
    val sites = srcs.map { case (_, s) => collectCall.findAllMatchIn(code(s)).size }.sum
    assert(sites > 10, s"only $sites collect sites found")
    val hits = srcs.flatMap { case (p, s) => unbounded(s).map(l => s"$p:$l") }
    assert(hits.isEmpty, s"${hits.size} untagged driver collects: ${hits.mkString(", ")}")
  }
}
