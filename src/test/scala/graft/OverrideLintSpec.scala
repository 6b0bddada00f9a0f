package graft

import org.scalatest.funsuite.AnyFunSuite

/** No path overrides in the pipeline layer, asserted instead of
  * documented: when to leave exact KNN for the ANN, or the driver-side
  * graph solvers for their distributed twins, is the engine's choice
  * (`graft.pipeline.Scale`), not a caller's. A tri-state
  * `Option[Boolean]` parameter is the shape such an override takes
  * (`None` = auto, `Some(_)` = forced), so this spec scans every source
  * under `src/main/scala/graft/pipeline` and fails on any method whose
  * parameter lists declare one.
  *
  * Source-level on purpose: comments and string literals are blanked
  * first, then each `def`'s parameter lists (balanced parentheses after
  * the name and any type parameters) are checked.
  */
class OverrideLintSpec extends AnyFunSuite {

  import SourceScan.code

  private val root = new java.io.File("src/main/scala/graft/pipeline")

  /** `name -> parameter-list text` for every `def` in `c`. */
  private def defs(c: String): Seq[(String, String)] =
    """\bdef\s+([^\s(\[:=]+)""".r.findAllMatchIn(c).map { m =>
      var i = m.end
      def skipWs(): Unit = while (i < c.length && c(i).isWhitespace) i += 1
      def group(open: Char, close: Char): String = {
        val start = i
        var depth = 1
        i += 1
        while (depth > 0 && i < c.length) {
          if (c(i) == open) depth += 1
          else if (c(i) == close) depth -= 1
          i += 1
        }
        c.substring(start, i)
      }
      skipWs()
      if (i < c.length && c(i) == '[') group('[', ']')
      val params = new StringBuilder
      skipWs()
      while (i < c.length && c(i) == '(') { params ++= group('(', ')'); skipWs() }
      m.group(1) -> params.toString
    }.toSeq

  private val optBool = """Option\s*\[\s*Boolean\s*\]""".r

  test("scanner: finds a tri-state parameter, ignores comments and bodies") {
    val src =
      """def a(x: Int)(ann: Option[Boolean] = None): Int = 1
        |/** def b(y: Option[Boolean]) */ def c[T](t: T): Unit = {
        |  val z: Option[Boolean] = None // def d(w: Option[Boolean])
        |}""".stripMargin
    val hits = defs(code(src)).collect {
      case (n, ps) if optBool.findFirstIn(ps).isDefined => n }
    assert(hits === Seq("a"))
  }

  test("no method under graft.pipeline takes an Option[Boolean] parameter") {
    val files = SourceScan.scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val hits = files.flatMap { f =>
      defs(code(SourceScan.read(f))).collect {
        case (n, ps) if optBool.findFirstIn(ps).isDefined => s"${f.getName}:$n"
      }
    }
    assert(hits.isEmpty, s"path overrides crept back in: ${hits.mkString(", ")}")
  }
}
