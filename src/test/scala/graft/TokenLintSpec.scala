package graft

import org.scalatest.funsuite.AnyFunSuite

/** One tokenizer, one n-gram window, one Scaladoc per definition,
  * asserted instead of documented. The spec scans every source under
  * `src/main/scala/graft`, with comments and strings blanked, and fails
  * on:
  *  - `split(col("text"), "\\s+")` outside the definition of
  *    `TextOps.tokensCol`, the one whitespace tokenizer;
  *  - a `sequence(` whose upper bound is `size(…) - n` outside the
  *    window helpers in `text/TextOps.scala` (`windowStarts` holds the
  *    short-document guard that such a bound needs);
  *  - a Scaladoc block directly followed by another, where only the
  *    second attaches to the definition below them.
  *
  * Windows written inside `expr` strings are blanked with the strings,
  * so this scan does not see them.
  */
class TokenLintSpec extends AnyFunSuite {

  import SourceScan.code

  private val root = new java.io.File("src/main/scala/graft")

  /** The helpers that may write a `size(…) - n` window bound. */
  private val windowHelpers = Set("text/TextOps.scala:windowStarts")

  private val inlineSplit = """split\(col\("text"\), "\\\\s\+"\)""".r
  private val tokensDef = """val\s+tokensCol\s*:\s*Column\s*=\s*$""".r
  private val sequenceCall = """\bsequence\s*\(""".r
  private val defName = """\bdef\s+([^\s(\[:=]+)""".r
  private val stackedDoc = """\*/\s*/\*\*""".r

  /** 1-based line of offset `i`. */
  private def lineOf(s: String, i: Int): Int = s.substring(0, i).count(_ == '\n') + 1

  /** Each inline tokenizer in `src` that is code, not comment or
    * string: its offset, and whether it is `tokensCol`'s definition. */
  private def splits(src: String): Seq[(Int, Boolean)] = {
    val c = code(src)
    inlineSplit.findAllMatchIn(src).map(_.start).toSeq
      .filter(i => c.startsWith("split(", i))
      .map(i => i -> tokensDef.findFirstIn(c.substring(c.lastIndexOf('\n', i) + 1, i)).nonEmpty)
  }

  /** The argument list of the call whose `(` is at `open` in `c`, split
    * at its top-level commas. */
  private def args(c: String, open: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = open + 1
    var i = open
    var done = false
    while (!done && i < c.length) {
      c(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) { out += c.substring(start, i); done = true }
        case ',' if depth == 1 => out += c.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  private val sizeMinus = """(?s)\s*size\s*\(.*\)\s*-.*""".r

  /** The enclosing `def` of every `sequence(…, size(…) - n)` in `c`. */
  private def windows(c: String): Seq[String] =
    sequenceCall.findAllMatchIn(c).toSeq.collect {
      case m if args(c, m.end - 1).lift(1).exists(a => sizeMinus.matches(a)) =>
        defName.findAllMatchIn(c.substring(0, m.start)).toSeq.lastOption
          .fold("<top>")(_.group(1))
    }

  test("scanner: finds inline tokenizers, windows and stacked docs in code only") {
    val src =
      """object A {
        |  val tokensCol: Column = split(col("text"), "\\s+")
        |  def a = df.select(split(col("text"), "\\s+").as("w"))
        |  // def b = split(col("text"), "\\s+")
        |  def d(w: Column) = sequence(lit(0), size(w) - 2)
        |  def e(w: Column) = sequence(lit(1), lit(4))
        |  def f(w: Column) = sequence(lit(0), ceil(size(w) / 2) - 1)
        |  /** one */
        |  /** two */
        |  def g = 1
        |}""".stripMargin
    assert(splits(src).map { case (i, isDef) => (lineOf(src, i), isDef) } ===
      Seq((2, true), (3, false)))
    assert(windows(code(src)) === Seq("d"))
    assert(stackedDoc.findAllMatchIn(src).map(m => lineOf(src, m.start)).toSeq === Seq(8))
  }

  private lazy val sources: Seq[(String, String)] = {
    val files = SourceScan.scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val base = root.getPath + "/"
    files.map(f => f.getPath.stripPrefix(base) -> SourceScan.read(f))
  }

  test("text is tokenized only through TextOps.tokensCol") {
    val found = sources.flatMap { case (rel, src) =>
      splits(src).map { case (i, isDef) => (s"$rel:${lineOf(src, i)}", isDef) } }
    val hits = found.filterNot(_._2).map(_._1)
    assert(hits.isEmpty, s"${hits.size} inline whitespace tokenizers: ${hits.mkString(", ")}")
    // the scan sees real code: it finds the one definition
    assert(found.filter(_._2).map(_._1.takeWhile(_ != ':')) === Seq("text/TextOps.scala"))
  }

  test("every size(…) - n token window goes through the TextOps window helpers") {
    val hits = sources.flatMap { case (rel, src) =>
      windows(code(src)).map(m => s"$rel:$m") }
    val extra = hits.filterNot(windowHelpers)
    assert(extra.isEmpty, s"${extra.size} hand-written windows: ${extra.mkString(", ")}")
    assert(windowHelpers.subsetOf(hits.toSet), s"helpers not found: ${windowHelpers -- hits}")
  }

  test("no Scaladoc block is directly followed by another") {
    val hits = sources.flatMap { case (rel, src) =>
      stackedDoc.findAllMatchIn(src).map(m => s"$rel:${lineOf(src, m.start)}") }
    assert(hits.isEmpty, s"${hits.size} stacked Scaladoc blocks: ${hits.mkString(", ")}")
  }
}
