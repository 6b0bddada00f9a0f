package graft

import org.scalatest.funsuite.AnyFunSuite

/** One materialization primitive in loop code, asserted instead of
  * documented: a frame materialized by a raw `localCheckpoint` keeps its
  * origin plan's size estimate (which compounds round over round in a
  * self-referencing loop), while `graft.core.Lineage.reset` gives it its
  * measured size. This spec scans every source under
  * `src/main/scala/graft` that calls `Lineage.iterate`, plus
  * `text/SuffixOps.scala` (whose doubling levels are a loop unrolled
  * through its memo), and fails on any `.localCheckpoint(` in them.
  * Comments and strings are blanked first.
  */
class CheckpointLintSpec extends AnyFunSuite {

  import SourceScan.code

  private val root = new java.io.File("src/main/scala/graft")

  private val suffixOps = "text/SuffixOps.scala"

  private val raw = """\.localCheckpoint\s*\(""".r
  private val iterate = """\bLineage\s*\.\s*iterate\b""".r

  /** The 1-based line of every raw checkpoint in `c`. */
  private def rawCheckpoints(c: String): Seq[Int] =
    raw.findAllMatchIn(c).map(m => c.substring(0, m.start).count(_ == '\n') + 1).toSeq

  private def isLoopFile(rel: String, c: String): Boolean =
    rel == suffixOps || iterate.findFirstIn(c).nonEmpty

  test("scanner: finds raw checkpoints in loop code, ignores comments and strings") {
    val src =
      """val (x, _) = graft.core.Lineage.iterate(s, 3)(step)(stop)
        |// val y = x.localCheckpoint()
        |val z = "df.localCheckpoint()"
        |val e = edges
        |  .select("a").localCheckpoint()
        |val f = g.localCheckpoint(false)""".stripMargin
    val c = code(src)
    assert(isLoopFile("graph/X.scala", c))
    assert(rawCheckpoints(c) === Seq(5, 6))
    val noLoop = code("val f = g.localCheckpoint() // Lineage.iterate")
    assert(!isLoopFile("graph/Y.scala", noLoop))
    assert(isLoopFile(suffixOps, noLoop))
  }

  test("loop code materializes through Lineage.reset, never a raw localCheckpoint") {
    val files = SourceScan.scalaFiles(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    val base = root.getPath + "/"
    val scanned = files.map(f => f.getPath.stripPrefix(base) -> code(SourceScan.read(f)))
      .filter { case (rel, c) => isLoopFile(rel, c) }
    // the scan sees real code: SuffixOps and the loop owners are in it
    assert(scanned.map(_._1).contains(suffixOps))
    assert(scanned.size > 5, s"only ${scanned.size} loop files found")
    val hits = scanned.flatMap { case (rel, c) => rawCheckpoints(c).map(l => s"$rel:$l") }
    assert(hits.isEmpty, s"${hits.size} raw localCheckpoint calls: ${hits.mkString(", ")}")
  }
}
