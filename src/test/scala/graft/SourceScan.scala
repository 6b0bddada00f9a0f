package graft

/** Helpers for the source-level lint specs: read the Scala sources under
  * a directory, and blank their comments and string literals so a scan
  * sees code only.
  */
object SourceScan {

  /** Every `.scala` file under `root`, recursively, sorted by path. */
  def scalaFiles(root: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root).sortBy(_.getPath)
  }

  def read(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.mkString finally s.close()
  }

  /** Blank comments and string literals, keeping offsets and newlines. */
  def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(until: Int): Unit = {
      while (i < until) { out += (if (src(i) == '\n') '\n' else ' '); i += 1 }
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        blank(if (e < 0) src.length else e)
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        blank(if (e < 0) src.length else e + 2)
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        blank(if (e < 0) src.length else e + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') {
          if (src(j) == '\\') j += 1
          j += 1
        }
        blank(math.min(j + 1, src.length))
      } else { out += src(i); i += 1 }
    }
    out.toString
  }
}
