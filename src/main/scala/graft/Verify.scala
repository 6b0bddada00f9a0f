package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: either a comma-separated query-name filter for
    // local iteration, or `shard:i/k` — the i-th (0-based) of k
    // name-sorted slices, for splitting the dump across parallel
    // invocations if the suite outgrows the driver's gate window. Each
    // shard writes the FULL oracle_sql.json (idempotent — the shards
    // share one outDir, and compare.py's subset arg mirrors the split).
    val shard: Option[(Int, Int)] = args.lift(2)
      .filter(_.startsWith("shard:")).map { s =>
        val Array(i, k) = s.stripPrefix("shard:").split("/").map(_.toInt)
        require(k > 0 && i >= 0 && i < k, s"bad shard spec $s")
        (i, k)
      }
    val only: Option[Set[String]] =
      if (args.length > 2 && shard.isEmpty) Some(args(2).split(",").toSet)
      else None
    val shardNames: Option[Set[String]] = shard.map { case (i, k) =>
      SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
        .collect { case (n, j) if j % k == i => n }.toSet
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && shardNames.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal of `s`: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
