package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: dump ONE SparkEntry query to parquet (fast oracle
  * iteration without a full Verify sweep).
  * Usage: runMain graft.QDump <queryName> <sfDir> <outDir>
  */
object QDump {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    spark.stop()
  }
}
