package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One measured iteration: a fresh session (so no session memo can serve
  * it from an earlier iteration), its own set-up, the timed job, then the
  * checks. */
final case class Iteration(traced: Boolean, setupS: Double, wallS: Double, cpuS: Double,
                           shuffleMb: Double, spillMb: Double, tasks: Double,
                           liveHeapMb: Double, checksS: Double, traceOverheadS: Double,
                           ops: Long,
                           spans: Map[String, Acc],
                           checks: Checks, jobFailure: Option[Failure]) {
  def failures: Seq[Failure] = jobFailure.toSeq ++ checks.failures
}

/** Benchmark main: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--data <dir>` (curation tables), `--expected <file>` (recorded
  * floors and fingerprints), `--work <dir>` (scratch space), `--smoke 1`
  * (tiny inputs).
  *
  * Prints one `{"record": ...}` line with every iteration, the failures and
  * the box health, then the result line. */
object Main {
  val Workloads = Seq("cells", "curation")
  /** One query or more from each family: the SuffixOps chain (text), dedup,
    * sim and PQ, the functions kernels and mining, the stats loops, and the
    * relational half. */
  val CurationQueries = Seq("q219", "q220", "q231", "q187", "q173", "q132", "q248", "q66")
  val MemoQueries = Set("q219", "q220", "q231")

  /** Per-layer metrics: span name → measures. Every span gets `s` and
    * `cpu_s`; the other measures only where an optimisation should move them. */
  val Spans: Seq[(String, Seq[String])] = Seq(
    "stats.qc" -> Nil, "stats.hvg" -> Nil,
    "reduce.pca" -> Seq("shuffle_mb"),
    "knn.self_ann" -> Seq("tasks", "shuffle_mb", "spill_mb"),
    "knn.smooth" -> Nil,
    "cluster.louvain_driver" -> Nil,
    "graph.louvain" -> Seq("jobs", "cached_mb"),
    "graph.refine" -> Seq("jobs", "cached_mb"),
    "graph.ppr" -> Seq("jobs", "cached_mb"),
    "stats.markers" -> Nil,
    "knn.self_exact" -> Seq("spill_mb"),
    "core.cachestore" -> Nil,
    "umap.driver" -> Nil,
    "umap.distributed" -> Seq("jobs", "cached_mb"),
    "graph.diffuse" -> Seq("jobs", "cached_mb"),
    "mapping.run_first" -> Nil,
    "mapping.run_repeat" -> Nil,
    "mapping.project" -> Nil,
    "graph.label_transfer" -> Nil) ++
    CurationQueries.map(q => s"curation.$q" -> (if (MemoQueries(q)) Seq("memo_hits") else Nil))

  /** A traced run's untraced twin starts only if it can end by then. */
  val TwinDeadlineS = 160.0

  val Units = Map("s" -> "s", "cpu_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "cached_mb" -> "MB", "memo_hits" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts.getOrElse("trace", "0") == "1"
    val smoke = opts.getOrElse("smoke", "0") == "1"
    val workDir = new java.io.File(opts("work")).getAbsolutePath
    val dataRoot = new java.io.File(opts("data")).getAbsolutePath
    val expected = {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(opts("expected"))
      try p.load(in) finally in.close()
      scala.jdk.CollectionConverters.PropertiesHasAsScala(p).asScala.toMap
    }
    val floors = expected.collect { case (k, v) if k.startsWith("floor.") => k -> v.toDouble }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load1 = Health.load1()
    val steal0 = Health.stealS()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val calibBefore = Health.calib()
    val tracer = new Tracer(spark.sparkContext)

    // Only the benchmark's generator sees the seed; curation reads fixed tables.
    val w: Workload = workload match {
      case "cells" =>
        new Cells(if (smoke) 300L else 600L, if (smoke) 60L else 150L, s"cells:$seed", workDir,
          floors)
      case "curation" =>
        new Curation(s"$dataRoot/sf0.001", CurationQueries, expected)
    }

    // Iterations run while another fits in the window; at least one. With
    // tracing, one traced iteration (first, as cold as an untraced run's
    // first) and then one untraced twin whose outputs the traced one must
    // reproduce, if the twin (warm, so at most 80% of the cold traced
    // iteration) still fits before `TwinDeadlineS` after JVM start: the run
    // must end well within run.py's 175 s limit even on a starved box. The
    // record says when the twin was left out.
    val iters = mutable.ArrayBuffer.empty[Iteration]
    val t0 = System.nanoTime()
    var last = 0.0
    def sinceStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def more = iters.isEmpty || (
      if (traceMode) iters.size == 1 && sinceStartS + 0.8 * last <= TwinDeadlineS
      else (System.nanoTime() - t0) / 1e9 + last <= seconds)
    while (more) {
      val ti = System.nanoTime()
      iters += iteration(spark, tracer, w, traced = traceMode && iters.isEmpty)
      last = (System.nanoTime() - ti) / 1e9
    }
    val twinSkipped = traceMode && iters.size == 1
    val calibAfter = Health.calib()
    val stealS = Health.stealS() - steal0

    // A traced iteration must reproduce the untraced outputs exactly.
    val mismatches = if (!traceMode || twinSkipped) Nil else {
      val ref = iters.find(!_.traced).get.checks.summary
      iters.filter(_.traced).flatMap(_.checks.summary.collect {
        case (k, v) if !ref.get(k).contains(v) =>
          Failure(s"trace.$k", "CheckFailed", s"traced $v, untraced ${ref.getOrElse(k, "-")}")
      })
    }
    val failures = iters.flatMap(_.failures) ++ mismatches
    val attempted = iters.map(i => i.ops + i.checks.attempted).sum + mismatches.size
    val plain = iters.filterNot(_.traced)
    val traced = iters.filter(_.traced)
    def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
    def qual(its: Iterable[Iteration], q: String) = {
      val xs = its.flatMap(_.checks.quality.get(q))
      if (xs.isEmpty) 0.0 else med(xs)
    }
    // the mean of the workload's quality scores: NMI of both clusterings
    // and ANN recall on cells, the fingerprint share on curation (each
    // score also has its own floor among the checks)
    def quality(its: Iterable[Iteration]) = med(its.map { i =>
      val q = i.checks.quality.values
      if (q.isEmpty) 0.0 else q.sum / q.size
    })

    val metrics: Seq[(String, Double, String)] =
      if (!traceMode) Seq(
        ("setup_s", sessionS + med(iters.map(_.setupS)), "s"),
        ("wall_s", med(plain.map(_.wallS)), "s"),
        ("cpu_s", med(plain.map(_.cpuS)), "s"),
        ("shuffle_mb", med(plain.map(_.shuffleMb)), "MB"),
        ("live_heap_mb", med(plain.map(_.liveHeapMb)), "MB"),
        ("quality", quality(plain), "share"),
        ("ok_share", 1.0 - failures.size.toDouble / attempted, "share"))
      else {
        val layer = for ((span, extra) <- Spans; m <- "s" +: "cpu_s" +: extra) yield
          (s"$span.$m", med(traced.map(_.spans.get(span).map(_.measure(m)).getOrElse(0.0))), Units(m))
        layer ++ Seq(
          ("job.tasks", med(traced.map(_.tasks)), "count"),
          ("job.spill_mb", med(traced.map(_.spillMb)), "MB"),
          ("quality.nmi", qual(traced, "nmi"), "share"),
          ("quality.nmi_distributed", qual(traced, "nmi_distributed"), "share"),
          ("quality.knn_recall", qual(traced, "knn_recall"), "share"),
          ("quality.label_acc", qual(traced, "label_acc"), "share"),
          ("quality.fingerprint_share", qual(traced, "fingerprint_share"), "share"),
          ("job.wall_s", med(traced.map(_.wallS)), "s"),
          ("job.cpu_s", med(traced.map(_.cpuS)), "s"),
          ("trace.overhead_s", med(traced.map(_.traceOverheadS)), "s"),
          ("box.load1", load1, "load"),
          ("box.steal_s", stealS, "s"),
          ("box.calib_before_s", calibBefore, "s"),
          ("box.calib_after_s", calibAfter, "s"))
      }

    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceMode,
      "smoke" -> smoke, "cpus" -> cpus, "session_s" -> sessionS, "twin_skipped" -> twinSkipped,
      "box" -> Json.obj("load1" -> load1, "steal_s" -> stealS,
        "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter),
      "iterations" -> iters.map(i => Json.obj(
        "traced" -> i.traced, "setup_s" -> i.setupS, "wall_s" -> i.wallS, "cpu_s" -> i.cpuS,
        "trace_overhead_s" -> i.traceOverheadS,
        "shuffle_mb" -> i.shuffleMb, "spill_mb" -> i.spillMb, "live_heap_mb" -> i.liveHeapMb,
        "checks_s" -> i.checksS,
        "quality" -> Json.obj(i.checks.quality.toSeq: _*),
        "summary" -> Json.obj(i.checks.summary.toSeq: _*))),
      "failures" -> failures.map(f => Json.obj("op" -> f.op, "class" -> f.cls, "message" -> f.msg)))
    println(Json.obj("record" -> record))
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(Json.obj(
      "correct" -> (failures.isEmpty && finite),
      "attempted" -> attempted,
      "failed" -> (failures.size + (if (finite) 0 else 1)),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u) }: _*)))
    System.out.flush()
    spark.stop()
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def iteration(base: SparkSession, tr: Tracer, w: Workload, traced: Boolean): Iteration = {
    val sc = base.sparkContext
    val s = base.newSession()
    tr.reset()
    // set up three times for a steady set-up time; the job gets the last
    // inputs, and the cached frames of the first two are freed
    def setupOnce() = {
      val ts = System.nanoTime()
      val in = w.setup(s)
      ((System.nanoTime() - ts) / 1e9, in)
    }
    val discarded = (1 to 2).map { _ => val t = setupOnce()._1; freeCached(base); t }
    val (lastS, in) = setupOnce()
    val setupS = Stats.median(discarded :+ lastS)
    System.gc()
    tr.drain()
    val (cpu0, shuffle0, spill0, tasks0) =
      (osBean.getProcessCpuTime, tr.totalShuffleB.get, tr.totalSpillB.get, tr.totalTasks.get)
    val (ops0, bookkeeping0) = (tr.ops, tr.bookkeepingNs)
    HeapPeak.arm()
    tr.on = traced
    val t0 = System.nanoTime()
    val outcome =
      try Right(w.job(s, in, tr))
      catch { case e: Exception => Left(Failure.of("job", e)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    tr.on = false
    val liveHeapMb = HeapPeak.disarm()
    tr.drain()
    val spans = tr.snapshot
    val checks = new Checks
    val tc = System.nanoTime()
    outcome.foreach(verify =>
      try verify(checks) catch { case e: Exception => checks.failures += Failure.of("checks", e) })
    val checksS = (System.nanoTime() - tc) / 1e9
    val it = Iteration(traced, setupS, wallS, cpuS,
      (tr.totalShuffleB.get - shuffle0) / 1e6, (tr.totalSpillB.get - spill0) / 1e6,
      (tr.totalTasks.get - tasks0).toDouble, liveHeapMb, checksS,
      (tr.bookkeepingNs - bookkeeping0) / 1e9,
      tr.ops - ops0, spans, checks,
      outcome.left.toOption)
    graft.core.FrameMemo.clear()
    freeCached(base)
    it
  }

  /** Drop every cached frame and RDD of the context (all sessions). */
  private def freeCached(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
}

/** Box health, so a slow box can be told apart from a slow plan. */
object Health {
  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }
  def load1(): Double = read("/proc/loadavg").split("\\s+")(0).toDouble
  /** Cumulative CPU steal of the machine, in seconds (USER_HZ = 100). */
  def stealS(): Double =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
  /** Median time of a fixed single-thread integer loop, over 3 tries. */
  @volatile private var sink = 0L
  def calib(): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  })
}

/** Just enough JSON for the record and result lines. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    override def toString: String = fields.map { case (k, v) => s"${str(k)}:${enc(v)}" }
      .mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def enc(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Obj => o.toString
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
  }
}
