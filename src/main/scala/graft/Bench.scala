package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (count() would let Catalyst skip sorts/projections), and prints
  * one JSON line for the driver.
  *
  * Robustness to the driver's cold-ish conditions (the recorded number
  * is the gate):
  *  - every input table is page-cache/JIT warmed outside the measured
  *    window;
  *  - each query runs `REPS` times within the one session and the
  *    MEDIAN is reported — the first rep eats codegen/JIT compilation,
  *    and a single GC pause or compaction stall can no longer distort
  *    the record (±40 % single-run noise on short queries was measured
  *    in round 3);
  *  - slow queries (ANY base rep, or the base median, > SLOW_CUTOFF
  *    seconds) get 2 extra reps (5 total): box contention has inflated
  *    a slow query's 3-rep median in three separate rounds, and the
  *    median of 5 is robust to two contended reps instead of one. The
  *    any-rep trigger closed the round-10 gap where a 38 s rep 3 got
  *    no extension because only rep 1 used to arm it;
  *  - each query carries a `contended` flag (>3× rep spread, or a rep
  *    with gc_ms ≥ half its wall time) and the record carries both the
  *    median total and `value_min` = sum of fastest reps (the
  *    contention floor) — an anchor breach without a contended flag is
  *    a real regression, one with it is a starved box;
  *  - the record SELF-HEALS: after the suite (post-GC, transient
  *    pressure gone), every query whose median breaches 2× its
  *    earliest-green anchor (BENCH_anchors.json) or carries a
  *    contended flag is re-measured for REPS more reps; the per-query
  *    record carries `anchor` and `rerun_median` so a breach
  *    adjudicates from ONE record — the r11 record had a 6-query
  *    uniformly-pressured window the spread flag could not see, and
  *    resolving it needed a second full run;
  *  - the driver keeps only the final 2000 bytes of output, and the
  *    per-query map stopped fitting that window at ~130 queries (the
  *    gate recorded `parsed: null` from round 3 on). The printed line
  *    is therefore a SUMMARY guaranteed < 1.5 kB — total, query count,
  *    errors, the 10 slowest with medians and per-rep arrays — and the
  *    FULL per-query map (median + every rep, every query) is written
  *    to `BENCH_full.json` in the repo root, committed with the
  *    snapshot.
  */
object Bench {
  private val REPS = 3
  private val SLOW_REPS = 5
  private val SLOW_CUTOFF = 5.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusEnv = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = cpusEnv.toIntOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpusEnv'"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup + page-cache warm of EVERY input table outside
    // the measured window — the VM's cold block device otherwise adds
    // tens of seconds of disk-wait noise to whichever queries scan first
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        spark.read.parquet(f.getPath).foreach(_ => ())
      }
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()

    // a failed rep records (elapsed, Some(error)) — it is EXCLUDED from
    // the median (a planning-time crash would otherwise record near-zero
    // seconds and silently improve the gate number) and surfaces in the
    // JSON "errors" map instead; a query with no successful rep reports
    // null. Each rep also snapshots the session memo counters
    // (FrameMemo + DriverMemo + SuffixOps levels) before/after: the
    // per-rep HIT DELTA tags which reps were served warm — the memos
    // legitimately span reps and queries (the reference's zarr-cache
    // analogy), but a median must be readable as warm or cold, and
    // cross-round totals must not silently mix the two regimes.
    def memoHits(): Long =
      graft.core.FrameMemo.stats._1 + graft.core.DriverMemo.stats._1 +
        graft.text.SuffixOps.memoStats._1
    // cumulative stop-the-world GC milliseconds — the per-rep delta
    // separates "the plan got slower" from "the JVM was starved": a rep
    // whose gc_ms ≈ its elapsed time was heap-bound, not plan-bound
    // (the round-9 driver-vs-builder spike reconciliation is exactly
    // this ambiguity, unresolvable without the telemetry)
    def gcMs(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var t = 0L
      while (it.hasNext) { val v = it.next().getCollectionTime; if (v > 0) t += v }
      t
    }
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Long, Long) = {
      val h0 = memoHits()
      val g0 = gcMs()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e.getClass.getName + ": " +
          Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")) }
      ((System.nanoTime() - t0) / 1e9, err, memoHits() - h0, gcMs() - g0)
    }
    // SPARK_GRAFT_BENCH_ONLY=q69,q60 restricts to the named qNN prefixes
    // (local iteration on one query's reps; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.contains(name.takeWhile(_ != '_'))) }
    val results = selected.map { case (name, fn) =>
      val base = (1 to REPS).map(_ => once(fn))
      // contention hardening: a slow query gets SLOW_REPS total reps so
      // one or two contended reps can no longer set the median. The
      // trigger is ANY base rep (or the base median) over the cutoff —
      // the round-10 record had a 38 s rep 3 (q202) that got no extra
      // reps because only rep 1 used to arm the extension.
      val baseGood = base.filter(_._2.isEmpty).map(_._1).sorted
      val baseMedian = if (baseGood.nonEmpty) baseGood(baseGood.length / 2) else 0.0
      val reps =
        if (base.exists(_._1 > SLOW_CUTOFF) || baseMedian > SLOW_CUTOFF)
          base ++ (1 to (SLOW_REPS - REPS)).map(_ => once(fn))
        else base
      val good = reps.filter(_._2.isEmpty).map(_._1).sorted
      val median = if (good.nonEmpty) Some(good(good.length / 2)) else None
      // cold = rep 1 (the rep that pays any memo/cache build this query
      // triggers first) when it succeeded — reported alongside the
      // median so build-cost regressions stay visible under the memos
      val cold = if (reps.head._2.isEmpty) Some(reps.head._1) else None
      // contended = the reps DISAGREE in a way a stable plan cannot:
      // >3× spread across successful WARM reps (rep 1 is excluded — it
      // legitimately pays codegen/JIT/memo-build and is already
      // reported as `cold`), or a warm rep that spent ≥half its wall
      // time in stop-the-world GC. The flag turns "this query breached
      // its anchor" into "this RUN was starved while measuring it" —
      // attributable from the record alone, no rerun needed.
      val warm = reps.drop(1).filter(_._2.isEmpty)
      val warmTimes = warm.map(_._1).sorted
      val contended = warmTimes.nonEmpty && (
        warmTimes.last / math.max(warmTimes.head, 1e-9) > 3.0 ||
          warm.exists { case (el, _, _, gc) => gc >= 0.5 * el * 1000 })
      (name, median, reps.map(_._1), reps.flatMap(_._2), cold,
        reps.map(_._3), reps.map(_._4), contended, good.headOption)
    }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // short key = the qNN prefix (unique across the query set)
    def short(k: String) = k.takeWhile(_ != '_')

    // ---- self-healing pass (round-12 rule): the record adjudicates its
    // own anomalies instead of needing a second full run. Anchors =
    // each query's earliest green driver median at this SF
    // (BENCH_anchors.json, rebuilt by tools/make_anchors.py). After the
    // suite — post-GC, the box's transient pressure from whichever
    // query ran beside the victim long gone — every query whose median
    // breaches 2x its anchor OR carries a contended flag is re-measured
    // for REPS more reps and the record carries `rerun_median`
    // alongside. A breach whose rerun lands back at/below the anchor
    // was contention; one whose rerun confirms it is a real regression.
    // The r11 record had a 6-query uniformly-pressured window the
    // spread-based flag could not see — this pass is the fix.
    val anchorsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHORS",
      "BENCH_anchors.json")
    val anchors: Map[String, Double] = {
      val f = java.nio.file.Paths.get(anchorsPath).toAbsolutePath
      if (java.nio.file.Files.exists(f)) {
        val txt = java.nio.file.Files.readString(f)
        """"(q\d+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    }
    val qFns = SparkEntry.queries
    val healed: Map[String, Double] = {
      val candidates = results.filter { case (k, med, _, _, _, _, _, cont, _) =>
        cont || (med.exists(m => anchors.get(short(k)).exists(a => m > 2.0 * a)))
      }
      if (candidates.isEmpty) Map.empty
      else {
        System.gc()
        Thread.sleep(2000)
        candidates.map { case (k, _, _, _, _, _, _, _, _) =>
          val rr = (1 to REPS).map(_ => once(qFns(k))).filter(_._2.isEmpty).map(_._1).sorted
          short(k) -> (if (rr.nonEmpty) rr(rr.length / 2) else Double.NaN)
        }.filter(!_._2.isNaN).toMap
      }
    }
    // printed line: failure counts; full record: count plus the first
    // failing rep's exception
    val failed = results.filter(_._4.nonEmpty).map(r => short(r._1) -> r._4)
    val errs = failed.map { case (q, es) => s""""$q":${es.size}""" }.mkString("{", ",", "}")
    val errsFull = failed.map { case (q, es) =>
      s""""$q":{"n":${es.size},"first":${Verify.jsonString(es.head)}}""" }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // contention-floor total: sum of each query's FASTEST successful rep.
    // On an idle box total ≈ totalMin; a gap between them is the amount
    // of box contention baked into the median-of-reps record.
    val totalMin = results.flatMap(_._9).sum
    val contendedAll = results.filter(_._8).map(r => short(r._1))
    val contendedKeys = contendedAll.map("\"" + _ + "\"").mkString("[", ",", "]")
    // printed-line variant capped at 12 names (the full list is in the
    // file record) so a badly starved run cannot blow the 1.5 kB budget
    val contendedShort = contendedAll.take(12).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // compact rerun map for the printed line (full map is in the file)
    val rerunShort = healed.toSeq.sortBy(_._1).take(12)
      .map { case (q, v) => "\"" + q + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // FULL record → repo file (committed with the snapshot): median +
    // every rep + per-rep memo-hit deltas + the cold (rep-1) time for
    // every query — the per-query gate data the printed tail window
    // cannot hold. A rep with memo_hits > 0 was served (partly) warm;
    // the cold field is what to compare when asking what a query costs
    // the first time a session touches its inputs.
    val fullQs = results.map { case (k, v, reps, _, cold, hits, gcs, cont, mn) =>
      "\"" + short(k) + "\":{\"median\":" + v.map(fmt(_).toString).getOrElse("null") +
        ",\"cold\":" + cold.map(fmt(_).toString).getOrElse("null") +
        ",\"min\":" + mn.map(fmt(_).toString).getOrElse("null") +
        ",\"contended\":" + cont +
        ",\"anchor\":" + anchors.get(short(k)).map(fmt(_).toString).getOrElse("null") +
        ",\"rerun_median\":" + healed.get(short(k)).map(fmt(_).toString).getOrElse("null") +
        ",\"reps\":[" + reps.map(fmt(_)).mkString(",") + "]" +
        ",\"memo_hits\":[" + hits.mkString(",") + "]" +
        ",\"gc_ms\":[" + gcs.mkString(",") + "]}"
    }.mkString("{", ",", "}")
    // Environment fingerprint for cross-run reconciliation: when this
    // record disagrees with another run of the SAME code (the round-9
    // driver-vs-builder spike mystery), these fields say whether the
    // JVM ran starved (heap, cumulative GC) or the memos behaved
    // differently (hits/misses/evictions are DETERMINISTIC given
    // identical code + query order — a mismatch here means the runs
    // were not actually identical).
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    def memoJson(st: (Long, Long, Long)) = s"[${st._1},${st._2},${st._3}]"
    val envJson = s""""heap_mb":$heapMb,"gc_total_ms":${gcMs()},""" +
      s""""frame_memo":${memoJson(graft.core.FrameMemo.stats)},""" +
      s""""driver_memo":${memoJson(graft.core.DriverMemo.stats)},""" +
      s""""suffix_memo":${memoJson(graft.text.SuffixOps.memoStats)}"""
    // resolved against the working directory (or an explicit override),
    // not a hardcoded checkout path
    // cpu-suffixed default: the r13 driver's 8-cpu run overwrote the 32-cpu
    // full record, destroying the only same-core per-query comparison basis.
    // The record also carries "cpus" so a surviving file identifies itself.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_full_c$cpus.json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath).toAbsolutePath,
      s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","n":${results.size},"cpus":$cpus,"base_reps":$REPS,"slow_reps":$SLOW_REPS,"slow_cutoff":$SLOW_CUTOFF,"contended":$contendedKeys,$envJson,"queries":$fullQs,"errors":$errsFull,"sf":"$sfDir"}""")
    // printed line: summary only, guaranteed < 1.5 kB so the driver's
    // 2000-byte tail window parses it — slowest 10 with medians AND
    // per-rep arrays (contention vs plan is attributable from spread)
    val slowest = results.filter(_._2.isDefined).sortBy(-_._2.get).take(10)
    val qs = slowest.map { case (k, v, _, _, _, _, _, _, _) =>
      "\"" + short(k) + "\":" + fmt(v.get)
    }.mkString("{", ",", "}")
    val slow = slowest.map { case (k, _, reps, _, _, _, _, _, _) =>
      "\"" + short(k) + "\":[" + reps.map(fmt(_)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // base vs slow rep counts reported explicitly — a bare "reps":3 was
    // wrong for the queries that ran 5 under the slow-query rule; the
    // env fingerprint rides the printed line too (compact) so even a
    // tail-window-only record carries the starved-JVM diagnostics.
    // value_min (sum of fastest reps) is the contention floor; the
    // contended list names every query whose reps betray a starved run.
    println(s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"unit":"sec","n":${results.size},"cpus":$cpus,"base_reps":$REPS,"slow_reps":$SLOW_REPS,"slow_cutoff":$SLOW_CUTOFF,"heap_mb":$heapMb,"gc_total_ms":${gcMs()},"contended_n":${contendedAll.size},"contended":$contendedShort,"rerun_n":${healed.size},"rerun":$rerunShort,"queries":$qs,"reps_slow":$slow,"errors":$errs,"full":"$fullPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
