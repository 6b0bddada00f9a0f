package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one span. */
final class Acc {
  var s = 0.0
  var cpuNs = 0L
  var jobs = 0L
  var tasks = 0L
  var shuffleB = 0L
  var spillB = 0L
  var cachedB = 0L
  var memoHits = 0L

  def measure(m: String): Double = m match {
    case "s" => s
    case "cpu_s" => cpuNs / 1e9
    case "jobs" => jobs.toDouble
    case "tasks" => tasks.toDouble
    case "shuffle_mb" => shuffleB / 1e6
    case "spill_mb" => spillB / 1e6
    case "cached_mb" => cachedB / 1e6
    case "memo_hits" => memoHits.toDouble
  }
}

/** The benchmark's own Spark listener plus its span recorder.
  *
  * Task totals (executor CPU, shuffle, spill) are always counted: they feed
  * the end-to-end metrics. With tracing on, `span(name)` additionally sets
  * a job group around one call into a layer; every job started under that
  * group, and every task of its stages, is attributed to the span.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  /** Calls made through `span`, traced or not. */
  var ops = 0L
  /** Time traced spans spent on the tracer's own bookkeeping (draining the
    * listener bus, reading storage info): what tracing adds to a run. */
  var bookkeepingNs = 0L
  private val GroupPrefix = "perfbench:"
  val totalShuffleB = new AtomicLong
  val totalSpillB = new AtomicLong
  val totalTasks = new AtomicLong

  private val spans = TrieMap.empty[String, Acc]
  private val jobSpan = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]

  sc.addSparkListener(this)

  private def acc(name: String): Acc = spans.getOrElseUpdate(name, new Acc)

  /** Spans recorded since the last `reset`. */
  def snapshot: Map[String, Acc] = spans.toMap

  def reset(): Unit = { spans.clear(); jobSpan.clear(); stageJob.clear() }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).foreach { g =>
      val span = g.stripPrefix(GroupPrefix)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(stageJob(_) = e.jobId)
      synchronized(acc(span).jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      totalShuffleB.addAndGet(shuffle)
      totalSpillB.addAndGet(spill)
      totalTasks.incrementAndGet()
      for (job <- stageJob.get(e.stageId); span <- jobSpan.get(job))
        synchronized {
          val a = acc(span)
          a.tasks += 1; a.cpuNs += m.executorCpuTime
          a.shuffleB += shuffle; a.spillB += spill
        }
    }
  }

  /** Run one call into a layer. With tracing off this is just `body`. */
  def span[T](name: String)(body: => T): T = {
    ops += 1
    if (!on) body
    else {
      val hits0 = Tracer.memoHits()
      sc.setJobGroup(GroupPrefix + name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val dt = (t1 - t0) / 1e9
        sc.clearJobGroup()
        drain()
        val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        synchronized {
          val a = acc(name)
          a.s += dt; a.cachedB = cached
          a.memoHits += Tracer.memoHits() - hits0
        }
        bookkeepingNs += System.nanoTime() - t1
      }
    }
  }
}

/** The largest heap in use right after any GC while armed: what the job
  * keeps live at its high point, transient state inside a layer call
  * included. GC notifications report each collection's after-GC usage. */
object HeapPeak extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakB = new AtomicLong
  @volatile private var armed = false

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peakB.accumulateAndGet(used, math.max)
    }

  def arm(): Unit = { peakB.set(0L); armed = true }

  /** Ends the window with a full GC, whose result is the floor; in MB. */
  def disarm(): Double = {
    System.gc()
    val end = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    armed = false
    math.max(peakB.get, end) / 1e6
  }
}

object Tracer {
  /** Hits of the session memos the program keeps (FrameMemo, DriverMemo,
    * the SuffixOps level memo). */
  def memoHits(): Long =
    graft.core.FrameMemo.stats._1 + graft.core.DriverMemo.stats._1 +
      graft.text.SuffixOps.memoStats._1
}
