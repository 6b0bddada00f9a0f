package graft.core

import org.apache.spark.sql.DataFrame

/** Session-lifetime memo for SMALL, BOUNDED, already-materialized
  * frames rebuilt identically by repeated callers (bench reps, query
  * families sharing a derived graph): the SuffixOps level-memo
  * discipline made reusable — content-fingerprint keys, LRU admission,
  * race-safe publication with loser unpersist, eviction unpersists the
  * dropped frame's blocks.
  *
  * Only memoize frames that are (a) deterministic functions of the
  * fingerprinted input and (b) bounded (an n·k KNN result, a filtered
  * near-dup pair set) — entries hold block-manager copies until
  * eviction. `build` must return a frame whose blocks already exist
  * (localCheckpointed) so a hit can never observe a half-built value.
  *
  * Eviction window (same documented trade as SuffixOps): an evicted
  * localCheckpointed frame still referenced by an in-flight action is
  * unrecomputable and fails loudly — never wrong; Verify/Bench run
  * queries sequentially, and LRU admission makes the victim the
  * least-recently-touched of `MaxEntries` keys. Callers that MEASURE
  * build cost (ScaleProbe) call [[clear]] between measured sections so
  * a hit cannot fake a probe row.
  */
object FrameMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val MaxEntries = 16
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  // Monotone counters — Bench snapshots them around each rep to tag
  // warm (memo-served) reps in BENCH_full; evictions is the first
  // thing to read when a query dies on unrecomputable checkpoint
  // blocks (the documented eviction window below).
  private val hitN = new java.util.concurrent.atomic.AtomicLong
  private val missN = new java.util.concurrent.atomic.AtomicLong
  private val evictN = new java.util.concurrent.atomic.AtomicLong

  def cached(key: String)(build: => DataFrame): DataFrame =
    memo.get(key) match {
      case Some(df) => hitN.incrementAndGet(); touch(key); df
      case None =>
        missN.incrementAndGet()
        val built = build
        memo.putIfAbsent(key, built) match {
          case Some(winner) =>
            Lineage.release(built)
            touch(key); winner
          case None =>
            touch(key); evictOverflow(); built
        }
    }

  /** (hits, misses, evictions) since JVM start. */
  def stats: (Long, Long, Long) = (hitN.get, missN.get, evictN.get)

  /** Drop every entry and unpersist its blocks — probe/test isolation. */
  def clear(): Unit = synchronized {
    order.clear()
    memo.keys.foreach { k => memo.remove(k).foreach(Lineage.release) }
  }

  private def touch(key: String): Unit = synchronized {
    order.remove(key); order.add(key)
  }

  private def evictOverflow(): Unit = synchronized {
    while (order.size > MaxEntries) {
      val evict = order.poll()
      if (evict != null) memo.remove(evict).foreach { df =>
        evictN.incrementAndGet()
        // Loud by design: if a later query fails on "checkpoint block
        // not found", this line names the victim and the pressure
        // source (capacity, not correctness — see header trade note).
        log.warn(s"FrameMemo capacity eviction ($MaxEntries entries): " +
          s"dropping '$evict'; an in-flight consumer of this frame " +
          "would fail loudly on unrecomputable checkpoint blocks")
        Lineage.release(df)
      }
    }
  }
}
