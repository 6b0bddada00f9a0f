package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** A session-lifetime memo of values derived deterministically from a
  * content-fingerprinted input ([[Fingerprint.key]] plus every parameter
  * that shapes the value): bench reps, repeated facade calls and query
  * families sharing a derived result build it once.
  *
  * One synchronized, access-ordered map: a hit touches its entry, and
  * past `capacity` the least-recently-used entry is evicted and passed
  * to `release`. Builds run OUTSIDE the lock, so two threads may build
  * the same key; the first value published wins, both callers get it,
  * and the losing build is passed to `release`.
  *
  * Eviction window: when `release` frees blocks (frames), an evicted
  * localCheckpointed frame still referenced by an in-flight action is
  * unrecomputable and fails loudly — never wrong; Verify/Bench run
  * queries sequentially, and LRU makes the victim the least-recently-
  * touched of `capacity` keys. Callers that MEASURE build cost
  * (perfbench, per iteration) call [[clear]] between measured sections
  * so a hit cannot fake a build time.
  */
class Memo[V](name: String, capacity: Int, release: V => Unit) {
  private val map = new java.util.LinkedHashMap[String, V](16, 0.75f, true)
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Memo[_]])
  // Monotone counters, guarded by this — Bench snapshots them around
  // each rep to tag warm (memo-served) reps; evictions is the first
  // thing to read when a query dies on unrecomputable checkpoint blocks.
  private var hits, misses, evictions = 0L

  def cached[T <: V](key: String)(build: => T): T = {
    val hit = synchronized {
      val v = Option(map.get(key))
      if (v.isDefined) hits += 1 else misses += 1
      v
    }
    hit.getOrElse {
      val built = build
      val (winner, dropped) = synchronized {
        Option(map.get(key)).map(w => (w, List[V](built))).getOrElse {
          map.put(key, built)
          (built, evictOverflow())
        }
      }
      dropped.foreach(release)
      winner
    }.asInstanceOf[T]
  }

  /** (hits, misses, evictions) since JVM start. */
  def stats: (Long, Long, Long) = synchronized((hits, misses, evictions))

  /** Drop every entry and release it — measurement and test isolation. */
  def clear(): Unit = {
    val all = synchronized { val vs = map.values.asScala.toList; map.clear(); vs }
    all.foreach(release)
  }

  private def evictOverflow(): List[V] = {
    val it = map.entrySet.iterator
    List.fill(math.max(0, map.size - capacity)) {
      val e = it.next()
      it.remove()
      evictions += 1
      // Loud by design: if a later query fails on "checkpoint block not
      // found", this line names the victim and the pressure source
      // (capacity, not correctness — see the header's eviction window).
      log.warn(s"$name capacity eviction ($capacity entries): dropping " +
        s"'${e.getKey}'; an in-flight consumer of a freed frame would " +
        "fail loudly on unrecomputable checkpoint blocks")
      e.getValue
    }
  }
}

/** Small, bounded, already-materialized frames (an n·k KNN result, a
  * filtered near-dup pair set) — `build` must return a frame whose blocks
  * already exist (localCheckpointed) so a hit never observes a half-built
  * value. Eviction frees the dropped frame's blocks.
  */
object FrameMemo extends Memo[DataFrame]("FrameMemo", 16, Lineage.release)

/** Plain driver values (trained centroid matrices, merge lists, scalar
  * probes). They hold no Spark resources, so eviction can never
  * invalidate an in-flight plan; a rebuild recomputes the identical value.
  */
object DriverMemo extends Memo[Any]("DriverMemo", 256, _ => ())
