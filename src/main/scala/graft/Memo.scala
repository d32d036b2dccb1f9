package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.jdk.CollectionConverters._

/** The session memo registry: every index build, trained model,
  * persisted artifact and materialized intermediate that library code
  * reuses across calls lives here, keyed on (session, kind, dir,
  * params). `kind` names the memoized computation, `dir` the source
  * directory it reads, and `params` the remaining arguments it depends
  * on.
  *
  * Contract: the data under `dir` is immutable for the session's
  * lifetime. The warehouse layouts this engine models append and then
  * compact, and never rewrite in place, the same contract as Spark's
  * own `spark.catalog.cacheTable`. A caller that rewrites or deletes a
  * memoized directory mid-session calls [[releaseDir]] first, or it is
  * served stale results; a caller done with a whole sweep calls
  * [[release]].
  *
  * Each value sits behind its own lazy holder. The map insert is only
  * an allocation, and the build runs outside the map's lock, so one
  * build may look up other entries (nested lookups) and a slow build
  * blocks only callers of the same key. A build that throws leaves the
  * holder empty, and the next call builds again.
  *
  * Per-kind hit, miss and build-time counters ([[stats]]) say whether
  * a timed call paid a build or read a warm entry.
  */
object Memo {

  private final case class Key(spark: SparkSession, kind: String,
                               dir: String, params: Any)

  private final class Holder {
    @volatile private var built = false
    private var value: Any = _

    def get(c: Counter, build: () => Any): Any = {
      if (built) c.hits.increment()
      else synchronized {
        if (built) c.hits.increment()
        else {
          val t0 = System.nanoTime()
          value = build()
          built = true
          c.misses.increment()
          c.buildNanos.add(System.nanoTime() - t0)
        }
      }
      value
    }

    def release(): Unit =
      if (built) value match {
        case ds: Dataset[_] => ds.unpersist(blocking = false); ()
        case _ => ()
      }
  }

  private final class Counter {
    val hits, misses, buildNanos = new LongAdder
  }

  /** One kind's counters since the JVM started. */
  final case class Stats(hits: Long, misses: Long, buildSeconds: Double)

  private val entries = new ConcurrentHashMap[Key, Holder]
  private val counters = new ConcurrentHashMap[String, Counter]

  /** The memoized value of `build` for (spark, kind, dir, params),
    * building it on the first call. */
  def apply[V](spark: SparkSession, kind: String, dir: String,
               params: Any = ())(build: => V): V = {
    val c = counters.computeIfAbsent(kind, _ => new Counter)
    entries.computeIfAbsent(Key(spark, kind, dir, params), _ => new Holder)
      .get(c, () => build).asInstanceOf[V]
  }

  /** Drop every entry, unpersisting cached `Dataset` values. */
  def release(): Unit = releaseWhere(_ => true)

  /** Drop every entry of every kind that reads `dir`. */
  def releaseDir(dir: String): Unit = releaseWhere(_.dir == dir)

  private def releaseWhere(p: Key => Boolean): Unit =
    entries.keySet.asScala.filter(p).foreach { k =>
      Option(entries.remove(k)).foreach(_.release())
    }

  /** The directories that have at least one entry. */
  private[graft] def dirs: Set[String] = entries.keySet.asScala.map(_.dir).toSet

  /** Counters per kind, for every kind looked up so far. */
  def stats: Map[String, Stats] =
    counters.asScala.map { case (kind, c) =>
      kind -> Stats(c.hits.sum, c.misses.sum, c.buildNanos.sum / 1e9)
    }.toMap
}
