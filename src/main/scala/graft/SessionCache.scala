package graft

import java.util.concurrent.atomic.LongAdder
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession

/** Cross-query memo cache keyed by (session, dataset dir) — the shared
  * shape behind Dedup's pair cache, Graph's edge cache and the queue's
  * status rollup.
  *
  * A bare ConcurrentHashMap keyed by SparkSession is process-lifetime:
  * a JVM that creates and stops many sessions (test suites, notebook
  * reuse) would retain every stopped session's DataFrame object graph
  * forever, because nothing ever evicts. This wrapper purges entries
  * whose underlying SparkContext has stopped on every access, so a dead
  * session's cache lines live at most until the next cache touch
  * anywhere in the JVM. (A WeakHashMap can't do this: the cached
  * DataFrame value strongly references its session key, which defeats
  * weak-key collection.)
  *
  * One build per key: concurrent first lookups of one key wait on a
  * single build instead of each running their own. A build that throws
  * fails every waiter and leaves no entry behind, so the next lookup
  * builds again.
  *
  * Input version: a caller whose inputs can change passes `version`
  * (e.g. [[Tables.version]] of the files the build reads). An entry
  * answers only lookups with an equal version; a lookup with another
  * version builds a new value and replaces the entry. Nothing releases
  * the superseded value: a request in flight that holds it keeps
  * reading it, and once nothing references it the context cleaner
  * frees its blocks (see [[Ckpt]]).
  */
final class SessionCache[V >: Null](label: String = "") {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SessionCache.Entry[V]]()
  private val counts = SessionCache.countsOf(label)

  private def purge(): Unit = {
    val it = m.keySet.iterator()
    while (it.hasNext) {
      if (it.next()._1.sparkContext.isStopped) it.remove()
    }
  }

  /** Memoized lookup of (s, dir) at input `version`. `build` runs
    * outside any map lock (it may launch Spark jobs, which must not
    * serialize behind a CHM bin lock); callers that arrive during it
    * wait for its value. */
  def getOrElseUpdate(s: SparkSession, dir: String, build: => V,
                      version: Any = None): V = {
    purge()
    lookup((s, dir), build, version)
  }

  @annotation.tailrec
  private def lookup(k: (SparkSession, String), build: => V, version: Any): V = {
    val cur = m.get(k)
    if (cur != null && cur.version == version) {
      counts.hits.increment()
      Await.result(cur.value.future, Duration.Inf)
    } else {
      val mine = new SessionCache.Entry[V](version)
      val won = if (cur == null) m.putIfAbsent(k, mine) == null else m.replace(k, cur, mine)
      if (!won) lookup(k, build, version)
      else {
        counts.misses.increment()
        if (cur != null) counts.superseded.increment()
        run(k, mine, build)
      }
    }
  }

  private def run(k: (SparkSession, String), mine: SessionCache.Entry[V], build: => V): V = {
    // NET-of-nested accounting: a memo build that invokes another memo
    // build inside it (q105's cluster build runs the jaccard-pair build)
    // must not double-count the inner seconds in the ledger — each entry
    // records its OWN work, so advisory readers can sum entries.
    // Thread-local child-time accumulator: net = gross − sum(direct
    // children's gross).
    val saved = SessionCache.childSecs.get()
    SessionCache.childSecs.set(0.0)
    val t0 = System.nanoTime()
    val v =
      try build
      catch {
        case e: Throwable =>
          // exception safety: a throwing build must restore the
          // accumulator, or the NEXT sibling's frame nets against a
          // corrupted zero. Restoring `saved` (not saved +
          // gross) charges the failed attempt's seconds to the parent
          // entry — the failed child recorded nothing, so this keeps
          // Σ(ledger entries) == Σ(actual build work).
          SessionCache.childSecs.set(saved)
          // drop the entry before failing the waiters, so a lookup that
          // arrives after the failure builds again
          m.remove(k, mine)
          mine.value.failure(e)
          throw e
      }
    val gross = (System.nanoTime() - t0) / 1e9
    SessionCache.recordPay(label, t0, gross - SessionCache.childSecs.get())
    SessionCache.childSecs.set(saved + gross)
    mine.value.success(v)
    v
  }
}

/** Process-wide MEMO-PAY LEDGER: every actual memo `build` execution
  * records (label, buildStartNanos, buildSeconds). Bench drains the ledger after the timed window and
  * attributes each pay to the query/pass whose rep window contains it,
  * so a memoized query's bimodal rep spread is mechanically explainable
  * (the slow rep paid a memo) or mechanically escalatable (the ledger
  * shows no pay — the spread has another cause) from the record alone.
  * Bounded: one entry per (session, dir, version, cache) build — a
  * handful per bench run.
  *
  * Next to it, per-label lookup counts: hits (answered by an entry,
  * also while waiting on its build), misses (started a build; a miss
  * whose build threw records no pay) and superseded (a miss that
  * replaced an entry of another input version). */
object SessionCache {
  private final class Entry[V](val version: Any) {
    val value: Promise[V] = Promise[V]()
  }

  private final class Counts {
    val hits, misses, superseded = new LongAdder
  }

  private val pays =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Counts]()

  private def name(label: String): String = if (label.isEmpty) "unlabeled" else label

  private def countsOf(label: String): Counts =
    counts.computeIfAbsent(name(label), _ => new Counts)

  /** Per-thread accumulator of direct-child build gross seconds —
    * see the net-of-nested comment in `SessionCache.run`. */
  private[graft] val childSecs: ThreadLocal[java.lang.Double] =
    ThreadLocal.withInitial(() => java.lang.Double.valueOf(0.0))

  /** `secs` is NET of nested memo builds on the same thread: entries
    * are disjoint work and may be summed by advisory readers. */
  private[graft] def recordPay(label: String, t0: Long, secs: Double): Unit =
    pays.add((name(label), t0, secs))

  /** Snapshot of all builds since process start (label, startNanos,
    * seconds) — nano timestamps are System.nanoTime, comparable to the
    * caller's own nanoTime anchors. */
  private[graft] def paysSnapshot: Vector[(String, Long, Double)] = {
    val b = Vector.newBuilder[(String, Long, Double)]
    pays.forEach(p => b += p)
    b.result()
  }

  /** Snapshot of the lookup counts since process start:
    * label -> (hits, misses, superseded). */
  private[graft] def countsSnapshot: Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    counts.forEach((l, c) => b += l -> ((c.hits.sum, c.misses.sum, c.superseded.sum)))
    b.result()
  }
}
