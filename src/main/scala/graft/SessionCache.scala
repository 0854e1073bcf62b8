package graft

import org.apache.spark.sql.SparkSession

/** Cross-query memo cache keyed by (session, dataset dir) — the shared
  * shape behind Dedup's pair cache and Graph's edge cache.
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
  * `onDiscard` runs on a value that lost a concurrent-build race (its
  * `putIfAbsent` was beaten) — for values holding external resources,
  * e.g. `Ckpt.pinned` DataFrames whose checkpoint blocks would
  * otherwise stay pinned for the session's lifetime, pass
  * `graft.Ckpt.free`.
  */
final class SessionCache[V >: Null](onDiscard: V => Unit = (_: V) => (),
                                    label: String = "") {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  private def purge(): Unit = {
    val it = m.keySet.iterator()
    while (it.hasNext) {
      if (it.next()._1.sparkContext.isStopped) it.remove()
    }
  }

  /** Memoized lookup. `build` runs outside any map lock (it may launch
    * Spark jobs, which must not serialize behind a CHM bin lock); two
    * concurrent callers may both build, but only the first `putIfAbsent`
    * is kept — the loser's value is released via `onDiscard` and the
    * winner returned, so both callers observe the SAME cached value and
    * no resource leaks. */
  def getOrElseUpdate(s: SparkSession, dir: String, build: => V): V = {
    purge()
    val k = (s, dir)
    val cur = m.get(k)
    if (cur != null) cur
    else {
      // NET-of-nested accounting (ADVICE r15): a memo build that
      // invokes another memo build inside it (q105's cluster build
      // runs the jaccard-pair build) must not double-count the inner
      // seconds in the ledger — each entry records its OWN work, so
      // advisory readers can sum entries. Thread-local child-time
      // accumulator: net = gross − sum(direct children's gross).
      val saved = SessionCache.childSecs.get()
      SessionCache.childSecs.set(0.0)
      val t0 = System.nanoTime()
      val v =
        try build
        catch {
          case e: Throwable =>
            // exception safety (CODE-REVIEW r16): a throwing build must
            // restore the accumulator, or the NEXT sibling's frame nets
            // against a corrupted zero. Restoring `saved` (not saved +
            // gross) charges the failed attempt's seconds to the parent
            // entry — the failed child recorded nothing, so this keeps
            // Σ(ledger entries) == Σ(actual build work).
            SessionCache.childSecs.set(saved)
            throw e
        }
      val gross = (System.nanoTime() - t0) / 1e9
      SessionCache.recordPay(label, t0, gross - SessionCache.childSecs.get())
      SessionCache.childSecs.set(saved + gross)
      val prior = m.putIfAbsent(k, v)
      if (prior != null) { onDiscard(v); prior } else v
    }
  }

  private[graft] def size: Int = { purge(); m.size() }
}

/** Process-wide MEMO-PAY LEDGER (VERDICT r14 item 5): every actual
  * memo `build` execution (cache misses AND race losers — both paid
  * the cost) records (label, buildStartNanos, buildSeconds). Bench
  * drains the ledger after the timed window and attributes each pay to
  * the query/pass whose rep window contains it, so a memoized query's
  * bimodal rep spread is mechanically explainable (the slow rep paid a
  * memo) or mechanically escalatable (the ledger shows no pay — the
  * spread has another cause) from the record alone, instead of the r14
  * q34 adjudication stopping one step short of naming the payer.
  * Bounded: one entry per (session, dir, cache) build — a handful per
  * bench run. */
object SessionCache {
  private val pays =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()

  /** Per-thread accumulator of direct-child build gross seconds —
    * see the net-of-nested comment in [[SessionCache.getOrElseUpdate]]. */
  private[graft] val childSecs: ThreadLocal[java.lang.Double] =
    ThreadLocal.withInitial(() => java.lang.Double.valueOf(0.0))

  /** `secs` is NET of nested memo builds on the same thread: entries
    * are disjoint work and may be summed by advisory readers. */
  private[graft] def recordPay(label: String, t0: Long, secs: Double): Unit =
    pays.add((if (label.isEmpty) "unlabeled" else label, t0, secs))

  /** Snapshot of all builds since process start (label, startNanos,
    * seconds) — nano timestamps are System.nanoTime, comparable to the
    * caller's own nanoTime anchors. */
  private[graft] def paysSnapshot: Vector[(String, Long, Double)] = {
    val b = Vector.newBuilder[(String, Long, Double)]
    pays.forEach(p => b += p)
    b.result()
  }
}
