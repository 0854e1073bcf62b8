package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Dataset
import graft.model.PhaseStatus

/** S17 — pulse freshness TTL (ref `commands/pulse.md:84-93`: a pulse
  * snapshot is reused iff it is younger than 60 s, else recomputed).
  * This is the reference's only materialized-view semantics: a cached
  * result with a freshness contract, not a live view.
  *
  * Implementation: the rolled-up DataFrame ([[TtlCache.pulse]] caches
  * `queue.QueueOps.pulse` of the status rollup) is persisted on first
  * compute (so reuse is a cache read, not a re-aggregation) and
  * invalidated when the TTL lapses — the stale copy is unpersisted to
  * release executor memory. `Ckpt.sweep` is the session's
  * `clearCache`, so it also unpersists this copy before its TTL
  * lapses. The clock is injectable so the stale/fresh branches are
  * unit-testable without sleeping.
  *
  * This is the contract for status sources without a file version
  * (a stream, an in-memory Dataset). The parquet twin q45 needs no TTL:
  * `queue.Derived.statusRollup` keys its memo by the input files'
  * version, so it is never stale and never recomputed while unchanged.
  *
  * Scale: the pulse rollup is one row per (project, plan); persisting
  * it costs O(plans), while recomputing scans O(phase-status rows) —
  * the TTL bounds how often the big scan happens no matter how many
  * dashboards poll.
  */
class TtlCache(
    ttlMs: Long = TtlCache.DefaultTtlMs,
    clock: () => Long = () => System.currentTimeMillis()) {

  private var entry: Option[(DataFrame, Long, Int)] = None
  private var computes = 0

  /** How many times the underlying compute actually ran (metrics/tests). */
  def computeCount: Int = synchronized(computes)

  /** True iff a cached copy exists and is younger than the TTL. */
  def isFresh: Boolean = synchronized {
    entry.exists { case (_, at, _) => clock() - at < ttlMs }
  }

  /** The cached DataFrame if fresh AND semantically the same query,
    * else recompute, persist, stamp. Building `compute`'s plan is lazy
    * and cheap (no job runs until an action), so the semantic hash can
    * be taken up front — without it, a second caller passing a
    * DIFFERENT source within the TTL would silently receive the first
    * caller's rollup. */
  def get(compute: => DataFrame): DataFrame = synchronized {
    val now = clock()
    val fresh = compute
    val key = fresh.queryExecution.analyzed.canonicalized.semanticHash()
    entry match {
      case Some((df, at, k)) if now - at < ttlMs && k == key => df
      case stale =>
        stale.foreach { case (df, _, _) => df.unpersist() }
        val df = fresh.persist()
        computes += 1
        entry = Some((df, now, key))
        df
    }
  }

  /** Drop the cached copy (e.g. after a known mutation). */
  def invalidate(): Unit = synchronized {
    entry.foreach { case (df, _, _) => df.unpersist() }
    entry = None
  }
}

object TtlCache {
  /** The reference's freshness window (`commands/pulse.md:84-93`). */
  val DefaultTtlMs = 60000L

  /** Convenience: a TTL-cached pulse over a status source. */
  def pulse(cache: TtlCache, statuses: => Dataset[PhaseStatus]): DataFrame =
    cache.get(graft.queue.QueueOps.pulse(graft.queue.QueueOps.statusRollup(statuses)))
}
