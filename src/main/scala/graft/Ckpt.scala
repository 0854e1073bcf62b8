package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Block-manager hygiene for the long-lived sessions the driver runs
  * (one JVM, 100+ queries back-to-back, warmup + timed passes).
  *
  * `localCheckpoint(eager = true)` blocks are never freed when the
  * DataFrame goes out of scope, so a full catalog run accumulates every
  * query's intermediates in the block manager — by mid-run, storage
  * memory is doing eviction/GC work that gets billed to whichever query
  * is executing. `sweep()` frees everything between queries, EXCEPT
  * checkpoints registered through `pinned()` — those back cross-query
  * memo caches (Dedup's pair set, Graph's edge table) whose lineage is
  * truncated and therefore cannot be recomputed if their blocks vanish.
  */
object Ckpt {
  // Pins are scoped by applicationId: a bare rdd-id set would grow
  // monotonically across sessions, and a stale id from a dead context
  // could collide with (and wrongly protect) a live context's rdd.
  private val pinnedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** THE eager cut — every multi-consumer materialization site routes
    * through here (optimization r20, VERDICT r19 item 5).
    *
    * Mode `spark.graft.ckpt.mode`:
    *  - `local` (default): `localCheckpoint(eager = true)`. Right for
    *    local mode and for clusters that accept the trade: blocks are
    *    EXECUTOR-LOCAL and UNREPLICATED, and the lineage is truncated —
    *    losing one executor mid-query kills the job unrecoverably
    *    (Spark cannot recompute a truncated lineage). It is also raw
    *    row blocks outside the §5 spill discipline: storage eviction,
    *    not graceful spill, under memory pressure.
    *  - `reliable`: `checkpoint(eager = true)` to the checkpoint dir
    *    (`spark.graft.ckpt.dir`, else <java.io.tmpdir>/graft-ckpt —
    *    point it at durable shared storage on a real cluster). Survives
    *    executor loss; costs a write+read of the cut frame through the
    *    checkpoint store. The 100 TB default for long jobs on
    *    preemptible capacity.
    * Both modes yield a LogicalRDD-backed frame, so `pinned`/`free`/
    * `sweep` work identically (a reliable-checkpoint RDD's unpersist is
    * a no-op; its files are reaped with the checkpoint dir). Callers
    * chain it as `.transform(graft.Ckpt.cut)`. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.ckpt.mode").map(_.trim).getOrElse("local") match {
      case "reliable" =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            s.conf.getOption("spark.graft.ckpt.dir").getOrElse(
              sys.props("java.io.tmpdir") + "/graft-ckpt"))
        df.checkpoint(eager = true)
      case "local" => df.localCheckpoint(eager = true)
      case other => throw new IllegalArgumentException(
        s"spark.graft.ckpt.mode must be local|reliable, got '$other'")
    }
  }

  /** Eager cut whose blocks survive `sweep` — use ONLY for
    * DataFrames memoized across queries.
    *
    * Pins by the checkpointed DataFrame's OWN rdd id, read off its plan
    * ([[rddOf]]). (The previous implementation diffed
    * `getPersistentRDDs` around the call, which permanently pinned any
    * `.persist()` issued by a concurrent thread during the window.) */
  def pinned(df: DataFrame): DataFrame = {
    val out = cut(df)
    val rdd = rddOf(out).getOrElse(throw new IllegalStateException(
      "Ckpt.pinned: expected a LogicalRDD plan from localCheckpoint, got " +
        out.queryExecution.analyzed.getClass.getName))
    pinnedIds.add((rdd.context.applicationId, rdd.id))
    out
  }

  /** Release a `pinned` frame the way a per-request cut is released:
    * its blocks stay readable (a reader in flight keeps working) until
    * the next `sweep` or the context cleaner frees them. No-op on a
    * frame that is not pinned. */
  def unpin(df: DataFrame): Unit =
    rddOf(df).foreach(r => pinnedIds.remove((r.context.applicationId, r.id)))

  /** The persisted RDD behind a checkpointed frame: `localCheckpoint`
    * returns a Dataset whose analyzed plan is the `LogicalRDD` wrapping
    * exactly that RDD. `LogicalRDD.rdd` is `private[sql]`, which erases
    * to a public accessor in bytecode, so reflection reaches it without
    * copying Spark internals. None for any other plan. */
  private[graft] def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    val plan = df.queryExecution.analyzed
    try Some(plan.getClass.getMethod("rdd").invoke(plan)
      .asInstanceOf[org.apache.spark.rdd.RDD[_]])
    catch { case _: Exception => None }
  }

  /** Free one localCheckpoint's blocks NOW — for iterative fixpoints
    * that supersede a checkpointed table every round: without this, a
    * k-round loop holds k full table copies in executor storage until
    * the post-query sweep. No-op on non-checkpoint plans. */
  def free(df: DataFrame): Unit = rddOf(df).foreach(_.unpersist(false))

  /** Free all persisted blocks except pinned ones. Dataset-level caches
    * (`.persist()`) are cleared via the cache manager first — those have
    * full lineage and recompute gracefully if ever re-used; truncated
    * localCheckpoint RDDs are unpersisted only when not pinned. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val app = spark.sparkContext.applicationId
    val live = spark.sparkContext.getPersistentRDDs
    live.foreach { case (id, rdd) =>
      if (!pinnedIds.contains((app, id))) rdd.unpersist(blocking = false)
    }
    // prune pins whose blocks are gone (unpersisted elsewhere, or from
    // this app's earlier life) so the set stays bounded by live pins
    pinnedIds.removeIf(p => p._1 == app && !live.contains(p._2))
  }
}
