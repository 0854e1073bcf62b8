package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifetimes of materialized blocks in the long-lived sessions the
  * engine serves (one JVM, many queries and concurrent callers).
  *
  * The rule is reachability: an eager cut's blocks live while some
  * frame references the cut, and Spark's `ContextCleaner` (on by
  * default) unpersists them once nothing does. A result a caller still
  * holds therefore stays readable whatever other callers do, and a
  * `SessionCache` memo lives as long as its entry.
  *  - `free` is the explicit early release for iterative loops that
  *    supersede a cut every round, so executor storage holds about one
  *    round's frame instead of waiting for the next GC.
  *  - `sweep` clears the cache manager's `.persist()` entries, which
  *    keep full lineage and recompute if read again. It never touches a
  *    cut.
  */
object Ckpt {
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
    * Both modes yield a LogicalRDD-backed frame, so `free` and the
    * context cleaner work identically on its blocks. A reliable-mode
    * cut's FILES are another matter: a reliable-checkpoint RDD's
    * unpersist is a no-op, and Spark registers checkpoint files with
    * the context cleaner only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (default
    * false, and no session here sets it), so the files outlive
    * reachability until the checkpoint directory is removed. Callers
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
    * the next GC. No-op on non-checkpoint plans. */
  def free(df: DataFrame): Unit = rddOf(df).foreach(_.unpersist(false))

  /** Clear the session's cache manager (every `.persist()`ed frame).
    * Cuts are left to reachability, so a result another caller holds
    * stays readable. */
  def sweep(spark: SparkSession): Unit = spark.catalog.clearCache()
}
