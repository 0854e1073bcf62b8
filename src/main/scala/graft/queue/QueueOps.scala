package graft.queue

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._

/** Batch queue analytics over the typed plan model — the reference's
  * scheduler surface S1–S8 and rollups S16 and S18–S21 (SURVEY.md §2.1),
  * restated as DataFrame transforms over `Dataset[Plan]`.
  *
  * Scale: every operator is keyed by plan/project and expressed as
  * joins + aggregations — a queue of 10⁹ plans partitions across the
  * cluster; nothing collects to the driver. The dependency detector
  * (S5) explodes per-phase file lists and self-joins on (project,
  * file) — at 100 TB that join is shuffle-partitioned by file path with
  * AQE skew handling; hot files (lockfiles etc.) would be salted.
  */
object QueueOps {

  /** S1/S2 — queue scan + counts per project and mode
    * (ref `scripts/starry-daemon.sh:90-115`). */
  def queueCounts(plans: Dataset[Plan]): DataFrame = {
    val s = plans.sparkSession
    import s.implicits._
    plans.filter($"status" === "queued")
      .groupBy($"project", $"executionMode")
      .agg(count(lit(1)).as("n_queued"))
      .orderBy($"project", $"executionMode")
  }

  /** S3 — active-existence predicate: is any plan active anywhere?
    * (global single-flight gate, ref `scripts/starry-daemon.sh:65-88`,
    * `182-185`). `limit(1)` keeps this a metadata-cheap probe. */
  def anyActive(plans: Dataset[Plan]): Boolean = {
    val s = plans.sparkSession
    import s.implicits._
    !plans.filter($"status" === "active").limit(1).isEmpty
  }

  /** S5 — inter-plan dependency detection: plan B depends on earlier
    * plan A of the same project when they touch the same file (ref
    * `agents/orbiter.md:55-66`). Plan files are paths relative to the
    * plan's project, so `src/app.ts` of two projects is two files.
    * Returns (plan_id, depends_on) pairs. */
  def interPlanDeps(plans: Dataset[Plan]): DataFrame = {
    val s = plans.sparkSession
    import s.implicits._
    val files = plans
      .select($"id", $"project", $"createdAt", explode($"phases").as("ph"))
      .select($"id", $"project", $"createdAt", explode($"ph.files").as("file"))
      .distinct()
    val b = files.select($"id".as("id2"), $"project".as("project2"),
      $"createdAt".as("created2"), $"file".as("file2"))
    files.join(b, $"project" === $"project2" && $"file" === $"file2" &&
        ($"created2" < $"createdAt" ||
         ($"created2" === $"createdAt" && $"id2" < $"id")))
      .select($"id".as("plan_id"), $"id2".as("depends_on"))
      .distinct()
  }

  /** S6 — dependency-satisfaction filter: a queued plan is eligible iff
    * every dependency is completed (ref `agents/orbiter.md:62-66,85-87`).
    * Anti-join against unmet deps. */
  def eligible(plans: Dataset[Plan], deps: DataFrame): DataFrame = {
    val s = plans.sparkSession
    import s.implicits._
    val completed = plans.filter($"status" === "completed").select($"id".as("cid"))
    val unmet = deps.join(completed, $"depends_on" === $"cid", "left_anti")
    plans.filter($"status" === "queued")
      .join(unmet.select($"plan_id").distinct(),
        $"id" === $"plan_id", "left_anti")
  }

  /** S7 — priority assignment: type base map + adjustments (unblocks
    * others −1, waited ≥3 days −1, large plan +1; floor 1, cap 5 — ref
    * `agents/orbiter.md:67-84`). `asOf` pins "now" for determinism. */
  def withPriority(eligiblePlans: DataFrame, deps: DataFrame, asOf: Timestamp): DataFrame = {
    val s = eligiblePlans.sparkSession
    import s.implicits._
    val unblocks = deps.groupBy($"depends_on".as("uid"))
      .agg(count(lit(1)).as("n_unblocked"))
    eligiblePlans
      .withColumn("base",
        when($"planType" === "bug", 1)
          .when($"planType" === "feature", 2)
          .when($"planType" === "refactor", 3)
          .when($"planType" === "chore", 4)
          .otherwise(5))
      .join(unblocks, $"id" === $"uid", "left")
      .withColumn("adj_unblocks", when(coalesce($"n_unblocked", lit(0)) > 0, -1).otherwise(0))
      .withColumn("waited_days",
        floor((unix_micros(lit(asOf).cast("timestamp")) -
               unix_micros($"createdAt".cast("timestamp"))) / 86400000000L))
      .withColumn("adj_age", when($"waited_days" >= 3, -1).otherwise(0))
      .withColumn("adj_size", when(size($"phases") >= 6, 1).otherwise(0))
      .withColumn("priority",
        least(greatest($"base" + $"adj_unblocks" + $"adj_age" + $"adj_size", lit(1)), lit(5)))
      .drop("uid", "n_unblocked")
  }

  /** S8 — scheduler top-1: lowest priority number first, oldest first,
    * id as final tiebreak (ref `agents/orbiter.md:85-90,138-140`). */
  def pickNext(prioritized: DataFrame): DataFrame = {
    val s = prioritized.sparkSession
    import s.implicits._
    prioritized.orderBy($"priority".asc, $"createdAt".asc, $"id".asc).limit(1)
  }

  /** The per-(project, plan) status rollup behind S16, S18 and S19 (ref
    * `commands/pulse.md:27-61`, `commands/pulsar-status.md:40-128`):
    * one aggregation computes every column the pulse, the overview and
    * the ETA read. [[pulse]] and [[statusOverview]] project it. Over a
    * lazy source, Catalyst's column pruning drops the aggregates a
    * projection does not read, so each runs only its own; the parquet
    * twin (`Derived.statusRollup`) instead pins all ten once per input
    * version and serves both projections from it. `avg` ignores NULLs,
    * so `avg_dur` is the mean duration of completed phases that carry a
    * completion time (NULL when there are none). Works on batch or
    * streaming status Datasets. */
  def statusRollup(statuses: Dataset[PhaseStatus]): DataFrame = {
    val s = statuses.sparkSession
    import s.implicits._
    def n(c: Column): Column = sum(when(c, 1).otherwise(0))
    val dur = (unix_micros($"completed_at".cast("timestamp")) -
      unix_micros($"started_at".cast("timestamp"))) / 1000000.0
    statuses.groupBy($"project", $"plan_id")
      .agg(
        count(lit(1)).as("n_phases"),
        n($"status" === "completed").as("n_completed"),
        n($"status" === "failed").as("n_failed"),
        n($"status" === "running").as("n_running"),
        n($"status" === "running" || $"status" === "starting").as("n_active"),
        n($"status" === "stalled").as("n_stalled"),
        n($"status" =!= "completed").as("n_remaining"),
        sum($"tool_count").as("total_tools"),
        max($"updated_at").as("last_update"),
        avg(when($"status" === "completed" && $"completed_at".isNotNull, dur))
          .as("avg_dur"))
  }

  /** S16 — pulse: phases by status, total tools, last update and
    * stalled count per (project, plan) (ref `agents/orbiter.md:198-242`),
    * projected from a [[statusRollup]] frame (complete output mode when
    * streaming). */
  def pulse(rollup: DataFrame): DataFrame = {
    val s = rollup.sparkSession
    import s.implicits._
    rollup.select($"project", $"plan_id", $"n_phases",
      $"n_completed", $"n_failed", $"n_active", $"n_stalled",
      $"total_tools", $"last_update")
  }

  /** S18 + S19 — status overview with percent complete and ETA: mean
    * duration of the plan's completed phases × its remaining count
    * (ref `commands/pulsar-status.md:87`), projected from a
    * [[statusRollup]] frame. ETA is per (project, plan), since plan ids
    * are scoped per project. The columns keep q43's published order,
    * `plan_id` first. */
  def statusOverview(rollup: DataFrame): DataFrame = {
    val s = rollup.sparkSession
    import s.implicits._
    rollup.select($"plan_id", $"project", $"n_phases",
        $"n_completed", $"n_failed", $"n_running", $"total_tools",
        $"last_update",
        round($"n_completed" * 100.0 / $"n_phases", 1).as("pct_complete"),
        $"n_remaining",
        round(coalesce($"avg_dur", lit(0.0)) * $"n_remaining", 1).as("eta_sec"))
      .orderBy($"project", $"plan_id")
  }

  /** S20 — lifecycle transition legality (ref `commands/pulsar.md:
    * 159-171,609-616`; legacy migration `scripts/setup.sh:60-113`).
    * Returns rows flagged invalid; the state machine itself lives in
    * `graft.streaming.Lifecycle`. */
  val legalMoves: Set[(String, String)] = Set(
    "queued" -> "active", "active" -> "completed",
    // legacy statuses fold forward (setup.sh migration)
    "review" -> "completed", "archived" -> "completed")

  def validateMoves(moves: DataFrame): DataFrame = {
    val s = moves.sparkSession
    import s.implicits._
    val legal = legalMoves.toSeq.toDF("from_ok", "to_ok")
    moves.join(legal, $"from_status" === $"from_ok" && $"to_status" === $"to_ok", "left")
      .withColumn("legal", $"from_ok".isNotNull)
      .drop("from_ok", "to_ok")
  }

  /** S21 — namespace FK resolution: board entries whose recorded
    * projectPath no longer matches the config table get re-pointed
    * (rename detection — ref `scripts/resolve-namespace.sh:17-70`). */
  def resolveNamespaces(board: Dataset[BoardEntry], configs: DataFrame): DataFrame = {
    val s = board.sparkSession
    import s.implicits._
    // one mapping per path: a duplicate cfgPath row (a stale rename
    // left next to the current mapping) would fan every matching board
    // entry out into contradictory duplicates. The schema carries no
    // recency column to arbitrate with, so picking one silently would
    // be a guess — error instead (same fail-fast contract as
    // bandBucket's dim guard); evaluated lazily, so clean configs pay
    // one window count and no extra job.
    val cfg = configs
      .withColumn("n_cfg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cfgPath")))
      .withColumn("cfgProject",
        when($"n_cfg" > 1, raise_error(concat(
          lit("resolveNamespaces: duplicate config rows for path "), $"cfgPath")))
          .otherwise($"cfgProject"))
      .drop("n_cfg")
    board.join(cfg,
        board("projectPath") === cfg("cfgPath"), "left")
      .withColumn("resolved_project",
        coalesce($"cfgProject", board("project")))
      .withColumn("renamed", $"cfgProject".isNotNull && ($"cfgProject" =!= board("project")))
      .select(board("id"), board("project"), $"resolved_project", $"renamed")
  }
}
