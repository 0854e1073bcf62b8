package graft.queue

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model._

/** Literal fixture rows replicating the reference's record shapes
  * (FIXTURES.md §B; schema authorities: `commands/nova.md:290-373,473-491`,
  * `commands/pulsar.md:192-201,335-345`), for the unit tests. The
  * driver-graded queries run over the parquet-derived tables in
  * [[Derived]] instead.
  */
object Fixtures {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def plans(spark: SparkSession): Dataset[Plan] = {
    import spark.implicits._
    Seq(
      Plan("plan-20260105-1530", "alpha", "feature", "completed", "background",
        ts("2026-01-05 15:30:00"), None, Seq(
          Phase(1, "Create model", Seq("src/models/user.ts"), "Medium", "heavy", Nil),
          Phase(2, "Create API", Seq("src/api/auth.ts"), "Low", "light", Nil),
          Phase(3, "Integration", Seq("src/app.ts"), "High (Implementation)", "heavy", Seq(1, 2)))),
      Plan("plan-20260106-0900", "alpha", "bug", "queued", "background",
        ts("2026-01-06 09:00:00"), None, Seq(
          Phase(1, "Fix auth", Seq("src/api/auth.ts"), "Low", "light", Nil))),
      Plan("plan-20260106-1000", "alpha", "feature", "queued", "background",
        ts("2026-01-06 10:00:00"), Some("T-1"), Seq(
          Phase(1, "New page", Seq("src/pages/home.ts"), "Medium", "light", Nil),
          Phase(2, "Wire page", Seq("src/app.ts", "src/pages/home.ts"), "Medium", "light", Seq(1)))),
      Plan("plan-20260107-1100", "beta", "chore", "queued", "interactive",
        ts("2026-01-07 11:00:00"), None, Seq(
          Phase(1, "Cleanup", Seq("scripts/build.sh"), "Low", "light", Nil))),
      Plan("plan-20260108-1200", "beta", "refactor", "active", "background",
        ts("2026-01-08 12:00:00"), None, Seq(
          Phase(1, "Extract svc", Seq("src/svc/a.ts"), "High (Architecture)", "heavy", Nil),
          Phase(2, "Move calls", Seq("src/svc/b.ts"), "Medium", "light", Seq(1))))
    ).toDS()
  }

  def statuses(spark: SparkSession): Dataset[PhaseStatus] = {
    import spark.implicits._
    Seq(
      PhaseStatus("phase-1-plan-20260108-1200", "beta", "plan-20260108-1200", 1,
        None, "completed", 42, Some("Edit"), Some("src/svc/a.ts"),
        ts("2026-01-08 12:20:00"), ts("2026-01-08 12:00:00"), Some(ts("2026-01-08 12:20:00"))),
      PhaseStatus("phase-2-plan-20260108-1200", "beta", "plan-20260108-1200", 2,
        None, "running", 15, Some("Bash"), None,
        ts("2026-01-08 12:25:00"), ts("2026-01-08 12:21:00"), None),
      PhaseStatus("phase-1-plan-20260105-1530", "alpha", "plan-20260105-1530", 1,
        None, "completed", 30, Some("Write"), Some("src/models/user.ts"),
        ts("2026-01-05 16:00:00"), ts("2026-01-05 15:40:00"), Some(ts("2026-01-05 16:00:00"))),
      PhaseStatus("phase-2-plan-20260105-1530", "alpha", "plan-20260105-1530", 2,
        None, "completed", 18, Some("Edit"), Some("src/api/auth.ts"),
        ts("2026-01-05 16:10:00"), ts("2026-01-05 15:40:00"), Some(ts("2026-01-05 16:10:00"))),
      PhaseStatus("phase-3-plan-20260105-1530", "alpha", "plan-20260105-1530", 3,
        None, "failed", 7, Some("Bash"), None,
        ts("2026-01-05 16:30:00"), ts("2026-01-05 16:12:00"), Some(ts("2026-01-05 16:30:00")))
    ).toDS()
  }

  /** Tool-event log for lifecycle replay (the PostToolUse/SessionStart/
    * Stop hook stream distilled — ref `hooks/hooks.json:4-48`). */
  def toolEvents(spark: SparkSession): Dataset[ToolEvent] = {
    import spark.implicits._
    Seq(
      ToolEvent("plan-20260108-1200", 1, "beta", "Session", None, "start", ts("2026-01-08 12:00:00")),
      ToolEvent("plan-20260108-1200", 1, "beta", "Edit", Some("src/svc/a.ts"), "tool", ts("2026-01-08 12:05:00")),
      ToolEvent("plan-20260108-1200", 1, "beta", "Bash", None, "tool", ts("2026-01-08 12:10:00")),
      ToolEvent("plan-20260108-1200", 1, "beta", "", None, "stop_completed", ts("2026-01-08 12:20:00")),
      // late tool event after terminal status: must NOT downgrade
      ToolEvent("plan-20260108-1200", 1, "beta", "Edit", None, "tool", ts("2026-01-08 12:21:00")),
      ToolEvent("plan-20260108-1200", 2, "beta", "Session", None, "start", ts("2026-01-08 12:21:00")),
      ToolEvent("plan-20260108-1200", 2, "beta", "Bash", None, "tool", ts("2026-01-08 12:25:00")),
      // duplicate claim attempt: must be ignored (no steal)
      ToolEvent("plan-20260108-1200", 2, "beta", "Session", None, "start", ts("2026-01-08 12:26:00")),
      ToolEvent("plan-20260105-1530", 3, "alpha", "Bash", None, "tool", ts("2026-01-05 16:20:00")),
      ToolEvent("plan-20260105-1530", 3, "alpha", "", None, "stop_failed", ts("2026-01-05 16:30:00"))
    ).toDS()
  }

  def board(spark: SparkSession): Dataset[BoardEntry] = {
    import spark.implicits._
    Seq(
      BoardEntry("plan-20260105-1530", "Auth feature", "alpha", "/home/dev/alpha",
        "feature", "completed", "background",
        "completed/plan-20260105-1530.md", ts("2026-01-05 15:30:00"), 3, 2),
      BoardEntry("plan-20260106-0900", "Fix auth", "alpha-old", "/home/dev/alpha",
        "bug", "queued", "background",
        "queued/background/plan-20260106-0900.md", ts("2026-01-06 09:00:00"), 1, 1)
    ).toDS()
  }

  /** The scheduler pipeline end-to-end on the fixture queue: S5
    * dependency detection → S6 eligibility → S7 priority → S8 top-1
    * pick. The driver-graded twin runs over parquet-derived tables in
    * [[Derived.q42SchedulerPick]]. */
  def schedulerPick(s: SparkSession): DataFrame = {
    val ps = plans(s)
    val deps = QueueOps.interPlanDeps(ps)
    val elig = QueueOps.eligible(ps, deps)
    val prio = QueueOps.withPriority(elig, deps, ts("2026-01-10 00:00:00"))
    QueueOps.pickNext(prio).select("id", "project", "planType", "priority")
  }

  /** Transcripts mirroring the reference's raw-CLI examples (S24). */
  def transcripts(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L,
        """Phase 1 starting.
          |Created src/models/user.ts
          |Modified src/api/auth.ts
          |Running tests... 12 passed, 0 failed
          |Committed [a1b2c3d] feat: add user model""".stripMargin),
      (2L,
        """Phase 2 starting.
          |Error: TypeError: cannot read property 'id'
          |Updated src/app.ts
          |3 passed, 2 failed
          |retrying...""".stripMargin),
      (3L,
        """Phase 3: fatal: repository corrupt, cannot continue""".stripMargin)
    ).toDF("id", "transcript")
  }
}
