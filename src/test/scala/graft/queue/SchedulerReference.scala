package graft.queue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q42's earlier multi-frame scheduler pipeline over the derived queue
  * — two `distinct`s, four joins, an anti-join and three aggregates —
  * kept as the reference the engine's one-pass form
  * ([[Derived.schedulerRanked]]) is tested against.
  *
  * A pair (a depends on b) requires struct(b.created, b.id) <
  * struct(a.created, a.id) on the same (project, file), and both
  * consumers only ask EXISTS:
  *  - "a has an unmet dep" ⇔ the MIN (created, id) among OPEN
  *    (non-completed) plans of a's (project, file) precedes a's;
  *  - "b is depended upon" ⇔ the MAX (created, id) among QUEUED plans
  *    of b's (project, file) succeeds b's.
  * Each is a hash aggregation joined back to the (plan, file) pairs. */
object SchedulerReference {

  /** The eligible plans with their priority, in the engine's row shape:
    * (id, project, plan_type, created_at, n_phases, unblocks,
    * priority). */
  def ranked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Derived.plans(s, dir)
    val files = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("id"), $"l_partkey".as("file")).distinct()
    val pfQueued = files.join(
      p.filter($"status" === "queued").select($"id", $"project", $"created_at"), Seq("id"))
    val open = files.join(
      p.filter($"status" =!= "completed").select($"id", $"project", $"created_at"),
      Seq("id"))
    val minOpen = open.groupBy($"project", $"file")
      .agg(min(struct($"created_at", $"id")).as("min_open"))
    val unmetIds = pfQueued.join(minOpen, Seq("project", "file"))
      .filter($"min_open" < struct($"created_at", $"id"))
      .select($"id".as("plan_id")).distinct()
    val elig = p.filter($"status" === "queued")
      .join(unmetIds, $"id" === $"plan_id", "left_anti")

    val nph = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey".as("nid"))
      .agg(countDistinct($"l_linenumber").as("n_phases"))
    val maxQueued = pfQueued.groupBy($"project", $"file")
      .agg(max(struct($"created_at", $"id")).as("max_q"))
    val unblockedIds = open.join(maxQueued, Seq("project", "file"))
      .filter(struct($"created_at", $"id") < $"max_q")
      .select($"id".as("uid")).distinct()

    val asOfUs = java.time.LocalDateTime
      .parse(Derived.AsOf.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    elig.join(nph, $"id" === $"nid")
      .join(unblockedIds, $"id" === $"uid", "left")
      .withColumn("base",
        when($"plan_type" === "bug", 1)
          .when($"plan_type" === "feature", 2)
          .when($"plan_type" === "refactor", 3)
          .when($"plan_type" === "chore", 4)
          .otherwise(5))
      .withColumn("adj_unblocks",
        when($"uid".isNotNull, -1).otherwise(0))
      .withColumn("waited_days",
        floor((lit(asOfUs) - unix_micros($"created_at".cast("timestamp"))) / 86400000000.0))
      .withColumn("adj_age", when($"waited_days" >= 3, -1).otherwise(0))
      .withColumn("adj_size", when($"n_phases" >= 6, 1).otherwise(0))
      .withColumn("priority",
        least(greatest($"base" + $"adj_unblocks" + $"adj_age" + $"adj_size", lit(1)), lit(5)))
      .select($"id", $"project", $"plan_type", $"created_at", $"n_phases",
        $"uid".isNotNull.as("unblocks"), $"priority")
  }

  /** The top-1 pick: (id, project, plan_type, priority). */
  def pick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ranked(s, dir)
      .orderBy($"priority".asc, $"created_at".asc, $"id".asc)
      .limit(1)
      .select($"id", $"project", $"plan_type", $"priority")
  }
}
