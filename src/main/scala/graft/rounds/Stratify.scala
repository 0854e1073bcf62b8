package graft.rounds

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round stratification S9 — the reference's core scheduling transform
  * (ref `commands/pulsar.md:104-157,407-422`, `commands/nova.md:341-420`):
  * partition each plan's phase DAG into maximally-parallel "rounds" =
  * topological strata. A phase's round is the length of the longest
  * dependency chain ending at it; every phase runs in the earliest
  * round its dependencies allow (maximality).
  *
  * Every dependency edge stays inside one plan, so each plan's DAG is
  * stratified on its own: one shuffle groups a plan's phases and edges
  * into a single row, and an in-memory longest-path fold in Kahn order
  * assigns the rounds. Work is distributed by plan; the driver holds no
  * data and runs no loop, so 10⁹ plans stratify exactly like 10. One
  * plan's DAG must fit in one task's memory.
  *
  * Cycle safety: q40 restricts edges to earlier→later phase numbers
  * (the reference's own tiebreak — oldest first, `agents/orbiter.md:
  * 138-140` — applied at edge-derivation time), so its graph is acyclic
  * by construction. A caller's cyclic edge set fails loudly.
  */
object Stratify {

  /** Stratify a generic edge list. `nodes`: (plan, phase); `edges`:
    * (plan, phase, dep) meaning `dep` must finish before `phase`.
    * Returns (plan, phase, round) with round ≥ 1. Duplicate node or
    * edge rows are harmless; an edge whose phase or dep is not a node
    * of its plan is ignored. A plan whose edges contain a cycle fails
    * the job with an `IllegalStateException` naming the plan. */
  def stratify(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val rows = nodes.select(col("plan"), col("phase"), lit(null).as("dep"),
        lit(true).as("node"))
      .unionByName(edges.select(col("plan"), col("phase"), col("dep"),
        lit(false).as("node")))
    rows.groupBy(col("plan"))
      .agg(collect_set(when(col("node"), struct(col("phase")))).as("phases"),
        collect_set(when(!col("node"), struct(col("phase"), col("dep")))).as("deps"))
      .select(col("plan"), explode(zip_with(col("phases"),
          longestPath(col("plan").cast("string"), col("phases"), col("deps")),
          (p, r) => struct(p.getField("phase").as("phase"), r.as("round"))))
        .as("s"))
      .select(col("plan"), col("s.phase"), col("s.round"))
  }

  /** One plan's rounds, aligned with its distinct `phases`: the
    * longest-path depth of each phase over the distinct `deps` (phase,
    * dep) pairs, in Kahn order — iterative, so a deep chain never
    * touches the stack. */
  private val longestPath = udf { (plan: String, phases: Seq[Row], deps: Seq[Row]) =>
    val n = phases.length
    val at = phases.iterator.map(_.get(0)).zipWithIndex.toMap
    val next = Array.fill(n)(List.empty[Int]) // dep -> the phases waiting on it
    val waiting = new Array[Int](n)
    for (e <- deps; i <- at.get(e.get(0)); j <- at.get(e.get(1))) {
      next(j) ::= i
      waiting(i) += 1
    }
    val round = Array.fill(n)(1)
    var ready = (0 until n).filter(waiting(_) == 0).toList
    var done = 0
    while (ready.nonEmpty) {
      val j = ready.head
      ready = ready.tail
      done += 1
      for (i <- next(j)) {
        round(i) = round(i) max (round(j) + 1)
        waiting(i) -= 1
        if (waiting(i) == 0) ready ::= i
      }
    }
    if (done < n)
      throw new IllegalStateException(
        s"stratify: plan $plan has a dependency cycle; phases on or after it: " +
        (0 until n).filter(waiting(_) > 0).map(phases(_).get(0)).mkString(", "))
    round.toSeq
  }

  /** q40: round stratification over a derived phase DAG from `lineitem`:
    * plan = order, phase = line number, and a dependency edge j→i when
    * an earlier line j of the same order touches the same part or
    * supplier ("same files ⇒ later depends on earlier", ref
    * `agents/orbiter.md:55-66`). Output: per plan/phase its round, plus
    * plan-level parallelism stats mirror `parallelGroups`
    * (ref `commands/nova.md:488-489`). */
  def q40RoundStrata(s: SparkSession, dir: String): DataFrame =
    strata(s, dir).orderBy(col("plan"), col("phase"))

  private def strata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // (plan, phase) is not unique in the synthetic lineitem, so nodes
    // and edges repeat: stratify dedups both
    val a = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("plan"), $"l_linenumber".as("phase"),
        $"l_partkey", $"l_suppkey")
    val b = a.select($"plan".as("p2"), $"phase".as("dep"),
      $"l_partkey".as("pk2"), $"l_suppkey".as("sk2"))
    val edges = a.join(b,
        $"plan" === $"p2" && $"dep" < $"phase" &&
        ($"l_partkey" === $"pk2" || $"l_suppkey" === $"sk2"))
      .select($"plan", $"phase", $"dep")
    stratify(a.select($"plan", $"phase"), edges)
  }

  val q40Sql: String =
    """WITH RECURSIVE nodes AS (
      |  SELECT l_orderkey AS plan, l_linenumber AS phase, l_partkey, l_suppkey
      |  FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.plan, a.phase, b.phase AS dep
      |  FROM nodes a JOIN nodes b
      |    ON a.plan = b.plan AND b.phase < a.phase
      |   AND (a.l_partkey = b.l_partkey OR a.l_suppkey = b.l_suppkey)),
      |paths AS (
      |  SELECT DISTINCT plan, phase, 1 AS d FROM nodes
      |  UNION ALL
      |  SELECT e.plan, e.phase, p.d + 1
      |  FROM edges e JOIN paths p ON p.plan = e.plan AND p.phase = e.dep)
      |SELECT plan, phase, CAST(max(d) AS INT) AS round
      |FROM paths GROUP BY plan, phase
      |ORDER BY plan, phase""".stripMargin

  /** q41: per-plan round summary — rounds count ("parallelGroups") and
    * the widest round, the plan-level numbers Nova records on the board
    * (ref `commands/nova.md:488-489`). */
  def q41RoundSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val width = strata(s, dir).groupBy($"plan", $"round").agg(count(lit(1)).as("w"))
    width.groupBy($"plan")
      .agg(max($"round").as("parallel_groups"),
        max($"w").as("max_round_width"),
        sum($"w").as("n_phases"))
      .orderBy($"plan")
  }

  val q41Sql: String =
    """WITH RECURSIVE nodes AS (
      |  SELECT l_orderkey AS plan, l_linenumber AS phase, l_partkey, l_suppkey
      |  FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.plan, a.phase, b.phase AS dep
      |  FROM nodes a JOIN nodes b
      |    ON a.plan = b.plan AND b.phase < a.phase
      |   AND (a.l_partkey = b.l_partkey OR a.l_suppkey = b.l_suppkey)),
      |paths AS (
      |  SELECT DISTINCT plan, phase, 1 AS d FROM nodes
      |  UNION ALL
      |  SELECT e.plan, e.phase, p.d + 1
      |  FROM edges e JOIN paths p ON p.plan = e.plan AND p.phase = e.dep),
      |strata AS (
      |  SELECT plan, phase, max(d) AS round FROM paths GROUP BY plan, phase),
      |width AS (
      |  SELECT plan, round, count(*) AS w FROM strata GROUP BY plan, round)
      |SELECT plan, CAST(max(round) AS INT) AS parallel_groups,
      |       max(w) AS max_round_width, CAST(sum(w) AS BIGINT) AS n_phases
      |FROM width GROUP BY plan ORDER BY plan""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_round_strata"  -> (q40RoundStrata _),
    "q41_round_summary" -> (q41RoundSummary _),
  )

  val oracle: Map[String, String] = Map(
    "q40_round_strata"  -> q40Sql,
    "q41_round_summary" -> q41Sql,
  )
}
