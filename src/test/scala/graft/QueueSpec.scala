package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QueueSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import queue.{Fixtures, QueueOps}

  test("S5 deps: later plan touching same file depends on earlier") {
    val deps = QueueOps.interPlanDeps(Fixtures.plans(spark)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // plan-20260106-0900 touches src/api/auth.ts which plan-20260105-1530 touched earlier
    assert(deps.contains(("plan-20260106-0900", "plan-20260105-1530")))
    // plan-20260106-1000 touches src/app.ts (earlier plan's file)
    assert(deps.contains(("plan-20260106-1000", "plan-20260105-1530")))
    // no self or reversed deps
    assert(deps.forall { case (a, b) => a != b })
  }

  test("S6 eligibility: queued plans with incomplete deps are excluded") {
    val plans = Fixtures.plans(spark)
    val deps = QueueOps.interPlanDeps(plans)
    val elig = QueueOps.eligible(plans, deps).select("id").collect().map(_.getString(0)).toSet
    // deps of 0900/1000 (plan-...1530) are completed -> eligible;
    // beta chore has no deps -> eligible
    assert(elig == Set("plan-20260106-0900", "plan-20260106-1000", "plan-20260107-1100"))
  }

  test("S7+S8: bug outranks feature outranks chore; top-1 is the bug") {
    val picked = QueueOps.fixtureSchedulerPick(spark).collect()
    assert(picked.length == 1)
    assert(picked.head.getString(0) == "plan-20260106-0900")
    assert(picked.head.getString(2) == "bug")
  }

  test("S3 active-existence gate") {
    assert(QueueOps.anyActive(Fixtures.plans(spark)))
    val none = Fixtures.plans(spark).filter(col("status") =!= "active")
    assert(!QueueOps.anyActive(none))
  }

  test("S18 overview: pct complete and counts") {
    val ov = QueueOps.statusOverview(Fixtures.statuses(spark))
      .filter(col("plan_id") === "plan-20260105-1530").collect().head
    assert(ov.getAs[Long]("n_phases") == 3)
    assert(ov.getAs[Long]("n_completed") == 2)
    assert(ov.getAs[Long]("n_failed") == 1)
    assert(math.abs(ov.getAs[Double]("pct_complete") - 66.7) < 0.01)
  }

  test("S20 legality: queued->completed is illegal, queued->active legal") {
    import spark.implicits._
    val moves = Seq(("p1", "queued", "active"), ("p2", "queued", "completed"),
      ("p3", "review", "completed")).toDF("id", "from_status", "to_status")
    val res = QueueOps.validateMoves(moves).collect()
      .map(r => r.getString(0) -> r.getBoolean(r.fieldIndex("legal"))).toMap
    assert(res("p1") && !res("p2") && res("p3"))
  }

  test("S21 namespace resolution: renamed project re-pointed via path") {
    import spark.implicits._
    val cfg = Seq(("/home/dev/alpha", "alpha")).toDF("cfgPath", "cfgProject")
    val res = QueueOps.resolveNamespaces(Fixtures.board(spark), cfg).collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(res("plan-20260106-0900") == ("alpha", true))   // was alpha-old
    assert(res("plan-20260105-1530") == ("alpha", false))  // already right
  }

  test("S21 namespace resolution: duplicate config rows error, never fan out") {
    import spark.implicits._
    // a stale mapping next to the current one for the SAME path: with a
    // bare join every matching board entry would emit twice with
    // contradictory resolutions; with no recency column to arbitrate,
    // the operator must refuse rather than guess
    val cfg = Seq(
      ("/home/dev/alpha", "alpha"),
      ("/home/dev/alpha", "alpha-old")).toDF("cfgPath", "cfgProject")
    val e = intercept[Exception] {
      QueueOps.resolveNamespaces(Fixtures.board(spark), cfg).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate config rows")),
      s"expected the duplicate-path error, got: ${msgs(e)}")
  }

  test("q211 census: exactly the four legal cells; migration class flagged") {
    val rows = queue.Derived.q211MoveValidation(spark, sf).collect()
    val legal = rows.filter(_.getAs[Boolean]("legal"))
      .map(r => (r.getAs[String]("from_status"), r.getAs[String]("to_status"))).toSet
    assert(legal == QueueOps.legalMoves, s"legal cells: $legal")
    rows.foreach { r =>
      val mig = Set("review", "archived").contains(r.getAs[String]("from_status")) &&
        r.getAs[String]("to_status") == "completed"
      assert(r.getAs[Boolean]("is_migration") == mig)
      if (mig) assert(r.getAs[Boolean]("legal"),
        "the setup.sh migration moves must be in the legal set")
    }
  }

  test("q212: ninth entries re-point, unconfigured namespaces fall through") {
    val rows = queue.Derived.q212NamespaceResolve(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[String]("id").toLong
      if (id % 9 == 0)
        assert(r.getAs[Boolean]("renamed") &&
          r.getAs[String]("resolved_project") == s"renamed_${id % 7}")
      else
        assert(!r.getAs[Boolean]("renamed") &&
          r.getAs[String]("resolved_project") == r.getAs[String]("project"))
    }
    // the "created fresh" branch (no config row) must be present: some
    // entry of ns_15..ns_19 resolves to itself via the coalesce fallback
    assert(rows.exists(r => !r.getAs[Boolean]("renamed") &&
      r.getAs[String]("project").stripPrefix("ns_").toInt >= 15))
  }
}

class StratifySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  /** Reference example (commands/nova.md:362-367): phases 1,2 independent,
    * 3 depends on both -> rounds {1,2},{3}. */
  test("stratify matches the reference worked example") {
    val nodes = Seq(("p", 1), ("p", 2), ("p", 3)).toDF("plan", "phase")
    val edges = Seq(("p", 3, 1), ("p", 3, 2)).toDF("plan", "phase", "dep")
    val out = rounds.Stratify.stratify(nodes, edges).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(out == Map(1 -> 1, 2 -> 1, 3 -> 2))
  }

  test("stratify: a 5,000-phase chain yields rounds 1..5,000") {
    val n = 5000
    val nodes = (1 to n).map(("p", _)).toDF("plan", "phase")
    val edges = (2 to n).map(i => ("p", i, i - 1)).toDF("plan", "phase", "dep")
    val out = rounds.Stratify.stratify(nodes, edges).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(out == (1 to n).map(i => i -> i).toMap)
  }

  test("stratify: a cyclic edge set fails loudly, naming the plan") {
    // p2's 2 -> 3 -> 4 -> 2 cycle has no valid strata; acyclic p1 in the
    // same call must not hide it
    val nodes = Seq(("p1", 1), ("p1", 2), ("p2", 1), ("p2", 2), ("p2", 3),
      ("p2", 4)).toDF("plan", "phase")
    val edges = Seq(("p1", 2, 1), ("p2", 2, 1), ("p2", 3, 2), ("p2", 4, 3),
      ("p2", 2, 4)).toDF("plan", "phase", "dep")
    val e = intercept[Exception] {
      rounds.Stratify.stratify(nodes, edges).collect()
    }
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: IllegalStateException => c }
    assert(cause.exists(_.getMessage.contains("plan p2 has a dependency cycle")),
      s"no IllegalStateException naming p2 in $e")
  }

  test("stratify: chain of n phases gives n rounds") {
    val n = 6
    val nodes = (1 to n).map(("p", _)).toDF("plan", "phase")
    val edges = (2 to n).map(i => ("p", i, i - 1)).toDF("plan", "phase", "dep")
    val out = rounds.Stratify.stratify(nodes, edges).collect()
      .map(r => r.getInt(1) -> r.getInt(2)).toMap
    assert(out == (1 to n).map(i => i -> i).toMap)
  }

  /** Property: every phase's round is exactly 1 + max(dep rounds)
    * (maximality + validity) on seeded random DAGs with edges i<j only.
    * Each call stratifies several plans that reuse the same phase
    * numbers with different edges (some with none), so a plan's rounds
    * must come from its own edges alone. Duplicate rows ride along. */
  test("stratify property: round = 1 + max dep round on random DAGs") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val dags = (1 to 4).map { k =>
        val n = 2 + rnd.nextInt(7)
        val es = (0 until rnd.nextInt(2 * n)).map { _ =>
          val j = 2 + rnd.nextInt(n - 1); val i = 1 + rnd.nextInt(j - 1); (j, i)
        }.distinct
        s"p$k" -> (n, es)
      }
      val nodes = dags.flatMap { case (p, (n, _)) => (1 to n).map((p, _)) }
      val edges = dags.flatMap { case (p, (_, es)) => es.map { case (j, i) => (p, j, i) } }
      val out = rounds.Stratify.stratify((nodes ++ nodes.take(3)).toDF("plan", "phase"),
        (edges ++ edges.take(3)).toDF("plan", "phase", "dep"))
      val got = out.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      assert(got.size == nodes.size)
      dags.foreach { case (plan, (n, es)) =>
        val depMap = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        (1 to n).foreach { p =>
          val expect = depMap.get(p).map(ds => ds.map(d => got((plan, d))).max + 1).getOrElse(1)
          assert(got((plan, p)) == expect,
            s"$plan phase $p: got ${got((plan, p))}, want $expect (n=$n edges=$es)")
        }
      }
    }
  }

  test("q40 reads the current lineitem, not an earlier result for the same dir") {
    val dir = java.nio.file.Files.createTempDirectory("strata_stale").toString
    def write(lines: Seq[(Long, Int, Long, Long)]): Unit =
      lines.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def q40(): Map[(Long, Int), Int] = rounds.Stratify.q40RoundStrata(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // order 1: line 2 shares line 1's part, line 3 shares line 2's supplier
    write(Seq((1L, 1, 10L, 100L), (1L, 2, 10L, 200L), (1L, 3, 30L, 200L)))
    assert(q40() == Map((1L, 1) -> 1, (1L, 2) -> 2, (1L, 3) -> 3))
    // line 3 now shares nothing with line 2: one dependency gone
    write(Seq((1L, 1, 10L, 100L), (1L, 2, 10L, 200L), (1L, 3, 30L, 300L)))
    assert(q40() == Map((1L, 1) -> 1, (1L, 2) -> 2, (1L, 3) -> 1))
  }

  test("q40/q41 leave no persistent RDD behind without a sweep") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(rounds.Stratify.q40RoundStrata(spark, sf).collect().nonEmpty)
    assert(rounds.Stratify.q41RoundSummary(spark, sf).collect().nonEmpty)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
  }

  test("q42 min/max-aggregation dependency sets equal the pair-join replay") {
    // The round-6 q42 rewrite replaced the (project, file) candidate
    // pair self-join with per-group min/max struct aggregations. The
    // driver oracle only hashes the single winning row, so replay the
    // original pair semantics here and compare the FULL unmet and
    // depended-upon id sets.
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    val p = queue.Derived.plans(spark, sf)
      .select(col("id"), col("project"), col("status"), col("created_at"))
    val files = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("id"), col("l_partkey").as("file")).distinct()
    val pf = files.join(p, Seq("id"))
    val queued = pf.filter(col("status") === "queued")
    val b = pf.select(col("id").as("id2"), col("project").as("proj2"),
      col("status").as("status2"), col("created_at").as("created2"),
      col("file").as("file2"))
    val pairs = queued.join(b,
      col("file") === col("file2") && col("project") === col("proj2") &&
        (col("created2") < col("created_at") ||
          (col("created2") === col("created_at") && col("id2") < col("id"))))
    // pair-join truth, exactly as rounds 1-5 computed it
    val completed = p.filter(col("status") === "completed").select(col("id").as("cid"))
    val unmetPairs = pairs.join(completed, col("id2") === col("cid"), "left_anti")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val dependedPairs = pairs.select("id2").distinct()
      .collect().map(_.getLong(0)).toSet
    // aggregation-form recomputation (mirrors q42's internals)
    val open = pf.filter(col("status") =!= "completed")
    val minOpen = open.groupBy(col("project"), col("file"))
      .agg(min(struct(col("created_at"), col("id"))).as("m"))
    val unmetAgg = queued.join(minOpen, Seq("project", "file"))
      .filter(col("m") < struct(col("created_at"), col("id")))
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val maxQ = queued.groupBy(col("project"), col("file"))
      .agg(max(struct(col("created_at"), col("id"))).as("mx"))
    val dependedAgg = open.join(maxQ, Seq("project", "file"))
      .filter(struct(col("created_at"), col("id")) < col("mx"))
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(unmetAgg == unmetPairs, "unmet-dependency sets diverge")
    // pair form counts targets of ANY status; the aggregation form
    // restricts to open targets, which is the subset the priority flag
    // can actually consult (it joins against queued plans only)
    val dependedOpenPairs = pairs.filter(col("status2") =!= "completed")
      .select("id2").distinct().collect().map(_.getLong(0)).toSet
    assert(dependedAgg == dependedOpenPairs, "depended-upon sets diverge")
    assert(dependedOpenPairs.subsetOf(dependedPairs))
    assert(unmetPairs.nonEmpty && dependedOpenPairs.nonEmpty)
  }
}
