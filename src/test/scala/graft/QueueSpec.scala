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

  test("S5 deps: plans of two projects touching one relative path are independent") {
    import spark.implicits._
    def plan(id: String, project: String, at: String, status: String) =
      model.Plan(id, project, "feature", status, "background", Timestamp.valueOf(at), None,
        Seq(model.Phase(1, "Wire app", Seq("src/app.ts"), "Low", "light", Nil)))
    val plans = Seq(
      plan("a-1", "alpha", "2026-01-05 09:00:00", "active"),
      plan("b-1", "beta", "2026-01-05 10:00:00", "queued"),
      plan("a-2", "alpha", "2026-01-05 11:00:00", "queued")).toDS()
    val deps = QueueOps.interPlanDeps(plans).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // only the later alpha plan depends on the earlier one
    assert(deps == Set(("a-2", "a-1")), s"deps: $deps")
    val elig = QueueOps.eligible(plans, QueueOps.interPlanDeps(plans))
      .select("id").collect().map(_.getString(0)).toSet
    assert(elig == Set("b-1"), s"eligible: $elig")
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
    val picked = Fixtures.schedulerPick(spark).collect()
    assert(picked.length == 1)
    assert(picked.head.getString(0) == "plan-20260106-0900")
    assert(picked.head.getString(2) == "bug")
  }

  test("S1/S2 queue counts: queued plans per project and execution mode") {
    val got = QueueOps.queueCounts(Fixtures.plans(spark)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("alpha", "background", 2L), ("beta", "interactive", 1L)),
      s"got $got")
  }

  test("S3 active-existence gate") {
    assert(QueueOps.anyActive(Fixtures.plans(spark)))
    val none = Fixtures.plans(spark).filter(col("status") =!= "active")
    assert(!QueueOps.anyActive(none))
  }

  test("S18 overview: pct complete and counts") {
    val ov = QueueOps.statusOverview(QueueOps.statusRollup(Fixtures.statuses(spark)))
      .filter(col("plan_id") === "plan-20260105-1530").collect().head
    assert(ov.getAs[Long]("n_phases") == 3)
    assert(ov.getAs[Long]("n_completed") == 2)
    assert(ov.getAs[Long]("n_failed") == 1)
    assert(math.abs(ov.getAs[Double]("pct_complete") - 66.7) < 0.01)
  }

  private def eta(ov: org.apache.spark.sql.DataFrame): Map[(String, String), (Long, Double)] =
    ov.collect().map(r => (r.getAs[String]("project"), r.getAs[String]("plan_id")) ->
      (r.getAs[Long]("n_remaining"), r.getAs[Double]("eta_sec"))).toMap

  test("S19 ETA: mean completed-phase duration times remaining phases") {
    val got = eta(QueueOps.statusOverview(QueueOps.statusRollup(Fixtures.statuses(spark))))
    // alpha: completed in 1,200 s and 1,800 s, one failed phase remains
    assert(got(("alpha", "plan-20260105-1530")) == ((1L, 1500.0)))
    // beta: completed in 1,200 s, one running phase remains
    assert(got(("beta", "plan-20260108-1200")) == ((1L, 1200.0)))
  }

  test("S19 ETA is per project: a shared plan id gets one ETA per project") {
    import spark.implicits._
    val shared = Seq(model.PhaseStatus("phase-1-plan-20260105-1530", "beta",
      "plan-20260105-1530", 1, None, "running", 3, None, None,
      Timestamp.valueOf("2026-01-05 16:05:00"), Timestamp.valueOf("2026-01-05 16:00:00"),
      None)).toDS()
    val got = eta(QueueOps.statusOverview(
      QueueOps.statusRollup(Fixtures.statuses(spark).union(shared))))
    assert(got(("alpha", "plan-20260105-1530")) == ((1L, 1500.0)))
    // beta's plan has no completed phase to time, so its ETA is 0
    assert(got(("beta", "plan-20260105-1530")) == ((1L, 0.0)))
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

  /** Tiny `lineitem` and `orders` tables for the derived queue twins:
    * lines are (order, line, l_linestatus, l_returnflag), orders are
    * (order, custkey), so plan `o` belongs to `proj_<custkey % 5>`. */
  private def writeLines(dir: String, lines: Seq[(Long, Int, String, String)]): Unit = {
    import spark.implicits._
    val day = java.sql.Date.valueOf("1996-01-01")
    lines.map { case (o, n, ls, rf) => (o, n, 10L * n, 5.0, ls, rf, day) }
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_linestatus", "l_returnflag", "l_shipdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def writeOrders(dir: String, orders: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val day = java.sql.Date.valueOf("1996-01-01")
    orders.map { case (o, c) => (o, c, "O", "1-URGENT", day) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def byPlan(df: org.apache.spark.sql.DataFrame): Map[String, org.apache.spark.sql.Row] =
    df.collect().map(r => r.getAs[String]("plan_id") -> r).toMap

  test("q43 and q45 read the current lineitem and orders; superseded rollups are released") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_version").toString
    val sc = spark.sparkContext
    def pulse() = byPlan(queue.Derived.q45Pulse(spark, dir))
    def overview() = byPlan(queue.Derived.q43StatusOverview(spark, dir))
    // the memos' rdd ids, not the frames: holding a frame keeps its blocks
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    def memo(): Unit = ids += Ckpt.rddOf(queue.Derived.statusRollup(spark, dir)).get.id
    writeOrders(dir, Seq(1L -> 1L, 2L -> 2L))
    writeLines(dir, Seq((1L, 1, "F", "N"), (1L, 2, "O", "N"), (2L, 1, "F", "N")))
    assert(pulse()("1").getAs[Long]("n_completed") == 1)
    assert(overview()("1").getAs[Long]("n_completed") == 1)
    memo()
    // plan 1's second phase completes
    writeLines(dir, Seq((1L, 1, "F", "N"), (1L, 2, "F", "N"), (2L, 1, "F", "N")))
    assert(pulse()("1").getAs[Long]("n_completed") == 2)
    assert(overview()("1").getAs[Long]("n_completed") == 2)
    memo()
    // plan 2 moves from proj_2 to proj_3
    writeOrders(dir, Seq(1L -> 1L, 2L -> 3L))
    assert(pulse()("2").getAs[String]("project") == "proj_3")
    assert(overview()("2").getAs[String]("project") == "proj_3")
    memo()
    // one rollup per version; once nothing references the superseded
    // ones, the context cleaner frees them and only the current is left
    assert(ids.distinct.size == 3, s"one rollup per input version: $ids")
    def live() = ids.filter(sc.getPersistentRDDs.contains).toSeq
    val deadline = System.nanoTime() + 10e9.toLong
    while (live() != Seq(ids.last) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(live() == Seq(ids.last), s"live rollups ${live()} of $ids")
  }

  test("the status rollup's input version covers every file the statuses read") {
    def path(uri: String) = new java.net.URI(uri).getPath
    val read = queue.Derived.statuses(spark, sf).inputFiles.map(path).toSet
    val versioned = Tables.version(spark, sf, queue.Derived.statusTables: _*).map(v => path(v._1)).toSet
    assert(read.nonEmpty && read.subsetOf(versioned), s"unversioned inputs: ${read -- versioned}")
    for (t <- queue.Derived.statusTables)
      assert(read.exists(_.contains(s"/$t.parquet")), s"$t is versioned but never read")
  }

  test("concurrent first q45 calls build one status rollup; a later call is a hit") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_once").toString
    writeOrders(dir, Seq(1L -> 1L, 2L -> 2L))
    writeLines(dir, Seq((1L, 1, "F", "N"), (1L, 2, "O", "A"), (2L, 1, "O", "R")))
    val sc = spark.sparkContext
    def builds() = SessionCache.paysSnapshot.count(_._1 == "status_rollup")
    def counts() = SessionCache.countsSnapshot.getOrElse("status_rollup", (0L, 0L, 0L))
    val (b0, c0, rdds0) = (builds(), counts(), sc.getPersistentRDDs.keySet)
    val go = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        go.await()
        got.add(try Right(queue.Derived.q45Pulse(spark, dir).collect().length)
                catch { case e: Throwable => Left(e) })
      })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    assert(got.toArray.toSeq == Seq.fill(4)(Right(2)), s"results: $got")
    assert(builds() == b0 + 1, "concurrent first calls must share one build")
    assert((sc.getPersistentRDDs.keySet -- rdds0).size == 1)
    val c1 = counts()
    assert((c1._1 - c0._1, c1._2 - c0._2) == ((3L, 1L)), s"$c0 -> $c1")
    // a second call is a hit and builds nothing
    assert(queue.Derived.q45Pulse(spark, dir).collect().length == 2)
    val c2 = counts()
    assert((c2._1 - c1._1, c2._2 - c1._2, builds()) == ((1L, 0L, b0 + 1)), s"$c1 -> $c2")
  }

  /** A tiny derived queue for q42: orders are (order, custkey,
    * o_orderstatus, o_orderpriority, o_orderdate), so plan `o` belongs
    * to `proj_<custkey % 5>`; lines are (order, line, part = file). */
  private def writeQueueOrders(dir: String, orders: Seq[(Long, Long, String, String, String)]): Unit = {
    import spark.implicits._
    orders.map { case (o, c, st, pr, d) => (o, c, st, pr, java.sql.Date.valueOf(d)) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def writeQueueLines(dir: String, lines: Seq[(Long, Int, Long)]): Unit = {
    import spark.implicits._
    lines.toDF("l_orderkey", "l_linenumber", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def pickOf(dir: String): Seq[(Long, String, String, Int)] =
    queue.Derived.q42SchedulerPick(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq

  private def pickCounts(): (Long, Long, Long) =
    SessionCache.countsSnapshot.getOrElse("scheduler_pick", (0L, 0L, 0L))

  // plan 1 (proj_1, active, refactor) blocks plan 2 (proj_1, queued,
  // bug) on file 10; plan 3 (proj_2, queued, chore) touches file 10 of
  // its own project, so only plan 3 is eligible
  private val pickOrders = Seq(
    (1L, 1L, "P", "3-MEDIUM", "1999-12-20"),
    (2L, 6L, "O", "1-URGENT", "1999-12-21"),
    (3L, 2L, "O", "4-NOT SPECIFIED", "1999-12-22"))
  private val pickLines = Seq((1L, 1, 10L), (2L, 1, 10L), (2L, 2, 30L), (3L, 1, 10L))

  test("q42 picks the plan a rewritten orders table unblocks") {
    val dir = java.nio.file.Files.createTempDirectory("pick_orders").toString
    writeQueueOrders(dir, pickOrders)
    writeQueueLines(dir, pickLines)
    // chore 4, waited 10 days -1
    assert(pickOf(dir) == Seq((3L, "proj_2", "chore", 3)))
    val c0 = pickCounts()
    assert(pickOf(dir) == Seq((3L, "proj_2", "chore", 3)))
    val c1 = pickCounts()
    assert((c1._1 - c0._1, c1._2 - c0._2) == ((1L, 0L)), s"an unchanged queue rebuilt: $c0 -> $c1")
    // plan 1 completes: the bug plan is eligible and outranks the chore
    writeQueueOrders(dir, pickOrders.map(o => if (o._1 == 1L) o.copy(_3 = "F") else o))
    assert(pickOf(dir) == Seq((2L, "proj_1", "bug", 1)))
    val c2 = pickCounts()
    assert((c2._2 - c1._2, c2._3 - c1._3) == ((1L, 1L)), s"$c1 -> $c2")
  }

  test("q42 picks the plan a rewritten lineitem table unblocks") {
    val dir = java.nio.file.Files.createTempDirectory("pick_lines").toString
    writeQueueOrders(dir, pickOrders)
    writeQueueLines(dir, pickLines)
    assert(pickOf(dir) == Seq((3L, "proj_2", "chore", 3)))
    val c0 = pickCounts()
    // plan 2 moves its file-10 phase to file 20: it shares no file with plan 1
    writeQueueLines(dir, pickLines.map(l => if (l == ((2L, 1, 10L))) (2L, 1, 20L) else l))
    assert(pickOf(dir) == Seq((2L, "proj_1", "bug", 1)))
    val c1 = pickCounts()
    assert((c1._2 - c0._2, c1._3 - c0._3) == ((1L, 1L)), s"$c0 -> $c1")
  }

  test("concurrent first q42 calls build one pick; a hit plans a local scan only") {
    val dir = java.nio.file.Files.createTempDirectory("pick_once").toString
    writeQueueOrders(dir, pickOrders)
    writeQueueLines(dir, pickLines)
    def builds() = SessionCache.paysSnapshot.count(_._1 == "scheduler_pick")
    val (b0, c0) = (builds(), pickCounts())
    val go = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Seq[(Long, String, String, Int)]]]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        go.await()
        got.add(try Right(pickOf(dir)) catch { case e: Throwable => Left(e) })
      })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    assert(got.toArray.toSeq == Seq.fill(4)(Right(Seq((3L, "proj_2", "chore", 3)))), s"results: $got")
    assert(builds() == b0 + 1, "concurrent first calls must share one build")
    val c1 = pickCounts()
    assert((c1._1 - c0._1, c1._2 - c0._2) == ((3L, 1L)), s"$c0 -> $c1")
    // a request scoped to a project, as a daemon asks, is served from
    // the driver's rows: a local table scan, no exchange, no Spark job
    val hit = queue.Derived.q42SchedulerPick(spark, dir).filter(col("project") === "proj_2")
    val plan = hit.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], plan.treeString)
    assert(hit.collect().length == 1 && builds() == b0 + 1)
  }

  test("the scheduler pick's input version covers every file its build reads") {
    def path(uri: String) = new java.net.URI(uri).getPath
    val read = queue.Derived.schedulerRanked(spark, sf).inputFiles.map(path).toSet
    val versioned = Tables.version(spark, sf, queue.Derived.statusTables: _*).map(v => path(v._1)).toSet
    assert(read.nonEmpty && read.subsetOf(versioned), s"unversioned inputs: ${read -- versioned}")
    for (t <- queue.Derived.statusTables)
      assert(read.exists(_.contains(s"/$t.parquet")), s"$t is versioned but never read")
  }

  /** Property: on seeded random queues the one-pass ranked eligible set
    * and the top-1 equal the multi-frame reference's. Each queue has
    * every status, `created_at` ties, a file (part key) that plans of
    * two projects both touch, duplicate phase numbers and a queued plan
    * with no lines. */
  test("q42 property: one-pass ranked set and pick equal the reference on random queues") {
    val rnd = new scala.util.Random(7)
    val dir = java.nio.file.Files.createTempDirectory("pick_property").toString
    val days = Seq("1999-12-20", "1999-12-30", "1999-12-30", "1999-12-31")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def ranked(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("project"), r.getAs[String]("plan_type"),
        r.getAs[java.sql.Date]("created_at"), r.getAs[Number]("n_phases").longValue,
        r.getAs[Boolean]("unblocks"), r.getAs[Int]("priority"))).toSet
    var (sawEligible, sawBlocked) = (false, false)
    (1 to 6).foreach { round =>
      val n = 6 + rnd.nextInt(7)
      val orders = (1 to n).map { o =>
        val status = if (o <= 3) Seq("O", "P", "F")(o - 1) else Seq("O", "O", "P", "F")(rnd.nextInt(4))
        (o.toLong, rnd.nextInt(10).toLong, status, prios(rnd.nextInt(5)), days(rnd.nextInt(4)))
      } :+ ((n + 1).toLong, 3L, "O", "2-HIGH", "1999-12-30") // queued, no lines
      val lines = (1 to n).flatMap { o =>
        (1 to rnd.nextInt(8)).flatMap { ln =>
          val l = (o.toLong, ln, 1L + rnd.nextInt(4))
          if (rnd.nextInt(6) == 0) Seq(l, (o.toLong, ln, 1L + rnd.nextInt(4))) else Seq(l)
        }
      } ++ Seq((1L, 9, 1L), (2L, 9, 1L)) // file 1 in plan 1's and plan 2's projects
      // plans 1 and 2 are in different projects
      val fixed = orders.map(o => if (o._1 == 2L) o.copy(_2 = (orders.head._2 + 1) % 10) else o)
      writeQueueOrders(dir, fixed)
      writeQueueLines(dir, lines)
      val want = ranked(queue.SchedulerReference.ranked(spark, dir))
      assert(ranked(queue.Derived.schedulerRanked(spark, dir)) == want, s"round $round")
      val wantPick = queue.SchedulerReference.pick(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
      assert(pickOf(dir) == wantPick, s"round $round")
      assert(!want.exists(_._1 == n + 1), "a plan with no lines has no phase count")
      sawEligible ||= want.nonEmpty
      sawBlocked ||= want.size < fixed.count(_._3 == "O") - 1
    }
    assert(sawEligible && sawBlocked, "the random queues never exercised eligibility")
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

  test("q40-q45 leave no persistent RDD or cached plan behind without a sweep") {
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    // start from an empty cache manager, so the check after the queries
    // sees only what they leave
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    // q43 and q45 may leave exactly one block: the status rollup memo of
    // (spark, sf), which an earlier suite may already have built
    def memo() = Ckpt.rddOf(queue.Derived.statusRollup(spark, sf)).get.id
    val rollupEntries = Set("q43_status_overview", "q45_pulse")
    var allowed = Set.empty[Int]
    Seq("q40_round_strata", "q41_round_summary", "q42_scheduler_pick",
        "q43_status_overview", "q44_lifecycle_replay", "q45_pulse").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.collect().nonEmpty, s"$q returned no rows")
      if (rollupEntries(q)) allowed = Set(memo())
      // the context cleaner unpersists an RDD once it is garbage, so
      // check while the result is still reachable, as a caller's is
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.subsetOf(allowed), s"$q left persistent RDDs behind: ${left -- allowed}")
      if (rollupEntries(q)) {
        // a second call adds nothing
        val held = sc.getPersistentRDDs.keySet
        assert(SparkEntry.queries(q)(spark, sf).collect().length == df.collect().length)
        assert(sc.getPersistentRDDs.keySet == held, s"a second $q left blocks behind")
      }
      java.lang.ref.Reference.reachabilityFence(df)
    }
    assert(cache.isEmpty, "the cache manager holds plans the queries left behind")
    // the memo's entry holds it, so a sweep keeps it; nothing else of
    // theirs is left
    Ckpt.sweep(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.contains(memo()), "the sweep freed the rollup memo its entry holds")
    assert((after -- before).subsetOf(Set(memo())), s"left after a sweep: ${after -- before}")
  }

  test("q42 min/max-aggregation dependency sets equal the pair-join replay") {
    // q42 replaces the (project, file) candidate pair self-join with
    // per-group min/max struct bounds. The driver oracle only hashes the
    // single winning row, so replay the pair semantics here and compare
    // the FULL unmet and depended-upon id sets of the engine's frame.
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
    // the engine's one-pass per-plan frame
    val flags = queue.Derived.schedulerPlans(spark, sf)
    val unmetAgg = flags.filter(col("status") === "queued" && col("unmet"))
      .select("id").collect().map(_.getLong(0)).toSet
    val dependedAgg = flags.filter(col("status") =!= "completed" && col("unblocks"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(unmetAgg == unmetPairs, "unmet-dependency sets diverge")
    // pair form counts targets of ANY status; the engine's flag is
    // compared on open targets, which is the subset the priority flag
    // can actually consult (it reads queued plans only)
    val dependedOpenPairs = pairs.filter(col("status2") =!= "completed")
      .select("id2").distinct().collect().map(_.getLong(0)).toSet
    assert(dependedAgg == dependedOpenPairs, "depended-upon sets diverge")
    assert(dependedOpenPairs.subsetOf(dependedPairs))
    assert(unmetPairs.nonEmpty && dependedOpenPairs.nonEmpty)
  }
}
