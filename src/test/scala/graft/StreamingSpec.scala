package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{PhaseStatus, ToolEvent}
import graft.streaming.{Lifecycle, Streams, TemporalJoin}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("lifecycle stream: claim, upsert, terminal no-downgrade, stall timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ToolEvent]
    val out = Lifecycle.statusStream(mem.toDS(), watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("lifecycle_out")
      .outputMode("update").start()
    try {
      // batch 1: phase 1 starts and works; phase 2 starts then goes silent
      mem.addData(
        ToolEvent("p", 1, "proj", "Session", None, "start", ts("2026-01-01 10:00:00")),
        ToolEvent("p", 1, "proj", "Edit", Some("a.ts"), "tool", ts("2026-01-01 10:01:00")),
        ToolEvent("p", 1, "proj", "Bash", None, "tool", ts("2026-01-01 10:02:00")),
        ToolEvent("p", 2, "proj", "Session", None, "start", ts("2026-01-01 10:00:30")))
      q.processAllAvailable()
      // batch 2: phase 1 completes, then a late tool event arrives on
      // it; a late steal attempt on phase 2
      mem.addData(
        ToolEvent("p", 1, "proj", "", None, "stop_completed", ts("2026-01-01 10:03:00")),
        ToolEvent("p", 1, "proj", "Write", Some("b.ts"), "tool", ts("2026-01-01 10:04:00")),
        ToolEvent("p", 2, "proj", "Session", None, "start", ts("2026-01-01 10:03:10")))
      q.processAllAvailable()
      // batch 3: unrelated phase far in the future pushes the watermark
      // past phase 2's stall deadline (10:00:30 + 10 min)
      mem.addData(
        ToolEvent("p", 3, "proj", "Session", None, "start", ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      // one more batch so the timeout fires after watermark advance
      mem.addData(
        ToolEvent("p", 3, "proj", "Bash", None, "tool", ts("2026-01-01 10:31:00")))
      q.processAllAvailable()

      val rows = spark.table("lifecycle_out")
      val p1Latest = rows.filter($"phase" === 1)
        .orderBy($"updated_at".desc).limit(1).collect().head
      assert(p1Latest.getAs[String]("status") == "completed")
      assert(p1Latest.getAs[Int]("tool_count") == 2)
      // phase 2 went silent -> the event-time timeout emitted a stalled record
      val p2Statuses = rows.filter($"phase" === 2).select("status")
        .collect().map(_.getString(0)).toSet
      assert(p2Statuses.contains("stalled"), s"phase2 statuses: $p2Statuses")
      // late tool event after completion must not appear anywhere
      val p1Statuses = rows.filter($"phase" === 1).select("status")
        .collect().map(_.getString(0)).toSet
      assert(!p1Statuses.contains("failed"))
      val p1Late = rows.filter($"phase" === 1 &&
        ($"tool_count" > 2 || $"last_tool" === "Write" ||
          $"updated_at" === lit(ts("2026-01-01 10:04:00")))).count()
      assert(p1Late == 0, s"$p1Late phase-1 rows show the late tool event")
    } finally q.stop()
  }

  /** The reference daemon survives restarts (`scripts/starry-daemon.sh:
    * 209-226`): killing the process must lose NO lifecycle state. Here:
    * run the machine over a file source with a checkpoint, stop the
    * query mid-history, start a NEW query on the same checkpoint, and
    * assert claims (started_at), tool counters, and the stall timer
    * registered BEFORE the kill all resume exactly. */
  test("lifecycle machine recovers claims, counters and stall timers from a checkpoint") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("lc_in").toFile
    val ckpt = Files.createTempDirectory("lc_ckpt").toFile
    def writeFile(name: String, events: Seq[ToolEvent]): Unit = {
      val json = events.toDS().toJSON.collect().mkString("\n")
      Files.writeString(new java.io.File(inDir, name).toPath, json)
    }
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[ToolEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .json(inDir.getAbsolutePath)
      .as[ToolEvent]
    val out = Lifecycle.statusStream(src, watermarkDelay = "0 seconds")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[PhaseStatus]()
    def start() = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[PhaseStatus], _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .start()

    // run 1: phase 1 claimed + one tool; phase 2 claimed, then KILL
    writeFile("f1.json", Seq(
      ToolEvent("p", 1, "proj", "Session", None, "start", ts("2026-01-01 10:00:00")),
      ToolEvent("p", 1, "proj", "Edit", Some("a.ts"), "tool", ts("2026-01-01 10:01:00")),
      ToolEvent("p", 2, "proj", "Session", None, "start", ts("2026-01-01 10:00:30"))))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    val afterRun1 = seen.toArray(Array.empty[PhaseStatus])
    assert(afterRun1.exists(s => s.phase == 1 && s.tool_count == 1))
    seen.clear()

    // run 2, same checkpoint: phase 1 continues (+1 tool, completes);
    // phase 3 events push the watermark past phase 2's pre-kill stall
    // deadline (10:00:30 + 10 min)
    writeFile("f2.json", Seq(
      ToolEvent("p", 1, "proj", "Bash", None, "tool", ts("2026-01-01 10:05:00")),
      ToolEvent("p", 1, "proj", "", None, "stop_completed", ts("2026-01-01 10:06:00")),
      ToolEvent("p", 3, "proj", "Session", None, "start", ts("2026-01-01 10:30:00"))))
    writeFile("f3.json", Seq(
      ToolEvent("p", 3, "proj", "Bash", None, "tool", ts("2026-01-01 10:31:00"))))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val afterRun2 = seen.toArray(Array.empty[PhaseStatus])

    val p1 = afterRun2.filter(_.phase == 1).maxBy(_.updated_at.getTime)
    // counter CONTINUED from the checkpointed 1 -> 2, not restarted
    assert(p1.tool_count == 2, s"tool_count ${p1.tool_count}, expected 2")
    assert(p1.status == "completed")
    // the claim (started_at) survived the restart unchanged
    assert(p1.started_at == ts("2026-01-01 10:00:00"))
    assert(p1.completed_at.contains(ts("2026-01-01 10:06:00")))
    // the stall timer registered before the kill fired after it
    val p2Statuses = afterRun2.filter(_.phase == 2).map(_.status).toSet
    assert(p2Statuses.contains("stalled"), s"phase2 post-restart: $p2Statuses")
  }

  test("batch replay orders events at microsecond precision") {
    // tool at .000100s, stop at .000900s — same millisecond, so a
    // getTime-based sort fell back to the kind tiebreak, applied the
    // stop FIRST, and the terminal state absorbed the tool event
    // (tool_count 0). Micros-precision ordering applies them in true
    // arrival order.
    def at(nanos: Int) = {
      val t = ts("2026-01-01 12:00:00"); t.setNanos(nanos); t
    }
    val events = Seq(
      ToolEvent("p", 1, "proj", "Edit", Some("a.ts"), "tool", at(100000)),
      ToolEvent("p", 1, "proj", "", None, "stop_completed", at(900000)))
    val out = Lifecycle.replayBatch(spark.createDataset(events)).collect()
    assert(out.length == 1)
    assert(out.head.status == "completed")
    assert(out.head.tool_count == 1,
      "sub-millisecond tool event was absorbed by a reordered stop")
  }

  test("batch replay matches reference guards (fixture log)") {
    val statuses = Lifecycle.replayBatch(queue.Fixtures.toolEvents(spark))
      .collect().map(s => (s.plan_id, s.phase) -> s).toMap
    val p1 = statuses(("plan-20260108-1200", 1))
    assert(p1.status == "completed")
    assert(p1.tool_count == 2) // late tool after stop_completed ignored
    val p2 = statuses(("plan-20260108-1200", 2))
    assert(p2.status == "running")
    assert(p2.started_at == ts("2026-01-08 12:21:00")) // second claim ignored
    assert(statuses(("plan-20260105-1530", 3)).status == "failed")
  }

  test("queue stream: maxFilesPerTrigger=1 single-flight admission") {
    val dir = java.nio.file.Files.createTempDirectory("queue").toFile
    val files = (1 to 3).map { i =>
      val f = new java.io.File(dir, s"plan-$i.json")
      val w = new java.io.PrintWriter(f)
      w.println(s"""{"id":"plan-$i","title":"t$i","project":"alpha","projectPath":"/p","planType":"feature","status":"queued","executionMode":"background","path":"queued/plan-$i.json","createdAt":"2026-01-0${i}T10:00:00.000Z","phases":2,"parallelGroups":1}""")
      w.close(); f
    }
    var batches = 0
    var totalRows = 0L
    val q = Streams.queueStream(spark, dir.getAbsolutePath)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val n = df.count()
        if (n > 0) { batches += 1; totalRows += n }
        ()
      }.start()
    q.awaitTermination(60000)
    assert(totalRows == 3, s"rows=$totalRows")
    assert(batches == 3, s"single-flight violated: $batches batches for 3 files")
    files.foreach(_.delete()); dir.delete()
  }

  test("streaming tumbling counts match batch equivalent") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDS().toDF("ts", "event_type", "value")
    val q = Streams.tumblingCounts(events, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      val data = Seq(
        (ts("2026-01-01 10:05:00"), "click", 1.0),
        (ts("2026-01-01 10:55:00"), "click", 2.0),
        (ts("2026-01-01 11:05:00"), "click", 3.0),
        (ts("2026-01-01 11:15:00"), "view", 4.0))
      mem.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .select($"window.start".as("w"), $"event_type", $"n", $"total_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got((ts("2026-01-01 10:00:00"), "click")) == (2L, 3.0))
      assert(got((ts("2026-01-01 11:00:00"), "click")) == (1L, 3.0))
      assert(got((ts("2026-01-01 11:00:00"), "view")) == (1L, 4.0))
    } finally q.stop()
  }

  test("sliding windows: each event appears in width/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDS().toDF("ts", "event_type")
    val q = Streams.slidingCounts(events, "1 hour", "15 minutes", "0 seconds")
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try {
      mem.addData((ts("2026-01-01 10:31:00"), "click"))
      q.processAllAvailable()
      val wins = spark.table("sliding_out").collect()
      assert(wins.length == 4, s"expected 4 overlapping windows, got ${wins.length}")
      assert(wins.forall(_.getAs[Long]("n") == 1))
    } finally q.stop()
  }

  test("streaming session windows group by gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDS().toDF("ts", "user_id")
    val q = Streams.sessionCounts(events, "30 minutes", "0 seconds")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts("2026-01-01 10:00:00"), 1L),
        (ts("2026-01-01 10:10:00"), 1L), // same session
        (ts("2026-01-01 11:30:00"), 1L), // gap > 30min: new session
        (ts("2026-01-01 10:00:00"), 2L))
      q.processAllAvailable()
      val rows = spark.table("session_out").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      assert(u1.length == 2, s"expected 2 sessions for user 1, got ${u1.length}")
      assert(u1.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDS().toDF("ts", "user_id", "event_type")
    val q = Streams.dedupFirst(events, "0 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts("2026-01-01 10:00:00"), 1L, "click"),
        (ts("2026-01-01 10:01:00"), 1L, "click"),
        (ts("2026-01-01 10:02:00"), 1L, "view"),
        (ts("2026-01-01 10:03:00"), 2L, "click"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 3)
    } finally q.stop()
  }

  test("S17 pulse TTL: fresh copy is reused, stale copy is recomputed and unpersisted") {
    import graft.streaming.TtlCache
    var now = 1000000L
    val cache = new TtlCache(ttlMs = 60000L, clock = () => now)

    val first = TtlCache.pulse(cache, graft.queue.Fixtures.statuses(spark))
    assert(cache.computeCount == 1)
    assert(first.storageLevel.useMemory, "pulse result must be persisted")

    // fresh branch: within the TTL the SAME cached plan comes back
    now += 59999L
    val again = TtlCache.pulse(cache, graft.queue.Fixtures.statuses(spark))
    assert(cache.computeCount == 1)
    assert(again eq first)
    assert(cache.isFresh)

    // stale branch: past the TTL it recomputes and releases the old copy
    now += 2L
    assert(!cache.isFresh)
    val fresh = TtlCache.pulse(cache, graft.queue.Fixtures.statuses(spark))
    assert(cache.computeCount == 2)
    assert(!(fresh eq first))
    // (storageLevel can't distinguish the unpersisted stale copy here:
    // both DFs share one logical plan, so the cache-manager lookup finds
    // the fresh persisted entry — unpersist is covered by invalidate below)
    assert(fresh.collect().nonEmpty)

    cache.invalidate()
    assert(!cache.isFresh)
  }

  test("temporal as-of enrichment: watermark-final matches, out-of-order both sides") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrich(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("temporal_out")
      .outputMode("append").start()
    try {
      // batch 1: out-of-order on both sides; nothing ripe yet (wm = 0)
      upMem.addData(("a", ts("2026-01-01 10:20:00"), "v2"),
                    ("a", ts("2026-01-01 10:10:00"), "v1"))
      evMem.addData(("a", ts("2026-01-01 10:25:00"), "e3"),
                    ("a", ts("2026-01-01 10:15:00"), "e1"),
                    ("b", ts("2026-01-01 10:12:00"), "e2"))
      q.processAllAvailable()
      // batch 2: advance the watermark past 10:15/10:12 but not 10:25 —
      // BOTH sides must move: the global watermark is the min across
      // the two inputs (an idle update stream legitimately holds back
      // finality)
      evMem.addData(("c", ts("2026-01-01 10:25:00"), "wm-push"))
      upMem.addData(("c", ts("2026-01-01 10:25:00"), "uv"))
      q.processAllAvailable()
      val mid = spark.table("temporal_out").as[TemporalJoin.TOut].collect()
        .map(o => o.data -> o.asof_data).toMap
      assert(mid("e1").contains("v1"), s"e1 should match v1, got $mid")
      assert(mid.get("e2").exists(_.isEmpty), "keyless-history event must emit None")
      assert(!mid.contains("e3"), "event at the watermark must not be final yet")
      // batch 3: push the watermark past 10:25 — e3 becomes final with v2
      evMem.addData(("c", ts("2026-01-01 11:00:00"), "wm-push2"))
      upMem.addData(("c", ts("2026-01-01 11:00:00"), "uv2"))
      q.processAllAvailable()
      // the EventTimeTimeout may need one more trigger to fire
      evMem.addData(("c", ts("2026-01-01 11:30:00"), "wm-push3"))
      upMem.addData(("c", ts("2026-01-01 11:30:00"), "uv3"))
      q.processAllAvailable()
      val fin = spark.table("temporal_out").as[TemporalJoin.TOut].collect()
        .map(o => o.data -> o.asof_data).toMap
      assert(fin("e3").contains("v2"), s"e3 should match the latest update v2, got $fin")
      assert(fin("e1").contains("v1"))
    } finally q.stop()
  }

  test("temporal as-of tolerance + inner/left_outer mirror the batch knobs (q123/q124 semantics)") {
    implicit val sqlCtx = spark.sqlContext
    // same feed through both join types: left_outer emits every ripe
    // event (None when the floor is missing OR out-of-window — q124's
    // batch contract), inner drops exactly those rows (batch default)
    def run(joinType: String, sink: String): Map[String, Option[String]] = {
      val evMem = MemoryStream[(String, Timestamp, String)]
      val upMem = MemoryStream[(String, Timestamp, String)]
      val out = TemporalJoin.enrich(
        evMem.toDS().toDF("key", "ts", "data"),
        upMem.toDS().toDF("key", "ts", "data"),
        watermarkDelay = "0 seconds",
        joinType = joinType,
        toleranceUs = Some(60L * 1000000L)) // 60 s window
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
        evMem.addData(("k", ts("2026-01-01 10:00:30"), "near"),   // 30s stale: in window
                      ("k", ts("2026-01-01 10:05:00"), "far"),    // 5min stale: out
                      ("x", ts("2026-01-01 10:01:00"), "nokey"))  // no floor at all
        q.processAllAvailable()
        // ripen everything on both inputs
        evMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
        upMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
        q.processAllAvailable()
        evMem.addData(("z", ts("2026-01-01 11:30:00"), "wm2"))
        upMem.addData(("z", ts("2026-01-01 11:30:00"), "wm2"))
        q.processAllAvailable()
        spark.table(sink).as[TemporalJoin.TOut].collect()
          .filter(o => Set("near", "far", "nokey")(o.data))
          .map(o => o.data -> o.asof_data).toMap
      } finally q.stop()
    }
    val outer = run("left_outer", "temporal_tol_outer")
    assert(outer("near").contains("u1"), s"in-window event must match: $outer")
    assert(outer.get("far").exists(_.isEmpty),
      s"out-of-window event must emit None under left_outer: $outer")
    assert(outer.get("nokey").exists(_.isEmpty), s"floorless event must emit None: $outer")
    val inner = run("inner", "temporal_tol_inner")
    assert(inner == Map("near" -> Some("u1")),
      s"inner must drop out-of-window and floorless events, got $inner")
    intercept[IllegalArgumentException] {
      TemporalJoin.enrich(
        MemoryStream[(String, Timestamp, String)].toDS().toDF("key", "ts", "data"),
        MemoryStream[(String, Timestamp, String)].toDS().toDF("key", "ts", "data"),
        joinType = "full_outer")
    }
  }

  test("temporal as-of right_outer: never-consulted updates emit exactly once at death (orphan timing)") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrichOuter(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds",
      joinType = "right_outer")
    val q = out.writeStream.format("memory").queryName("temporal_rout")
      .outputMode("append").start()
    try {
      // u1 < u2 < u3; the event e1 will take u2 as its floor
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"),
                    ("k", ts("2026-01-01 10:10:00"), "u2"),
                    ("k", ts("2026-01-01 10:20:00"), "u3"))
      evMem.addData(("k", ts("2026-01-01 10:12:00"), "e1"))
      q.processAllAvailable()
      // ORPHAN TIMING pin 1: arrival alone emits nothing — an update
      // only becomes reportable at death, which needs the watermark
      assert(spark.table("temporal_rout").count() == 0,
        "right_outer emitted before any update died")
      // push the watermark past u3 on BOTH inputs, then trigger once
      // more so k's pending-event timer fires at the new watermark
      evMem.addData(("z", ts("2026-01-01 10:30:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 10:30:00"), "wm"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 10:40:00"), "wm2"))
      upMem.addData(("z", ts("2026-01-01 10:40:00"), "wm2"))
      q.processAllAvailable()
      val got = spark.table("temporal_rout").as[TemporalJoin.TOutFull].collect()
        .filter(_.key == "k")
      // matched pair still emits (SQL right-join shape) ...
      val e1 = got.filter(_.data.contains("e1"))
      assert(e1.length == 1 && e1.head.asof_data.contains("u2"),
        s"matched event must emit with its floor, got ${got.toSeq}")
      // ... u1 died never-consulted -> exactly one orphan row; u2 died
      // MATCHED -> silent; u3 is the live floor -> silent
      val orphans = got.filter(_.data.isEmpty)
      assert(orphans.map(_.asof_data) sameElements Array(Some("u1")),
        s"expected exactly the u1 orphan, got ${got.toSeq}")
      assert(orphans.head.asof_ts.contains(ts("2026-01-01 10:00:00")))
      // ORPHAN TIMING pin 2: further watermark pushes never surface the
      // live floor u3 (a future event may still match it), and never
      // re-emit u1
      evMem.addData(("z", ts("2026-01-01 12:00:00"), "wm3"))
      upMem.addData(("z", ts("2026-01-01 12:00:00"), "wm3"))
      q.processAllAvailable()
      val after = spark.table("temporal_rout").as[TemporalJoin.TOutFull].collect()
        .filter(o => o.key == "k" && o.data.isEmpty)
      assert(after.length == 1, s"orphan set changed on idle watermark pushes: ${after.toSeq}")
    } finally q.stop()
  }

  test("temporal as-of full_outer: unmatched events AND idle-evicted unconsulted updates both emit") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrichOuter(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds",
      idleRetentionMs = Some(10L * 60 * 1000), // 10 min
      joinType = "full_outer")
    val q = out.writeStream.format("memory").queryName("temporal_fout")
      .outputMode("append").start()
    try {
      // key k: one update, never consulted; key b: one event, no updates
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
      evMem.addData(("b", ts("2026-01-01 10:05:00"), "eb"))
      q.processAllAvailable()
      // ripen eb (left-outer side of full)
      evMem.addData(("z", ts("2026-01-01 10:06:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 10:06:00"), "wm"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 10:07:00"), "wm2"))
      upMem.addData(("z", ts("2026-01-01 10:07:00"), "wm2"))
      q.processAllAvailable()
      val mid = spark.table("temporal_fout").as[TemporalJoin.TOutFull].collect()
      assert(mid.exists(o => o.data.contains("eb") && o.asof_data.isEmpty),
        s"full_outer must emit the unmatched event, got ${mid.toSeq}")
      assert(!mid.exists(_.data.isEmpty),
        s"u1 must not emit while its key is retained: ${mid.toSeq}")
      // push the watermark past k's idle deadline (10:00 + 10 min) and
      // trigger again so the idle timer fires -> state removed -> the
      // never-consulted u1 dies and emits
      evMem.addData(("z", ts("2026-01-01 10:20:00"), "wm3"))
      upMem.addData(("z", ts("2026-01-01 10:20:00"), "wm3"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 10:30:00"), "wm4"))
      upMem.addData(("z", ts("2026-01-01 10:30:00"), "wm4"))
      q.processAllAvailable()
      val fin = spark.table("temporal_fout").as[TemporalJoin.TOutFull].collect()
      val orphan = fin.filter(o => o.key == "k" && o.data.isEmpty)
      assert(orphan.length == 1 && orphan.head.asof_data.contains("u1"),
        s"idle eviction must emit the unconsulted update once, got ${fin.toSeq}")
      // and a later event for k now matches None (retention contract holds
      // under the outer family too)
      evMem.addData(("k", ts("2026-01-01 10:35:00"), "late"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 11:00:00"), "wm5"))
      upMem.addData(("z", ts("2026-01-01 11:00:00"), "wm5"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 11:30:00"), "wm6"))
      upMem.addData(("z", ts("2026-01-01 11:30:00"), "wm6"))
      q.processAllAvailable()
      val late = spark.table("temporal_fout").as[TemporalJoin.TOutFull].collect()
        .filter(_.data.contains("late"))
      assert(late.length == 1 && late.head.asof_data.isEmpty,
        s"post-eviction event must match None, got ${late.toSeq}")
    } finally q.stop()
  }

  test("temporal as-of right_outer: beyond-watermark updates drop silently; supersession orphans exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrichOuter(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds",
      joinType = "right_outer")
    val q = out.writeStream.format("memory").queryName("temporal_late_rout")
      .outputMode("append").start()
    try {
      // u2 arrives first and the watermark passes it
      upMem.addData(("k", ts("2026-01-01 10:10:00"), "u2"))
      evMem.addData(("z", ts("2026-01-01 10:30:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 10:30:00"), "wm"))
      q.processAllAvailable()
      // u1 arrives BEYOND the watermark (10:00 < wm 10:30): Spark's
      // watermark filter drops it before the state function ever sees
      // it — the standard streaming data-loss trade the operator's
      // scaladoc documents. It must NOT surface as an orphan (that
      // would fabricate a row the state machine never tracked).
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
      q.processAllAvailable()
      val got = spark.table("temporal_late_rout").as[TemporalJoin.TOutFull].collect()
      assert(!got.exists(o => o.asof_data.contains("u1")),
        s"beyond-watermark update must drop silently, got ${got.toSeq}")
      // u3 supersedes u2; once the watermark passes u3, u2 is dead and
      // unmatched — owed exactly one orphan row
      upMem.addData(("k", ts("2026-01-01 11:00:00"), "u3"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 12:00:00"), "wm2"))
      upMem.addData(("z", ts("2026-01-01 12:00:00"), "wm2"))
      q.processAllAvailable()
      upMem.addData(("k", ts("2026-01-01 12:10:00"), "u4")) // touch the key
      q.processAllAvailable()
      val again = spark.table("temporal_late_rout").as[TemporalJoin.TOutFull].collect()
        .filter(o => o.key == "k" && o.data.isEmpty)
      assert(again.count(_.asof_data.contains("u2")) == 1,
        s"superseded u2 must orphan exactly once, got ${again.toSeq}")
      assert(!again.exists(_.asof_data.contains("u1")), s"u1 fabricated: ${again.toSeq}")
    } finally q.stop()
  }

  test("temporal as-of right_outer: tolerance death reports the unconsulted floor (deferred to next invocation)") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrichOuter(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds",
      joinType = "right_outer",
      toleranceUs = Some(5L * 60 * 1000000L)) // 5 min window
    val q = out.writeStream.format("memory").queryName("temporal_tol_rout")
      .outputMode("append").start()
    try {
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
      q.processAllAvailable()
      // watermark to 10:20: u1 is now outside every future event's
      // 5-min window — dead. But k has no pending rows and no timer, so
      // the death is DETECTED on k's next invocation (the documented
      // deferred-emission contract).
      evMem.addData(("z", ts("2026-01-01 10:20:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 10:20:00"), "wm"))
      q.processAllAvailable()
      assert(spark.table("temporal_tol_rout").count() == 0,
        "tolerance death emitted without an invocation for the key")
      // touching the key detects the death; the new event is unmatched
      // (right_outer drops it) and the orphan u1 emits
      evMem.addData(("k", ts("2026-01-01 10:30:00"), "ek"))
      q.processAllAvailable()
      val got = spark.table("temporal_tol_rout").as[TemporalJoin.TOutFull].collect()
      assert(got.length == 1 && got.head.data.isEmpty &&
        got.head.asof_data.contains("u1"),
        s"expected exactly the u1 tolerance-death orphan, got ${got.toSeq}")
    } finally q.stop()
  }

  test("temporal as-of: ripening event matches before tolerance pruning evicts its floor") {
    implicit val sqlCtx = spark.sqlContext
    // watermark-expiry vs tolerance: an event whose floor update is
    // in-window for IT but already older than (watermark - tolerance)
    // when it ripens must still match — matching runs before the
    // tolerance prune within the batch. A later out-of-window event
    // then sees the pruned state and gets None, which tolerance
    // semantics would dictate anyway: pruning is invisible to results.
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrich(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds",
      toleranceUs = Some(30L * 60 * 1000000L)) // 30 min window
    val q = out.writeStream.format("memory").queryName("temporal_tol_prune")
      .outputMode("append").start()
    try {
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
      evMem.addData(("z", ts("2026-01-01 10:20:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 10:20:00"), "wm"))
      q.processAllAvailable()
      // event 25 min after u1 (in-window); still pending at wm=10:20
      evMem.addData(("k", ts("2026-01-01 10:25:00"), "in-window"))
      q.processAllAvailable()
      // push the watermark to 11:00 — when the event ripens, u1 is
      // 60 min < wm, i.e. outside EVERY future event's window and due
      // for eviction, but it is still the ripening event's valid match
      evMem.addData(("z", ts("2026-01-01 11:00:00"), "wm2"))
      upMem.addData(("z", ts("2026-01-01 11:00:00"), "wm2"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 11:30:00"), "wm3"))
      upMem.addData(("z", ts("2026-01-01 11:30:00"), "wm3"))
      q.processAllAvailable()
      val got = spark.table("temporal_tol_prune").as[TemporalJoin.TOut].collect()
      val inWindow = got.find(_.data == "in-window")
      assert(inWindow.exists(_.asof_data.contains("u1")),
        s"ripening event must match its in-window floor, got ${got.toSeq}")
      // a later event far outside the window: None (floor evicted AND
      // out-of-window — both paths agree)
      evMem.addData(("k", ts("2026-01-01 11:40:00"), "late"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 12:30:00"), "wm4"))
      upMem.addData(("z", ts("2026-01-01 12:30:00"), "wm4"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 13:00:00"), "wm5"))
      upMem.addData(("z", ts("2026-01-01 13:00:00"), "wm5"))
      q.processAllAvailable()
      val late = spark.table("temporal_tol_prune").as[TemporalJoin.TOut].collect()
        .find(_.data == "late")
      assert(late.exists(_.asof_data.isEmpty),
        s"out-of-window late event must emit None, got $late")
    } finally q.stop()
  }

  test("temporal as-of enrichment is microsecond-exact below the millisecond") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrich(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("temporal_us_out")
      .outputMode("append").start()
    try {
      // both updates and the event share one MILLISECOND; a conversion
      // that truncates to millis would match the event to the update
      // 500 microseconds in its future
      upMem.addData(("k", ts("2026-01-01 10:00:00.000100"), "early"),
                    ("k", ts("2026-01-01 10:00:00.000900"), "late"))
      evMem.addData(("k", ts("2026-01-01 10:00:00.000400"), "ev"))
      q.processAllAvailable()
      // push the watermark far past the event on both inputs
      evMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
      q.processAllAvailable()
      val got = spark.table("temporal_us_out").as[TemporalJoin.TOut].collect()
        .filter(_.data == "ev")
      assert(got.nonEmpty, "event never emitted")
      assert(got.head.asof_data.contains("early"),
        s"expected the .000100 update, got ${got.head.asof_data}")
      // the emitted timestamps keep their sub-millisecond digits
      assert(got.head.ts == ts("2026-01-01 10:00:00.000400"))
      assert(got.head.asof_ts.contains(ts("2026-01-01 10:00:00.000100")))
    } finally q.stop()
  }

  test("temporal as-of enrichment: equal-timestamp updates break ties deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val evMem = MemoryStream[(String, Timestamp, String)]
    val upMem = MemoryStream[(String, Timestamp, String)]
    val out = TemporalJoin.enrich(
      evMem.toDS().toDF("key", "ts", "data"),
      upMem.toDS().toDF("key", "ts", "data"),
      watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("temporal_tie_out")
      .outputMode("append").start()
    try {
      // two updates at the SAME microsecond, fed largest-first: without
      // the (ts, data) tie-break the winner depends on arrival order —
      // the batch operator pins this with an explicit tieBreak, and the
      // streaming twin must match (largest data wins)
      upMem.addData(("k", ts("2026-01-01 10:00:00"), "v2"),
                    ("k", ts("2026-01-01 10:00:00"), "v1"))
      evMem.addData(("k", ts("2026-01-01 10:05:00"), "ev"))
      q.processAllAvailable()
      evMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
      upMem.addData(("z", ts("2026-01-01 11:00:00"), "wm"))
      q.processAllAvailable()
      val got = spark.table("temporal_tie_out").as[TemporalJoin.TOut].collect()
        .filter(_.data == "ev")
      assert(got.nonEmpty && got.head.asof_data.contains("v2"),
        s"equal-ts tie must resolve to the largest data value, got ${got.map(_.asof_data).toSeq}")
    } finally q.stop()
  }

  test("temporal as-of enrichment: idle retention drops a quiet key's floor update") {
    implicit val sqlCtx = spark.sqlContext
    def run(retention: Option[Long], name: String): Option[String] = {
      val evMem = MemoryStream[(String, Timestamp, String)]
      val upMem = MemoryStream[(String, Timestamp, String)]
      val out = TemporalJoin.enrich(
        evMem.toDS().toDF("key", "ts", "data"),
        upMem.toDS().toDF("key", "ts", "data"),
        watermarkDelay = "0 seconds", idleRetentionMs = retention)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // k's only update, then nothing on k while the watermark moves
        // 30 min (>> the 1 min retention)
        upMem.addData(("k", ts("2026-01-01 10:00:00"), "u1"))
        evMem.addData(("z", ts("2026-01-01 10:00:00"), "wm0"))
        q.processAllAvailable()
        evMem.addData(("z", ts("2026-01-01 10:30:00"), "wm1"))
        upMem.addData(("z", ts("2026-01-01 10:30:00"), "wm1"))
        q.processAllAvailable()
        // extra tick so the retention timer (if armed) actually fires
        evMem.addData(("z", ts("2026-01-01 10:35:00"), "wm2"))
        upMem.addData(("z", ts("2026-01-01 10:35:00"), "wm2"))
        q.processAllAvailable()
        // now an event for k well after the idle window
        evMem.addData(("k", ts("2026-01-01 10:40:00"), "late-ev"))
        q.processAllAvailable()
        evMem.addData(("z", ts("2026-01-01 11:30:00"), "wm3"))
        upMem.addData(("z", ts("2026-01-01 11:30:00"), "wm3"))
        q.processAllAvailable()
        spark.table(name).as[TemporalJoin.TOut].collect()
          .find(_.data == "late-ev").flatMap(_.asof_data)
      } finally q.stop()
    }
    // default (no retention): the floor update is kept forever → match
    assert(run(None, "temporal_keep_out").contains("u1"))
    // 1-minute idle retention: state dropped before the event → None
    assert(run(Some(60000L), "temporal_ttl_out").isEmpty,
      "idle-retention key must be dropped and the late event match None")
  }

  test("incremental ingest: store stays unique; replayed content appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val q = Streams.incrementalIngest(docs, store, ckpt)
    try {
      // batch 1: two uniques + one in-batch duplicate
      mem.addData((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
      q.processAllAvailable()
      val s1 = spark.read.parquet(store).collect().map(_.getString(0))
      assert(s1.length == 2 && s1.distinct.length == 2, s1.mkString(","))
      // batch 2: one cross-batch duplicate + one novel
      mem.addData((4L, "beta text"), (5L, "gamma text"))
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == 3)
      // replay semantics (the restart-idempotence claim): the same
      // content arriving again appends nothing
      mem.addData((6L, "alpha text"), (7L, "gamma text"))
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == 3)
    } finally q.stop()
  }

  test("semantic ingest: dups vs the fixed index drop, first occupants survive, replay appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_semingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    // batch-static index: two occupied cells + one rep-less cell
    val index = Seq(
      (10L, Seq(1.0, 0.0), Some(100L), Some(Seq(1.0, 0.0))),
      (20L, Seq(0.0, 1.0), Some(200L), Some(Seq(0.0, 1.0))),
      (30L, Seq(-0.7, -0.7), None, None))
      .toDF("cell", "cv", "rep_id", "rep_v")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streams.semanticIngest(
      mem.toDS().toDF("vec_id", "v"), index, tau = 0.95, store, ckpt)
    try {
      // batch 1: vec 1 ≈ the cell-10 rep (cos ≈ 0.994 ≥ τ → dropped);
      // vec 2 lands in cell 10 but far from the rep (cos ≈ 0.83 → kept)
      mem.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.6, 0.4)))
      q.processAllAvailable()
      val s1 = spark.read.parquet(store).collect()
      assert(s1.map(_.getLong(0)).toSet == Set(2L), s1.mkString(","))
      // batch 2: vec 3 dups the cell-20 rep; vec 5 is the FIRST OCCUPANT
      // of the rep-less cell 30 (NULL rep → not a dup by contract)
      mem.addData((3L, Seq(0.05, 1.0)), (5L, Seq(-0.8, -0.6)))
      q.processAllAvailable()
      val s2 = spark.read.parquet(store).collect()
      assert(s2.map(_.getLong(0)).toSet == Set(2L, 5L), s2.mkString(","))
      assert(s2.find(_.getLong(0) == 5L).exists(_.getLong(1) == 30L))
      // replay the survivors verbatim (the restart-idempotence claim):
      // deterministic re-assignment anti-joins away — nothing appends
      mem.addData((2L, Seq(0.6, 0.4)), (5L, Seq(-0.8, -0.6)))
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == 2)
    } finally q.stop()
  }

  test("semantic ingest survives a kill/restart on its checkpoint without duplicating the store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_semrec").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val index = Seq((10L, Seq(1.0, 0.0), Some(100L), Some(Seq(1.0, 0.0))))
      .toDF("cell", "cv", "rep_id", "rep_v")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q1 = Streams.semanticIngest(
      mem.toDS().toDF("vec_id", "v"), index, tau = 0.95, store, ckpt)
    try {
      mem.addData((2L, Seq(0.6, 0.4)))
      q1.processAllAvailable()
      assert(spark.read.parquet(store).count() == 1)
    } finally q1.stop() // "kill": the daemon dies after committing batch 0
    // restart ON THE SAME CHECKPOINT with the same source; new data only
    val q2 = Streams.semanticIngest(
      mem.toDS().toDF("vec_id", "v"), index, tau = 0.95, store, ckpt)
    try {
      mem.addData((6L, Seq(0.7, 0.3)))
      q2.processAllAvailable()
      val rows = spark.read.parquet(store).collect()
      assert(rows.map(_.getLong(0)).toSet == Set(2L, 6L),
        s"restart must process only the new batch: ${rows.mkString(",")}")
      assert(rows.length == 2, "no duplicated appends across the restart")
    } finally q2.stop()
  }

  test("semantic ingest: compaction handoff — v2 swap keeps the store exactly-once even when v2 changes verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.llm.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft_semswap").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    // v1 built THROUGH semIndexFrom on the original corpus (two seeds:
    // 100 % 31 == 131 % 31 == 7 → two cells at e1/e2, reps themselves)
    val corpus = Seq((100L, Seq(1.0, 0.0)), (131L, Seq(0.0, 1.0)))
    val v1 = Similarity.semIndexFrom(corpus.toDF("vec_id", "v"), lloydIters = 1)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q1 = Streams.semanticIngest(
      mem.toDS().toDF("vec_id", "v"), v1, tau = 0.95, store, ckpt)
    try {
      // phase A under v1: vec 2 survives (cos to rep 100 ≈ 0.83 < τ),
      // vec 3 dups the cell rep 131 (cos ≈ 0.999 ≥ τ)
      mem.addData((2L, Seq(0.6, 0.4)), (3L, Seq(0.05, 1.0)))
      q1.processAllAvailable()
      assert(spark.read.parquet(store).collect().map(_.getLong(0)).toSet == Set(2L))
    } finally q1.stop()
    // COMPACTION: rebuild v2 from the GROWN store — the store's
    // vec_ids joined back to their vectors plus the original corpus —
    // through the same production build the fixture uses
    val storedIds = spark.read.parquet(store).select($"vec_id")
    val vecSource = (corpus :+ (2L, Seq(0.6, 0.4))).toDF("vec_id", "v")
    val grown = vecSource.join(
      storedIds.union(Seq(100L, 131L).toDF("vec_id")), Seq("vec_id"))
    val v2 = Similarity.semIndexFrom(grown, lloydIters = 2)
    // grown store's min vec_id is 2 ⇒ the single seed is vec 2: ONE
    // cell whose refined centroid drifts toward (0.3, 0.7) and whose
    // rep becomes 131 — v2 genuinely re-verdicts phase-A rows
    assert(v2.count() == 1 && v2.collect()(0).getAs[Long]("rep_id") == 131L)
    // swap: NEW stream, SAME store + checkpoint, index v2
    val q2 = Streams.semanticIngest(
      mem.toDS().toDF("vec_id", "v"), v2, tau = 0.95, store, ckpt)
    try {
      // replay vec 2 verbatim (at-least-once): under v2 it is now a
      // SURVIVOR of a different cell — the vec_id anti-join must still
      // drop it (no double-ingest across the handoff); vec 8 near-dups
      // v2's rep 131 (dropped — the compaction payoff: dups of corpus
      // content are now caught); vec 9 is novel (ingested once)
      mem.addData((2L, Seq(0.6, 0.4)), (8L, Seq(0.05, 0.99)), (9L, Seq(0.7, 0.3)))
      q2.processAllAvailable()
      val rows = spark.read.parquet(store).collect()
      assert(rows.map(_.getLong(0)).toSet == Set(2L, 9L),
        s"handoff must keep {2} (no loss), drop the replay and the dup, add 9: ${rows.mkString(",")}")
      assert(rows.length == 2, "each vec_id at most once across the swap")
    } finally q2.stop()
  }

  test("perceptual ingest: near-dups of stored images drop, novel patterns append, replay appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.llm.{MediaCodec, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_phingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val w = 200
    def strip(f: Int => Int): Array[Byte] = {
      val px = new Array[Byte](3 * w)
      for (i <- 0 until w; c <- 0 until 3)
        px(3 * i + c) = math.min(255, math.max(0, f(i))).toByte
      px
    }
    def row(id: Long, f: Int => Int) = Multimodal.MediaRow(
      id, "image", MediaCodec.encodePpm(strip(f), w, 1),
      w, 1, 16000, 0L, "ppm/p6")
    val ramp = (i: Int) => i
    val shifted = (i: Int) => math.max(0, i - 1)     // dHash-near ramp
    val reversed = (i: Int) => 255 - i
    val triangle = (i: Int) => { val p = i % 32; 8 * (if (p < 16) p else 32 - p) }
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.perceptualIngest(mem.toDS(), store, ckpt)
    try {
      // batch 1: two distinct patterns — both novel (empty store)
      mem.addData(row(0L, ramp), row(3L, reversed))
      q.processAllAvailable()
      def ids() = spark.read.parquet(store)
        .select($"media_id").distinct().as[Long].collect().toSet
      assert(ids() == Set(0L, 3L), s"batch 1: ${ids()}")
      // batch 2: a 1-px shift of the stored ramp is a perceptual
      // near-dup (dropped); the triangle is genuinely new (kept)
      mem.addData(row(1L, shifted), row(2L, triangle))
      q.processAllAvailable()
      assert(ids() == Set(0L, 2L, 3L), s"batch 2: ${ids()}")
      // replay survivors verbatim: deterministic signatures anti-join
      // away — nothing appends (12 rows = 3 images x 4 chunk rows)
      mem.addData(row(0L, ramp), row(2L, triangle))
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == 12)
    } finally q.stop()
  }

  test("perceptual ingest, audio fingerprint: shifted clips drop, novel envelopes append, replay inert") {
    // the r16 fingerprint knob: the SAME ingest machinery and store
    // schema, with audioSigs supplying the four chunks — the audio
    // member of the dedup×media matrix at ingest
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.llm.{MediaCodec, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_afingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val nf = 130
    def pcm(a: Int => Int): Array[Byte] = {
      val d = new Array[Byte](nf * 64 * 2)
      for (f <- 0 until nf; i <- 0 until 64) {
        val v = a(f)
        d(2 * (f * 64 + i)) = (v & 0xFF).toByte
        d(2 * (f * 64 + i) + 1) = ((v >> 8) & 0xFF).toByte
      }
      d
    }
    def row(id: Long, a: Int => Int) = Multimodal.MediaRow(
      id, "audio", MediaCodec.encodeWav(pcm(a), 16000), 0, 0, 16000, 0L, "wav/pcm16")
    val ramp = (f: Int) => 10 * f
    val shifted = (f: Int) => 10 * math.max(0, f - 1)
    val reversed = (f: Int) => 10 * (nf - 1 - f)
    val tri = (f: Int) => { val p = f % 32; 80 * (if (p < 16) p else 32 - p) }
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.perceptualIngest(mem.toDS(), store, ckpt,
      fingerprint = Multimodal.audioSigs)
    try {
      mem.addData(row(0L, ramp), row(3L, reversed))
      q.processAllAvailable()
      def ids() = spark.read.parquet(store)
        .select($"media_id").distinct().as[Long].collect().toSet
      assert(ids() == Set(0L, 3L), s"batch 1: ${ids()}")
      // a 1-frame time shift of the stored ramp is a perceptual
      // near-dup (dropped); the triangle envelope is new (kept)
      mem.addData(row(1L, shifted), row(2L, tri))
      q.processAllAvailable()
      assert(ids() == Set(0L, 2L, 3L), s"batch 2: ${ids()}")
      // replay survivors verbatim — nothing appends
      mem.addData(row(0L, ramp), row(2L, tri))
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == 12)
    } finally q.stop()
  }

  test("decontamination ingest: contaminated docs gate, short docs pass clean, flag mode audits, replay inert") {
    // the fourth ingest-family member (VERDICT r16 item 4): 13-gram
    // containment against a batch-static benchmark gram-hash store,
    // drop-or-flag semantics, exactly-once under replay
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dcingest").toFile
    val benchGram = (0 until 13).map(i => s"b$i").mkString(" ")
    val bench = Seq(benchGram).toDF("g").select(xxhash64($"g").as("h"))
    val clean13 = (0 until 13).map(i => s"c$i").mkString(" ")
    def run(mode: String): Set[(Long, Long, Long, Boolean)] = {
      val store = new java.io.File(dir, s"store_$mode").getPath
      val ckpt = new java.io.File(dir, s"ckpt_$mode").getPath
      val mem = MemoryStream[(Long, String)]
      val q = Streams.decontamIngest(
        mem.toDS().toDF("doc_id", "text"), bench, store, ckpt, mode)
      try {
        // batch 1: clean long doc, contaminated doc (benchmark gram
        // verbatim inside), short doc (no 13-gram surface → clean)
        mem.addData((1L, clean13), (2L, "intro words " + benchGram), (3L, "tiny doc"))
        q.processAllAvailable()
        // batch 2: replay docs 1 and 3 verbatim + one novel clean doc —
        // the anti-join must keep the replays out
        mem.addData((1L, clean13), (3L, "tiny doc"),
          (4L, (0 until 13).map(i => s"d$i").mkString(" ")))
        q.processAllAvailable()
        spark.read.parquet(store).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
            r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated"))).toSet
      } finally q.stop()
    }
    assert(run("drop") == Set(
      (1L, 1L, 0L, false), (3L, 0L, 0L, false), (4L, 1L, 0L, false)),
      "drop mode: the contaminated doc never reaches the store; shorts pass")
    assert(run("flag") == Set(
      (1L, 1L, 0L, false), (2L, 3L, 1L, true), (3L, 0L, 0L, false),
      (4L, 1L, 0L, false)),
      "flag mode: everything lands exactly once, the verdict on the row")
    // VERDICT r17 item 6: the flag-mode audit trail matches q258's
    // batch answer — n_distinct_hits and a sorted hit-hash sample ride
    // the store row, so "flagged on which benchmark gram?" is a join
    // against the suite, not a batch re-scan
    val benchHash = Seq(benchGram).toDF("g")
      .select(xxhash64($"g")).collect()(0).getLong(0)
    val audit = spark.read.parquet(new java.io.File(dir, "store_flag").getPath)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_distinct_hits"), r.getAs[Seq[Long]]("hit_sample"))).toMap
    assert(audit(2L) == ((1L, Seq(benchHash))),
      s"the flagged row names the benchmark gram hash that hit: $audit")
    assert(audit(1L) == ((0L, Seq.empty[Long])) && audit(3L) == ((0L, Seq.empty[Long])),
      s"clean rows carry an empty sample, not nulls: $audit")
  }

  test("decontamination ingest: two same-doc_id payloads in one batch do not blend verdicts") {
    // ADVICE r17: without an in-batch dedup, gramWindows aggregates
    // grams across BOTH payloads and the verdict row describes neither
    // document. The incrementalIngest discipline: one deterministic
    // winner per doc_id (smallest text).
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dcblend").toFile
    val benchGram = (0 until 13).map(i => s"b$i").mkString(" ")
    val bench = Seq(benchGram).toDF("g").select(xxhash64($"g").as("h"))
    val textA = (0 until 13).map(i => s"a$i").mkString(" ") // clean, sorts first
    val textB = "zz " + benchGram                           // contaminated
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val mem = MemoryStream[(Long, String)]
    val q = Streams.decontamIngest(
      mem.toDS().toDF("doc_id", "text"), bench, store, ckpt, "flag")
    try {
      mem.addData((7L, textA), (7L, textB))
      q.processAllAvailable()
      val rows = spark.read.parquet(store).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated")))
      assert(rows.toSeq == Seq((7L, 1L, 0L, false)),
        s"one verdict row, the deterministic winner's own gram stats: ${rows.toSeq}")
    } finally q.stop()
  }

  test("decontamination ingest: benchmark-suite update handoff — same store+checkpoint, exactly-once, new suite judges new docs") {
    // VERDICT r17 item 3 — the q250/q254 handoff discipline applied to
    // the decontamination state: a suite update is stop + restart with
    // the NEW benchmark gram-hash set against the SAME store and
    // checkpoint. Policy (stated and pinned): admission is final —
    // docs admitted under the old suite are not re-judged by the swap
    // (a retroactive sweep of the store is q258's batch scan); docs
    // never admitted are judged by whichever suite is live when they
    // arrive.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dcswap").toFile
    val gramA = (0 until 13).map(i => s"a$i").mkString(" ")
    val gramB = (0 until 13).map(i => s"b$i").mkString(" ")
    val benchV1 = Seq(gramA).toDF("g").select(xxhash64($"g").as("h"))
    val benchV2 = Seq(gramB).toDF("g").select(xxhash64($"g").as("h"))
    val clean = (0 until 13).map(i => s"c$i").mkString(" ")
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val mem = MemoryStream[(Long, String)]
    def storedIds() =
      spark.read.parquet(store).collect().map(_.getAs[Long]("doc_id")).toSeq
    // phase A under suite v1: doc 1 clean (admitted), doc 2 carries
    // gramA (dropped under v1)
    val q1 = Streams.decontamIngest(
      mem.toDS().toDF("doc_id", "text"), benchV1, store, ckpt, "drop")
    try {
      mem.addData((1L, clean), (2L, "x " + gramA))
      q1.processAllAvailable()
      assert(storedIds().sorted == Seq(1L), s"phase A: ${storedIds()}")
    } finally q1.stop()
    // SUITE UPDATE: new stream, suite v2, same store + checkpoint
    val q2 = Streams.decontamIngest(
      mem.toDS().toDF("doc_id", "text"), benchV2, store, ckpt, "drop")
    try {
      // replay doc 1 verbatim (inert — the doc_id anti-join holds
      // across the swap); doc 2 retries: gramA is CLEAN under v2, so
      // it now admits (it was never in the store, so nothing blocks
      // it); doc 4 carries gramB — contaminated under the NEW suite,
      // dropped; doc 5 is novel and clean
      mem.addData((1L, clean), (2L, "x " + gramA),
        (4L, "y " + gramB), (5L, (0 until 13).map(i => s"d$i").mkString(" ")))
      q2.processAllAvailable()
      assert(storedIds().sorted == Seq(1L, 2L, 5L),
        s"swap: keep 1 once, admit 2 under v2, drop 4, add 5: ${storedIds()}")
    } finally q2.stop()
  }

  test("decontamination store: mixed-era parquet files read with every audit column via readDecontamStore") {
    // ADVICE r18: a store that predates the 6-column verdict carries
    // 4-column files alongside current ones; a bare read lets one
    // footer drive inference and can silently drop the audit columns.
    // readDecontamStore merges footers — old rows surface with nulls.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dcmix").toFile
    val store = new java.io.File(dir, "store").getPath
    Seq((1L, 5L, 0L, false))
      .toDF("doc_id", "n_grams", "n_hits", "contaminated")
      .write.mode("append").parquet(store)
    Seq((2L, 7L, 2L, 2L, Seq(11L, 42L), true))
      .toDF("doc_id", "n_grams", "n_hits", "n_distinct_hits",
        "hit_sample", "contaminated")
      .write.mode("append").parquet(store)
    val merged = Streams.readDecontamStore(spark, store)
    assert(Set("n_distinct_hits", "hit_sample")
      .subsetOf(merged.columns.toSet),
      s"merged schema must carry the r18 audit columns: ${merged.columns.toSeq}")
    val byId = merged.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("n_distinct_hits")),
      "pre-r18 rows read the new audit columns as null, not dropped")
    assert(byId(2L).getAs[Long]("n_distinct_hits") == 2L)
  }

  test("perceptual ingest, audio frame fingerprint: shifted copies add zero frames; the store feeds the aligner") {
    // q275's streaming composition: audioFrameSigsPacked rides the
    // SAME ingest machinery and store schema as the video member — a
    // whole-frame time-shifted copy of an ingested clip contributes
    // zero novel frames, and the persisted store is directly
    // consumable by the incremental aligner, which recovers the shift
    // (alignment must run at ingest time: post-gate the copy's
    // evidence is gone)
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{MediaCodec, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_afingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val nf = 8
    def pcm(clip: Int, frames: Seq[Int]): Array[Byte] = {
      val d = new Array[Byte](frames.length * 64 * 2)
      for ((f, p) <- frames.zipWithIndex) {
        val rnd = new scala.util.Random(clip * 10007 + f)
        for (i <- 0 until 64) {
          val v = rnd.nextInt(201) - 100
          d(2 * (p * 64 + i)) = (v & 0xFF).toByte
          d(2 * (p * 64 + i) + 1) = ((v >> 8) & 0xFF).toByte
        }
      }
      d
    }
    def row(id: Long, clip: Int, frames: Seq[Int]) = Multimodal.MediaRow(
      id, "audio", MediaCodec.encodeWav(pcm(clip, frames), 16000),
      0, 0, 16000, 0L, "wav/pcm16")
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.perceptualIngest(mem.toDS(), store, ckpt,
      fingerprint = Multimodal.audioFrameSigsPacked)
    try {
      def clips() = spark.read.parquet(store)
        .select(shiftright($"media_id", Multimodal.FrameIdBits))
        .distinct().as[Long].collect().toSet
      def frameRows() = spark.read.parquet(store).count()
      // batch 1: two distinct clips
      mem.addData(row(0L, 0, 0 until nf), row(3L, 3, 0 until nf))
      q.processAllAvailable()
      assert(clips() == Set(0L, 3L), s"batch 1: ${clips()}")
      assert(frameRows() == 2 * nf * 4)
      // batch 2: a 2-frame-trimmed copy of clip 0 — every kept frame's
      // signature is already in the store, zero novel rows
      mem.addData(row(1L, 0, 2 until nf))
      q.processAllAvailable()
      assert(clips() == Set(0L, 3L), s"batch 2: ${clips()}")
      assert(frameRows() == 2 * nf * 4)
      // the persisted store feeds the aligner: a new trimmed copy
      // aligns against the store with the trim recovered exactly
      val storeSigs = spark.read.parquet(store)
        .select("media_id", "v0", "v1", "v2", "v3").distinct()
      val freshSigs = Multimodal.audioFrameSigsPacked(
        spark.createDataset(Seq(row(7L, 0, 2 until nf))))
      val verdict = Multimodal.alignIncrementFrom(storeSigs, freshSigs)
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
          (r.getAs[Long]("n_frames_matched"), r.getAs[Int]("modal_off"),
            r.getAs[Long]("max_run"))).toMap
      assert(verdict.contains((0L, 7L)), s"verdicts: $verdict")
      assert(verdict((0L, 7L)) == (((nf - 2).toLong, -2, (nf - 2).toLong)),
        s"shifted copy must align against the store: ${verdict((0L, 7L))}")
    } finally q.stop()
  }

  test("perceptual ingest, video fingerprint: trimmed/re-encoded clips add zero frames, novel clips append, replay inert") {
    // the r17 video member of the ingest family: videoSigs' fid-packed
    // per-frame signature table rides the SAME machinery and store
    // schema — a trimmed or re-encoded copy of an ingested clip
    // contributes zero novel frames; a distinct clip's frames all land
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{MediaCodec, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_vfingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val W = 64
    def frame(seed: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      Array.fill[Byte](W)(rnd.nextInt(256).toByte)
    }
    val aFrames = (0 until 10).map(f => frame(1000 + f))
    def row(id: Long, fs: Seq[Array[Byte]], fps: Int = 1, extra: String = "") =
      Multimodal.MediaRow(id, "video",
        MediaCodec.encodeY4m(fs, W, 1, fpsNum = fps, extra = extra),
        W, 1, 16000, fs.length * 1000L, "y4m/mono")
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.perceptualIngest(mem.toDS(), store, ckpt,
      fingerprint = Multimodal.videoSigs)
    try {
      def clips() = spark.read.parquet(store)
        .select(shiftright($"media_id", Multimodal.FrameIdBits))
        .distinct().as[Long].collect().toSet
      def frameRows() = spark.read.parquet(store).count()
      // batch 1: clip 0 and a distinct clip 3 — both novel
      mem.addData(row(0L, aFrames),
        row(3L, (0 until 10).map(f => frame(9000 + f))))
      q.processAllAvailable()
      assert(clips() == Set(0L, 3L), s"batch 1: ${clips()}")
      assert(frameRows() == 2 * 10 * 4) // 2 clips x 10 frames x 4 chunk rows
      // batch 2: a trimmed copy of clip 0 (every kept frame near-dups
      // the store → ZERO novel frames); clip 2 is genuinely new
      mem.addData(row(1L, aFrames.drop(2)),
        row(2L, (0 until 6).map(f => frame(5000 + f))))
      q.processAllAvailable()
      assert(clips() == Set(0L, 2L, 3L), s"batch 2: ${clips()}")
      assert(frameRows() == (10 + 10 + 6) * 4)
      // batch 3: a RE-ENCODED copy of clip 0 (same planes, different
      // header) drops; replaying clip 2 verbatim is inert
      mem.addData(row(4L, aFrames, fps = 30, extra = " Xcopy"),
        row(2L, (0 until 6).map(f => frame(5000 + f))))
      q.processAllAvailable()
      assert(clips() == Set(0L, 2L, 3L), s"batch 3: ${clips()}")
      assert(frameRows() == (10 + 10 + 6) * 4)
      // q271 composition (VERDICT r18 item 4): the PERSISTED signature
      // store is directly consumable by the incremental aligner — a
      // newly arriving trimmed copy aligns against the store BEFORE
      // the dedup gate would drop its frames (which is exactly why
      // alignment must run at ingest time: the copy contributes zero
      // novel rows, so post-ingest the evidence is gone)
      val storeSigs = spark.read.parquet(store)
        .select("media_id", "v0", "v1", "v2", "v3").distinct()
      val freshSigs = Multimodal.videoSigs(
        spark.createDataset(Seq(row(7L, aFrames.drop(2)))))
      val verdict = Multimodal.alignIncrementFrom(storeSigs, freshSigs)
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
          (r.getAs[Long]("n_frames_matched"), r.getAs[Int]("modal_off"),
            r.getAs[Long]("max_run"))).toMap
      assert(verdict.contains((0L, 7L)), s"verdicts: $verdict")
      assert(verdict((0L, 7L)) == ((8L, -2, 8L)),
        s"trimmed copy must align against the store: ${verdict((0L, 7L))}")
    } finally q.stop()
  }

  test("perceptual ingest: band caps COUNT their drops; a flooded store bucket admits forever, visibly") {
    // ADVICE r16 / VERDICT r16 item 5: no silent caps at ingest. A
    // degenerate chunk bucket (here: FLAT strips — every pixel equal,
    // so all 64 dHash gradient bits are 0 and all four chunks are 0)
    // wider than Dedup.MaxBucketWidth is dropped from the band join on
    // whichever side it floods; both sides must COUNT the drop on
    // their named observe metrics, and the store side's admit-forever
    // consequence (a flooded pattern's future near-dups all ingest) is
    // pinned as the documented trade, not an accident.
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.{DropMetrics, MediaCodec, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_capingest").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val w = 200
    def strip(f: Int => Int): Array[Byte] = {
      val px = new Array[Byte](3 * w)
      for (i <- 0 until w; c <- 0 until 3)
        px(3 * i + c) = math.min(255, math.max(0, f(i))).toByte
      px
    }
    def row(id: Long, f: Int => Int) = Multimodal.MediaRow(
      id, "image", MediaCodec.encodePpm(strip(f), w, 1),
      w, 1, 16000, 0L, "ppm/p6")
    val flood = graft.llm.Dedup.MaxBucketWidth + 1 // 65: one past the cap
    DropMetrics.lastReports.remove(DropMetrics.IngestBatchDrops)
    DropMetrics.lastReports.remove(DropMetrics.IngestStoreDrops)
    val mem = MemoryStream[Multimodal.MediaRow]
    val q = Streams.perceptualIngest(mem.toDS(), store, ckpt)
    try {
      def ids() = spark.read.parquet(store)
        .select($"media_id").distinct().as[Long].collect().toSet
      // batch 1 seeds the store (empty store → no cap runs, all novel)
      mem.addData(row(0L, i => i))
      q.processAllAvailable()
      assert(ids() == Set(0L))
      // batch 2: 65 identical FLAT strips flood the BATCH side — all
      // four (c, 0) buckets exceed the cap, are dropped from the dup
      // join, and every flat image is admitted (judged against the
      // store only; the store has just the ramp)
      mem.addData((100L until (100L + flood)).map(id => row(id, _ => 7)): _*)
      q.processAllAvailable()
      org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark)
      val batchDrops = DropMetrics.lastReports(DropMetrics.IngestBatchDrops)
      assert(batchDrops("dropped_buckets") == 4L, s"batch side: $batchDrops")
      assert(batchDrops("dropped_rows") == 4L * flood, s"batch side: $batchDrops")
      assert(batchDrops("dropped_pairs") == 4L * flood * (flood - 1) / 2,
        s"batch side: $batchDrops")
      assert(ids().size == 1 + flood, "the flooded batch is admitted, not lost")
      // batch 3: one more flat strip. The STORE bucket is now over-wide
      // → dropped from the store side (counted), so the newcomer bands
      // against nothing and is ADMITTED despite 65 stored twins — the
      // documented admit-forever consequence, now visible in metrics
      mem.addData(row(500L, _ => 7))
      q.processAllAvailable()
      org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark)
      val storeDrops = DropMetrics.lastReports(DropMetrics.IngestStoreDrops)
      assert(storeDrops("dropped_buckets") == 4L, s"store side: $storeDrops")
      assert(storeDrops("dropped_rows") == 4L * flood, s"store side: $storeDrops")
      assert(storeDrops("dropped_pairs") == 4L * flood * (flood - 1) / 2,
        s"store side: $storeDrops")
      assert(ids().contains(500L), "admit-forever: the flooded pattern ingests")
    } finally q.stop()
  }

  test("streaming transition counts match the batch pairwise derivation") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.TransEvent
    val mem = MemoryStream[TransEvent]
    val q = Streams.transitionCounts(mem.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("complete").start()
    try {
      def e(id: Long, u: Long, t: String, time: String) =
        TransEvent(u, id, ts(time), t)
      // batch 1: user 1 chains view->click->purchase; user 2 starts
      mem.addData(
        e(1, 1, "view", "2026-01-01 10:00:00"),
        e(2, 1, "click", "2026-01-01 10:10:00"),
        e(3, 1, "purchase", "2026-01-01 10:20:00"),
        e(4, 2, "view", "2026-01-01 10:00:00"))
      q.processAllAvailable()
      // batch 2: user 1 breaks the session (65-min gap — NO transition),
      // then chains again; user 2 continues across the batch boundary
      // (state carried: view->click with only the remembered triple)
      mem.addData(
        e(5, 1, "view", "2026-01-01 11:25:00"),
        e(6, 1, "click", "2026-01-01 11:30:00"),
        e(7, 2, "click", "2026-01-01 10:25:00"))
      q.processAllAvailable()
      val got = spark.table("trans_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val expected = Map(
        ("view", "click") -> 3L,     // u1 b1, u1 b2, u2 cross-batch
        ("click", "purchase") -> 1L) // u1 b1; the 65-min gap pairs nothing
      assert(got == expected, s"got $got")
    } finally q.stop()
  }

  /** The whole daemon loop of `scripts/starry-daemon.sh:171-226` as ONE
    * checkpointed chain (the checkpoint-recovery test above covers the
    * lifecycle operator alone; this replays the reference's §3.3
    * lifecycle END-TO-END): queued plan docs → [[Streams.queueStream]] single-
    * flight admission (maxFilesPerTrigger=1) → the "executor" emits each
    * admitted plan's tool events (pulsar-auto.sh stand-in, idempotent by
    * filename) → [[Lifecycle.statusStream]] folds them into statuses →
    * [[queue.QueueOps.pulse]] projects their rollup. Both queries are KILLED mid-run
    * and restarted on their checkpoints with a new plan queued while
    * "down"; the end state must be exactly-once: every plan admitted
    * once, every status correct, pulse identical to the batch
    * event-sourcing replay of the full log. */
  test("daemon end-to-end: admission → lifecycle → pulse across a kill/restart") {
    import java.nio.file.Files
    val queueDir = Files.createTempDirectory("daemon_q").toFile
    val evDir = Files.createTempDirectory("daemon_ev").toFile
    val ckptQ = Files.createTempDirectory("daemon_cq").toFile
    val ckptL = Files.createTempDirectory("daemon_cl").toFile

    def enqueue(id: String): Unit =
      Files.writeString(new java.io.File(queueDir, s"$id.json").toPath,
        s"""{"id":"$id","title":"t","project":"proj","projectPath":"/w/proj",""" +
          s""""planType":"feature","status":"queued","executionMode":"background",""" +
          s""""path":"queued/$id.md","createdAt":"2026-01-01T00:00:00.000Z",""" +
          """"phases":1,"parallelGroups":1}""")

    // per-plan distinct event times so started_at/completed_at are
    // assertable per plan (minute = plan index)
    val planMinute = Map("plan-a" -> 10, "plan-b" -> 20, "plan-c" -> 30)
    def emitEvents(id: String): Unit = {
      val m = planMinute(id)
      val evs = Seq(
        ToolEvent(id, 1, "proj", "Session", None, "start", ts(f"2026-01-01 09:$m%02d:00")),
        ToolEvent(id, 1, "proj", "Edit", Some("a.ts"), "tool", ts(f"2026-01-01 09:$m%02d:10")),
        ToolEvent(id, 1, "proj", "Bash", None, "tool", ts(f"2026-01-01 09:$m%02d:20")),
        ToolEvent(id, 1, "proj", "", None, "stop_completed", ts(f"2026-01-01 09:$m%02d:30")))
      Files.writeString(new java.io.File(evDir, s"$id.json").toPath,
        evs.toDS().toJSON.collect().mkString("\n"))
    }

    val admittedBatches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def startAdmission() =
      Streams.queueStream(spark, queueDir.getAbsolutePath).writeStream
        .option("checkpointLocation", ckptQ.getAbsolutePath)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = b.select("id").collect().map(_.getString(0)).toSeq
          admittedBatches.add(ids)
          ids.foreach(emitEvents)
        }.start()

    val statusTbl =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), PhaseStatus]()
    def startLifecycle() = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[ToolEvent]].schema)
        .json(evDir.getAbsolutePath).as[ToolEvent]
      Lifecycle.statusStream(src, watermarkDelay = "0 seconds").writeStream
        .outputMode("update")
        .option("checkpointLocation", ckptL.getAbsolutePath)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[PhaseStatus], _: Long) =>
          b.collect().foreach(s => statusTbl.put((s.plan_id, s.phase), s))
        }.start()
    }

    // run 1: two plans queued, admitted, executed — then KILL both
    enqueue("plan-a"); enqueue("plan-b")
    val qa1 = startAdmission(); qa1.processAllAvailable()
    val ql1 = startLifecycle(); ql1.processAllAvailable()
    qa1.stop(); ql1.stop()
    assert(statusTbl.size == 2, s"pre-kill statuses: ${statusTbl.keySet()}")

    // daemon "down": a new plan arrives; then restart on the checkpoints
    enqueue("plan-c")
    val qa2 = startAdmission(); qa2.processAllAvailable()
    val ql2 = startLifecycle(); ql2.processAllAvailable()
    qa2.stop(); ql2.stop()

    // single-flight admission held across the restart: one plan per
    // trigger, each admitted exactly once
    val batches = admittedBatches.toArray(Array.empty[Seq[String]]).filter(_.nonEmpty)
    assert(batches.forall(_.length == 1),
      s"a trigger admitted more than one plan: ${batches.toSeq}")
    assert(batches.flatten.sorted.toSeq == Seq("plan-a", "plan-b", "plan-c"),
      s"admissions: ${batches.toSeq}")

    // lifecycle end state: every plan completed with its exact claim,
    // counter, and terminal timestamps
    planMinute.foreach { case (id, m) =>
      val st = statusTbl.get((id, 1))
      assert(st != null, s"$id missing from the status table")
      assert(st.status == "completed" && st.tool_count == 2, s"$id: $st")
      assert(st.started_at == ts(f"2026-01-01 09:$m%02d:00"))
      assert(st.completed_at.contains(ts(f"2026-01-01 09:$m%02d:30")))
    }

    // event-sourcing parity: the streamed chain's end state equals the
    // batch replay of the full event log (q44's fold) — kill/restart
    // left no divergence
    val replayedDs = Lifecycle.replayBatch(
      spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[ToolEvent]].schema)
        .json(evDir.getAbsolutePath).as[ToolEvent])
    val replayed = replayedDs.collect().map(s => (s.plan_id, s.phase) -> s).toMap
    assert(replayed.keySet == scala.jdk.CollectionConverters
      .SetHasAsScala(statusTbl.keySet()).asScala.toSet)
    replayed.foreach { case (k, r) =>
      val s = statusTbl.get(k)
      assert(s.status == r.status && s.tool_count == r.tool_count &&
        s.started_at == r.started_at && s.completed_at == r.completed_at,
        s"stream/batch divergence at $k: $s vs $r")
    }

    // pulse rollup over the chain's end state (orbiter's 30s watcher) —
    // fed by the replay Dataset, which the block above just proved
    // record-identical to the streamed status table
    val pulse = queue.QueueOps.pulse(queue.QueueOps.statusRollup(replayedDs))
      .collect().map(r => r.getAs[String]("plan_id") -> r).toMap
    planMinute.keys.foreach { id =>
      val p = pulse(id)
      assert(p.getAs[Long]("n_phases") == 1 && p.getAs[Long]("n_completed") == 1 &&
        p.getAs[Long]("n_active") == 0 && p.getAs[Long]("total_tools") == 2,
        s"pulse($id): $p")
    }
  }

  test("transition pairs: late out-of-order cross-batch arrival is inert") {
    implicit val sqlCtx = spark.sqlContext
    import Streams.TransEvent
    val mem = MemoryStream[TransEvent]
    val q = Streams.transitionCounts(mem.toDS())
      .writeStream.format("memory").queryName("trans_ooo_out")
      .outputMode("complete").start()
    try {
      def e(id: Long, t: String, time: String) = TransEvent(1L, id, ts(time), t)
      mem.addData(e(1, "view", "2026-01-01 10:00:00"),
        e(2, "click", "2026-01-01 10:10:00"))
      q.processAllAvailable()
      // a LATE arrival older than the remembered state: must emit no
      // (click -> purchase) reversed-time pair and must NOT regress the
      // stored state to 09:55
      mem.addData(e(3, "purchase", "2026-01-01 09:55:00"))
      q.processAllAvailable()
      // proof the state survived: the next in-order event pairs with
      // the 10:10 click, not with the stale 09:55 purchase
      mem.addData(e(4, "purchase", "2026-01-01 10:20:00"))
      q.processAllAvailable()
      val got = spark.table("trans_ooo_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == Map(("view", "click") -> 1L, ("click", "purchase") -> 1L),
        s"got $got")
    } finally q.stop()
  }

  /** Feeds one batch of events through [[Streams.transitionCounts]] and
    * returns the (src, dst) -> n matrix. */
  private def transitionMatrix(name: String,
      evs: Seq[Streams.TransEvent]): Map[(String, String), Long] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.TransEvent]
    val q = Streams.transitionCounts(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    } finally q.stop()
  }

  private def atMicros(s: String, micros: Int): Timestamp = {
    val t = ts(s); t.setNanos(micros * 1000); t
  }

  test("transition pairs order events within one millisecond by time, not by id") {
    // q180 orders by (ts, event_id) at microsecond precision: the view
    // at .000100 precedes the click at .000900 although its id is larger
    val got = transitionMatrix("trans_sub_ms_order", Seq(
      Streams.TransEvent(1L, 1L, atMicros("2026-01-01 10:00:00", 900), "click"),
      Streams.TransEvent(1L, 2L, atMicros("2026-01-01 10:00:00", 100), "view")))
    assert(got == Map(("view", "click") -> 1L), s"got $got")
  }

  test("transition pairs break the session on a gap 800 µs past 30 minutes") {
    // 10:00:00.000100 -> 10:30:00.000900 is 30 min + 800 µs: q180 starts
    // a new session (gap > 30 min in micros), so no view -> click pair;
    // the click -> purchase 10 min later still pairs
    val got = transitionMatrix("trans_sub_ms_gap", Seq(
      Streams.TransEvent(1L, 1L, atMicros("2026-01-01 10:00:00", 100), "view"),
      Streams.TransEvent(1L, 2L, atMicros("2026-01-01 10:30:00", 900), "click"),
      Streams.TransEvent(1L, 3L, ts("2026-01-01 10:40:00"), "purchase")))
    assert(got == Map(("click", "purchase") -> 1L), s"got $got")
  }
}
