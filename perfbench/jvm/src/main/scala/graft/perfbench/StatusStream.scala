package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.model.{PhaseStatus, ToolEvent}
import graft.streaming.Lifecycle

/** status-stream: seeded tool events appended to a MemoryStream on a
  * fixed schedule, folded by `Lifecycle.statusStream`, each emitted
  * status timestamped by a foreachBatch sink.
  *
  * Event time runs `Speedup` times faster than the wall clock, so the
  * lifecycle's 10-minute stall rule fires within a run; an event's
  * wall-clock creation time is its scheduled due time, so a late
  * generator counts against the lag. Schedule files (from gen.py): one
  * event per line, `due_ms deliver_ms key plan phase project kind tool`.
  *
  * Phases: paced (the schedule replayed at its offered rate; status lag
  * measured), drain (fixed pre-loaded backlogs appended at once; events
  * folded per second), flush (one far-future event moves the watermark
  * past every open key, so every non-terminal key reports `stalled`).
  * The final status per key must equal `Lifecycle.replayBatch` over the
  * same events, with non-terminal keys stalled. */
object StatusStream {
  val Speedup = 1000L
  val EpochMs = 1767225600000L // 2026-01-01
  val Watermark = "5 minutes"
  val TickMs = 50L

  final case class Ev(dueMs: Double, deliverMs: Double, key: Int, e: ToolEvent)

  def load(path: String, baseMs: Double): Vector[Ev] =
    Files.readAllLines(Paths.get(path)).asScala.toVector.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val due = f(0).toDouble
      val at = new Timestamp(EpochMs + math.round((baseMs + due) * Speedup))
      Ev(due, f(1).toDouble, f(2).toInt,
        ToolEvent(f(3), f(4).toInt, f(5), f(7), None, f(6), at))
    }

  final class StatusTable {
    val latest = new ConcurrentHashMap[(String, Int), PhaseStatus]()
    val created = new ConcurrentHashMap[(String, Int, Long), java.lang.Long]()
    val lagsMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val stalled = ConcurrentHashMap.newKeySet[(String, Int)]()
    @volatile var measuring = false
    def emit(rows: Array[PhaseStatus]): Unit = {
      val now = Clock.us()
      rows.foreach { s =>
        latest.put((s.plan_id, s.phase), s)
        if (s.status == "stalled") stalled.add((s.plan_id, s.phase))
        else if (measuring) {
          val c = created.get((s.plan_id, s.phase, s.updated_at.getTime))
          if (c != null) lagsMs.add((now - c) / 1000.0)
        }
      }
    }
  }

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
    val processed = new AtomicLong(0)
    @volatile var appended = 0L
    @volatile var backlogPeak = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val done = processed.addAndGet(p.numInputRows)
      backlogPeak = math.max(backlogPeak, appended - done)
      batches.add((Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.numInputRows, st.map(_.commitTimeMs).getOrElse(0L),
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
    }
  }

  def run(env: Env, rep: Main.Report, trace: Trace): Unit = {
    val warm = load(env.a("warm"), 0)
    val pacedBase = warm.map(_.dueMs).max + 1000
    val paced = load(env.a("paced"), pacedBase)
    var base = pacedBase + paced.map(_.dueMs).max + 1000
    val drains = env.a("drain").split(",").toVector.map { p =>
      val d = load(p, base); base += d.map(_.dueMs).max + 1000; d }
    val progress = new Progress
    val root = trace.newId()
    var sink: StatusTable = null
    var q: StreamingQuery = null
    var mem: MemoryStream[ToolEvent] = null
    val appended = mutable.ArrayBuffer.empty[ToolEvent]
    def append(evs: Seq[ToolEvent]): Unit = {
      mem.addData(evs); appended ++= evs; progress.appended += evs.size
    }
    for (i <- 0 until env.a.int("setups")) env.setup(rep, i == 0) {
      if (q != null) q.stop()
      val s = env.start()
      import s.implicits._
      implicit val sqlc = s.sqlContext
      if (trace.on) s.streams.addListener(progress)
      sink = new StatusTable
      val snk = sink
      mem = MemoryStream[ToolEvent]
      appended.clear()
      q = Lifecycle.statusStream(mem.toDS(), Watermark).writeStream
        .outputMode("update")
        .option("checkpointLocation", s"${env.work}/stream-ckpt-$i")
        .foreachBatch { (b: Dataset[PhaseStatus], id: Long) =>
          // the batch's state-store jobs run inside this collect, on the
          // stream's thread: they are attributed to the batch's span
          trace.span(root, s"batch-$id", "streaming") { sid =>
            if (trace.on) s.sparkContext.setLocalProperty(OpListener.Prop, sid.toString)
            try snk.emit(b.collect())
            finally if (trace.on) s.sparkContext.setLocalProperty(OpListener.Prop, null)
          } }
        .start()
      append(warm.map(_.e))
      q.processAllAvailable()
    }
    val s = env.spark
    // paced phase: the generator replays the schedule in real time
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val t0 = env.windowStart()
    val start = t0 + 20000L
    paced.foreach(ev => sink.created.put((ev.e.plan_id, ev.e.phase, ev.e.at.getTime),
      start + (ev.dueMs * 1000).toLong))
    sink.measuring = true
    // one append per tick: MemoryStream plans one task per append, as a
    // hook relay flushing on a timer would deliver them
    var i = 0
    while (i < paced.size) {
      val now = Clock.us()
      var j = i
      while (j < paced.size && start + (paced(j).deliverMs * 1000).toLong <= now) j += 1
      if (j > i) {
        // how late this tick ran behind its earliest due event (one tick
        // at most when the generator keeps up)
        lateMs += (now - start - paced(i).deliverMs * 1000) / 1000.0
        append(paced.slice(i, j).map(_.e))
        i = j
      }
      Thread.sleep(TickMs)
    }
    q.processAllAvailable()
    sink.measuring = false
    val t1 = env.windowEnd()
    val pacedLags = sink.lagsMs.asScala.map(_.doubleValue).toVector
    // drain phase: each backlog appended at once, timed to fully folded.
    // One append, so that one micro-batch takes the whole backlog: split
    // appends let the trigger race the appends for how the backlog is cut.
    val drainRates = drains.map { d =>
      val d0 = Clock.us()
      append(d.map(_.e))
      q.processAllAvailable()
      d.size / ((Clock.us() - d0) / 1e6)
    }
    rep.window = (t0, t1)
    trace.add(root, 0L, "status-stream", "workload", t0, Clock.us())
    val stalledBeforeFlush = sink.stalled.asScala.toSet
    // flush: move the watermark past every open key, wait for the timeouts
    val sentinel = ToolEvent("sentinel", 1, "proj_0", "", None, "start",
      new Timestamp(EpochMs + math.round((base + 3600000.0) * Speedup)))
    append(Seq(sentinel))
    q.processAllAvailable()
    var last = -1L
    var idle = 0
    while (idle < 3) {
      Thread.sleep(200)
      val id = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      if (id == last && !q.status.isTriggerActive) idle += 1 else { idle = 0; last = id }
    }
    q.stop()
    // correctness: final status per key vs the batch replay of the same events
    import s.implicits._
    val expected = Lifecycle.replayBatch(s.createDataset(appended.toSeq)).collect()
      .filter(_.plan_id != "sentinel")
      .map(x => if (Lifecycle.isTerminal(x.status)) x else x.copy(status = "stalled"))
    val bad = expected.count(x => sink.latest.get((x.plan_id, x.phase)) != x)
    val plantedStalls = (paced ++ drains.flatten).groupBy(e => (e.e.plan_id, e.e.phase))
      .filter(_._2.forall(e => !e.e.kind.startsWith("stop"))).keySet
    rep.extra ++= Seq(
      "keys" -> expected.length, "keys_wrong" -> bad,
      "lags_ms" -> pacedLags,
      "drain_events_per_s" -> drainRates, "generator_late_ms" -> lateMs.toSeq,
      "planted_stalls" -> plantedStalls.size,
      "stalls_emitted_before_flush" -> plantedStalls.count(stalledBeforeFlush.contains),
      "backlog_peak_events" -> progress.backlogPeak,
      "batches" -> progress.batches.asScala.toSeq.map(b => Seq(b._1, b._2, b._3, b._4, b._5)))
  }
}
