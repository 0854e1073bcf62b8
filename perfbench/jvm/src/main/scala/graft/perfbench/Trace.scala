package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Wall clock in microseconds since the epoch, at nanoTime resolution:
  * one time base for the harness's own spans and the listener's
  * job/stage times (which Spark reports in epoch millis). */
object Clock {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us(): Long = fromNanoTime(System.nanoTime())
  def fromNanoTime(n: Long): Long = wall0 + (n - nano0) / 1000L
}

/** Spans of one run, kept in memory and written when the run ends.
  * A span is (id, parent, name, layer, startUs, endUs); id 0 is "none".
  * With tracing off, `span` only runs its body. */
final class Trace(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[(Long, Long, String, String, Long, Long)]()

  def newId(): Long = if (on) ids.incrementAndGet() else 0L

  def add(id: Long, parent: Long, name: String, layer: String, t0: Long, t1: Long): Unit =
    if (on) spans.add((id, parent, name, layer, t0, t1))

  def span[T](parent: Long, name: String, layer: String)(body: Long => T): T = {
    if (!on) return body(0L)
    val id = newId()
    val t0 = Clock.us()
    try body(id) finally add(id, parent, name, layer, t0, Clock.us())
  }

  def all: Seq[(Long, Long, String, String, Long, Long)] = spans.asScala.toSeq
}

/** Engine-boundary counts: every job, stage and task is attributed to
  * the op span named by the `perfbench.op` local property the client
  * thread set before calling into the engine. Jobs also become child
  * spans of their op (layer `spark`). Registered only on traced runs. */
final class OpListener(trace: Trace) extends SparkListener {
  import OpListener._
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobT0 = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()
  val perOp = new ConcurrentHashMap[Long, Array[Long]]()
  val skews = new ConcurrentLinkedQueue[(Long, Double)]() // (op, max / median task time)

  private def bump(op: Long, f: Int, v: Long): Unit =
    perOp.computeIfAbsent(op, _ => new Array[Long](Fields.size))(f) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(0L)
    jobOp.put(e.jobId, op)
    jobT0.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
    perOp.synchronized(bump(op, Jobs, 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op: Long = Option(jobOp.get(e.jobId)).map(_.longValue).getOrElse(0L)
    val t0 = Option(jobT0.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    trace.add(trace.newId(), op, s"job-${e.jobId}", "spark", t0 * 1000L, e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op: Long = Option(stageOp.get(info.stageId)).map(_.longValue).getOrElse(0L)
    perOp.synchronized(bump(op, Stages, 1))
    val ts = taskTimes.remove((info.stageId, info.attemptNumber()))
    if (ts != null && ts.size > 1) {
      val v = ts.asScala.map(_.longValue.toDouble).toVector.sorted
      val med = v(v.size / 2)
      if (med > 0) skews.add((op, v.last / med))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val m = e.taskMetrics
    taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue())
      .add(e.taskInfo.duration)
    perOp.synchronized {
      bump(op, Tasks, 1)
      if (m != null) {
        bump(op, RunMs, m.executorRunTime)
        bump(op, GcMs, m.jvmGCTime)
        bump(op, ScanB, m.inputMetrics.bytesRead)
        bump(op, ShWB, m.shuffleWriteMetrics.bytesWritten)
        bump(op, ShRB, m.shuffleReadMetrics.totalBytesRead)
        bump(op, SpillB, m.diskBytesSpilled)
      }
    }
  }
}

object OpListener {
  val Prop = "perfbench.op"
  val Fields = Vector("jobs", "stages", "tasks", "run_ms", "gc_ms", "scan_b",
    "shuffle_w_b", "shuffle_r_b", "spill_b")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val GcMs = 4
  val ScanB = 5; val ShWB = 6; val ShRB = 7; val SpillB = 8
}
