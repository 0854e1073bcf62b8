package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import graft.model.ToolEvent

/** Per-phase tool telemetry on `transformWithState`, with two typed-state
  * shapes:
  *
  *  - ListState: the last `HistoryCap` tool names, oldest-first — the
  *    `last_tool` record generalized to a bounded history (ref
  *    `hooks/status-tracker.sh:107-123`);
  *  - MapState: per-tool usage counts — the per-model usage aggregate of
  *    the execution log (ref `commands/pulsar.md:635-638`).
  *
  * Both states are O(1)-bounded per key, so the state store scales with
  * live keys only — the property that keeps stateful streaming viable on
  * an unbounded key space.
  */
object ToolHistory {
  val HistoryCap = 5

  case class ToolStats(
      plan_id: String,
      phase: Int,
      recent: Seq[String],
      tool_counts: Map[String, Long],
      n_events: Long)
}

class ToolHistoryProcessor
    extends StatefulProcessor[(String, Int), ToolEvent, ToolHistory.ToolStats] {
  import ToolHistory._

  @transient private var recent: ListState[String] = _
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    recent = getHandle.getListState[String]("recent", Encoders.STRING, TTLConfig.NONE)
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: (String, Int),
      rows: Iterator[ToolEvent],
      timerValues: TimerValues): Iterator[ToolStats] = {
    // micros, not getTime millis — keeps `recent` in true arrival order
    // for events under 1 ms apart (see Lifecycle.statusStream)
    val tools = rows.toSeq.sortBy(e => TemporalJoin.us(e.at))
      .filter(e => e.kind == "tool" && e.tool != null && e.tool.nonEmpty)
    if (tools.isEmpty) return Iterator.empty
    tools.foreach { e =>
      recent.appendValue(e.tool)
      val cur = if (counts.containsKey(e.tool)) counts.getValue(e.tool) else 0L
      counts.updateValue(e.tool, cur + 1)
    }
    // enforce the bounded history
    val all = recent.get().toSeq
    if (all.length > HistoryCap) {
      recent.clear()
      all.takeRight(HistoryCap).foreach(recent.appendValue)
    }
    val cts = counts.iterator().toMap
    Iterator.single(ToolStats(key._1, key._2,
      recent.get().toSeq, cts, cts.values.sum))
  }
}

object ToolHistoryStream {
  /** Streaming telemetry: (plan, phase) → bounded recent-tool history +
    * per-tool counts. */
  def apply(events: Dataset[ToolEvent]): Dataset[ToolHistory.ToolStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.plan_id, e.phase))
      .transformWithState(new ToolHistoryProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
