package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rows-only registered queries for the streaming domain. The driver
  * can't oracle stateful streaming: the lifecycle replay and pulse it
  * grades run over parquet-derived event logs in `graft.queue.Derived`
  * (q44/q45), and the true streaming paths are covered by StreamingSpec
  * (MemoryStream + processAllAvailable). */
object Registered {

  /** q55: session capability probe (S27). */
  def q55Capabilities(s: SparkSession, dir: String): DataFrame =
    Dispatch.detectCapabilities(s).orderBy("capability")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q55_capabilities"     -> (q55Capabilities _),
  )
}
