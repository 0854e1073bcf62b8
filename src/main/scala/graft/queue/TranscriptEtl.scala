package graft.queue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S24 — transcript → structured report ETL (ref `agents/
  * output-processor.md:35-95`): regex-driven extraction from raw CLI
  * transcript text into the nested report shape {status, tests{...},
  * files[], commits[], errors[]}. Pure `regexp_extract_all`/`rlike`
  * projection — one narrow codegen'd pass per transcript, trivially
  * parallel at any scale.
  */
object TranscriptEtl {

  /** Classify + extract one report row per transcript.
    * Expects columns (id, transcript). */
  def parse(transcripts: DataFrame): DataFrame = {
    val s = transcripts.sparkSession
    import s.implicits._
    transcripts
      // test results first (output-processor.md:49-53) so the status
      // classifier can distinguish "0 failed" from real failures
      .withColumn("tp",
        coalesce(nullif(regexp_extract($"transcript", "(\\d+)\\s+passed", 1), lit(""))
          .cast("int"), lit(0)))
      .withColumn("tf",
        coalesce(nullif(regexp_extract($"transcript", "(\\d+)\\s+failed", 1), lit(""))
          .cast("int"), lit(0)))
      // status classification (output-processor.md:64-71)
      .withColumn("status",
        when($"transcript".rlike("(?i)(fatal|unrecoverable|cannot continue)"), "failed")
          .when($"transcript".rlike("(?i)(error|exception)") || $"tf" > 0,
            "completed_with_errors")
          .otherwise("completed"))
      // file-op detection (:73-80)
      .withColumn("files_modified",
        array_distinct(expr(
          "transform(regexp_extract_all(transcript, '(?:Created|Modified|Updated|Wrote|Edited)\\\\s+(\\\\S+\\\\.\\\\w+)', 1), x -> x)")))
      // commit detection (:82-87) — require the bracketed [hash] form.
      // (A bare \b hex \b with an OPTIONAL ]-lookahead constrained
      // nothing: any 7+-char hex-alphabet word — 'deadbeef', a color
      // code — was reported as a commit.)
      .withColumn("commits",
        regexp_extract_all($"transcript", lit("\\[([0-9a-f]{7,40})\\]"), lit(1)))
      .withColumnRenamed("tp", "tests_passed")
      .withColumnRenamed("tf", "tests_failed")
      // error lines (:89-95)
      .withColumn("errors",
        regexp_extract_all($"transcript", lit("(?i)^.*(?:error|exception)[:\\s].*$"), lit(0)))
      .withColumn("report", to_json(struct(
        $"status", $"tests_passed", $"tests_failed",
        $"files_modified", $"commits")))
  }

  /** S10 — cost-based model routing (ref `commands/pulsar.md:114-137`,
    * `commands/nova.md:205-252`): complexity → executor class, default
    * light when the column is missing/unknown. */
  def routeModels(phases: DataFrame): DataFrame = {
    val s = phases.sparkSession
    import s.implicits._
    phases.withColumn("executor",
      when($"complexity".startsWith("High"), "heavy")
        .when($"complexity" === "Medium", "heavy")
        .otherwise("light"))
  }
}
