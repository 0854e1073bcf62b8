package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's declared operator catalog (one entry per
  * SURVEY.md §2 operator); `oracleSql` carries DuckDB-equivalent ANSI SQL
  * for the hash-compare correctness gate. Column names/aliases are kept
  * identical on both sides (the driver sorts columns by name before
  * hashing). Queries without an oracle entry get the driver's weaker
  * rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's scheduler query ("among eligible queued plans pick the
    * highest-priority oldest", `agents/orbiter.md:85-90`) restated
    * relationally: top-k revenue orders for one segment. */
  def entry(spark: SparkSession): DataFrame =
    relational.Core.q02TopkRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relational.Core.queries ++
    relational.Breadth.queries ++
    relational.Events.queries ++
    relational.Extra.queries ++
    relational.Extra2.queries ++
    relational.Analytics.queries ++
    relational.Stats.queries ++
    relational.Extra3.queries ++
    relational.Layout.queries ++
    relational.Graph.queries ++
    relational.Ranges.queries ++
    llm.TextOps.queries ++
    llm.Similarity.queries ++
    rounds.Stratify.queries ++
    queue.Derived.queries ++
    streaming.Registered.queries ++
    llm.Dedup.queries ++
    llm.Multimodal.queries ++
    llm.Corpus.queries ++
    plans.TopK.queries ++
    plans.AsOf.queries ++
    llm.Pipeline.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    relational.Core.oracle ++
    relational.Breadth.oracle ++
    relational.Events.oracle ++
    relational.Extra.oracle ++
    relational.Extra2.oracle ++
    relational.Analytics.oracle ++
    relational.Stats.oracle ++
    relational.Extra3.oracle ++
    relational.Layout.oracle ++
    relational.Graph.oracle ++
    relational.Ranges.oracle ++
    llm.TextOps.oracle ++
    llm.Similarity.oracle ++
    rounds.Stratify.oracle ++
    queue.Derived.oracle ++
    llm.Dedup.oracle ++
    plans.TopK.oracle ++
    plans.AsOf.oracle ++
    llm.Pipeline.oracle ++
    llm.Multimodal.oracle ++
    llm.Corpus.oracle
}
