package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's test tables (`/root/repo/TESTDATA.md`,
  * schemas in `/root/repo/FIXTURES.md §A`).
  *
  * Reads are plain `spark.read.parquet` so Catalyst keeps full pushdown
  * freedom (column pruning + predicate pushdown reach the scan). At
  * 100 TB these would be partitioned tables behind a catalog; the
  * loader is the single seam where that swap happens.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Input version of tables `names` under `dir`: the (path, length,
    * mtime) of every leaf file, sorted. A rewrite of any of them
    * changes it (an overwrite writes new part-file names), so a memo
    * keyed by it never answers from superseded files. Plain
    * `listStatus` calls through the session's Hadoop file system (about
    * 0.1 ms a call for `lineitem` and `orders` on local disk; Hadoop's
    * `listFiles` also resolves block locations and cost ~8 ms), so
    * callers compute it on every request. */
  def version(spark: SparkSession, dir: String, names: String*): Vector[(String, Long, Long)] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    def leaves(fs: FileSystem, p: Path): Vector[FileStatus] =
      fs.listStatus(p).toVector.flatMap(f => if (f.isDirectory) leaves(fs, f.getPath) else Vector(f))
    val conf = spark.sparkContext.hadoopConfiguration
    names.toVector.flatMap { n =>
      val p = new Path(s"$dir/$n.parquet")
      leaves(p.getFileSystem(conf), p)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.sorted
  }

  /** Scan-parallelism floor for per-row-heavy pipelines (optimization
    * guide §2.5, "one huge unsplittable file ... repartition immediately
    * after the read"): the test tables are single-row-group parquet, so
    * Spark's scan is ONE task no matter what `maxPartitionBytes` says,
    * and every narrow op downstream of the scan (tokenize + per-token
    * md5, 64-dim cosine math, codec decodes) runs single-threaded until
    * the first exchange — measured at 1.2 s of serial work inside e.g.
    * q242's scan stage on a 32-core box. This hash-spreads the rows
    * across the cluster width, keyed by the frame's primary key — which
    * ALSO lets every downstream groupBy/join keyed on (pk, ...) reuse
    * the partitioning instead of adding its own exchange (§2.4).
    *
    * Scale-adaptive, not a local[32] constant: the split count comes
    * from the scan itself and the width from `defaultParallelism`, so a
    * 100 TB table that already arrives in thousands of splits is left
    * untouched (the guard fires only when the scan is narrower than the
    * cluster), and the shuffled bytes are the frame's raw bytes once.
    * The explicit partition count pins the spread against AQE's
    * parallelism-first coalescing, which would fold ~1 MB of text back
    * into one partition and re-serialize the whole downstream chain.
    *
    * Applied at the HEAVY consumers' build sites, not blanket in the
    * loaders: a loader-level spread was measured first and taxes every
    * light consumer one exchange (~+0.25 s each) and every index-family
    * query once per re-scan of the table (q268 1.47x, q250 1.51x), while
    * the wins concentrate in the dozen operators whose per-row work is
    * actually heavy. Callers pass the frame at the point where the
    * expensive narrow work starts (usually just before a persist). */
  def spread(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession
    // streaming frames can't answer getNumPartitions (and micro-batches
    // are already planned per-trigger) — pass them through untouched,
    // so shared front ends like gramWindows stay usable from both sides
    if (df.isStreaming) return df
    val width = s.sparkContext.defaultParallelism
    // FREE width guard (optimization r20, VERDICT r19 item 3): the old
    // guard read `df.rdd.getNumPartitions`, which under AQE can
    // MATERIALIZE upstream query stages just to plan the RDD (the r19
    // funnel profile measured that guard job at ~450 ms). For the
    // narrow-only plans every call site actually passes (scan + narrow
    // ops, no exchange anywhere), the un-adaptive physical plan's RDD
    // graph can be CONSTRUCTED without running a job and answers the
    // same question; `exists` over the optimized plan proves there is
    // no shuffle/broadcast operator whose RDD construction would kick
    // off work. Frames with exchanges keep the old path — its cost is
    // the documented price of calling spread above a shuffle.
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrowOnly = !df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
           _: RepartitionOperation | _: GlobalLimit => true
      case _ => false
    }
    val parts =
      if (narrowOnly) df.queryExecution.sparkPlan.execute().getNumPartitions
      else df.rdd.getNumPartitions
    if (parts < width)
      df.repartition(width, org.apache.spark.sql.functions.col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]). Read nanos as long, then convert to a
    * micros TimestampType column — same truncation DuckDB applies when
    * casting TIMESTAMP_NS → TIMESTAMP, so oracle parity holds as long
    * as oracle SQL also casts `ts` to TIMESTAMP.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Schema inference consults only the SESSION-global legacy conf
    // (spark.sql.legacy.parquet.nanosAsLong — per-read options are
    // ignored for it, verified empirically), and a set/restore of that
    // conf races every concurrent parquet read on the session. So skip
    // inference instead: convert the file footer's own schema with an
    // explicit nanosAsLong=true and hand it to the reader. The explicit
    // footer-derived LongType schema alone makes the read self-contained
    // and thread-safe — the row-group readers decode INT64-backed nanos
    // into the requested LongType without consulting the legacy conf.
    val path = s"$d/events.parquet"
    val schema = org.apache.spark.sql.graftshim.GraftSqlShim
      .parquetFooterSchema(s, path, nanosAsLong = true)
    val raw = s.read.schema(schema).parquet(path)
    // The engine's canonical `ts` domain is NTZ micros = the UTC wall
    // clock (what DuckDB's TIMESTAMP_NS → TIMESTAMP cast yields). Each
    // source representation is matched EXPLICITLY — a blanket `case _`
    // cast would silently TZ-shift an isAdjustedToUTC=true file on any
    // session not pinned to UTC.
    // Instant→NTZ casts render the instant in the SESSION time zone, so
    // they equal the UTC wall clock only when the session is pinned to
    // UTC (every run config does). Both the nanos-as-long branch
    // (timestamp_micros yields an instant) and the TimestampType branch
    // go through such a cast — assert UTC up front instead of assuming
    // it; a non-UTC session would silently shift every event.
    def requireUtc(): Unit = {
      val tz = s.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events.ts conversion to NTZ requires spark.sql.session.timeZone=UTC, got '$tz'")
    }
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) surfaced as long by the legacy conf:
      // integral `div`, not `/` — double division loses precision on
      // ~1.7e18 nanosecond values (53-bit mantissa) and rounds up.
      case LongType =>
        requireUtc()
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      // a rewritten feed (e.g. tools/make_scaled.py output) already in
      // the canonical type — no-op
      case TimestampNTZType => raw
      // isAdjustedToUTC=true parquet (instant semantics)
      case TimestampType =>
        requireUtc()
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported source type $other (expected " +
            "TIMESTAMP(NANOS)-as-long, TimestampNTZ, or Timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
