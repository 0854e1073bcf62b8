package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the latent-at-scale failure modes the sf0.001 fixtures
  * never trip on their own: LSH dim overflow, oracle/conf drift,
  * instant-typed parquet timestamps, and checkpoint-pin races. */
class RobustnessSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def vecsDf(n: Int, dim: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, "x", Array.tabulate(dim)(j => 0.001 + 0.01 * (((i + 7) * (j + 3)) % 13)))
    }.toDF("vec_id", "label", "v")
  }

  test("LSH bandBucket fails fast past MaxDim instead of collapsing to one bucket") {
    val e = vecsDf(n = 20, dim = 513)
    val ex = intercept[Throwable] {
      llm.Similarity.annLshFrom(e).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("exceeds MaxDim=512")),
      s"expected an explicit MaxDim error, got: ${msgs(ex).mkString(" | ")}")
  }

  test("LSH bandBucket still works at exactly MaxDim") {
    val e = vecsDf(n = 30, dim = 512)
    assert(llm.Similarity.annLshFrom(e).count() > 0)
  }

  test("q39 oracle SQL follows the multiprobe conf") {
    val key = "spark.graft.lsh.multiprobe"
    def probeList = llm.Similarity.oracle("q39_ann_lsh")
    def expectList(mp: Int) =
      s"unnest([${llm.Similarity.probeCodes(mp).mkString(", ")}]) AS f(f)"
    try {
      spark.conf.set(key, "0")
      assert(probeList.contains(expectList(0)), "depth-0 oracle should probe only [0]")
      spark.conf.set(key, "2")
      assert(probeList.contains(expectList(2)),
        "depth-2 oracle should carry single- and double-bit flips")
      assert(llm.Similarity.probeCodes(2).toSet ==
        Set(0, 1, 2, 4, 8, 3, 5, 9, 6, 10, 12))
      spark.conf.unset(key)
      // default depth (1): q39 and the fixed twin q111 are the same plan
      val a = llm.Similarity.q39AnnLsh(spark, sf).collect().toSeq
      val b = llm.Similarity.q111AnnMd5(spark, sf).collect().toSeq
      assert(a == b, "q39 at default conf must equal the fixed-depth twin q111")
      assert(probeList == llm.Similarity.q111Sql)
    } finally spark.conf.unset(key)
  }

  test("events reader handles an instant-typed (isAdjustedToUTC=true) parquet file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-02T03:04:05.123456Z"))
    // TIMESTAMP_MICROS output = int64 micros with isAdjustedToUTC=true —
    // the exact shape the old `case _` fallback would TZ-shift silently
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(tsTypeKey)
    try {
      spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      Seq((1L, t0)).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    } finally spark.conf.set(tsTypeKey, prev)
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val got = out.select($"ts".cast("string")).head().getString(0)
    assert(got == "2026-01-02 03:04:05.123456", s"got $got")
  }

  test("events reader refuses instant-typed input on a non-UTC session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts2").toString
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(tsTypeKey)
    try {
      spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      Seq((1L, new java.sql.Timestamp(1700000000000L))).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    } finally spark.conf.set(tsTypeKey, prev)
    val tzKey = "spark.sql.session.timeZone"
    try {
      spark.conf.set(tzKey, "America/New_York")
      val ex = intercept[IllegalArgumentException] { Tables.events(spark, dir) }
      assert(ex.getMessage.contains("UTC"))
    } finally spark.conf.set(tzKey, "UTC")
  }

  test("events reader refuses the nanos-long path on a non-UTC session too") {
    import spark.implicits._
    // the LongType branch ALSO goes instant→NTZ (timestamp_micros yields
    // an instant), so it must carry the same UTC guard as the
    // TimestampType branch — this was the one gap after the r6 fix
    val dir = java.nio.file.Files.createTempDirectory("graft-ts4").toString
    Seq((1L, 1700000000000000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val tzKey = "spark.sql.session.timeZone"
    try {
      spark.conf.set(tzKey, "America/New_York")
      val ex = intercept[IllegalArgumentException] { Tables.events(spark, dir) }
      assert(ex.getMessage.contains("UTC"))
    } finally spark.conf.set(tzKey, "UTC")
  }

  test("events reader leaves the session-global nanosAsLong conf untouched") {
    // the TIMESTAMP(NANOS) read goes through the footer-converted
    // explicit schema, NOT a set/restore of the session conf — so a
    // concurrent parquet read on the same session can never observe
    // the legacy setting mid-flight
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val out = Tables.events(spark, sf)
    assert(spark.conf.getOption(key) == before, "session conf mutated")
    assert(out.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // nanos truncate toward micros exactly as before (DuckDB cast parity)
    import spark.implicits._
    val ts = out.orderBy($"event_id").select($"ts".cast("string")).head().getString(0)
    assert(ts.startsWith("20"), s"implausible ts $ts")
  }

  test("footer fast path: uniform multi-file ok; partitioned and schema-evolved layouts rejected") {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    import spark.implicits._
    // uniform multi-file directory: fine (and the second footer sampled)
    val uni = java.nio.file.Files.createTempDirectory("graft-fp1").toString + "/t.parquet"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").repartition(2)
      .write.mode("overwrite").parquet(uni)
    val sch = GraftSqlShim.parquetFooterSchema(spark, uni, nanosAsLong = true)
    assert(sch.fieldNames.toSet == Set("id", "v"))
    // partitioned layout (subdirectories): rejected, not silently mis-schemad
    val part = java.nio.file.Files.createTempDirectory("graft-fp2").toString + "/t.parquet"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v")
      .write.partitionBy("p").mode("overwrite").parquet(part)
    val e1 = intercept[IllegalArgumentException] {
      GraftSqlShim.parquetFooterSchema(spark, part, nanosAsLong = true)
    }
    assert(e1.getMessage.contains("subdirectories"), e1.getMessage)
    // schema drift across part files is caught WHEREVER the drifted
    // file lists (all footers are checked at this directory size): one
    // drifted writer among three, in arbitrary listing order
    val drift = java.nio.file.Files.createTempDirectory("graft-fp3").toString + "/t.parquet"
    Seq((1L, 10L)).toDF("id", "v").write.mode("overwrite").parquet(drift)
    Seq((2L, "s")).toDF("id", "v").repartition(1).write.mode("append").parquet(drift)
    Seq((3L, 30L)).toDF("id", "v").repartition(1).write.mode("append").parquet(drift)
    val e2 = intercept[IllegalArgumentException] {
      GraftSqlShim.parquetFooterSchema(spark, drift, nanosAsLong = true)
    }
    assert(e2.getMessage.contains("non-uniform"), e2.getMessage)
  }

  test("events reader rejects an unsupported ts type explicitly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts3").toString
    Seq((1L, "not-a-time")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[IllegalArgumentException] { Tables.events(spark, dir) }
    assert(ex.getMessage.contains("unsupported source type"))
  }

  test("a cut a SessionCache entry holds survives sweep and GC") {
    val cache = new SessionCache[org.apache.spark.sql.DataFrame]("rbt_held")
    def held() = cache.getOrElseUpdate(spark, "k", Ckpt.cut(spark.range(123).toDF("y")))
    val id = Ckpt.rddOf(held()).get.id
    Ckpt.sweep(spark)
    // the entry is the only reference, so GCs leave the blocks alone
    for (_ <- 1 to 5) { System.gc(); Thread.sleep(100) }
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "the cleaner freed a cut its memo entry still holds")
    // lineage is truncated, so the rows come from the blocks themselves
    assert(held().count() == 123L)
    assert(Ckpt.rddOf(held()).get.id == id, "the memo was rebuilt")
  }

  test("a dropped cut leaves the block manager within a bounded GC-and-poll loop") {
    def dropped(): Int = Ckpt.rddOf(Ckpt.cut(spark.range(77).toDF("z"))).get.id
    val id = dropped()
    // the context cleaner frees an unreachable RDD after a GC finds it
    def live = spark.sparkContext.getPersistentRDDs.contains(id)
    val deadline = System.nanoTime() + 10e9.toLong
    while (live && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(!live, s"rdd $id still persisted 10 s after its frame became unreachable")
  }

  test("incremental SemDeDup tolerates an EMPTY ingest batch (quiet night, not a crash)") {
    import spark.implicits._
    val store = vecsDf(n = 40, dim = 8).select($"vec_id", $"v")
    val batch = store.filter($"vec_id" < 0) // empty, same schema
    val out = llm.Similarity.semdedupIncrementFrom(store, batch,
      tau = 0.5, lloydIters = 1)
    assert(out.count() == 0, "an empty batch must produce an empty report")
  }

  test("Gopher rules on an empty-text document: no division, wc fails, vacuous rules hold") {
    import spark.implicits._
    val toy = Seq((1L, ""), (2L, "   "), (3L, ("word " * 60) + "the of"))
      .toDF("doc_id", "text")
    val t = llm.TextOps.gopherRulesFrom(toy).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(1L, 2L)) {
      // every count is 0: the cross-multiplied comparisons are all
      // well-defined (0 <= 0), the word-count floor fails, and the
      // overall verdict is a clean false — no /0 anywhere
      assert(!t(id).getAs[Boolean]("wc_ok") &&
        !t(id).getAs[Boolean]("gopher_pass"), s"empty doc: ${t(id)}")
    }
    assert(t(3L).getAs[Boolean]("gopher_pass"))
  }

  test("k-center greedy with k larger than the corpus: selects everything, then stops cleanly") {
    import spark.implicits._
    // 3 vectors, k = 8: rounds past exhaustion see an EMPTY pool. The
    // loop must STOP there — the oracle's `ORDER BY ... LIMIT 1` over
    // an empty CTE emits NO row for that rank, so any fabricated
    // null-winner row would be a cross-engine row-count divergence
    // (ADVICE r14). Exactly min(k, N) = 3 rows, all real centers.
    val e = Seq(
      (0L, Seq(1.0, 0.0)), (5L, Seq(0.0, 1.0)), (9L, Seq(0.7, 0.7)))
      .toDF("vec_id", "v")
    val out = llm.Similarity.kcenterCoresetFrom(e, k = 8).collect()
    assert(out.length == 3, s"oracle-parity row count: ${out.toSeq}")
    assert(out.forall(!_.isNullAt(1)), s"phantom centers: ${out.toSeq}")
    assert(out.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 5L, 9L),
      s"selects everything: ${out.toSeq}")
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("incremental SemDeDup on a %4-filtered store whose stride is a multiple of 4: cents stay non-empty") {
    import spark.implicits._
    // ADVICE r14 (medium): seeds at `vec_id % stride == 0` over a store
    // that EXCLUDES vec_id % 4 == 0 are empty whenever 4 | stride
    // (store count 1299 → stride = floor(sqrt) = 36) — every batch row
    // then silently classified to zero rows, identically in the oracle.
    // The min-anchored residue (mn % stride = 1, odd, never ≡ 0 mod 4)
    // guarantees seeds; every batch row must come back with a cell.
    val all = (0L until 1733L).map(i =>
      (i, Seq((i % 7).toDouble + 1.0, (i % 5).toDouble, (i % 3).toDouble)))
    val store = all.filter(_._1 % 4 != 0).toDF("vec_id", "v")
    val batch = all.filter(_._1 % 4 == 0).toDF("vec_id", "v")
    assert(store.count() == 1299) // floor(sqrt(1299)) = 36, 4 | 36
    val out = llm.Similarity.semdedupIncrementFrom(
      store, batch, tau = 0.999999, lloydIters = 1).collect()
    assert(out.length == batch.count(),
      s"every batch row classified, got ${out.length}")
    assert(out.forall(!_.isNullAt(1)), "non-null cell for every batch row")
  }
}
