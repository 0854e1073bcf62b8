package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming sources and windows (SURVEY.md §2.1 S1/S22 + §2.2
  * streaming rows). The pulse aggregation (S16) is
  * `queue.QueueOps.pulse` of `queue.QueueOps.statusRollup`, which runs
  * on batch and streaming statuses.
  *
  * The reference's polling daemon (300 s loop, one plan at a time —
  * `scripts/starry-daemon.sh:209-226`) maps to a file-source stream with
  * `maxFilesPerTrigger=1` backpressure; its 30 s watcher rollup
  * (`agents/orbiter.md:158-242`) is a windowed streaming aggregation.
  */
object Streams {

  /** Schema of a queued-plan JSON document (BoardEntry shape,
    * ref `commands/nova.md:473-491`). */
  val planSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("project", StringType),
    StructField("projectPath", StringType),
    StructField("planType", StringType),
    StructField("status", StringType),
    StructField("executionMode", StringType),
    StructField("path", StringType),
    StructField("createdAt", TimestampType),
    StructField("phases", IntegerType),
    StructField("parallelGroups", IntegerType)))

  /** S1/S22 — streaming queue consumer: tail a queue directory of JSON
    * plan docs; `maxFilesPerTrigger=1` reproduces the daemon's
    * single-flight admission (one plan per trigger). */
  def queueStream(spark: SparkSession, queueDir: String): DataFrame =
    spark.readStream
      .schema(planSchema)
      .option("maxFilesPerTrigger", 1)
      .json(queueDir)

  /** S2 streaming — rolling queue depth per project. */
  def queueDepth(queue: DataFrame): DataFrame =
    queue.groupBy(col("project")).count()

  /** Watermarked tumbling-window counts over an event stream (pulse
    * cadence S16; late data beyond the watermark is dropped, exactly
    * the completed-guard semantics of S13). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Sliding-window counts — overlapping windows (`width` every `slide`);
    * each event lands in width/slide windows. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows per user with a 30-minute gap (the batch q23
    * formulation, native streaming form). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming dedup, claim-CAS shape S12: the FIRST record per
    * (user_id, event_type) wins, duplicates dropped — forever. State
    * is one entry per distinct key retained for the stream's lifetime
    * (the event-time column is not among the dedup keys, so the
    * watermark does NOT evict this state — that is deliberate: a claim
    * must never become re-claimable just because time passed). The
    * scale contract is therefore a BOUNDED KEY SPACE (plans × phases,
    * set by the workload, not by stream length); for unbounded key
    * spaces use [[dedupWithinWatermark]], which trades permanent
    * claims for watermark-bounded state. */
  def dedupFirst(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Watermark-bounded-state variant: duplicates are only suppressed
    * while their first sighting is younger than the watermark delay, and
    * state is dropped afterwards — the unbounded-key-space form (Spark
    * 3.5+ `dropDuplicatesWithinWatermark`). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Watermarked stream-stream interval join (SURVEY.md §2.2 joins row:
    * "interval join = range condition + watermark in streaming"): match
    * each follow-up event to signups of the same user within the
    * preceding hour. Both sides watermarked so state is bounded — the
    * join buffers at most one hour of each stream per key. */
  def signupFollowupJoin(signups: DataFrame, events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val su = signups
      .withColumnRenamed("ts", "su_ts")
      .withColumnRenamed("user_id", "su_user")
      .withWatermark("su_ts", watermark)
    val ev = events.withWatermark("ts", watermark)
    ev.join(su,
      expr("""user_id = su_user AND
              ts > su_ts AND
              ts <= su_ts + INTERVAL 1 HOUR"""))
  }

  /** LEFT-OUTER variant of [[signupFollowupJoin]]: every follow-up
    * event is emitted — matched to its same-user signup of the
    * preceding hour when one exists, with NULL signup columns
    * otherwise. The null rows are NOT emitted eagerly: an outer
    * stream-stream join releases its unmatched side only once the
    * watermark proves no matching signup can still arrive (eager nulls
    * would be wrong the moment a late signup landed), so orphan rows
    * surface exactly one watermark delay after their join window
    * closes. State is bounded exactly as the inner form: at most one
    * hour of each stream per key. */
  def signupFollowupLeftOuter(signups: DataFrame, events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    signupFollowupOuter(signups, events, watermark, "leftOuter")

  /** Outer-join family over the signup/follow-up interval join —
    * leftOuter / rightOuter / fullOuter share one body because the
    * orphan-timing CONTRACT is identical on every side: a matched row
    * emits eagerly, an orphan emits its NULL-padded row only once the
    * watermark has closed the interval in which a matching row could
    * still arrive (left side = follow-up events without a signup,
    * right side = signups whose hour passed with no follow-up). State
    * stays bounded by the watermark window on both inputs regardless
    * of side — the outer-ness changes what is EMITTED at eviction,
    * not what is RETAINED (ScaleSpec pins all three sides' timing). */
  def signupFollowupOuter(signups: DataFrame, events: DataFrame,
      watermark: String = "10 minutes",
      joinType: String = "leftOuter"): DataFrame = {
    val su = signups
      .withColumnRenamed("ts", "su_ts")
      .withColumnRenamed("user_id", "su_user")
      .withWatermark("su_ts", watermark)
    val ev = events.withWatermark("ts", watermark)
    ev.join(su,
      expr("""user_id = su_user AND
              ts > su_ts AND
              ts <= su_ts + INTERVAL 1 HOUR"""), joinType)
  }

  /** Input/state/output rows for [[transitionPairs]]. */
  case class TransEvent(user_id: Long, event_id: Long,
                        ts: java.sql.Timestamp, event_type: String)
  case class TransState(lastTu: Long, lastId: Long, lastType: String)
  case class Transition(src: String, dst: String)

  /** The pure per-key transition fold behind [[transitionPairs]].
    * Returns (final state, emitted pairs). Sort key, gap test and the
    * stored `lastTu` are all microseconds ([[TemporalJoin.us]]), the
    * precision q180's batch derivation orders and splits sessions at:
    * `getTime` millis would order two events in one millisecond by id
    * and pair a 30 min + 800 µs gap that q180 breaks. */
  private[streaming] def foldTransitions(
      evs: Seq[TransEvent], init: Option[TransState],
      gapUs: Long): (Option[TransState], Seq[Transition]) = {
    var last = init
    val out = Seq.newBuilder[Transition]
    evs.sortBy(e => (TemporalJoin.us(e.ts), e.event_id)).foreach { e =>
      val tu = TemporalJoin.us(e.ts)
      last match {
        case Some(st) if tu < st.lastTu =>
          // out-of-order cross-batch arrival: keep the newer state,
          // emit nothing (a pair here would be time-reversed)
          ()
        case other =>
          other match {
            case Some(st) if tu - st.lastTu <= gapUs =>
              out += Transition(st.lastType, e.event_type)
            case _ => ()
          }
          last = Some(TransState(tu, e.event_id, e.event_type))
      }
    }
    (last, out.result())
  }

  /** Streaming Markov transitions — q180's adjacent-pair derivation as
    * a STATEFUL stream: per user, each arriving event pairs with the
    * remembered previous one (same 30-minute session-gap rule; a gap
    * resets the chain, emitting nothing), then the pairs aggregate to
    * the live transition-count matrix downstream. State per user is
    * ONE (ts, id, type) triple — constant, the smallest state a
    * pairwise operator can hold — vs the batch path's full-path
    * collect_list.
    *
    * Ordering contract: events are sorted by (ts, event_id) WITHIN
    * each micro-batch (the same in-order-delivery assumption the
    * reference's single-consumer queue makes; for out-of-order
    * sources, front this with a watermarked sort or widen to
    * session-window batching). A late CROSS-BATCH arrival — older than
    * the remembered state — is dropped as inert rather than paired:
    * emitting would produce a time-reversed src→dst transition and
    * regress the stored state to the older event, so contract
    * violations yield no output instead of wrong output (ADVICE r10).
    * StreamingSpec replays a two-batch feed and pins equality with the
    * batch q180 counts on identical data, plus the out-of-order drop.
    * The fold itself is the pure [[foldTransitions]]. */
  def transitionPairs(events: Dataset[TransEvent],
      gapMinutes: Int = 30): Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, state) =>
        val (fin, out) = foldTransitions(it.toSeq, state.getOption, gapUs)
        fin.foreach(state.update)
        out.iterator
      }
  }

  /** The live transition matrix: [[transitionPairs]] aggregated. */
  def transitionCounts(events: Dataset[TransEvent],
      gapMinutes: Int = 30): DataFrame =
    transitionPairs(events, gapMinutes)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))

  /** Streaming incremental ingest — the q122/q135 batch loop promoted
    * to Structured Streaming. Per micro-batch of documents:
    *  1. fingerprint (`TextOps.normFp`),
    *  2. dedupe WITHIN the batch (smallest doc_id wins),
    *  3. anti-join against the persistent fingerprint STORE (parquet),
    *  4. append the survivors — so the store stays exactly the set of
    *     unique fingerprints ever ingested and per-batch work is
    *     proportional to the BATCH (the 100 TB ingest contract; at
    *     scale the store is a bucketed fp table and step 3 is the
    *     co-partitioned anti-join, with q135's Bloom prefilter in
    *     front).
    *
    * `foreachBatch` because the store is both read and appended each
    * batch — a cross-batch self-dependency no continuous operator
    * expresses. Restart safety: on recovery foreachBatch can re-run
    * the LAST batch; the anti-join then drops every fingerprint the
    * interrupted run already appended, so the append is IDEMPOTENT —
    * exactly-once store contents from at-least-once batch delivery
    * (pinned in StreamingSpec by replaying a batch verbatim). */
  def incrementalIngest(docs: DataFrame, storeDir: String,
                        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val fps = batch.select($"doc_id",
          graft.llm.TextOps.normFp($"text").as("fp"))
        val w = Window.partitionBy($"fp").orderBy($"doc_id")
        val inBatch = fps.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).select($"fp")
        val novel =
          if (new java.io.File(storeDir).exists())
            inBatch.join(s.read.parquet(storeDir), Seq("fp"), "left_anti")
          else inBatch
        novel.write.mode("append").parquet(storeDir)
        ()
      }
      .start()

  /** Streaming SEMANTIC ingest — q233's incremental SemDeDup
    * assignment promoted to Structured Streaming (VERDICT r14 item 4),
    * the embedding twin of [[incrementalIngest]]. Per micro-batch of
    * (vec_id, v) embeddings:
    *  1. assign each vector to the store index's nearest cell and
    *     compare it to that cell's store representative
    *     ([[graft.llm.Similarity.semAssignFrom]] — work ∝ |batch|·K);
    *  2. drop semantic dups (`cos_rep ≥ tau`); a vector landing in a
    *     cell with NO representative survives (first occupant);
    *  3. anti-join survivors against the persistent store (parquet,
    *     keyed by vec_id) and append the novel ones.
    *
    * The index (cells + representatives — q240's fixture shape) is
    * BATCH-STATIC broadcast state: read once at query start and held
    * fixed between compactions, exactly the operational contract of a
    * production embedding-ingest pipeline (re-running q229/q233's
    * builder is the rare maintenance event; the nightly path only
    * assigns). Restart safety: on recovery foreachBatch can re-run the
    * LAST batch; assignment against the fixed index is deterministic,
    * so the replayed survivors anti-join away against what the
    * interrupted run already appended — exactly-once store contents
    * from at-least-once batch delivery (the incrementalIngest
    * contract, pinned in StreamingSpec by replaying a batch verbatim). */
  def semanticIngest(vecs: DataFrame, index: DataFrame, tau: Double,
                     storeDir: String,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val assigned = graft.llm.Similarity.semAssignFrom(index, batch, tau)
        val survivors = assigned.filter(!col("is_semantic_dup"))
          .select(col("vec_id"), col("cell"), col("cos_rep"))
        val novel =
          if (new java.io.File(storeDir).exists())
            survivors.join(s.read.parquet(storeDir).select("vec_id"),
              Seq("vec_id"), "left_anti")
          else survivors
        novel.write.mode("append").parquet(storeDir)
        ()
      }
      .start()

  /** Streaming PERCEPTUAL ingest — the media member of the ingest
    * family (exact [[incrementalIngest]], semantic [[semanticIngest]],
    * perceptual this): dedup scraped images AT INGEST against the
    * store's perceptual-hash index. Per micro-batch of media rows:
    *  1. dHash each decodable image through the real container path
    *     ([[graft.llm.Multimodal.phashSigs]] — one narrow
    *     mapPartitions, pixels never shuffle);
    *  2. a batch image is a NEAR-DUP if any STORE signature agrees on
    *     ≥1 of its four 16-bit chunks (band join against the store's
    *     chunk table) within Hamming ≤ `radius` — dropped;
    *  3. survivors (batch-internal order does not matter: each batch
    *     row is judged against the STORE only, q233's first-occupant
    *     discipline) anti-join on media_id and append both their
    *     signature row and the four chunk rows, so the NEXT batch
    *     bands against everything ingested so far.
    * Restart safety: signatures are deterministic, so a replayed batch
    * re-derives the same survivors and the media_id anti-join drops
    * them — exactly-once store contents from at-least-once delivery
    * (the family contract, pinned in StreamingSpec by replay).
    *
    * Cap semantics and observability (ADVICE r16): a STORE bucket past
    * `Dedup.MaxBucketWidth` stops banding permanently — every future
    * near-dup of that flooded pattern is ADMITTED and APPENDED, so the
    * bucket grows monotonically. That is deliberate (the alternative,
    * banding an unbounded bucket, makes one degenerate pattern cost
    * |batch|·|bucket| join rows per batch forever), but it is a recall
    * leak, so BOTH capped sides count what they drop on named
    * `observe` metrics ([[graft.llm.DropMetrics.IngestBatchDrops]] /
    * [[graft.llm.DropMetrics.IngestStoreDrops]]) riding the batch's
    * own write pass — a runaway flooded pattern surfaces in the driver
    * log (and StreamingSpec pins both counters firing on a constructed
    * degenerate-chunk flood). The store side's widths come from a
    * GROUP BY pre-aggregate broadcast back to the scan, not a window
    * over the whole store (ADVICE r16 item 4): partial aggregation
    * keeps the per-batch shuffle at ≤ 4·65536 width rows no matter how
    * large the store grows, where the window form re-shuffled the
    * entire store chunk table every micro-batch.
    *
    * `fingerprint` selects the perceptual signature (r16): the default
    * is the image dHash ([[graft.llm.Multimodal.phashSigs]]); pass
    * [[graft.llm.Multimodal.audioSigs]] to ingest-dedup audio clips
    * through the SAME band/cap/Hamming machinery and store schema —
    * any (media_id, v0..v3) four-chunk signature table rides this
    * path unchanged (both directions pinned in StreamingSpec). */
  def perceptualIngest(media: org.apache.spark.sql.Dataset[graft.llm.Multimodal.MediaRow],
                       storeDir: String, checkpoint: String,
                       radius: Int = 6,
                       fingerprint: org.apache.spark.sql.Dataset[graft.llm.Multimodal.MediaRow] =>
                         org.apache.spark.sql.DataFrame =
                         graft.llm.Multimodal.phashSigs)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.llm.Multimodal.MediaRow],
                       _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val sigs = fingerprint(batch)
        val chunksOf = (df: org.apache.spark.sql.DataFrame) =>
          df.withColumn("cc", explode(array((0 until 4).map(c =>
              struct(lit(c).as("c"), col(s"v$c").as("v"))): _*)))
            .select(col("media_id"), col("v0"), col("v1"), col("v2"), col("v3"),
              col("cc.c"), col("cc.v"))
        // over-wide-bucket cap on BOTH sides of the band join (ADVICE
        // r15: without it a degenerate chunk value — e.g. flat images
        // all hashing chunk 0 — grows the per-batch dup join with the
        // square of store size), each side COUNTING its drops (ADVICE
        // r16: a silently-binding cap is a recall leak with no signal)
        graft.llm.DropMetrics.ensureListener(s)
        val maxW = graft.llm.Dedup.MaxBucketWidth
        val dirExists = new java.io.File(storeDir).exists()
        val novel =
          if (!dirExists) sigs
          else {
            val store = s.read.parquet(storeDir)
            // store-side widths as a GROUP BY pre-aggregate (map-side
            // partial → ≤ 4·65536 rows shuffle) broadcast back to the
            // scan — not a window over the whole store per batch
            val widths = store.groupBy(col("c"), col("v"))
              .agg(count(lit(1)).as("w"))
              .observe(graft.llm.DropMetrics.IngestStoreDrops,
                sum(when(col("w") > maxW, 1L).otherwise(0L))
                  .as("dropped_buckets"),
                sum(when(col("w") > maxW, col("w")).otherwise(0L))
                  .as("dropped_rows"),
                shiftright(sum(when(col("w") > maxW,
                  col("w") * (col("w") - 1L)).otherwise(0L)), 1)
                  .as("dropped_pairs"))
            val sc = store.join(
                broadcast(widths.filter(col("w") <= maxW).select("c", "v")),
                Seq("c", "v"))
              .select(col("media_id").as("sid"),
              col("v0").as("y0"), col("v1").as("y1"),
              col("v2").as("y2"), col("v3").as("y3"),
              col("c").as("c2"), col("v").as("v2j"))
            val dupIds = graft.llm.Multimodal.capChunksCounted(
                chunksOf(sigs), graft.llm.DropMetrics.IngestBatchDrops)
              .join(sc, col("c") === col("c2") && col("v") === col("v2j"))
              .filter(
                (bit_count(col("v0").bitwiseXOR(col("y0"))) +
                 bit_count(col("v1").bitwiseXOR(col("y1"))) +
                 bit_count(col("v2").bitwiseXOR(col("y2"))) +
                 bit_count(col("v3").bitwiseXOR(col("y3")))) <= radius)
              .select(col("media_id")).distinct()
            sigs.join(dupIds, Seq("media_id"), "left_anti")
              .join(store.select(col("media_id")).distinct(),
                Seq("media_id"), "left_anti")
          }
        chunksOf(novel).write.mode("append").parquet(storeDir)
        ()
      }
      .start()

  /** Streaming DECONTAMINATION ingest — the fourth member of the
    * ingest family (exact [[incrementalIngest]], semantic
    * [[semanticIngest]], perceptual [[perceptualIngest]], and this —
    * VERDICT r16 item 4): a training-data pipeline gates ingest on
    * BENCHMARK CONTAMINATION, the 13-gram verbatim-containment
    * standard (q258's batch scan, per micro-batch). Per batch of
    * (doc_id, text) documents:
    *  1. every doc's 13-token windows hash map-side
    *     ([[graft.llm.TextOps.gramWindows]] + xxhash64 — q248's 8-byte
    *     keys; the text never reaches an exchange);
    *  2. containment against `benchHashes` — the benchmark suite's
    *     distinct gram-hash set, BATCH-STATIC broadcast state
    *     (semanticIngest's contract: read once at query start, held
    *     fixed between benchmark-suite updates; MBs against a corpus
    *     of TBs, so the doc side never shuffles for the join). A
    *     benchmark-suite UPDATE is the q250/q254 handoff (VERDICT r17
    *     item 3): stop, restart with the new suite against the SAME
    *     store + checkpoint — the doc_id anti-join keeps the store
    *     exactly-once across the swap, new docs are judged by the new
    *     suite, and docs ADMITTED under the old suite are NOT
    *     re-judged (admission is final by policy; a retroactive
    *     contamination sweep of the store is q258's batch scan, not
    *     the ingest path's job) — pinned in StreamingSpec;
    *  3. per-doc verdict (after an in-batch doc_id dedup — the
    *     incrementalIngest discipline): n_grams, n_hits,
    *     n_distinct_hits, a sorted ≤8-hash hit_sample (the q258 audit
    *     trail riding the store row), contaminated = any hit. Docs too
    *     short to carry a 13-gram window are CLEAN by definition
    *     (n_grams = 0) — the ingest gate must not lose them;
    *  4. `mode = "drop"` gates contaminated docs out of the store;
    *     `mode = "flag"` appends everything WITH the verdict columns —
    *     the audit-trail variant (quarantine-not-degradation, but for
    *     policy review instead of errors);
    *  5. survivors anti-join the persistent store on doc_id and
    *     append. Gram hashing is deterministic, so a replayed batch
    *     re-derives the same verdicts and the anti-join drops it —
    *     exactly-once store contents from at-least-once delivery (the
    *     family contract, pinned in StreamingSpec by replay).
    *
    * Store schema note (ADVICE r18): rows appended since r18 carry 6
    * verdict columns (+n_distinct_hits, +hit_sample); a store that
    * predates the change holds 4-column files alongside them. The
    * ingest path itself is unaffected (the anti-join reads only
    * doc_id), but AUDIT reads over a mixed store must merge footers —
    * use [[readDecontamStore]], which sets mergeSchema=true, instead
    * of a bare spark.read.parquet. */
  def decontamIngest(docs: DataFrame, benchHashes: DataFrame,
                     storeDir: String, checkpoint: String,
                     mode: String = "drop")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(mode == "drop" || mode == "flag", s"decontamIngest mode=$mode")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val bench = benchHashes.select(col(benchHashes.columns.head).as("bh"))
          .distinct()
        // dedupe WITHIN the batch first (ADVICE r17 — the
        // incrementalIngest discipline): two same-doc_id rows with
        // different payloads would otherwise blend their gram windows
        // into one verdict row describing neither document. Smallest
        // text wins — any deterministic pick; at-least-once replays of
        // the SAME payload are unaffected.
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"text".asc_nulls_last)
        val docs1 = batch.withColumn("rn", row_number().over(wB))
          .filter($"rn" === 1).drop("rn")
        // verdict columns carry the FULL q258 audit trail (VERDICT r17
        // item 6): n_distinct_hits says how many distinct benchmark
        // grams hit, and hit_sample keeps up to 8 of their hashes
        // (sorted — deterministic) so a policy reviewer can join a
        // flagged row back to WHICH benchmark entries matched without
        // re-running the batch scan.
        val stats = graft.llm.TextOps.gramWindows(docs1)
          .select($"doc_id", xxhash64($"g").as("h"))
          .join(broadcast(bench), $"h" === $"bh", "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when($"bh".isNotNull, 1L).otherwise(0L)).as("n_hits"),
            countDistinct(when($"bh".isNotNull, $"h")).as("n_distinct_hits"),
            slice(sort_array(collect_set(when($"bh".isNotNull, $"h"))), 1, 8)
              .as("hit_sample"))
        val verdicts = docs1.select($"doc_id").distinct()
          .join(stats, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_grams", lit(0L)).as("n_grams"),
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            coalesce($"n_distinct_hits", lit(0L)).as("n_distinct_hits"),
            coalesce($"hit_sample", array().cast("array<bigint>"))
              .as("hit_sample"))
          .withColumn("contaminated", $"n_hits" > 0)
        val admitted =
          if (mode == "drop") verdicts.filter(!$"contaminated")
          else verdicts
        val novel =
          if (new java.io.File(storeDir).exists())
            admitted.join(s.read.parquet(storeDir).select("doc_id"),
              Seq("doc_id"), "left_anti")
          else admitted
        novel.write.mode("append").parquet(storeDir)
        ()
      }
      .start()
  }

  /** Audit-grade read of a decontamination store: mergeSchema=true so
    * a store holding both pre-r18 4-column and current 6-column
    * verdict files surfaces every audit column (missing ones read as
    * null) instead of silently dropping whichever columns the
    * footer-inference winner lacks. */
  def readDecontamStore(s: SparkSession, storeDir: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(storeDir)
}
