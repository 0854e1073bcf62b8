package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  test("curation pipeline: survivors are unique by fingerprint, long enough, and present in source") {
    val out = llm.Pipeline.curate(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // exact-dedup stage: one survivor per fingerprint
    assert(out.select("fp").distinct().count() == rows.length)
    // quality gate held
    assert(rows.forall(_.getAs[Int]("n_tokens") >= 20))
    // provenance ids are genuine doc ids
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => ids.contains(r.getLong(0))))
    // the funnel removed something (near-dups/quality/lang all active)
    assert(rows.length < ids.size)
  }

  test("q276 funnel census: each constructed doc drops at its designed stage; totals exact; live ties to q29/q266") {
    // six docs, one designed casualty per stage:
    //   0 A      survives everything
    //   1 B = A  exact duplicate        -> drops at exact_dedup
    //   2 C ~ A  one appended word      -> drops at near_dedup (keep-min)
    //   3 D      3 words               -> drops at quality (word-count rule)
    //   4 F      benchmark (src0)      -> drops at decontam (benchmark source)
    //   5 E      13 verbatim F tokens  -> drops at decontam (contaminated)
    val a = "the and " + (0 until 58).map(i => s"fox$i").mkString(" ")
    val c = a + " extra"
    val d = "the and tiny"
    val f = "the and " + (0 until 58).map(i => s"owl$i").mkString(" ")
    val e = "the and " + (0 until 45).map(i => s"cat$i").mkString(" ") +
      " " + (10 to 22).map(i => s"owl$i").mkString(" ")
    val docs = Seq((0L, a, "src1"), (1L, a, "src1"), (2L, c, "src1"),
      (3L, d, "src1"), (4L, f, "src0"), (5L, e, "src1"))
      .toDF("doc_id", "text", "source")
    val (_, vocab, _) = llm.TextOps.bpeTrainInt(docs, 16)
    try {
      val out = llm.Pipeline.pipelineFunnelFrom(docs, vocab).collect()
      val by = out.map(r => r.getAs[Int]("stage_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_ids"))).toMap
      assert(by(0)._1 == 6L, s"raw: $by")
      assert(by(1)._1 == 5L, s"exact_dedup must drop the copy: $by")
      assert(by(2)._1 == 4L, s"quality must drop the 3-word doc: $by")
      assert(by(3)._1 == 3L, s"near_dedup must drop the appended near-copy: $by")
      assert(by(4)._1 == 1L, s"decontam must drop src0 and the contaminated doc: $by")
      // exact accounting: the sole survivor is A (60 words); its id
      // count is bounded by its character mass and floored by one id
      // per word
      assert(by(4)._2 == 60L, s"survivor token count: $by")
      assert(by(4)._3 >= 60L && by(4)._3 <= 286L, s"survivor id count: $by")
      // the funnel only ever narrows
      (0 to 3).foreach { i =>
        assert(by(i)._1 >= by(i + 1)._1 && by(i)._2 >= by(i + 1)._2 &&
          by(i)._3 >= by(i + 1)._3, s"stage $i -> ${i + 1} must narrow: $by")
      }
      // q280 on the same constructed corpus: the sole surviving source
      // (src1, doc A alone) water-fills the whole budget — a single
      // uncapped key takes B = 3·avail exactly, 300 epochs_pct
      val mix = llm.Pipeline.funnelMixtureFrom(docs, vocab).collect()
      assert(mix.length == 1 && mix(0).getAs[String]("source") == "src1")
      assert(!mix(0).getAs[Boolean]("capped"))
      assert(mix(0).getAs[Long]("alloc") == 3 * mix(0).getAs[Long]("avail"))
      assert(mix(0).getAs[Long]("epochs_pct") == 300L)
      assert(mix(0).getAs[Long]("avail") == by(4)._3,
        "the mixture's avail must equal the census's surviving id mass")
    } finally graft.Ckpt.free(vocab)
    // live registration ties to the single-stage graded queries: raw
    // counts are the corpus's, exact_dedup keeps q29's keeper count,
    // raw id total is q266's Σ n_ids (one encoding, two graded views)
    val live = llm.Pipeline.q276PipelineFunnel(spark, sf).collect()
    assert(live.length == 5)
    val lby = live.map(r => r.getAs[Int]("stage_id") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_ids"))).toMap
    assert(lby(0)._1 == Tables.documents(spark, sf).count())
    assert(lby(1)._1 == llm.TextOps.q29DedupExact(spark, sf).count())
    val ids266 = llm.TextOps.q266BpeIdStream(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_ids")).collect()(0).getLong(0)
    assert(lby(0)._2 == ids266,
      s"raw id total must conserve q266: ${lby(0)._2} vs $ids266")
    // live q280: Σalloc = 3·Σsurviving-ids EXACTLY (the allocator's
    // integer remainder discipline), capped sources at exactly 4
    // epochs, and the total avail equals the census's stage-4 id mass
    val mixLive = llm.Pipeline.q280FunnelMixture(spark, sf).collect()
    assert(mixLive.nonEmpty)
    val availTot = mixLive.map(_.getAs[Long]("avail")).sum
    assert(availTot == lby(4)._2,
      s"mixture avail must equal the surviving id mass: $availTot vs ${lby(4)._2}")
    assert(mixLive.map(_.getAs[Long]("alloc")).sum == 3 * availTot,
      "the budget must be allocated exactly")
    mixLive.filter(_.getAs[Boolean]("capped")).foreach { r =>
      assert(r.getAs[Long]("alloc") == 4 * r.getAs[Long]("avail"),
        s"capped source must take exactly 4 epochs: $r") }
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDS().toDF("ts", "user_id", "event_type")
    val q = streaming.Streams.dedupWithinWatermark(events, "10 minutes")
      .writeStream.format("memory").queryName("wmdedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "click"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), 1L, "click"), // dup within horizon
        (Timestamp.valueOf("2026-01-01 10:02:00"), 2L, "click"))
      q.processAllAvailable()
      assert(spark.table("wmdedup_out").count() == 2)
    } finally q.stop()
  }
}
