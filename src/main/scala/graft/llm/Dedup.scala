package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Near-duplicate detection for the training-data pipeline (north star):
  * MinHash + LSH banding and SimHash, both built on codegen'd builtins
  * (xxhash64, higher-order array functions) — no UDFs, no RNG.
  *
  * MinHash pipeline shape (shingle → minhash → band → bucket-join):
  *  1. shingle: w-word shingles from the token stream;
  *  2. K minhashes: min over shingles of xxhash64(seed=k, shingle);
  *  3. banding: split the K-signature into B bands of R rows; a pair is
  *     a candidate iff some band agrees (same (band, band-hash) bucket);
  *  4. verify candidates with exact shingle-set Jaccard.
  *
  * Scale: candidate generation is an equality join on (band, bucket) —
  * shuffle-partitioned, no cross product. Bucket skew (boilerplate
  * shingles) is the known hazard at 100 TB; counters, BOTH implemented:
  * cap bucket width (default — drop + count, `MaxBucketWidth`) or salt
  * hot buckets (`spark.graft.lsh.saltHotBuckets=true` — lossless
  * triangle decomposition, [[saltedPairs]]), plus AQE skew-join locally.
  * Verification touches only candidate pairs, O(candidates), and the
  * signature pass is one narrow scan.
  */
object Dedup {

  val MinhashK = 32      // signature length
  val Bands = 8          // B bands x R rows, B*R = K
  val RowsPerBand = 4

  /** Tokenized docs: (doc_id, toks). */
  private def toks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread BEFORE tokenize: every consumer hashes per token/shingle
    // (md5 minhash sigs, simhash bit-sums), which otherwise runs inside
    // the single-task scan stage (Tables.spread scaladoc; guide §2.5)
    Tables.spread(Tables.documents(s, dir), "doc_id")
      .select($"doc_id",
        TextOps.tokens($"text").as("toks"))
  }

  /** Cross-query memo of the exploded distinct shingle table
    * (doc_id, source, sh) — per-doc distinct 3-token shingles with the
    * doc's source carried through (r13). The higher-order shingle
    * transform is the interpreted (CodegenFallback) path and is the
    * dominant cost of every shingle-census consumer; q49 (singletons),
    * q165 (source-overlap matrix) and q189 (split leakage) each paid
    * the identical build independently. Same shared-intermediate idiom
    * as [[q105DedupClusters]]'s pair cache and the graph edge cache:
    * SessionCache + Ckpt.cut, so the blocks live as long as the entry.
    * The production shape is the same decision — a curation pipeline
    * explodes the corpus's shingles once and every
    * census reads that table; doc-level attributes (source here, q189's
    * split = f(doc_id)) ride along or derive map-side so no consumer
    * re-joins the corpus. Per-doc shingle ARRAYS (q34/q46's verify
    * side) stay un-memoized — different shape, array not exploded. */
  private val docShCache =
    new graft.SessionCache[DataFrame]("doc_shingles")

  def docShingles(s: SparkSession, dir: String): DataFrame =
    docShCache.getOrElseUpdate(s, dir, {
      import s.implicits._
      graft.Ckpt.cut(
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            explode(shingles(TextOps.tokens($"text"))).as("sh")))
    })

  /** w-word shingles of a token array column — the native
    * [[graft.functions.ShingleArray]] kernel (r13): one compiled pass
    * with order-preserving distinct, replacing the interpreted
    * five-stage higher-order pipeline (CodegenFallback `transform` +
    * `slice` copy + `concat_ws` per position + `array_distinct`) that
    * was the dominant per-row cost of every shingle consumer. The
    * kernel is bit-parity with that pipeline (including `concat_ws`'s
    * null-element skipping) — pinned by every shingle oracle and by
    * FixtureDriftSpec against fixtures generated under the old
    * pipeline. No session is involved: the expression embeds directly
    * into the Column (below), so no fallback is needed anywhere. */
  def shingles(toksCol: Column, w: Int = 3): Column = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    // embedded directly as an expression (no per-session registry): a
    // Column built in one session must stay resolvable when analyzed
    // by another (newSession clones get a fresh function registry —
    // DedupSpec's exchange-reuse scenario does exactly that)
    GraftSqlShim.column(
      graft.functions.ShingleArray(GraftSqlShim.expression(toksCol), w))
  }

  /** K-element minhash signature of a shingle-array column. */
  def minhashSig(sh: Column, k: Int = MinhashK): Column =
    array((0 until k).map(seed =>
      array_min(transform(sh, x => xxhash64(lit(seed), x)))): _*)

  /** K-element minhash signatures of a (doc_id, sh) table via an
    * EXPLODED pass: higher-order `transform` is CodegenFallback in
    * Spark, so xxhash64 inside the lambda evaluates interpreted, per
    * element, K times. Exploding shingles to rows keeps all K hashes
    * inside whole-stage codegen, and map-side partial `min` reduces
    * the aggregation shuffle to K longs per doc. Semantics identical
    * to `minhashSig` (shingle arrays are never empty: `shingles`
    * always emits >= 1 element, so explode drops no doc). */
  def minhashSigs(sh: DataFrame, k: Int = MinhashK): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val mins = (0 until k).map(seed => min(xxhash64(lit(seed), $"s")).as(s"m$seed"))
    sh.select($"doc_id", explode($"sh").as("s"))
      .groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (band, bucket) candidates from a signature column. */
  private def bandBuckets(sig: Column): Column =
    array((0 until Bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * RowsPerBand + 1, RowsPerBand)).as("bkt"))): _*)

  /** Skew guard: buckets wider than this are dropped from candidate
    * generation. A bucket of width w contributes O(w²) pairs, so one
    * boilerplate bucket (templated text, empty docs) can dominate the
    * whole job at corpus scale. Docs in an oversized bucket are
    * near-identical by construction, which is exactly what the CHEAPER
    * upstream exact/fingerprint dedup (q29/q33, pipeline stage 1)
    * already catches — so the recall lost here is confined to
    * "boilerplate that survived exact dedup", measured in DedupSpec. */
  val MaxBucketWidth = 64

  /** (doc_id, band, bkt) — the xxhash64-family banding of a (doc_id,
    * sig) table, shared by [[lshCandidates]] and the q46 oracle-fixture
    * generator ([[graft.FixtureGen]]): the fixture must be EXACTLY the
    * banding the production path joins on, or the driver's hash gate
    * (rightly) fails on fixture/code drift. */
  private[graft] def xxhBanded(sigs: DataFrame): DataFrame =
    sigs.withColumn("bb", explode(bandBuckets(col("sig"))))
      .select(col("doc_id"), col("bb.band"), col("bb.bkt"))

  /** Id-only LSH candidate pairs from a (doc_id, sig) table. The band
    * join carries ONLY (doc_id, band, bkt) — shingle arrays must never
    * ride the ×Bands-exploded shuffle (at corpus scale that re-shuffles
    * the whole corpus 8× in array form). Width-1 buckets are dropped
    * before the self-join (they cannot pair), width->maxWidth buckets
    * by the skew cap above — unless `spark.graft.lsh.saltHotBuckets`
    * is true, in which case hot buckets are SALTED instead of dropped:
    * see [[saltedPairs]]. */
  def lshCandidates(sigs: DataFrame, maxWidth: Int = MaxBucketWidth): DataFrame = {
    // Non-positive widths have no sane reading on EITHER policy path:
    // the capped filter (w <= maxWidth) would silently emit an EMPTY
    // candidate set (everything counted as dropped), and the salted
    // path would detonate (see saltedPairs). Fail fast at plan-build
    // time; "cap disabled" is spelled maxWidth = Int.MaxValue.
    require(maxWidth > 0, s"lshCandidates: maxWidth must be positive, got $maxWidth")
    val s = sigs.sparkSession
    import s.implicits._
    // ids only; read 3× (widths + both join sides). Lazy persist, not an
    // eager localCheckpoint: no blocking materialization job, graceful
    // recompute under memory pressure, and the identical self-join sides
    // still collapse to one shuffle via ReusedExchange. Bench/Verify
    // sweep the blocks after each query (graft.Ckpt).
    val banded = xxhBanded(sigs).persist()
    val saltHot = s.conf.getOption("spark.graft.lsh.saltHotBuckets")
      .exists(_.trim.toBoolean)
    if (saltHot) return saltedPairs(banded, maxWidth)
    // pre-filter widths carry the drop observability (DropMetrics):
    // what the skew cap removes is counted on the same pass that
    // computes the widths — no extra job, and the q87 pipeline logs it
    DropMetrics.ensureListener(s)
    val okBuckets = banded.groupBy($"band", $"bkt")
      .agg(count(lit(1)).as("w"))
      .observe(DropMetrics.LshDrops,
        sum(when($"w" > maxWidth, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when($"w" > maxWidth, $"w").otherwise(0L)).as("dropped_rows"),
        // w·(w−1)/2 in integer math (shiftright, not `/`: SQL division
        // is double and would lose exactness on giant buckets)
        sum(when($"w" > maxWidth, shiftright($"w" * ($"w" - 1L), 1)).otherwise(0L))
          .as("dropped_pairs"))
      .filter($"w" > 1 && $"w" <= maxWidth)
      .select($"band", $"bkt")
    val capped = banded.join(okBuckets, Seq("band", "bkt"))
    val a = capped.select($"doc_id".as("id1"), $"band", $"bkt")
    val b = capped.select($"doc_id".as("id2"), $"band".as("b2"), $"bkt".as("k2"))
    a.join(b, $"band" === $"b2" && $"bkt" === $"k2" && $"id1" < $"id2")
      .select($"id1", $"id2").distinct()
  }

  /** SALT-hot-buckets candidate generation — the lossless 100 TB
    * counter to the width cap (the alternative the module scaladoc has
    * flagged since round 4, now implemented behind
    * `spark.graft.lsh.saltHotBuckets=true`). A bucket of width w is
    * split into g = ⌈w / maxWidth⌉ deterministic salt groups
    * (xxhash64(doc_id) mod g) and its pair set is TRIANGLE-DECOMPOSED:
    * a row in group p joins under cell keys (p, p..g−1) on the left
    * and (0..p, p) on the right, so every unordered pair co-occurs in
    * exactly one (lo, hi) cell with lo ≤ hi. The join stays a pure
    * equality join on (band, bkt, lo, hi); no task ever holds more
    * than ~maxWidth² of one bucket's pair mass — the w² OUTPUT is
    * intrinsic to lossless semantics, but it now streams out of
    * g(g+1)/2 independent cells instead of one straggler partition.
    * Cold buckets take g=1 and reduce to the plain self-join, so one
    * code path serves both; the pair SET equals the uncapped join's
    * exactly (DedupSpec skew pin).
    *
    * Cap (drop + count) vs salt (keep + spread) is a recall/cost
    * policy choice: boilerplate-heavy web corpora want the cap
    * (near-identical floods are upstream exact-dedup's job); corpora
    * where hot buckets carry REAL near-dup structure pay for the full
    * pair set, skew-free. */
  private[graft] def saltedPairs(banded: DataFrame, maxWidth: Int): DataFrame = {
    // maxWidth <= 0 would make ng = ceil(w / 0.0) = Infinity -> an
    // Int.MaxValue-group sequence explode per row. lshCandidates
    // already rejects non-positive widths for both policy paths (its
    // capped filter would silently return EMPTY, not "cap disabled");
    // this local require keeps direct callers of the salted kernel —
    // e.g. the graded q214/q228 routes — equally fail-fast.
    require(maxWidth > 0, s"saltedPairs: maxWidth must be positive, got $maxWidth")
    val s = banded.sparkSession
    import s.implicits._
    val widths = banded.groupBy($"band", $"bkt")
      .agg(count(lit(1)).as("w"))
      .filter($"w" > 1) // width-1 buckets cannot pair
    val rows = banded.join(widths, Seq("band", "bkt"))
      .withColumn("ng", ceil($"w" / lit(maxWidth.toDouble)).cast("int"))
      .withColumn("g", pmod(xxhash64($"doc_id"), $"ng").cast("int"))
    val a = rows
      .withColumn("hi", explode(expr("sequence(g, ng - 1)")))
      .select($"doc_id".as("id1"), $"band", $"bkt", $"g".as("lo"), $"hi")
    val b = rows
      .withColumn("lo", explode(expr("sequence(0, g)")))
      .select($"doc_id".as("id2"), $"band".as("b2"), $"bkt".as("k2"),
        $"lo".as("l2"), $"g".as("h2"))
    a.join(b, $"band" === $"b2" && $"bkt" === $"k2" &&
        $"lo" === $"l2" && $"hi" === $"h2" && $"id1" =!= $"id2")
      .select(least($"id1", $"id2").as("id1"),
        greatest($"id1", $"id2").as("id2"))
      .distinct()
  }

  /** Late shingle re-join: attach shingle sets to id-only candidate
    * pairs and keep pairs with exact Jaccard >= minJ. The shingle table
    * is shuffled by doc_id once per side — proportional to CANDIDATES,
    * not to bands × corpus. */
  def verifyJaccard(cand: DataFrame, shingleTbl: DataFrame, minJ: Double): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    // sorted-merge overlap kernel (SortedOverlapCount): shingle arrays
    // are distinct by construction, so o/(n1+n2-o) is BIT-IDENTICAL to
    // size(intersect)/size(union) — the graded twins (q107/q108) keep
    // oracle parity — while the per-pair cost drops from hash-probe
    // plus two materialized arrays to one allocation-free merge
    cand
      .join(shingleTbl.select($"doc_id".as("id1"), array_sort($"sh").as("sh1")), Seq("id1"))
      .join(shingleTbl.select($"doc_id".as("id2"), array_sort($"sh").as("sh2")), Seq("id2"))
      .withColumn("o", graft.functions.SortedOverlapCount.overlap(s, $"sh1", $"sh2"))
      .withColumn("jaccard",
        round($"o".cast("double") / (size($"sh1") + size($"sh2") - $"o"), 4))
      .filter($"jaccard" >= minJ)
      .select($"id1", $"id2", $"jaccard")
  }

  /** q46: MinHash-LSH near-dup pairs, verified by exact shingle Jaccard.
    * HASH-GRADED since r12 (VERDICT r11 item 5): xxhash64 itself is not
    * DuckDB-expressible, so the oracle reads the band table from a
    * committed side parquet (`fixtures/q46_banded_sf001`, written by
    * [[graft.FixtureGen]] THROUGH the same [[minhashSigs]]/[[xxhBanded]]
    * code this query runs) and replays everything DOWNSTREAM of the
    * hash in SQL — the width cap, the bucket equi-join, the exact
    * shingle-Jaccard verification, the threshold. Code/fixture drift
    * fails the gate loudly (rerun FixtureGen); the hash stage itself
    * stays pinned by the md5 twin (q107) and DedupSpec. */
  def q46MinhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = toks(s, dir)
      .select($"doc_id", shingles($"toks").as("sh"))
      .persist() // feeds the signature pass and both verify sides (lazily)
    verifyJaccard(lshCandidates(minhashSigs(sh)), sh, 0.5)
      .orderBy($"id1", $"id2")
  }

  /** Fixture/corpus agreement guard (ADVICE r12): the committed fixture
    * is only valid for the exact corpus it was generated from (sf0.01);
    * run against any other corpus the gate would otherwise grade the
    * wrong band table with a confusing generic mismatch. The shared
    * [[graft.Fixtures.corpusGuardCtes]] compares (doc_id, md5(text))
    * against the committed corpus checksum and, on any disagreement,
    * injects a self-explanatory poison row (id1 = −1, id2 = the
    * disagreement count) that can never appear in Spark's result — the
    * gate still fails, but the failure names its cause. */
  val q46Sql: String =
    raw"""WITH ${graft.Fixtures.corpusGuardCtes},
      |banded AS (
      |  SELECT doc_id, band, bkt
      |  FROM read_parquet('${graft.Fixtures.dir}/q46_banded_sf001/*.parquet')),
      |ok AS (
      |  SELECT band, bkt FROM banded GROUP BY band, bkt
      |  HAVING count(*) > 1 AND count(*) <= 64),
      |c0 AS (SELECT b.doc_id, b.band, b.bkt FROM banded b JOIN ok USING (band, bkt)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM c0 a JOIN c0 b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
      |t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |      FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t)
      |SELECT c.id1, c.id2,
      |  round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) AS jaccard
      |FROM cand c
      |JOIN sh x ON x.doc_id = c.id1
      |JOIN sh y ON y.doc_id = c.id2
      |WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5
      |UNION ALL
      |SELECT -1, n, -1.0 FROM fixture_corpus_mismatch WHERE n > 0
      |ORDER BY id1, id2""".stripMargin

  /** 64-bit SimHash of a token array: bit j is the sign of the sum over
    * tokens of ±1 according to bit j of xxhash64(token). Built as 64
    * per-bit aggregates over the exploded token stream (codegen'd). */
  def simhash64(docs: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val hashed = docs
      .select(col(idCol).as("doc_id"), explode(col(toksCol)).as("tok"))
      .withColumn("h", xxhash64($"tok"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright($"h", j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = hashed.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select($"doc_id", simhash.as("simhash"))
  }

  /** q47: SimHash near-dup pairs — candidates agree on one of four
    * 16-bit chunks (the standard rotation trick), verified by Hamming
    * distance ≤ 6. HASH-GRADED since r12 via the committed signature
    * fixture (`fixtures/q47_simhash_sf001`, the q46 discipline): the
    * oracle replays the chunk banding, width cap, pair join and
    * bit_count(xor) Hamming verify in SQL over the precomputed
    * simhashes — the arithmetic-shift-plus-mask chunk extraction is
    * identical on both engines even for negative packed longs.
    *
    * Chunk buckets wider than `MaxBucketWidth` are DROPPED before the
    * self-join — the same boilerplate-skew cap as `lshCandidates`: one
    * templated slice giving N docs an identical simhash would otherwise
    * put all N in every chunk bucket and materialize ~4·N²/2 join rows
    * (the quadratic blowup the file's skew analysis describes). Docs in
    * a dropped bucket can still pair through their three other chunks. */
  def q47SimhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashChunkPairs(simhash64(toks(s, dir), "doc_id", "toks"))

  val q47Sql: String =
    raw"""WITH ${graft.Fixtures.corpusGuardCtes},
      |sg AS (
      |  SELECT doc_id, simhash
      |  FROM read_parquet('${graft.Fixtures.dir}/q47_simhash_sf001/*.parquet')),
      |ch AS (
      |  SELECT doc_id, simhash, u.c, (simhash >> (u.c * 16)) & 65535 AS v
      |  FROM sg, unnest(generate_series(0, 3)) AS u(c)),
      |ok AS (SELECT c, v FROM ch GROUP BY c, v HAVING count(*) <= 64),
      |c0 AS (SELECT ch.doc_id, ch.simhash, ch.c, ch.v
      |       FROM ch JOIN ok USING (c, v)),
      |p AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
      |         a.simhash AS s1, b.simhash AS s2
      |  FROM c0 a JOIN c0 b
      |    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
      |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
      |FROM p WHERE bit_count(xor(s1, s2)) <= 6
      |UNION ALL
      |SELECT -1, n, CAST(-1 AS INT) FROM fixture_corpus_mismatch WHERE n > 0
      |ORDER BY id1, id2""".stripMargin

  /** Chunk-banded SimHash near-dup pairs from a (doc_id, simhash)
    * table — the cap/observe/join core of q47, factored out so the
    * monitored-cap contract is floodable in a unit test. */
  def simhashChunkPairs(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    DropMetrics.ensureListener(s)
    val chunked = sh.withColumn("chunk", explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright($"simhash", c * 16).bitwiseAND(0xFFFFL).as("v"))): _*)))
      .select($"doc_id", $"simhash", $"chunk.c", $"chunk.v")
      .withColumn("w", count(lit(1)).over(Window.partitionBy($"c", $"v")))
      // rn=1 marks one representative row per bucket, so bucket counts
      // come out of per-row accounting without a DISTINCT aggregate
      // (CollectMetrics forbids those); the ordered window rides the
      // same (c, v) shuffle the width count already pays for.
      .withColumn("rn", row_number().over(
        Window.partitionBy($"c", $"v").orderBy($"doc_id")))
      // per-row accounting over the window output, aligned with the
      // lshCandidates schema: dropped_buckets = over-wide (c, v)
      // buckets; dropped_rows = Σ w = exploded (doc, chunk) rows in
      // them (a doc in k over-wide chunk buckets counts k times — same
      // unit as LSH's (doc, band) rows); dropped_pairs = Σ_rows (w−1)
      // over a dropped bucket = w·(w−1), halved = the pair mass.
      .observe(DropMetrics.SimhashDrops,
        sum(when($"w" > MaxBucketWidth && $"rn" === 1, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when($"w" > MaxBucketWidth, 1L).otherwise(0L)).as("dropped_rows"),
        shiftright(sum(when($"w" > MaxBucketWidth, $"w" - 1L).otherwise(0L)), 1)
          .as("dropped_pairs"))
      .filter($"w" <= MaxBucketWidth).drop("w", "rn")
    val a = chunked.select($"doc_id".as("id1"), $"simhash".as("s1"), $"c", $"v")
    val b = chunked.select($"doc_id".as("id2"), $"simhash".as("s2"),
      $"c".as("c2"), $"v".as("v2"))
    a.join(b, $"c" === $"c2" && $"v" === $"v2" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", bit_count($"s1".bitwiseXOR($"s2")))
      .filter($"hamming" <= 6)
      .select($"id1", $"id2", $"hamming")
      .orderBy($"id1", $"id2")
  }

  /** q109: the SimHash pipeline with an ORACLE-EXPRESSIBLE hash — the
    * 64-bit signature is built from two 32-bit md5 halves (hex digits
    * 1–8 and 9–16 of md5(token); both engines compute md5 identically)
    * and materialized as FOUR 16-BIT CHUNK VALUES instead of one packed
    * long: chunk values stay in [0, 65535], so no engine-specific
    * 64-bit shift/overflow semantics enter the graded output. Candidates
    * agree on one chunk (the same rotation trick as q47), hamming =
    * Σ bit_count(xor(chunk)) ≤ 6 — so the SIMHASH SEMANTICS (bit-sum
    * signs, chunk banding, hamming verify) are hash-graded while q47
    * remains the xxhash64 fast path. */
  def q109SimhashMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashMd5PairsFromToks(
      toks(s, dir).select($"doc_id", explode($"toks").as("tok")))
  }

  /** q109's pair engine on an arbitrary exploded (doc_id, tok) frame —
    * split out for the q276 funnel census, which runs it on the
    * QUALITY-stage survivors (the funnel order: cheap row-wise filters
    * first, pairwise work last on the smallest set). */
  private[llm] def simhashMd5PairsFromToks(tok: DataFrame): DataFrame = {
    val s = tok.sparkSession
    import s.implicits._
    // pre-group to (doc, tok, cnt) — md5 once per DISTINCT (doc, token)
    // and count-weighted bit-sums (Σ over occurrences = Σ cnt·sign);
    // the md5 hex is computed once and both halves sliced from it
    val hashed = tok
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      .withColumn("m", md5($"tok"))
      .withColumn("h1", conv(substring($"m", 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring($"m", 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { j =>
      val src = if (j < 32) $"h1" else $"h2"
      sum(when(shiftright(src, j % 32).bitwiseAND(1) === 1, $"cnt").otherwise(-$"cnt")).as(s"b$j")
    }
    val agg = hashed.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val chunkCols = (0 until 4).map { c =>
      (0 until 16).map { k =>
        when(col(s"b${c * 16 + k}") > 0, lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _).cast("int").as(s"v$c")
    }
    // EAGER cut, not lazy persist (optimization r20): the two chunk-join
    // sides raced the lazy cache into duplicate evaluation of the whole
    // 64-bit-sum aggregate (profiled as twin 366+592 ms stages); the cut
    // materializes the ~500-row signature frame once.
    val sig = graft.Ckpt.cut(agg.select(($"doc_id" +: chunkCols): _*))
    val chunked = sig.withColumn("cc", explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), col(s"v$c").as("v"))): _*)))
      .select($"doc_id", $"v0", $"v1", $"v2", $"v3", $"cc.c", $"cc.v")
      // width-pinned (q174's pattern): the ~1 MB (c, v) shuffle AQE-
      // coalesces the bucket window + 4-chunk self-join to ONE task of
      // CPU-dense work (profiled 262 ms serial); REPARTITION_BY_NUM is
      // AQE-exempt and the window rides the same exchange. Measured on
      // q109 only — the same pin on q47's leaner chunk engine was A/B'd
      // WORSE (2.28 → 2.62 s solo) and reverted; q47's two join sides
      // collapse via ReusedExchange instead.
      .repartition(s.sparkContext.defaultParallelism, $"c", $"v")
      // same boilerplate-skew cap as q47/lshCandidates, mirrored in the
      // oracle SQL below so the graded results move together
      .withColumn("w", count(lit(1)).over(Window.partitionBy($"c", $"v")))
      .filter($"w" <= MaxBucketWidth).drop("w")
    val a = chunked.select($"doc_id".as("id1"), $"v0".as("x0"), $"v1".as("x1"),
      $"v2".as("x2"), $"v3".as("x3"), $"c", $"v")
    val b = chunked.select($"doc_id".as("id2"), $"v0".as("y0"), $"v1".as("y1"),
      $"v2".as("y2"), $"v3".as("y3"), $"c".as("c2"), $"v".as("v2j"))
    a.join(b, $"c" === $"c2" && $"v" === $"v2j" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .withColumn("hamming",
        (bit_count($"x0".bitwiseXOR($"y0")) + bit_count($"x1".bitwiseXOR($"y1")) +
         bit_count($"x2".bitwiseXOR($"y2")) + bit_count($"x3".bitwiseXOR($"y3")))
          .cast("int"))
      .filter($"hamming" <= 6)
      .select($"id1", $"id2", $"hamming")
      .orderBy($"id1", $"id2")
  }

  val q109Sql: String = {
    val bitSums = (0 until 64).map { j =>
      val src = if (j < 32) "h1" else "h2"
      s"sum(CASE WHEN (($src >> ${j % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val chunks = (0 until 4).map { c =>
      (0 until 16).map { k =>
        s"(CASE WHEN b${c * 16 + k} > 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString("CAST(", " + ", s" AS INT) AS v$c")
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
       |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
       |  FROM t),
       |b AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |v AS (
       |  SELECT doc_id,
       |    $chunks
       |  FROM b),
       |c0 AS (
       |  SELECT doc_id, v0, v1, v2, v3, u.c,
       |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
       |  FROM v, unnest(generate_series(0, 3)) AS u(c)),
       |c AS (
       |  SELECT doc_id, v0, v1, v2, v3, c, vv FROM (
       |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) t
       |  WHERE w <= $MaxBucketWidth),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM c a JOIN c b ON a.c = b.c AND a.vv = b.vv AND a.doc_id < b.doc_id)
       |SELECT cd.id1, cd.id2,
       |  CAST(bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |       bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3)) AS INT) AS hamming
       |FROM cand cd
       |JOIN v x ON x.doc_id = cd.id1
       |JOIN v y ON y.doc_id = cd.id2
       |WHERE bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
       |      bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3)) <= 6
       |ORDER BY id1, id2""".stripMargin
  }

  /** q130: the SQL FRONT DOOR to the SimHash AGGREGATE — the whole
    * pipeline is SQL TEXT, with the signature built by the registered
    * `graft_simhash` UDAF (`functions.SimhashAgg` through the session
    * function registry; a `GraftExtensions` session has it from birth,
    * any other gets it from the idempotent `SimhashAgg.register`). This
    * was the last custom tier without a SQL surface: expressions have
    * `graft_cosine` (q125), whole-operators have `graft_asof`/
    * `graft_topk` (q126-q128) — the reference's consumers are SQL-shaped
    * queue queries (ref `agents/orbiter.md:85-90`).
    *
    * Semantics are EXACTLY q109's: the aggregator's per-row ±1 bit
    * votes over each token OCCURRENCE equal q109's count-weighted votes
    * over distinct tokens, and the packed 64-bit signature's chunk
    * slices `(sig >> 16c) & 0xFFFF` equal q109's four chunk columns —
    * the input hash packs q109's two md5 halves as `h1 | (h2 << 32)`,
    * so aggregator bit j reads h1 bit j (j<32) / h2 bit j−32 (j≥32),
    * the same source q109's bit sums read. The oracle is therefore
    * q109's own SQL, verbatim — one oracle, two engines' front doors. */
  def q130SimhashSql(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SimhashAgg.register(s)
    Tables.documents(s, dir).createOrReplaceTempView("graft_q130_docs")
    s.sql(
      s"""WITH t AS (
         |  SELECT doc_id, tok
         |  FROM graft_q130_docs
         |  LATERAL VIEW explode(regexp_extract_all(lower(text), '\\\\S+', 0)) e AS tok),
         |h AS (
         |  SELECT doc_id,
         |    CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS h1,
         |    CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS h2
         |  FROM t),
         |sig AS (
         |  SELECT doc_id, graft_simhash(h1 | shiftleft(h2, 32)) AS sh
         |  FROM h GROUP BY doc_id),
         |v AS (
         |  SELECT doc_id,
         |    CAST(sh & 65535 AS INT) AS v0,
         |    CAST(shiftright(sh, 16) & 65535 AS INT) AS v1,
         |    CAST(shiftright(sh, 32) & 65535 AS INT) AS v2,
         |    CAST(shiftright(sh, 48) & 65535 AS INT) AS v3
         |  FROM sig),
         |c0 AS (
         |  SELECT doc_id, v0, v1, v2, v3, c,
         |    CASE c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
         |  FROM v LATERAL VIEW explode(array(0, 1, 2, 3)) u AS c),
         |cw AS (
         |  SELECT doc_id, v0, v1, v2, v3, c, vv FROM (
         |    SELECT c0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM c0) x
         |  WHERE w <= $MaxBucketWidth),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM cw a JOIN cw b ON a.c = b.c AND a.vv = b.vv AND a.doc_id < b.doc_id)
         |SELECT id1, id2, hamming FROM (
         |  SELECT cd.id1, cd.id2,
         |    CAST(bit_count(x.v0 ^ y.v0) + bit_count(x.v1 ^ y.v1) +
         |         bit_count(x.v2 ^ y.v2) + bit_count(x.v3 ^ y.v3) AS INT) AS hamming
         |  FROM cand cd
         |  JOIN v x ON x.doc_id = cd.id1
         |  JOIN v y ON y.doc_id = cd.id2) z
         |WHERE hamming <= 6
         |ORDER BY id1, id2""".stripMargin)
  }

  /** Karp–Rabin rolling fingerprint over the token stream: a sequential
    * polynomial fold (h = h*B + tok_hash mod 2^31-1) — order-sensitive,
    * unlike the set-based md5 fingerprint (q33). The Mersenne-31 modulus
    * keeps acc*131 far below 2^63 (ANSI overflow checking is on). */
  def rollingFingerprint(toksCol: Column): Column = {
    val M = lit(2147483647L) // 2^31 - 1
    aggregate(toksCol, lit(0L),
      (acc, t) => pmod(acc * 131L + pmod(xxhash64(t), M), M))
  }

  /** q48: order-sensitive rolling-hash fingerprints (doc identity for
    * exact-order dedup). HASH-GRADED since r12: the per-token xxhash64
    * values live in `fixtures/q48_tokhash_sf001` (corpus vocabulary ×
    * one pre-mod hash each) and the oracle replays the ORDER-SENSITIVE
    * Karp–Rabin fold itself — tokens re-joined to their hashes by
    * ordinal position, then the same h·131+x mod 2³¹−1 list_reduce the
    * md5 twin (q110) grades. */
  def q48RollingFp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    toks(s, dir)
      .select($"doc_id", rollingFingerprint($"toks").as("fp"))
      .orderBy($"doc_id")
  }

  val q48Sql: String =
    raw"""WITH ${graft.Fixtures.corpusGuardCtes},
      |hx AS (
      |  SELECT tok, h
      |  FROM read_parquet('${graft.Fixtures.dir}/q48_tokhash_sf001/*.parquet')),
      |t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |      FROM documents),
      |e AS (SELECT doc_id, unnest(toks) AS tok,
      |             generate_subscripts(toks, 1) AS i
      |      FROM t),
      |l AS (
      |  SELECT e.doc_id, list(hx.h ORDER BY e.i) AS hs
      |  FROM e JOIN hx USING (tok) GROUP BY e.doc_id),
      |f AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT, hs),
      |      (acc, x) -> (acc * 131 + x) % 2147483647) AS fp
      |  FROM l)
      |SELECT t.doc_id, coalesce(f.fp, 0::BIGINT) AS fp
      |FROM t LEFT JOIN f USING (doc_id)
      |UNION ALL
      |SELECT -1, n FROM fixture_corpus_mismatch WHERE n > 0
      |ORDER BY doc_id""".stripMargin

  /** q110: the Karp–Rabin rolling fingerprint with an ORACLE-EXPRESSIBLE
    * per-token hash — md5's first 8 hex digits instead of xxhash64 —
    * so the ORDER-SENSITIVE fold itself (h = h·131 + tok mod 2³¹−1,
    * DuckDB `list_reduce` with a prepended 0 accumulator) is
    * hash-graded; q48 stays the xxhash64 fast path. */
  def q110RollingFpMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = lit(2147483647L) // 2^31 - 1
    def mdh(t: Column): Column =
      conv(substring(md5(t), 1, 8), 16, 10).cast("long")
    toks(s, dir)
      .select($"doc_id",
        aggregate($"toks", lit(0L),
          (acc, t) => pmod(acc * 131L + pmod(mdh(t), M), M)).as("fp"))
      .orderBy($"doc_id")
  }

  val q110Sql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      [ ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647
      |        FOR t IN regexp_extract_all(lower(text), '\S+') ]),
      |    (acc, x) -> (acc * 131 + x) % 2147483647) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q49: corpus singleton shingles — the dead-code usage-count shape
    * S25 (ref `agents/dead-code-agent.md:63-71`: identifier used once ⇒
    * dead): 3-word shingles that occur in exactly one document. */
  def q49Singletons(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docShingles(s, dir) // shared exploded build (see docShingles)
      .groupBy($"sh")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" === 1)
      .select($"sh")
      .orderBy($"sh")
  }

  val q49Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))])) AS sh
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |        FROM documents) t)
      |SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) = 1
      |ORDER BY sh""".stripMargin

  /** Memoized q34 pair set per (session, dir): q105 builds its edge
    * list from the near-dup pairs without paying for them twice in one
    * bench/verify run (same pattern as Graph's edge cache).
    * Dead-session entries are purged on access ([[graft.SessionCache]]). */
  private val pairCache =
    new graft.SessionCache[DataFrame]("jaccard_pairs")

  /** Connected components by min-label propagation WITH pointer
    * halving, as a DataFrame fixpoint. Each round every node takes
    * (a) the min label among itself and its neighbors, then (b) its
    * label's own label (`cluster ← label(cluster)`) — the path-halving
    * step of union-find. (a) alone converges in O(component diameter)
    * rounds — a 10⁹-doc near-dup graph with a long templated-drift
    * chain can exceed any fixed cap; (b) collapses chains
    * exponentially, so the fixpoint lands in O(log diameter) rounds
    * (the MapReduce-CC trick of Kiveris et al., "Connected Components
    * in MapReduce and Beyond"). Correctness: labels stay within the
    * component and monotonically decrease, and any neighbor-stable
    * labeling is uniform per component, so the fixpoint is exact.
    *
    * If the loop hits `maxIter` rounds still changing it THROWS —
    * wrong cluster ids must never be returned silently (same fail-fast
    * contract as bandBucket's dim guard).
    *
    * `nodes`: one `doc_id` per row; `edges`: undirected pairs already
    * symmetrized as (src, dst). All work is joins + aggregations keyed
    * by doc; `localCheckpoint` keeps the loop's lineage O(1). */
  def minLabelComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    val e = edges.transform(graft.Ckpt.cut)
    var labels = nodes.select($"doc_id", $"doc_id".as("cluster"))
      .transform(graft.Ckpt.cut)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val viaNeighbor = e
        .join(labels.select($"doc_id".as("dst"), $"cluster".as("ncl")), Seq("dst"))
        .groupBy($"src".as("doc_id"))
        .agg(min($"ncl").as("best"))
      val stepped = labels.join(viaNeighbor, Seq("doc_id"), "left")
        .select($"doc_id", least($"cluster", coalesce($"best", $"cluster")).as("cluster"))
      // pointer halving: follow the label one hop (labels are doc_ids,
      // so the self-join always resolves; left+coalesce for safety)
      val parents = stepped
        .select($"doc_id".as("cluster"), $"cluster".as("pcl"))
      val next = stepped.join(parents, Seq("cluster"), "left")
        .select($"doc_id", coalesce($"pcl", $"cluster").as("cluster"))
        .transform(graft.Ckpt.cut)
      changed = next.join(labels.withColumnRenamed("cluster", "old"), Seq("doc_id"))
        .filter($"cluster" =!= $"old").limit(1).count() > 0
      // the superseded round's checkpoint blocks are garbage the moment
      // `next` exists — free them now, or a k-round loop holds k label
      // tables in executor storage simultaneously
      graft.Ckpt.free(labels)
      labels = next
      i += 1
    }
    graft.Ckpt.free(e)
    if (changed)
      throw new IllegalStateException(
        s"minLabelComponents did not converge in $maxIter rounds — " +
        "component structure deeper than expected; raise maxIter")
    labels
  }

  /** TWO-STAR connected components (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond", public — the alternating
    * Large-Star/Small-Star algorithm): the OTHER published scale
    * algorithm for the same doc→min-label map [[minLabelComponents]]
    * computes. Each round is two grouped aggregations over the edge
    * list — Large-Star hangs every strictly-greater neighbor of u off
    * min(Γ(u) ∪ {u}); Small-Star (grouping by the LARGER endpoint)
    * hangs the smaller neighbors and u itself off their min — and the
    * edge set provably contracts toward one star per component in
    * O(log²) rounds regardless of component DIAMETER. That is the
    * property label propagation lacks: q105's pointer-halving runs
    * ~log(diameter) rounds with TWO joins per round over the full
    * label table, while two-star touches only the (shrinking) edge
    * list — on a 100 TB pair graph whose components are long chains
    * (boilerplate near-dup runs), the edge-local algorithm is the one
    * that holds. Deterministic throughout (min aggregations, canonical
    * a<b edges, per-round distinct); per-round eager localCheckpoints
    * rotate via Ckpt.free (q237's storage discipline); throws rather
    * than returning wrong labels on non-convergence. */
  def twoStarComponents(nodes: DataFrame, edges0: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    def canon(df: DataFrame): DataFrame = df
      .filter($"x" =!= $"m")
      .select(least($"x", $"m").as("a"), greatest($"x", $"m").as("b"))
      .distinct()
    // `carrier` is the checkpointed frame whose blocks back `edges`:
    // since the r20 census+verify fusion, `edges` is a narrow VIEW
    // (filter+project) over the round's comparison frame, so block
    // rotation must free the carrier, not the view (Ckpt.free is a
    // no-op on non-LogicalRDD roots).
    var carrier = edges0.filter($"src" =!= $"dst")
      .select($"src".as("x"), $"dst".as("m")).transform(canon)
      .transform(graft.Ckpt.cut)
    var edges = carrier
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // Large-Star over the symmetric adjacency: u's strictly-greater
      // neighbors attach to m(u) = min(Γ(u) ∪ {u})
      val sym = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
      val lsMin = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // ls is LAZY since r20: its two consumers (ssMin's aggregation
      // and the small-star join) share the identical subtree up to
      // canon's distinct exchange, which Spark's exchange reuse
      // deduplicates — the heavy part (sym union + lsMin join) is
      // computed once into shuffle files; only the post-exchange
      // distinct aggregate runs per consumer. Dropping the eager cut
      // removes one blocking job per round.
      val ls = sym.join(lsMin, "u").filter($"v" > $"u")
        .select($"v".as("x"), $"m").transform(canon)
      // Small-Star grouped by the larger endpoint b: its smaller
      // neighbors AND b itself attach to their min
      val ssMin = ls.groupBy($"b").agg(min($"a").as("m"))
      val ss = ls.join(ssMin, "b")
        .select($"a".as("x"), $"m")
        .unionByName(ssMin.select($"b".as("x"), $"m"))
        .transform(canon)
      // CENSUS + VERIFY FUSED into ONE action per round (optimization
      // r20, VERDICT r19 item 3): the round used to pay FOUR jobs —
      // ls checkpoint, ss checkpoint, and up to two exceptAll
      // existence probes against the previous edge set (the r19
      // record's job-count floor on q246/q252/q255/q260: 25-54 jobs of
      // ≤150 ms, wall-clock dominated by job/stage scheduling, not
      // compute). One full-outer join against the previous round's
      // (already-checkpointed) edges materializes the new edge set AND
      // the symmetric difference in the SAME pass: neu=1 rows are the
      // new edges, rows where either side is NULL are the set
      // difference — on canonical-distinct inputs exactly the
      // exceptAll pair. The difference COUNT rides the checkpoint
      // action as an Observation metric, so convergence costs no
      // separate job at all.
      val obs = org.apache.spark.sql.Observation()
      val cmp = ss.withColumn("neu", lit(1))
        .join(edges.select($"a", $"b").withColumn("old", lit(1)),
          Seq("a", "b"), "full")
        .observe(obs,
          sum(when($"neu".isNull || $"old".isNull, 1L).otherwise(0L)).as("diff"))
        .transform(graft.Ckpt.cut)
      converged = Option(obs.get("diff")).forall(_ == 0L)
      graft.Ckpt.free(carrier)
      carrier = cmp
      edges = cmp.filter($"neu" === 1).select($"a", $"b")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"twoStarComponents did not converge in $maxIter rounds — " +
          "raise maxIter")
    // star-ness assertion (ADVICE r15): the label step below assumes
    // the fixpoint is a min-centered star forest. For the hash-graded
    // q246 a non-star fixpoint would surface as an oracle mismatch,
    // but the PUBLIC operator on arbitrary graphs would silently emit
    // wrong labels — so verify cheaply (no node is both a center 'a'
    // and a member 'b') and throw like the non-convergence path.
    val nonStar = edges.select($"a".as("n"))
      .join(edges.select($"b".as("n")), Seq("n"), "left_semi")
      .limit(1).count()
    if (nonStar > 0)
      throw new IllegalStateException(
        "twoStarComponents reached an edge fixpoint that is not a star " +
          "forest (a node appears as both a center and a member) — " +
          "refusing to emit labels")
    // converged edges are stars (member, component-min); singletons
    // label themselves
    val labels = nodes
      .join(edges.groupBy($"b".as("doc_id")).agg(min($"a").as("m")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"m", $"doc_id").as("cluster"))
    val out = labels.transform(graft.Ckpt.cut)
    graft.Ckpt.free(carrier)
    out
  }

  /** q105: dedup clusters — connected components over the near-dup
    * pair graph, the step that turns PAIRS into an actionable dedup
    * decision: every member of a component is a near-dup (possibly
    * transitively) of the others; the canonical survivor is the
    * min doc_id (== the cluster id), everything else is droppable.
    * Fixpoint via `minLabelComponents` (log-round pointer halving;
    * throws rather than returning wrong labels on non-convergence).
    * Singleton docs keep their own id, so the output is a total map
    * doc → canonical. */
  /** Cross-query memo of the resolved cluster map (r13): q176/q188/
    * q206 each consume q105's doc→canonical labels and re-ran the
    * whole pointer-halving fixpoint (its per-round shuffles dominate
    * those queries) on top of the already-cached pair set. A curation
    * pipeline resolves components once and every downstream report
    * reads the label table — the same shared-intermediate decision as
    * the pair/edge/shingle caches, memoized the same way. */
  private val clusterCache =
    new graft.SessionCache[DataFrame]("dedup_clusters")

  def q105DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterCache.getOrElseUpdate(s, dir, {
      val pairs = pairCache.getOrElseUpdate(s, dir,
        graft.Ckpt.cut(
          TextOps.q34JaccardPairs(s, dir).select($"id1", $"id2")))
      val edges = pairs.select($"id1".as("src"), $"id2".as("dst"))
        .union(pairs.select($"id2".as("src"), $"id1".as("dst")))
      val nodes = Tables.documents(s, dir).select($"doc_id")
      // the loop's last round is already an eager cut: memoize it
      minLabelComponents(nodes, edges)
    }).orderBy($"doc_id")
  }

  /** q246: the SAME doc→cluster map as q105, computed by the
    * alternating Large-Star/Small-Star algorithm ([[twoStarComponents]])
    * instead of label propagation — two published scale algorithms,
    * ONE oracle (q105's recursive-CTE transitive closure, verbatim —
    * the q107/q214 shared-oracle precedent): the hash equality is the
    * proof that both fixpoints compute the identical component
    * structure on the identical memoized pair graph. DedupSpec
    * additionally pins algorithm agreement on constructed pathological
    * graphs (a long path — label propagation's worst diameter case —
    * a star, a cycle, singletons). */
  def q246CcTwostar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = pairCache.getOrElseUpdate(s, dir,
      graft.Ckpt.cut(
        TextOps.q34JaccardPairs(s, dir).select($"id1", $"id2")))
    val nodes = Tables.documents(s, dir).select($"doc_id")
    twoStarComponents(nodes,
        pairs.select($"id1".as("src"), $"id2".as("dst")))
      .orderBy($"doc_id")
  }

  /** Oracle: transitive closure by recursive CTE over the same exact
    * Jaccard-0.6 pair graph; cluster = min reachable doc (incl. self). */
  val q105Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |         list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.6),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs),
      |walk AS (
      |  SELECT src AS doc_id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |best AS (
      |  SELECT doc_id, min(reach) AS mn FROM walk GROUP BY doc_id)
      |SELECT doc.doc_id,
      |       least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster
      |FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  /** q107: the MinHash-LSH pipeline with an ORACLE-EXPRESSIBLE hash —
    * md5's first 8 hex digits as the minhash family (both engines
    * compute md5 identically), K=8 signatures in 4 bands of 2, band
    * bucket = the band's two minhash values verbatim. Same shape as
    * q46 (shingle → signature → band bucket → equality join → exact
    * Jaccard verify), but every step is restatable in DuckDB SQL, so
    * the BANDING SEMANTICS themselves are hash-graded — q46 remains
    * the fast path (xxhash64 beats md5 by a wide margin; its seeds are
    * simply not SQL-expressible). */
  /** md5-family minhash candidate pairs — the ORACLE-EXPRESSIBLE twin
    * of `lshCandidates`: both engines compute md5 identically, so K=8
    * signatures in 4 bands of 2 (bucket = the band's two minhash values
    * verbatim) restate in DuckDB SQL step for step. `maxWidth <= 0`
    * disables the skew cap (q107 grades pure banding); q108 passes
    * `MaxBucketWidth` to mirror the production path's cap.
    *
    * DELIBERATE asymmetry vs `lshCandidates`: the uncapped path here
    * does NOT drop width-1 buckets — that drop is a pure optimization
    * (width-1 buckets pair nothing) whose width aggregation would be
    * pure extra cost in a twin whose oracle doesn't restate it; results
    * are identical either way. */
  /** (doc_id, band, bkt) — the md5-parity banding shared by the graded
    * twins (q107's self-join and q147's cross-set incremental join). */
  private[graft] def md5Bands(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val K = 8
    val R = 2
    def mdh(seed: Int, x: Column): Column =
      conv(substring(md5(concat(lit(seed.toString), lit("|"), x)), 1, 8), 16, 10)
        .cast("long")
    // exploded signature pass (see minhashSigs): keeps the 8 md5s per
    // shingle inside whole-stage codegen instead of a CodegenFallback
    // transform() lambda; partial min makes the shuffle K longs per doc
    val mins = (0 until K).map(k => min(mdh(k, $"s")).as(s"m$k"))
    val sigs = sh.select($"doc_id", explode($"sh").as("s"))
      .groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until K).map(i => col(s"m$i")): _*).as("sig"))
    sigs.select($"doc_id",
        explode(array((0 until K / R).map(b =>
          struct(lit(b).as("band"),
            concat_ws(",",
              element_at($"sig", b * R + 1).cast("string"),
              element_at($"sig", b * R + 2).cast("string")).as("bkt"))): _*)).as("bb"))
      .select($"doc_id", $"bb.band", $"bb.bkt")
  }

  def md5Candidates(sh: DataFrame, maxWidth: Int = 0): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val banded0 = md5Bands(sh)
    val banded = if (maxWidth <= 0) banded0 else {
      DropMetrics.ensureListener(s)
      val bp = banded0.persist() // read twice: widths + the capped join
      val ok = bp.groupBy($"band", $"bkt").agg(count(lit(1)).as("w"))
        .observe(DropMetrics.Md5Drops,
          sum(when($"w" > maxWidth, 1L).otherwise(0L)).as("dropped_buckets"),
          sum(when($"w" > maxWidth, $"w").otherwise(0L)).as("dropped_rows"),
          sum(when($"w" > maxWidth, shiftright($"w" * ($"w" - 1L), 1)).otherwise(0L))
            .as("dropped_pairs"))
        .filter($"w" > 1 && $"w" <= maxWidth)
        .select($"band", $"bkt")
      bp.join(ok, Seq("band", "bkt"))
    }
    val a = banded.select($"doc_id".as("id1"), $"band", $"bkt")
    val b = banded.select($"doc_id".as("id2"), $"band".as("b2"), $"bkt".as("k2"))
    a.join(b, $"band" === $"b2" && $"bkt" === $"k2" && $"id1" < $"id2")
      .select($"id1", $"id2").distinct()
  }

  /** q214: q107's banding routed through [[saltedPairs]] at
    * maxWidth=1 — the EXTREME salt setting where EVERY multi-doc
    * bucket counts as hot and triangle-decomposes into per-doc salt
    * groups — GRADED BY q107's ORACLE VERBATIM: the driver's hash gate
    * itself proves the decomposition lossless on a real corpus (the
    * one-oracle-two-formulations discipline of q181/q26 and q204/q174).
    * maxWidth=1 rather than a realistic budget because the graded
    * corpora top out at width 8, which a realistic budget would never
    * split — this setting makes every multi-member bucket take the
    * salted path, so any dropped or duplicated cross-group pair flips
    * the hash. DedupSpec additionally pins a 100-wide constructed
    * flood. */
  def q214LshSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = toks(s, dir)
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", shingles($"toks").as("sh"))
      .transform(graft.Ckpt.cut) // EAGER (q260's pattern)
    val banded = md5Bands(sh)
      .transform(graft.Ckpt.cut) // widths + both salted-join sides
    verifyJaccard(saltedPairs(banded, maxWidth = 1), sh, 0.5)
      .orderBy($"id1", $"id2")
  }

  /** q228: the salted-LSH path at a REALISTIC width budget (maxWidth=4)
    * on a corpus whose buckets actually exceed it — the mixed cold/hot
    * path a 100 TB deployment runs, hash-graded (VERDICT r11 item 4;
    * q214 grades the maxWidth=1 degenerate extreme where EVERY bucket
    * decomposes). The flood corpus is constructed DETERMINISTICALLY
    * from `documents` inside the query on BOTH engines — every 10th
    * base doc (doc_id < 150) is cloned 12× under fresh ids — so no
    * fixture file is needed: identical texts produce identical md5
    * signatures, their band buckets reach width ≥ 12 > 4 and
    * triangle-decompose into ⌈w/4⌉ salt groups, while the un-cloned
    * majority stays in cold g=1 buckets on the same code path. The
    * oracle replays the UNCAPPED banding join in DuckDB, so the gate
    * proves the multi-group decomposition LOSSLESS (pair set equal to
    * the full join's) on a corpus where decomposition genuinely fires;
    * DedupSpec pins ng > 1 so the hot path can't silently stop
    * engaging if the corpus constants drift. */
  def q228SaltedBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = saltedBudgetShingles(s, dir)
      .transform(graft.Ckpt.cut) // EAGER (q260's pattern); sig pass + verify sides
    val banded = md5Bands(sh).transform(graft.Ckpt.cut) // widths + both salted-join sides
    verifyJaccard(saltedPairs(banded, maxWidth = 4), sh, 0.5)
      .orderBy($"id1", $"id2")
  }

  /** (doc_id, sh) of q228's deterministic flood corpus — factored out
    * so DedupSpec can pin that its hot buckets genuinely decompose
    * (max ⌈w/4⌉ > 1) at the graded scale factor. */
  private[graft] def saltedBudgetShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 150)
      .withColumn("c", when($"doc_id" % 10 === 0, 12).otherwise(1))
      .withColumn("r", explode(expr("sequence(0, c - 1)")))
      .select(($"doc_id" * 100 + $"r").as("doc_id"),
        shingles(TextOps.tokens($"text")).as("sh"))
  }

  val q228Sql: String =
    """WITH f AS (
      |  SELECT d.doc_id * 100 + u.r AS doc_id, d.text
      |  FROM documents d,
      |    unnest(generate_series(0,
      |      CASE WHEN d.doc_id % 10 = 0 THEN 11 ELSE 0 END)) AS u(r)
      |  WHERE d.doc_id < 150),
      |t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM f),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t),
      |mh AS (
      |  SELECT doc_id,
      |    [ list_min([ ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 8))::BIGINT
      |                 FOR s IN shs ])
      |      FOR k IN generate_series(0, 7) ] AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(sig[2*b + 1] AS VARCHAR) || ',' || CAST(sig[2*b + 2] AS VARCHAR) AS bkt
      |  FROM mh, unnest(generate_series(0, 3)) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id)
      |SELECT c.id1, c.id2,
      |  round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) AS jaccard
      |FROM cand c
      |JOIN sh x ON x.doc_id = c.id1
      |JOIN sh y ON y.doc_id = c.id2
      |WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  def q107MinhashMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deterministic 1-in-2 sample: this twin exists to GRADE the banding
    // semantics, not to re-run the full corpus through md5 (much slower
    // than xxhash64 — q46 stays the full-corpus fast path)
    val sh = toks(s, dir)
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", shingles($"toks").as("sh"))
      .transform(graft.Ckpt.cut) // EAGER (q260's pattern); sig pass + both verify sides
    verifyJaccard(md5Candidates(sh), sh, 0.5)
      .orderBy($"id1", $"id2")
  }

  val q107Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents WHERE doc_id % 2 = 0),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t),
      |mh AS (
      |  SELECT doc_id,
      |    [ list_min([ ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 8))::BIGINT
      |                 FOR s IN shs ])
      |      FOR k IN generate_series(0, 7) ] AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(sig[2*b + 1] AS VARCHAR) || ',' || CAST(sig[2*b + 2] AS VARCHAR) AS bkt
      |  FROM mh, unnest(generate_series(0, 3)) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id)
      |SELECT c.id1, c.id2,
      |  round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) AS jaccard
      |FROM cand c
      |JOIN sh x ON x.doc_id = c.id1
      |JOIN sh y ON y.doc_id = c.id2
      |WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  /** q252: connected components at CANDIDATE scale — two-star CC fed
    * from the BANDED LSH pair set instead of the exact all-pairs
    * anchor (VERDICT r15 item 5): q246 proved the algorithm against
    * q105's oracle, but its feed was q34's weak-by-designation exact
    * pair memo; at 100 TB the pairs that exist are the band-join
    * survivors, and CC over THEM is the step that turns candidate
    * pairs into dedup decisions. Pipeline: q107's md5-parity banding
    * (oracle-expressible minhash, K=8 in 4 bands of 2) → band-equality
    * candidates → exact Jaccard ≥ 0.5 verify → [[twoStarComponents]]
    * over the verified edge set — every stage is the registered scale
    * path's shape (band join, candidate-proportional verify,
    * edge-local O(log²) CC). Oracle: q105's recursive-CTE transitive
    * closure RESTRICTED to the banded-verified edge set (the banding
    * and verify replayed verbatim from q107Sql) — one closure
    * definition, two candidate generators, and the hash equality
    * proves the CC structure identical. */
  def q252CcBanded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = toks(s, dir)
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", shingles($"toks").as("sh"))
      // EAGER cut (optimization r19, q260's pattern): a lazy persist
      // lets the banding and verify subtrees race the empty cache
      .transform(graft.Ckpt.cut) // signature pass + both verify sides
    // feed instrumentation (VERDICT r16 item 3): candidate and verified
    // pair counts ride the pass as observe metrics, so decade rows can
    // state runtime-vs-CANDIDATES, measured — not argued from stages
    val pairs = verifyJaccard(
        md5Candidates(sh).observe("graft_cc_candidates",
          count(lit(1)).as("candidates")), sh, 0.5)
      .observe("graft_cc_feed_pairs", count(lit(1)).as("verified_pairs"))
    val nodes = Tables.documents(s, dir)
      .filter($"doc_id" % 2 === 0).select($"doc_id")
    twoStarComponents(nodes,
        pairs.select($"id1".as("src"), $"id2".as("dst")))
      .orderBy($"doc_id")
  }

  /** Banding + verify + recursive closure over a preexisting
    * `t (doc_id, toks)` CTE — ONE statement of the candidate/closure
    * machinery shared by the two CC-over-candidates oracles (q252's
    * even-doc corpus, q255's flood corpus; CODE-REVIEW r16): q107Sql's
    * md5 banding and Jaccard verify producing `pairs`, then q105Sql's
    * walk and per-node min-reach as `best`. Each consumer supplies its
    * own node set in the final SELECT. */
  private val ccBandClosureCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t),
      |mh AS (
      |  SELECT doc_id,
      |    [ list_min([ ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 8))::BIGINT
      |                 FOR s IN shs ])
      |      FOR k IN generate_series(0, 7) ] AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(sig[2*b + 1] AS VARCHAR) || ',' || CAST(sig[2*b + 2] AS VARCHAR) AS bkt
      |  FROM mh, unnest(generate_series(0, 3)) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT c.id1, c.id2
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.id1
      |  JOIN sh y ON y.doc_id = c.id2
      |  WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |          / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs),
      |walk AS (
      |  SELECT src AS doc_id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |best AS (
      |  SELECT doc_id, min(reach) AS mn FROM walk GROUP BY doc_id)""".stripMargin

  /** q252 oracle: the shared banding/verify/closure over the even-doc
    * corpus. */
  val q252Sql: String =
    s"""WITH RECURSIVE t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
      |  FROM documents WHERE doc_id % 2 = 0),
      |$ccBandClosureCtes
      |SELECT doc.doc_id,
      |       least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster
      |FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id
      |WHERE doc.doc_id % 2 = 0
      |ORDER BY doc.doc_id""".stripMargin

  /** q255: the END-TO-END 100 TB dedup decision pipeline — SALTED
    * candidate generation feeding connected components: q228's flood
    * corpus (clone-flooded so hot buckets genuinely decompose at
    * maxWidth=4) → [[saltedPairs]] (lossless skew decomposition) →
    * Jaccard ≥ 0.5 verify → [[twoStarComponents]] → doc→cluster.
    * q252 put CC behind the UNCAPPED band join; this is the plan with
    * the skew treatment IN FRONT — the composite a production run
    * actually executes. The oracle replays the UNCAPPED banding +
    * verify + recursive closure (q228Sql ∘ q105Sql's walk), so the
    * hash gate proves the salted decomposition changes NOTHING about
    * the final component structure — the loss-freedom of q214/q228
    * carried through to the dedup DECISION, on a corpus where hot
    * buckets genuinely split into multiple salt groups (DedupSpec's
    * q228 ng>1 pin). Clone groups become 12-cliques that the two-star
    * fixpoint collapses in ~2 rounds. */
  def q255CcSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = saltedBudgetShingles(s, dir)
      .transform(graft.Ckpt.cut) // EAGER (q260's pattern)
    val banded = md5Bands(sh).transform(graft.Ckpt.cut) // widths + both salted-join sides
    val pairs = verifyJaccard(saltedPairs(banded, maxWidth = 4), sh, 0.5)
    val nodes = sh.select($"doc_id").distinct()
    twoStarComponents(nodes,
        pairs.select($"id1".as("src"), $"id2".as("dst")))
      .orderBy($"doc_id")
  }

  /** q255 oracle: q228Sql's flood corpus feeding the SAME shared
    * banding/verify/closure — UNCAPPED, so the gate proves the salted
    * Spark plan lossless. */
  val q255Sql: String =
    s"""WITH RECURSIVE f AS (
      |  SELECT d.doc_id * 100 + u.r AS doc_id, d.text
      |  FROM documents d,
      |    unnest(generate_series(0,
      |      CASE WHEN d.doc_id % 10 = 0 THEN 11 ELSE 0 END)) AS u(r)
      |  WHERE d.doc_id < 150),
      |t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
      |  FROM f),
      |$ccBandClosureCtes
      |SELECT f.doc_id,
      |       least(f.doc_id, coalesce(b.mn, f.doc_id)) AS cluster
      |FROM f LEFT JOIN best b ON b.doc_id = f.doc_id
      |ORDER BY f.doc_id""".stripMargin

  /** q260: the production CC composite on the LIVE (growing) corpus —
    * salted banding → Jaccard verify → two-star CC over ALL documents
    * of `dir` (VERDICT r16 item 3: q252 is deliberately uncapped and
    * q255's flood corpus is fixed-size, so the composite a 100 TB run
    * executes had no measured curve on a corpus that GROWS with the
    * scale factor; this registration is what ScalingStudy times at
    * 1×/10×/100× — the decade row lives in PERF.md §q260). Same
    * maxWidth=4 salting as q255 so hot buckets genuinely decompose at
    * every scale. The oracle replays the UNCAPPED banding + verify +
    * recursive closure over the same corpus, so the hash gate ALSO
    * proves the salted decomposition lossless on NATURAL corpus skew
    * (q255 proved it on the constructed flood). */
  def q260CcSaltedLive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // EAGER cuts (optimization r19): lazily-persisted sh/banded let the
    // salted join's concurrent subtrees race the empty cache — profiled
    // as the same ~0.4 s stage executing 4x inside one run
    val sh = toks(s, dir)
      .select($"doc_id", shingles($"toks").as("sh"))
      .transform(graft.Ckpt.cut) // signature pass + verify sides
    val banded = md5Bands(sh).transform(graft.Ckpt.cut) // widths + both salted-join sides
    // same feed instrumentation as q252 — the decade rows' denominator
    val pairs = verifyJaccard(
        saltedPairs(banded, maxWidth = 4).observe("graft_cc_candidates",
          count(lit(1)).as("candidates")), sh, 0.5)
      .observe("graft_cc_feed_pairs", count(lit(1)).as("verified_pairs"))
    val nodes = Tables.documents(s, dir).select($"doc_id")
    twoStarComponents(nodes,
        pairs.select($"id1".as("src"), $"id2".as("dst")))
      .orderBy($"doc_id")
  }

  /** q260 oracle: the shared banding/verify/closure, full corpus. */
  val q260Sql: String =
    s"""WITH RECURSIVE t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
      |  FROM documents),
      |$ccBandClosureCtes
      |SELECT doc.doc_id,
      |       least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster
      |FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  /** q122: incremental dedup — the PRODUCTION shape of exact dedup at
    * 100 TB: a new ingest batch (doc_id ≥ 250 here) is deduped against
    * the historical fingerprint STORE (doc_id < 250) and within itself,
    * instead of re-deduping the whole corpus per ingest. Per source:
    * batch size, how many died against the store, how many were
    * in-batch echoes, how many survive to ingestion.
    *
    * Scale shape: the store side is a one-column distinct fingerprint
    * scan (in production a bucketed fp table, making the anti-join
    * co-partitioned and shuffle-free on the store side); the batch pays
    * one fp-keyed window for in-batch dedup and one left join. Work is
    * proportional to the BATCH, not the corpus — the whole point. */
  def q122IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).withColumn("fp",
      TextOps.normFp($"text"))
    val store = docs.filter($"doc_id" < 250).select($"fp".as("sfp")).distinct()
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    docs.filter($"doc_id" >= 250)
      .withColumn("rn", row_number().over(w))
      .join(store, $"fp" === $"sfp", "left")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when($"sfp".isNotNull, 1L).otherwise(0L)).as("n_dup_vs_store"),
        sum(when($"sfp".isNull && $"rn" > 1, 1L).otherwise(0L)).as("n_dup_in_batch"),
        sum(when($"sfp".isNull && $"rn" === 1, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  val q122Sql: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |store AS (SELECT DISTINCT fp AS sfp FROM f WHERE doc_id < 250),
      |batch AS (
      |  SELECT doc_id, source, fp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM f WHERE doc_id >= 250)
      |SELECT b.source, count(*) AS n_batch,
      |  CAST(sum(CASE WHEN s.sfp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_store,
      |  CAST(sum(CASE WHEN s.sfp IS NULL AND b.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
      |  CAST(sum(CASE WHEN s.sfp IS NULL AND b.rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM batch b LEFT JOIN store s ON b.fp = s.sfp
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  // ---- q135: Bloom-prefiltered incremental dedup ----------------------

  /** Bloom geometry. At catalog scale (≈250 store keys) 8192 bits × 4
    * hashes gives fpp ≈ 2e-4 — essentially every non-duplicate batch
    * row skips the store join. At 100 TB the single bitset does NOT
    * broadcast whole (10^10 keys × 10 bits ≈ 12 GB): the production
    * shape shards the filter by fp prefix — one independent bloom per
    * fp-hash bucket, built and probed co-partitioned with the store's
    * bucketed fp table — which this operator's math is unchanged by
    * (each shard is exactly this build at 1/shards the keys). */
  private[graft] val BloomBits = 8192L
  private[graft] val BloomHashes = 4

  /** The store's fingerprints folded into one bitset row:
    * `bloom: map<long, long>` of 64-bit words, sparse (words with no
    * bits set are absent). Pure codegen'd builtins — xxhash64 probes,
    * bit_or word merge — so the build is one narrow mergeable
    * aggregation over the store, no UDF, no driver collect. */
  private[graft] def bloomWords(store: DataFrame, fpCol: String): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    store.select(explode(array((0 until BloomHashes).map(i =>
        pmod(xxhash64(lit(i), col(fpCol)), lit(BloomBits))): _*)).as("pos"))
      .select(shiftright($"pos", 6).as("w"),
        call_function("shiftleft", lit(1L), $"pos".bitwiseAND(lit(63L)).cast("int")).as("m"))
      .groupBy($"w").agg(call_function("bit_or", $"m").as("bits"))
      .agg(map_from_entries(collect_list(struct($"w", $"bits"))).as("bloom"))
  }

  /** Membership probe: all `BloomHashes` bits set. Missing words read
    * as 0 (sparse map). False positives possible (they just pay the
    * join), false negatives impossible — the property q135's result
    * equality rests on, pinned in DedupSpec. */
  private[graft] def bloomHit(bloom: Column, fp: Column): Column =
    (0 until BloomHashes).map { i =>
      val pos = pmod(xxhash64(lit(i), fp), lit(BloomBits))
      val mask = call_function("shiftleft", lit(1L),
        pos.bitwiseAND(lit(63L)).cast("int"))
      coalesce(element_at(bloom, shiftright(pos, 6)), lit(0L))
        .bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)

  /** q135: q122's incremental dedup with a Bloom prefilter in front of
    * the store join — the JOIN-AVOIDANCE shape at 100 TB. q122 sends
    * every batch row through the store anti-join; here the store's
    * fingerprint set is summarized into a broadcast Bloom bitset, rows
    * the filter proves absent bypass the join entirely (counted on the
    * record via `observe` — `graft_bloom_prefilter`), and only the
    * maybe-present remainder joins the store for the exact verdict.
    * Because a Bloom filter has no false negatives, the final
    * aggregate is IDENTICAL to q122's — the oracle is q122's SQL
    * verbatim, so the driver hash-grades that the prefilter changed
    * nothing but the work. */
  def q135BloomIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DropMetrics.ensureListener(s)
    val docs = Tables.documents(s, dir).withColumn("fp",
      TextOps.normFp($"text"))
    val store = docs.filter($"doc_id" < 250).select($"fp".as("sfp")).distinct()
    val bloom = bloomWords(store, "sfp")
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    val batch = docs.filter($"doc_id" >= 250)
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(bloom))
      .withColumn("hit", bloomHit($"bloom", $"fp"))
      .persist() // read by both branches (skip + probe); swept per-query
    val probed = batch.filter($"hit")
      .join(store, $"fp" === $"sfp", "left")
      .select($"source", $"rn", $"sfp")
    val skipped = batch.filter(!$"hit")
      .select($"source", $"rn", lit(null).cast("string").as("sfp"))
      .observe(DropMetrics.BloomSkips,
        count(lit(1)).as("skipped_join_rows"))
    skipped.unionByName(probed)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when($"sfp".isNotNull, 1L).otherwise(0L)).as("n_dup_vs_store"),
        sum(when($"sfp".isNull && $"rn" > 1, 1L).otherwise(0L)).as("n_dup_in_batch"),
        sum(when($"sfp".isNull && $"rn" === 1, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"source")
  }

  /** q147: incremental NEAR-dup — the LSH member of the incremental
    * family (exact: q122, Bloom-prefiltered: q135, IVF cells: q134).
    * An ingest batch (doc_id ≥ 250) is checked for near-duplicates
    * against the historical STORE (doc_id < 250) by joining the
    * batch's band table against the store's band table — ONLY
    * cross-set pairs ever form, so the work is proportional to the
    * batch's bands times matching store buckets, never store × store
    * (in production the store's band table is the persisted index the
    * ingest job probes). Candidates verify with the exact
    * sorted-merge Jaccard at ≥ 0.5. md5-parity signatures keep the
    * whole path hash-gradable (q107's discipline; shared banding via
    * `md5Bands`). */
  def q147LshIncrement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = toks(s, dir)
      .select($"doc_id", shingles($"toks").as("sh"))
      .persist() // banding pass + both verify sides
    val store = md5Bands(sh.filter($"doc_id" < 250))
      .select($"doc_id".as("id1"), $"band", $"bkt")
    val batch = md5Bands(sh.filter($"doc_id" >= 250))
      .select($"doc_id".as("id2"), $"band".as("b2"), $"bkt".as("k2"))
    val cand = store.join(batch, $"band" === $"b2" && $"bkt" === $"k2")
      .select($"id1", $"id2").distinct()
    verifyJaccard(cand, sh, 0.5)
      .orderBy($"id1", $"id2")
  }

  val q147Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t),
      |mh AS (
      |  SELECT doc_id,
      |    [ list_min([ ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 8))::BIGINT
      |                 FOR s IN shs ])
      |      FOR k IN generate_series(0, 7) ] AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(sig[2*b + 1] AS VARCHAR) || ',' || CAST(sig[2*b + 2] AS VARCHAR) AS bkt
      |  FROM mh, unnest(generate_series(0, 3)) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkt = b.bkt
      |   AND a.doc_id < 250 AND b.doc_id >= 250)
      |SELECT c.id1, c.id2,
      |  round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) AS jaccard
      |FROM cand c
      |JOIN sh x ON x.doc_id = c.id1
      |JOIN sh y ON y.doc_id = c.id2
      |WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |        / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  /** q148: incremental AGGREGATE maintenance — the materialized-view
    * member of the incremental family: per-source corpus statistics
    * kept as MERGEABLE state (count / sum / min / max partials), with
    * an ingest batch folded in by partial-merge instead of a store
    * rescan. The merge is union-of-partials + one re-aggregation —
    * exactly Spark's own partial-agg contract lifted to the
    * batch-vs-store boundary — and the derived mean divides only at
    * read time (a mean is not mergeable; sum and count are). Graded
    * against the oracle that scans the FULL corpus in one pass: the
    * hash equality IS the proof that merge(store, batch) = recompute.
    */
  def q148AggIncrement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"source", $"doc_id", $"n_chars")
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"source").agg(
        count(lit(1)).as("n"), sum($"n_chars").as("sc"),
        min($"n_chars").as("mn"), max($"n_chars").as("mx"))
    val store = partial(docs.filter($"doc_id" < 250))
    val batch = partial(docs.filter($"doc_id" >= 250))
    store.unionByName(batch)
      .groupBy($"source")
      .agg(sum($"n").as("n_docs"), sum($"sc").as("sum_chars"),
        min($"mn").as("min_chars"), max($"mx").as("max_chars"))
      .withColumn("avg_chars", round($"sum_chars" / $"n_docs", 4))
      .orderBy($"source")
  }

  val q148Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  round(CAST(sum(n_chars) AS BIGINT) / count(*), 4) AS avg_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q150: SUBSTRING-span dedup — duplication graded below document
    * granularity (the "exact substring" family of training-data dedup:
    * find repeated spans across documents, not just near-identical
    * whole documents — ref motivation `SURVEY.md §2.2 LLM: dedup`).
    * Every W-token window of every document is emitted WITH its
    * position; a window is duplicated when its text occurs in >= 2
    * distinct documents; per document we then report how many window
    * positions are duplicated, how many maximal consecutive runs they
    * form (gaps-and-islands: pos − row_number is constant within a
    * run), and the longest duplicated span in tokens (a run of R
    * consecutive duplicated W-windows covers R+W−1 tokens).
    *
    * 100 TB shape: the span table is one narrow codegen scan (no
    * shuffle until the groupBy on the span text — the same
    * hash-partitioned shuffle as exact dedup, with map-side partial
    * aggregation), the duplicated-span set joins back by equality
    * (candidate-proportional), and the island windows partition by
    * doc_id, so no stage ever holds more than one document's hits in
    * a sort. In production the join key would be xxhash64(span) to
    * avoid carrying span text through the shuffle; the string key is
    * kept here so the oracle restates the build verbatim. */
  def q150SubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 5
    val spans = graft.Tables.spread(Tables.documents(s, dir), "doc_id")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= W)
      .select($"doc_id", posexplode(transform(
        sequence(lit(1), size($"toks") - (W - 1)),
        i => concat_ws(" ", slice($"toks", i, lit(W))))))
      .toDF("doc_id", "off", "sh")
      .select($"doc_id", ($"off" + 1).cast("long").as("pos"), $"sh")
      // EAGER cut + spread (optimization r19, q260/q243's pattern)
      .transform(graft.Ckpt.cut) // read twice
    val dup = spans.groupBy($"sh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"sh")
    val hits = spans.join(dup, "sh").select($"doc_id", $"pos")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("grp", $"pos" - row_number().over(wOrd))
      .groupBy($"doc_id", $"grp").agg(count(lit(1)).as("run"))
      .groupBy($"doc_id")
      .agg(sum($"run").as("n_dup_pos"),
        count(lit(1)).as("n_runs"),
        (max($"run") + (W - 1)).as("max_span_tokens"))
      .orderBy($"doc_id")
  }

  val q150Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks) - 4)) AS pos, toks
      |  FROM tok WHERE len(toks) >= 5),
      |sh AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    concat_ws(' ', toks[pos], toks[pos+1], toks[pos+2],
      |              toks[pos+3], toks[pos+4]) AS sh
      |  FROM pos),
      |dup AS (SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (sh)),
      |runs AS (
      |  SELECT doc_id,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM hits),
      |r2 AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp)
      |SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup_pos,
      |  count(*) AS n_runs, CAST(max(run) + 4 AS BIGINT) AS max_span_tokens
      |FROM r2 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q243: LONG-SPAN EXACT-SUBSTRING REMOVAL PLAN — q150 generalized
    * to the published ExactSubstr regime of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, public: remove long exact spans repeated across
    * documents; their suffix-array pipeline dedups spans ≥ 50 tokens).
    * Where q150 reports per-doc SUMMARY stats of 5-token windows, this
    * emits the actionable artifact a dedup pipeline consumes — the
    * REMOVAL PLAN: one row per maximal duplicated run covering at
    * least `minSpan` tokens, as (doc_id, start_pos, span_tokens).
    * Registered at the paper's regime: W = 10-token windows merged by
    * gaps-and-islands into maximal runs (a run of R consecutive
    * duplicated windows covers R+W−1 tokens), threshold 50 tokens —
    * 21 plan rows at sf0.01, so the grade is non-trivial.
    *
    * 100 TB shape is q150's: one narrow codegen window scan, one
    * hash-partitioned groupBy on the span text (map-side partials;
    * textual HERE so the oracle restates verbatim — q247 registers the
    * xxhash64-keyed production form), a candidate-proportional join back,
    * and per-doc islands — no stage holds more than one document's
    * hits. The threshold is a parameter of [[spanRemovalFrom]];
    * DedupSpec pins the merge semantics on constructed overlapping
    * docs (a shared 60-token run emits one exact (start, len) row per
    * doc; a shared 12-token span is correctly below the published
    * threshold; an unrelated doc emits nothing). */
  def q243SpanRemoval(s: SparkSession, dir: String): DataFrame =
    spanRemovalFrom(Tables.documents(s, dir), w = 10, minSpan = 50)

  /** (doc_id, pos, sh) w-token span windows of a (doc_id, text) frame —
    * the shared front end of q243 (textual keys), q247 (xxhash64 keys)
    * and the q247 oracle fixture, so all three see bit-identical span
    * strings by construction. */
  def spanWindows(docs: DataFrame, w: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // spread before tokenize+window (optimization r19): same reasoning
    // as gramWindows — the span build is the dominant narrow cost
    graft.Tables.spread(docs, "doc_id")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= w)
      .select($"doc_id", posexplode(transform(
        sequence(lit(1), size($"toks") - (w - 1)),
        i => concat_ws(" ", slice($"toks", i, lit(w))))))
      .toDF("doc_id", "off", "sh")
      .select($"doc_id", ($"off" + 1).cast("long").as("pos"), $"sh")
  }

  /** q243's engine on an arbitrary (doc_id, text) frame. */
  def spanRemovalFrom(docs: DataFrame, w: Int, minSpan: Int): DataFrame =
    spanRemovalKeyed(spanWindows(docs, w).withColumnRenamed("sh", "k"),
      w, minSpan)

  /** q247's engine: identical plan, but the span key that feeds the
    * dup-census groupBy and the join back is `xxhash64(span)` — the
    * shuffle moves 8-byte longs instead of ~10-token strings. The hash
    * is computed map-side in the window projection, so the span text
    * never leaves the scan stage. */
  def spanRemovalHashedFrom(docs: DataFrame, w: Int, minSpan: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    spanRemovalKeyed(
      spanWindows(docs, w).select($"doc_id", $"pos", xxhash64($"sh").as("k")),
      w, minSpan)
  }

  /** Shared back end of q243/q247: duplicated-key census, join back,
    * gaps-and-islands merge, span threshold. `spans` = (doc_id, pos, k)
    * where k is whatever key identifies a w-token span (text or hash). */
  private def spanRemovalKeyed(spans0: DataFrame, w: Int, minSpan: Int): DataFrame = {
    val s = spans0.sparkSession
    import s.implicits._
    val spans = spans0
      // EAGER cut (optimization r19, q260's pattern): the dup census and
      // the join back race a lazy cache and rebuild the window table
      // twice (profiled as twin ~780 ms stages in q243)
      .transform(graft.Ckpt.cut) // read twice
    val dup = spans.groupBy($"k")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"k")
    val hits = spans.join(dup, "k").select($"doc_id", $"pos")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("grp", $"pos" - row_number().over(wOrd))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("start_pos"),
        (count(lit(1)) + (w - 1)).as("span_tokens"))
      .filter($"span_tokens" >= minSpan)
      .select($"doc_id", $"start_pos", $"span_tokens")
      .orderBy($"doc_id", $"start_pos")
  }

  val q243Sql: String = {
    val terms = (0 until 10).map(i => s"toks[pos+$i]").mkString(", ")
    raw"""WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS pos, toks
      |  FROM tok WHERE len(toks) >= 10),
      |sh AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    concat_ws(' ', $terms) AS sh
      |  FROM pos),
      |dup AS (SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (sh)),
      |runs AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM hits),
      |r2 AS (
      |  SELECT doc_id, min(pos) AS start_pos,
      |    CAST(count(*) + 9 AS BIGINT) AS span_tokens
      |  FROM runs GROUP BY doc_id, grp)
      |SELECT doc_id, start_pos, span_tokens FROM r2
      |WHERE span_tokens >= 50
      |ORDER BY doc_id, start_pos""".stripMargin
  }

  /** q247: q243's PRODUCTION form (VERDICT r15 item 1) — the long-span
    * removal plan with the span groupBy+join keyed by `xxhash64(span)`
    * instead of the span text. q243's registered plan shuffles the full
    * ~10-token string twice (dup census + join back); at 100 TB that
    * gram shuffle IS the dominant cost (PERF.md estimates ~6× fewer
    * shuffled bytes under hash keys). Here the hash is computed in the
    * window projection, so only (doc_id, pos, h:long) ever reaches an
    * exchange. Same Lee et al. 2022 ExactSubstr regime (arXiv:
    * 2107.06499, ≥50-token spans, W=10 windows).
    *
    * HASH-GRADED via the q46/q48 fixture discipline: xxhash64 is not
    * DuckDB-expressible, so `fixtures/q247_spanhash_sf001` commits the
    * distinct span→hash vocabulary (generated THROUGH [[spanWindows]]
    * + the same `xxhash64` column; FixtureDriftSpec regenerates and
    * compares), and the oracle rebuilds the spans textually from the
    * LIVE corpus, maps each through the committed vocabulary, and
    * replays the entire downstream — dup census, join back, islands
    * merge, threshold — on the hash key. Both engines consume the SAME
    * hash values, so the grade is exact even in the presence of a hash
    * collision. DedupSpec additionally pins q247 ≡ q243 row-for-row on
    * the sf0.01 corpus (collision-free there). */
  def q247SpanRemovalHashed(s: SparkSession, dir: String): DataFrame =
    spanRemovalHashedFrom(Tables.documents(s, dir), w = 10, minSpan = 50)

  val q247Sql: String = {
    val terms = (0 until 10).map(i => s"toks[pos+$i]").mkString(", ")
    raw"""WITH ${graft.Fixtures.corpusGuardCtes},
      |hx AS (
      |  SELECT sh, h
      |  FROM read_parquet('${graft.Fixtures.dir}/q247_spanhash_sf001/*.parquet')),
      |tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS pos, toks
      |  FROM tok WHERE len(toks) >= 10),
      |sh AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    concat_ws(' ', $terms) AS sh
      |  FROM pos),
      |shh AS (SELECT s.doc_id, s.pos, hx.h FROM sh s JOIN hx USING (sh)),
      |dup AS (SELECT h FROM shh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT s.doc_id, s.pos FROM shh s JOIN dup d USING (h)),
      |runs AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM hits),
      |r2 AS (
      |  SELECT doc_id, min(pos) AS start_pos,
      |    CAST(count(*) + 9 AS BIGINT) AS span_tokens
      |  FROM runs GROUP BY doc_id, grp)
      |SELECT doc_id, start_pos, span_tokens FROM r2
      |WHERE span_tokens >= 50
      |UNION ALL
      |SELECT -1, n, CAST(-1 AS BIGINT) FROM fixture_corpus_mismatch WHERE n > 0
      |ORDER BY doc_id, start_pos""".stripMargin
  }

  /** q176: cluster REPRESENTATIVE selection — the decision step after
    * q105's connected components: per near-dup cluster (size ≥ 2),
    * KEEP one canonical document — most content (n_chars DESC), ties
    * to the smallest doc_id — and account for what gets dropped. This
    * is the "keep best copy" rule every dedup pipeline ends with; q105
    * says which docs are together, this says which one survives.
    *
    * Shape: reuses q105's memoized pair graph + label propagation,
    * joins the doc stats, then ONE aggregation with the max-struct
    * argmax (`max(struct(n_chars, -doc_id))` — lexicographic struct
    * order gives most-chars-then-lowest-id with no per-cluster sort
    * and no window shuffle). The oracle states the same pick as a
    * row_number window over the recursive-CTE clusters — two
    * formulations, one answer. */
  def q176ClusterRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = q105DedupClusters(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"n_chars"), Seq("doc_id"))
    lab.groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"),
        sum($"n_chars").as("total_chars"))
      .filter($"n_members" >= 2)
      .select($"cluster", $"n_members",
        (-$"best.neg_id").as("rep_doc"),
        ($"n_members" - 1).as("n_dropped"),
        ($"total_chars" - $"best.n_chars").as("dropped_chars"))
      .orderBy($"cluster")
  }

  /** Oracle: q105's recursive-CTE components + a row_number pick. */
  val q176Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |         list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.6),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs),
      |walk AS (
      |  SELECT src AS doc_id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |best AS (
      |  SELECT doc_id, min(reach) AS mn FROM walk GROUP BY doc_id),
      |lab AS (
      |  SELECT doc.doc_id,
      |         least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster,
      |         doc.n_chars
      |  FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id),
      |ranked AS (
      |  SELECT cluster, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY cluster
      |                       ORDER BY n_chars DESC, doc_id ASC) AS rk,
      |    count(*) OVER (PARTITION BY cluster) AS n_members,
      |    sum(n_chars) OVER (PARTITION BY cluster) AS total_chars
      |  FROM lab)
      |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
      |       doc_id AS rep_doc,
      |       CAST(n_members - 1 AS BIGINT) AS n_dropped,
      |       CAST(total_chars - n_chars AS BIGINT) AS dropped_chars
      |FROM ranked WHERE rk = 1 AND n_members >= 2
      |ORDER BY cluster""".stripMargin

  /** q188: duplication-aware sampling weights — the SOFT alternative to
    * dropping near-dups: every document keeps weight 1/cluster_size
    * (exact copies of an n-clone share one document's worth of sampling
    * mass), and the per-source report states the corpus's EFFECTIVE
    * size under that weighting — the number a data-mixture planner
    * feeds its token budget, where q31's raw counts overstate cloned
    * sources.
    *
    * Exactness: the weight is materialized as parts-per-million
    * (`round(1e6/size)` — one identical double division and one
    * half-up round in both engines) and summed as a BIGINT, so the
    * per-source totals are integer-exact; the headline effective_docs
    * is one final division of that integer, rounded after. Shape: the
    * memoized q105 components + two keyed aggregations. */
  def q188DupWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = q105DedupClusters(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"source"), Seq("doc_id"))
    val sizes = lab.groupBy($"cluster").agg(count(lit(1)).as("csize"))
    lab.join(sizes, Seq("cluster"))
      .withColumn("w_ppm", round(lit(1000000.0) / $"csize", 0).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster").as("n_clusters"),
        sum($"w_ppm").as("sum_weight_ppm"))
      .withColumn("effective_docs",
        round($"sum_weight_ppm".cast("double") / 1000000.0, 4))
      .orderBy($"source")
  }

  /** Oracle: q105's recursive components + the same ppm arithmetic. */
  val q188Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |         list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.6),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs),
      |walk AS (
      |  SELECT src AS doc_id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |best AS (
      |  SELECT doc_id, min(reach) AS mn FROM walk GROUP BY doc_id),
      |lab AS (
      |  SELECT doc.doc_id, doc.source,
      |         least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster
      |  FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id),
      |sz AS (SELECT cluster, count(*) AS csize FROM lab GROUP BY cluster),
      |w AS (
      |  SELECT lab.source, lab.cluster,
      |         CAST(round(1000000.0 / sz.csize, 0) AS BIGINT) AS w_ppm
      |  FROM lab JOIN sz USING (cluster))
      |SELECT source, count(*) AS n_docs,
      |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
      |       CAST(sum(w_ppm) AS BIGINT) AS sum_weight_ppm,
      |       round(CAST(sum(w_ppm) AS DOUBLE) / 1000000.0, 4) AS effective_docs
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  /** q199: MinHash ESTIMATOR-ACCURACY audit — the q54/q139 "measure
    * your own sketch" discipline applied to the minhash family: over
    * the md5-banding candidate pairs (q107's sample), compare the
    * signature-estimated Jaccard (matching minhash positions / K)
    * against the EXACT shingle Jaccard, banded by the exact value.
    * Per band: pair count, average estimate, average exact, and mean
    * absolute error — the table that justifies (or indicts) K = 8.
    *
    * Exactness: the estimate is m/8 (integer m summed as BIGINT, one
    * final division); exact Jaccard uses the established
    * round-to-4-then-DECIMAL-sum rule, so band membership and every
    * average is bit-identical in both engines. */
  def q199MinhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 8
    def mdh(seed: Int, x: Column): Column =
      conv(substring(md5(concat(lit(seed.toString), lit("|"), x)), 1, 8), 16, 10)
        .cast("long")
    val sh = toks(s, dir)
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", shingles($"toks").as("sh"))
      .persist() // signature pass + both exact-Jaccard sides; swept per-query (Ckpt.sweep)
    val mins = (0 until K).map(k => min(mdh(k, $"s")).as(s"m$k"))
    val sigs = sh.select($"doc_id", explode($"sh").as("s"))
      .groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until K).map(i => col(s"m$i")): _*).as("sig"))
    val cand = md5Candidates(sh)
    val withJ = cand
      .join(sh.select($"doc_id".as("id1"), array_sort($"sh").as("sh1")), Seq("id1"))
      .join(sh.select($"doc_id".as("id2"), array_sort($"sh").as("sh2")), Seq("id2"))
      .withColumn("o", graft.functions.SortedOverlapCount.overlap(s, $"sh1", $"sh2"))
      .withColumn("j4",
        round($"o".cast("double") / (size($"sh1") + size($"sh2") - $"o"), 4))
      .join(sigs.select($"doc_id".as("id1"), $"sig".as("sig1")), Seq("id1"))
      .join(sigs.select($"doc_id".as("id2"), $"sig".as("sig2")), Seq("id2"))
      .withColumn("m", size(filter(
        zip_with($"sig1", $"sig2", (a, b) => a === b), x => x)))
    withJ
      .withColumn("band", floor($"j4" * 5).cast("int"))
      .withColumn("err", round(abs($"m" / lit(8.0) - $"j4"), 4))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"m").cast("double") / (count(lit(1)) * 8), 4).as("avg_est"),
        round(sum($"j4".cast("decimal(10,4)")).cast("double") / count(lit(1)), 4)
          .as("avg_exact"),
        round(sum($"err".cast("decimal(10,4)")).cast("double") / count(lit(1)), 4)
          .as("mean_abs_err"))
      .orderBy($"band")
  }

  val q199Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents WHERE doc_id % 2 = 0),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM t),
      |mh AS (
      |  SELECT doc_id,
      |    [ list_min([ ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 8))::BIGINT
      |                 FOR s IN shs ])
      |      FOR k IN generate_series(0, 7) ] AS sig
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band,
      |    CAST(sig[2*b + 1] AS VARCHAR) || ',' || CAST(sig[2*b + 2] AS VARCHAR) AS bkt
      |  FROM mh, unnest(generate_series(0, 3)) AS u(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
      |scored AS (
      |  SELECT c.id1, c.id2,
      |    round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |          / len(list_distinct(list_concat(x.shs, y.shs))), 4) AS j4,
      |    len([i FOR i IN generate_series(1, 8) IF sx.sig[i] = sy.sig[i]]) AS m
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.id1
      |  JOIN sh y ON y.doc_id = c.id2
      |  JOIN mh sx ON sx.doc_id = c.id1
      |  JOIN mh sy ON sy.doc_id = c.id2)
      |SELECT CAST(floor(j4 * 5) AS INT) AS band,
      |  count(*) AS n_pairs,
      |  round(CAST(sum(m) AS DOUBLE) / (count(*) * 8), 4) AS avg_est,
      |  round(CAST(sum(CAST(j4 AS DECIMAL(10,4))) AS DOUBLE) / count(*), 4) AS avg_exact,
      |  round(CAST(sum(CAST(round(abs(m / 8.0 - j4), 4) AS DECIMAL(10,4))) AS DOUBLE)
      |        / count(*), 4) AS mean_abs_err
      |FROM scored GROUP BY 1 ORDER BY band""".stripMargin

  /** q206: cluster SURVIVORSHIP merge — the golden-record step after
    * q176's representative pick: per near-dup cluster (size ≥ 2), the
    * merged record a master-data pipeline would keep — content from
    * the representative (most chars, ties low id), language by member
    * MAJORITY (count DESC, lang ASC — the q172 tie discipline),
    * sources as an ordered roster, and the byte mass the merge
    * retires. Field-level survivorship rules, each stated in the
    * query text; one more join + two aggregations over the memoized
    * q105 components. */
  def q206Survivorship(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = q105DedupClusters(s, dir)
      .join(Tables.documents(s, dir)
        .select($"doc_id", $"n_chars", $"lang", $"source"), Seq("doc_id"))
    val sized = lab
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster")))
      .filter($"n_members" >= 2)
    val langPick = sized.groupBy($"cluster", $"lang")
      .agg(count(lit(1)).as("lc"))
      .withColumn("lr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster")
          .orderBy($"lc".desc, $"lang".asc)))
      .filter($"lr" === 1)
      .select($"cluster", $"lang".as("golden_lang"))
    sized.groupBy($"cluster")
      .agg(max($"n_members").as("n_members"),
        max(struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"),
        sum($"n_chars").as("total_chars"),
        array_join(array_sort(collect_set($"source")), ",").as("sources"))
      .join(langPick, Seq("cluster"))
      .select($"cluster", $"n_members",
        (-$"best.neg_id").as("golden_doc"),
        $"golden_lang",
        $"sources",
        ($"total_chars" - $"best.n_chars").as("retired_chars"))
      .orderBy($"cluster")
  }

  /** Oracle: the recursive components + the same survivorship rules. */
  val q206Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, source,
      |         list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.6),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT id2, id1 FROM pairs),
      |walk AS (
      |  SELECT src AS doc_id, dst AS reach FROM edges
      |  UNION
      |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |best AS (
      |  SELECT doc_id, min(reach) AS mn FROM walk GROUP BY doc_id),
      |lab AS (
      |  SELECT doc.doc_id,
      |         least(doc.doc_id, coalesce(b.mn, doc.doc_id)) AS cluster,
      |         doc.n_chars, doc.lang, doc.source
      |  FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY cluster) AS n_members
      |  FROM lab),
      |m AS (SELECT * FROM sized WHERE n_members >= 2),
      |lp AS (
      |  SELECT cluster, lang AS golden_lang FROM (
      |    SELECT cluster, lang, count(*) AS lc,
      |      row_number() OVER (PARTITION BY cluster
      |        ORDER BY count(*) DESC, lang ASC) AS lr
      |    FROM m GROUP BY cluster, lang) t
      |  WHERE lr = 1),
      |rep AS (
      |  SELECT cluster, doc_id AS golden_doc, n_chars AS rep_chars FROM (
      |    SELECT cluster, doc_id, n_chars,
      |      row_number() OVER (PARTITION BY cluster
      |        ORDER BY n_chars DESC, doc_id ASC) AS rk
      |    FROM m) t
      |  WHERE rk = 1),
      |agg AS (
      |  SELECT cluster, CAST(max(n_members) AS BIGINT) AS n_members,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |         string_agg(DISTINCT source, ',' ORDER BY source) AS sources
      |  FROM m GROUP BY cluster)
      |SELECT a.cluster, a.n_members, r.golden_doc, lp.golden_lang,
      |       a.sources, CAST(a.total_chars - r.rep_chars AS BIGINT) AS retired_chars
      |FROM agg a JOIN rep r USING (cluster) JOIN lp USING (cluster)
      |ORDER BY a.cluster""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_survivorship" -> (q206Survivorship _),
    "q199_minhash_accuracy" -> (q199MinhashAccuracy _),
    "q188_dup_weights"  -> (q188DupWeights _),
    "q176_cluster_rep"  -> (q176ClusterRep _),
    "q46_minhash_pairs" -> (q46MinhashPairs _),
    "q47_simhash_pairs" -> (q47SimhashPairs _),
    "q48_rolling_fp"    -> (q48RollingFp _),
    "q49_singletons"    -> (q49Singletons _),
    "q105_dedup_clusters" -> (q105DedupClusters _),
    "q107_minhash_md5"  -> (q107MinhashMd5 _),
    "q214_lsh_salted"   -> (q214LshSalted _),
    "q228_salted_budget" -> (q228SaltedBudget _),
    "q109_simhash_md5"  -> (q109SimhashMd5 _),
    "q110_rollingfp_md5" -> (q110RollingFpMd5 _),
    "q122_incremental_dedup" -> (q122IncrementalDedup _),
    "q130_simhash_sql"  -> (q130SimhashSql _),
    "q135_bloom_incremental" -> (q135BloomIncrementalDedup _),
    "q147_lsh_increment" -> (q147LshIncrement _),
    "q148_agg_increment" -> (q148AggIncrement _),
    "q150_substring_dedup" -> (q150SubstringDedup _),
    "q243_span_removal" -> (q243SpanRemoval _),
    "q246_cc_twostar" -> (q246CcTwostar _),
    "q247_span_removal_hashed" -> (q247SpanRemovalHashed _),
    "q252_cc_banded" -> (q252CcBanded _),
    "q255_cc_salted" -> (q255CcSalted _),
    "q260_cc_salted_live" -> (q260CcSaltedLive _),
  )

  val oracle: Map[String, String] = Map(
    // q46/q47/q48: graded via committed hash fixtures (FixtureGen) —
    // the oracle replays everything downstream of xxhash64 in SQL;
    // valid at the driver's verification scale (sf0.01) only, which is
    // the only scale the oracle gate runs at
    "q46_minhash_pairs" -> q46Sql,
    "q47_simhash_pairs" -> q47Sql,
    "q48_rolling_fp"    -> q48Sql,
    "q206_survivorship" -> q206Sql,
    "q199_minhash_accuracy" -> q199Sql,
    "q188_dup_weights" -> q188Sql,
    "q176_cluster_rep" -> q176Sql,
    "q49_singletons" -> q49Sql,
    "q105_dedup_clusters" -> q105Sql,
    "q107_minhash_md5" -> q107Sql,
    // graded by q107's oracle VERBATIM: the salted decomposition must
    // hash-match the plain banding restatement
    "q214_lsh_salted"  -> q107Sql,
    // the oracle replays the UNCAPPED banding join on the same flood
    // corpus — equality proves the maxWidth=4 triangle decomposition
    // lossless where hot buckets genuinely split
    "q228_salted_budget" -> q228Sql,
    "q109_simhash_md5" -> q109Sql,
    "q110_rollingfp_md5" -> q110Sql,
    "q122_incremental_dedup" -> q122Sql,
    // same output contract as q109 — one oracle grades both front doors
    "q130_simhash_sql" -> q109Sql,
    // a Bloom filter has no false negatives, so the prefiltered plan
    // must reproduce q122's aggregate bit-for-bit — graded by reusing
    // q122's oracle verbatim
    "q135_bloom_incremental" -> q122Sql,
    "q147_lsh_increment" -> q147Sql,
    "q148_agg_increment" -> q148Sql,
    "q150_substring_dedup" -> q150Sql,
    "q243_span_removal" -> q243Sql,
    "q246_cc_twostar" -> q105Sql,
    // hash-graded via fixtures/q247_spanhash_sf001 (q46/q48 discipline)
    "q247_span_removal_hashed" -> q247Sql,
    "q252_cc_banded" -> q252Sql,
    "q255_cc_salted" -> q255Sql,
    "q260_cc_salted_live" -> q260Sql,
  )
}
