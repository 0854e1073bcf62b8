package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end curation pipeline — the composition a training-data user
  * actually runs, chaining the engine's operators in their production
  * order (each stage narrows the corpus before the next, more expensive
  * one):
  *
  *   1. exact dedup on the normalized fingerprint (q33's identity);
  *   2. quality gate: token count + stopword-ratio tier (q32);
  *   3. language filter via the lang-ID heuristic (q35);
  *   4. near-dup suppression: MinHash-LSH candidates (q46's shape),
  *      keeping the lower doc_id of each surviving pair;
  *   5. emit the curated corpus with its provenance columns.
  *
  * One pass per stage, all narrow or bucket-joined — the funnel shape
  * (cheap filters first, pairwise work last on the smallest set) is the
  * 100 TB cost model.
  */
object Pipeline {

  /** Stages 1–3 of the funnel (exact dedup → quality gate → language
    * filter): shared verbatim by the production pipeline (q87) and its
    * oracle twin (q108) — the twin grades THIS composition.
    *
    * persist: the result feeds BOTH the LSH candidate build and the
    * final anti-join — without it the whole funnel lineage runs twice.
    * Lazy (no blocking job); swept by Bench/Verify after the query. */
  private def enCorpus(s: SparkSession, dir: String,
                       sample: Column = lit(true)): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)

    // 1. exact dedup on normalized text (keep the smallest doc_id).
    // `sample` applies directly after this stage: the dedup groupBy must
    // see the whole corpus (min(doc_id) per fingerprint), but the later
    // stages are row-wise, so a doc_id predicate commutes with them —
    // and the persist() below would otherwise stop Catalyst from
    // pushing it past the funnel.
    val fp = docs.withColumn("fp", TextOps.normFp($"text"))
    val keepers = fp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val deduped = fp.join(keepers, Seq("fp", "doc_id")).filter(sample)

    // 2. quality gate — fingerprint and stopword set shared with
    // q33/q32 via TextOps so the funnel cannot drift from the graded
    // single-stage queries
    val scored = deduped
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("n_tokens", size($"toks"))
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, x -> x IN ${TextOps.stopSqlList})")).cast("double") / $"n_tokens")
      .filter($"n_tokens" >= 20)

    // 3. language filter (marker-word heuristic, en only)
    // SECOND negative result on the eager cut (r20, VERDICT r19 item 8):
    // the retry the r19 revert notes asked for — text pruned away (the
    // seven columns stage 4 + emit read, toks included) and the spread
    // guard job gone (job-free narrow-plan walk above a cut frame) —
    // still measured WORSE solo at 32 cores/sf0.1: q87 2.77 → 2.68 s
    // (noise), q108 2.33 → 3.27 s med / 2.09 → 2.45 s min. The cut
    // materializes `toks` (as heavy as the text it came from), and that
    // write costs more than the duplicate-evaluation race it removes —
    // q108's sampled funnel loses outright. The lazy persist stays; do
    // not retry without a mechanism that avoids materializing toks.
    scored.filter(
      size(regexp_extract_all(lower($"text"), lit("\\b(the|a|of|and|is|to)\\b"), lit(0))) >
      size(regexp_extract_all(lower($"text"), lit("\\b(der|die|das|und|le|la|el|los)\\b"), lit(0))))
      .persist()
  }

  /** Stage 5: drop the higher doc_id of each confirmed near-dup pair,
    * emit the curated corpus with provenance columns. */
  private def emit(en: DataFrame, losers: DataFrame): DataFrame = {
    val s = en.sparkSession
    import s.implicits._
    en.join(losers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_tokens",
        round($"stop_ratio", 4).as("stop_ratio"), $"fp")
      .orderBy($"doc_id")
  }

  def curate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val en = enCorpus(s, dir)
    // 4. near-dup suppression via MinHash-LSH: id-only band join with the
    //    skew cap, late shingle re-join (Dedup.lshCandidates/verifyJaccard),
    //    then drop the higher doc_id of any confirmed near-dup pair
    // spread before the persist: the signature pass hashes every shingle
    // 32x and otherwise runs at the funnel join's coalesced width
    val sh = graft.Tables.spread(
        en.select($"doc_id", Dedup.shingles($"toks").as("sh")), "doc_id")
      .persist() // feeds the signature pass and both verify sides (lazily)
    val losers = Dedup.verifyJaccard(Dedup.lshCandidates(Dedup.minhashSigs(sh)), sh, 0.5)
      .select($"id2".as("doc_id")).distinct()
    emit(en, losers)
  }

  /** q108: the full curation funnel with the ORACLE-EXPRESSIBLE md5
    * minhash family (q107's) in stage 4 — every stage restates in
    * DuckDB SQL, so the funnel COMPOSITION (dedup → quality → lang →
    * near-dup anti-join, survivor selection, bucket cap) is hash-graded
    * end to end. q87 stays the production path (xxhash64 signatures);
    * the two share stages 1–3 and 5 verbatim. */
  def q108CurationMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deterministic 1-in-2 sample (q107's convention): the twin grades
    // the funnel COMPOSITION, not corpus-scale md5 throughput — q87
    // stays the full-corpus path
    val en = enCorpus(s, dir, $"doc_id" % 2 === 0)
    val sh = graft.Tables.spread(
        en.select($"doc_id", Dedup.shingles($"toks").as("sh")), "doc_id")
      .persist() // feeds the signature pass and both verify sides (lazily)
    val losers = Dedup.verifyJaccard(
        Dedup.md5Candidates(sh, Dedup.MaxBucketWidth), sh, 0.5)
      .select($"id2".as("doc_id")).distinct()
    emit(en, losers)
  }

  val q108Sql: String =
    raw"""WITH fp AS (
      |  SELECT doc_id, text, lang, source,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
      |deduped AS (
      |  SELECT f.* FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
      |tok AS (
      |  SELECT *, regexp_extract_all(lower(text), '\S+') AS toks FROM deduped),
      |scored AS (
      |  SELECT doc_id, text, lang, source, fp, toks,
      |    CAST(len(toks) AS INT) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> x IN ${TextOps.stopSqlList})) AS DOUBLE)
      |      / len(toks) AS stop_ratio
      |  FROM tok WHERE len(toks) >= 20),
      |en AS (
      |  SELECT * FROM scored
      |  WHERE doc_id % 2 = 0
      |    AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|to)\b')) >
      |        len(regexp_extract_all(lower(text), '\b(der|die|das|und|le|la|el|los)\b'))),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM en),
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
      |ok AS (
      |  SELECT band, bkt FROM banded GROUP BY band, bkt
      |  HAVING count(*) > 1 AND count(*) <= 64),
      |capped AS (
      |  SELECT banded.* FROM banded JOIN ok USING (band, bkt)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
      |losers AS (
      |  SELECT DISTINCT c.id2 AS doc_id
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.id1
      |  JOIN sh y ON y.doc_id = c.id2
      |  WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |          / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5)
      |SELECT e.doc_id, e.lang, e.source, e.n_tokens,
      |       round(e.stop_ratio, 4) AS stop_ratio, e.fp
      |FROM en e
      |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
      |ORDER BY e.doc_id""".stripMargin

  /** q87's oracle (HASH-GRADED since r12): stages 1–3 and 5 restate in
    * SQL exactly as q108's do (shared text verbatim, minus the twin's
    * 1-in-2 sample); stage 4's xxhash64 banding comes from the q46
    * fixture (`fixtures/q46_banded_sf001`) — banding is a PER-DOC
    * function, so restricting the full-corpus fixture to the funnel's
    * survivor set reproduces precisely the band table `lshCandidates`
    * builds over the en corpus, and the width cap / bucket join /
    * Jaccard verify / anti-join replay downstream of it. */
  val q87Sql: String =
    raw"""WITH ${graft.Fixtures.corpusGuardCtes},
      |fp AS (
      |  SELECT doc_id, text, lang, source,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
      |deduped AS (
      |  SELECT f.* FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
      |tok AS (
      |  SELECT *, regexp_extract_all(lower(text), '\S+') AS toks FROM deduped),
      |scored AS (
      |  SELECT doc_id, text, lang, source, fp, toks,
      |    CAST(len(toks) AS INT) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> x IN ${TextOps.stopSqlList})) AS DOUBLE)
      |      / len(toks) AS stop_ratio
      |  FROM tok WHERE len(toks) >= 20),
      |en AS (
      |  SELECT * FROM scored
      |  WHERE len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|to)\b')) >
      |        len(regexp_extract_all(lower(text), '\b(der|die|das|und|le|la|el|los)\b'))),
      |bandf AS (
      |  SELECT b.doc_id, b.band, b.bkt
      |  FROM read_parquet('${graft.Fixtures.dir}/q46_banded_sf001/*.parquet') b
      |  JOIN en e ON e.doc_id = b.doc_id),
      |ok AS (
      |  SELECT band, bkt FROM bandf GROUP BY band, bkt
      |  HAVING count(*) > 1 AND count(*) <= 64),
      |capped AS (
      |  SELECT bandf.* FROM bandf JOIN ok USING (band, bkt)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM capped a JOIN capped b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
      |sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2])
      |    FOR i IN generate_series(1, greatest(len(toks) - 2, 1))]) AS shs
      |  FROM en),
      |losers AS (
      |  SELECT DISTINCT c.id2 AS doc_id
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.id1
      |  JOIN sh y ON y.doc_id = c.id2
      |  WHERE round(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      |          / len(list_distinct(list_concat(x.shs, y.shs))), 4) >= 0.5)
      |SELECT e.doc_id, e.lang, e.source, e.n_tokens,
      |       round(e.stop_ratio, 4) AS stop_ratio, e.fp
      |FROM en e
      |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
      |UNION ALL
      |SELECT -1, 'FIXTURE_CORPUS_MISMATCH', CAST(n AS VARCHAR),
      |       CAST(-1 AS INT), -1.0, ''
      |FROM fixture_corpus_mismatch WHERE n > 0
      |ORDER BY doc_id""".stripMargin

  /** q276: THE PIPELINE FUNNEL CENSUS — the accounting a training run
    * signs off on before it spends compute: one graded row per pipeline
    * stage with EXACT per-stage document, whitespace-token, and
    * token-ID totals, so every stage's cost and yield is on the record
    * (q87 emits the curated corpus; this emits the FUNNEL — what each
    * stage removed, measured in the unit the trainer pays for: ids
    * through the k=16 vocabulary, the same cached artifact q261/q266
    * consume). Stages, in production cost order (cheap row-wise
    * filters first, pairwise work last on the smallest set):
    *
    *   0. raw — the corpus as scanned;
    *   1. exact_dedup — q29's identity (md5(text), keep min doc_id);
    *   2. quality — the published Gopher rule set (q239's flags,
    *      shared `gopherRulesFrom`);
    *   3. near_dedup — md5-SimHash Hamming ≤ 6 pairs among the
    *      QUALITY SURVIVORS (q109's engine via
    *      `Dedup.simhashMd5PairsFromToks`), greedy keep-min: any doc
    *      with a verified pair to a smaller id drops. Stated policy:
    *      greedy-by-pair, not cluster-canonical — a chain b~a, c~b
    *      drops BOTH b and c (the conservative over-removal every
    *      keep-first near-dedup makes; the cluster-exact form is
    *      q105/q246);
    *   4. decontam — the q258 rule at TEXTUAL 13-gram keys: the
    *      benchmark source (src0) leaves the training corpus entirely,
    *      and any surviving doc sharing a verbatim 13-gram with it
    *      drops. (The census is the exactness twin: production
    *      decontamination is hash-keyed q258/decontamIngest; textual
    *      keys here keep the whole funnel restatable in one oracle
    *      with no fixture.)
    *
    * Per-doc accounting is computed ONCE (one tokenize + one broadcast
    * vocabulary join), each stage is an id-set semi-join against it —
    * the census costs one scan plus the stage operators themselves.
    * 100 TB shape: every stage is a shape already scale-audited under
    * its own query; the census adds only tiny id-frame joins. */
  def q276PipelineFunnel(s: SparkSession, dir: String): DataFrame =
    pipelineFunnelFrom(funnelArtifacts(s, dir))

  /** The funnel census on arbitrary (doc_id, text, source) docs and an
    * encoded vocabulary (w, syms) — split out so PipelineSpec can pin
    * each stage's drop reason on a constructed corpus (training its
    * own k=16 vocabulary). */
  private[graft] def pipelineFunnelFrom(docs: DataFrame,
      enc: DataFrame): DataFrame =
    pipelineFunnelFrom(funnelStages(docs, enc))

  private def pipelineFunnelFrom(
      t2: (DataFrame, Seq[(Int, String, DataFrame)])): DataFrame = {
    val (stats, stages) = t2
    val s = stats.sparkSession
    import s.implicits._
    def census(t: (Int, String, DataFrame)): DataFrame =
      t._3.join(stats, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"n_tok"), lit(0L)).as("n_tokens"),
          coalesce(sum($"n_ids"), lit(0L)).as("n_ids"))
        .select(lit(t._1).as("stage_id"), lit(t._2).as("stage"),
          $"n_docs", $"n_tokens", $"n_ids")
    stages.map(census).reduce(_ unionByName _).orderBy($"stage_id")
  }

  /** The funnel's per-doc accounting frame and its five stage id-sets
    * — ONE definition of the stage logic, consumed by the census
    * (q276) and the survivor mixture (q280).
    *
    * Optimization r19: the shared frames are materialized EAGERLY
    * (`Ckpt.cut`). With the pre-r19 lazy persist the census's five
    * union branches raced the empty cache and recomputed the shared
    * lineage — profiled as the same stage shape executing 2–4x back
    * to back inside one q280 run — and the final
    * plan carried 232 Exchange nodes (336 KB formatted) because every
    * consumer re-embedded the whole funnel lineage. Eager cuts run each
    * stage exactly once and truncate the plan. The doc scan is also
    * spread once at entry (Tables.spread): the md5/simhash/13-gram work
    * above the single-split scan otherwise runs single-threaded. */
  private def funnelStages(docs0: DataFrame, enc: DataFrame)
      : (DataFrame, Seq[(Int, String, DataFrame)]) = {
    val s = docs0.sparkSession
    import s.implicits._
    val docs = graft.Tables.spread(docs0, "doc_id")
    // s0 is materialized too: in the memoized form every stage frame,
    // including the raw id census, is a readable artifact
    val s0 = graft.Ckpt.cut(docs.select($"doc_id"))
    val stats = graft.Ckpt.cut(docs
      .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
      .join(enc.select($"w", size($"syms").as("ns")), Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), sum($"ns".cast("long")).as("n_ids")))
    val s1 = graft.Ckpt.cut(docs.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_id")).select($"doc_id"))
    val s2 = graft.Ckpt.cut(s1.join(TextOps.gopherRulesFrom(docs)
        .filter($"gopher_pass").select($"doc_id"), Seq("doc_id")))
    val docs2 = docs.join(s2, Seq("doc_id"))
    val drop3 = Dedup.simhashMd5PairsFromToks(
        docs2.select($"doc_id", explode(TextOps.tokens($"text")).as("tok")))
      .select($"id2".as("doc_id")).distinct()
    val s3 = graft.Ckpt.cut(s2.join(drop3, Seq("doc_id"), "left_anti"))
    val bench = TextOps.gramWindows(docs.filter($"source" === "src0"))
      .select($"g").distinct()
    val docs3 = docs.join(s3, Seq("doc_id"))
    val contaminated = TextOps.gramWindows(docs3.filter($"source" =!= "src0"))
      .join(bench, Seq("g")).select($"doc_id").distinct()
    val s4 = graft.Ckpt.cut(s3
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .filter($"source" =!= "src0").select($"doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti"))
    (stats, Seq((0, "raw", s0), (1, "exact_dedup", s1), (2, "quality", s2),
      (3, "near_dedup", s3), (4, "decontam", s4)))
  }

  /** Cross-query memo of the funnel artifacts on the graded corpus —
    * the videoSigs/q257+q263 production-artifact discipline applied to
    * the funnel: a curation run derives the survivor sets ONCE and both
    * the census (q276) and the mixture allocation (q280) read that
    * artifact. Its cuts live as long as the entry; the build is
    * attributed on the bench's memo_pays ledger. */
  private val funnelCache =
    new graft.SessionCache[(DataFrame, Seq[(Int, String, DataFrame)])]("funnel_stages")

  private def funnelArtifacts(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, DataFrame)]) =
    funnelCache.getOrElseUpdate(s, dir,
      funnelStages(Tables.documents(s, dir), TextOps.vocab16(s, dir)))

  /** q280: the FUNNEL → MIXTURE handoff — what a run actually
    * allocates after curation: q276's decontaminated survivors,
    * grouped by SOURCE with their token-ID masses (the same per-doc
    * accounting frame, ids through the shared k=16 vocabulary), fed
    * through q236's exact UniMax water-filling (`Corpus.unimaxAlloc` —
    * ONE allocator implementation, two graded consumers: language
    * mixing on the raw corpus there, source mixing on the curated
    * corpus here). The difference between the two allocations is the
    * funnel itself: q236 budgets over everything the scan found, q280
    * over what survives curation — the allocation a trainer should
    * actually use, with Σalloc = 3·Σsurviving-ids EXACT by the
    * allocator's integer remainder discipline. */
  def q280FunnelMixture(s: SparkSession, dir: String): DataFrame =
    funnelMixtureFrom(Tables.documents(s, dir), funnelArtifacts(s, dir))

  private[graft] def funnelMixtureFrom(docs: DataFrame,
      enc: DataFrame): DataFrame =
    funnelMixtureFrom(docs, funnelStages(docs, enc))

  private def funnelMixtureFrom(docs: DataFrame,
      t2: (DataFrame, Seq[(Int, String, DataFrame)])): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (stats, stages) = t2
    val av = stages.last._3
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .join(stats, Seq("doc_id"))
      .groupBy($"source").agg(sum($"n_ids").as("avail"))
    Corpus.unimaxAlloc(av, "source")
  }

  /** q280 oracle: the shared funnel CTEs through the survivor set,
    * the per-source id masses, and q236's water-filling tail with the
    * key renamed — the allocator arithmetic restated once, shared by
    * both graded consumers. */
  val q280Sql: String =
    raw"""WITH $funnelCtes,
      |av AS (
      |  SELECT d.source, CAST(sum(st.n_ids) AS BIGINT) AS avail
      |  FROM st4 JOIN documents d USING (doc_id)
      |  JOIN stats st USING (doc_id)
      |  GROUP BY d.source),
      |${Corpus.unimaxTailSql("source")}""".stripMargin

  /** q276 oracle: the whole funnel restated CTE-by-CTE — q29's keep-min
    * identity, q239's rule arithmetic, q109's md5-SimHash pair SQL
    * applied to the quality survivors, textual 13-gram containment
    * against the src0 benchmark, and the per-stage totals through the
    * shared 16-round vocabulary generator. No fixture anywhere. */
  /** The funnel's CTE chain through the survivor set (st4) — shared
    * verbatim by the census oracle (q276) and the mixture oracle
    * (q280). */
  private def funnelCtes: String = {
    val bitSums = (0 until 64).map { j =>
      val src = if (j < 32) "h1" else "h2"
      s"sum(CASE WHEN (($src >> ${j % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val chunks = (0 until 4).map { c =>
      (0 until 16).map { k =>
        s"(CASE WHEN b${c * 16 + k} > 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString("CAST(", " + ", s" AS INT) AS v$c")
    }.mkString(",\n    ")
    val gterms = (0 until 13).map(i => s"toks[i+$i]").mkString(", ")
    raw"""${TextOps.bpeIntRoundCtes(16)}
      |tkx AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      |  FROM documents),
      |stats AS (
      |  SELECT tkx.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(sum(len(v.syms)) AS BIGINT) AS n_ids
      |  FROM tkx JOIN w16 v USING (w) GROUP BY tkx.doc_id),
      |st1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |gt AS (
      |  SELECT doc_id, text, regexp_extract_all(lower(text), '\S+') AS toks
      |  FROM documents),
      |gm AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
      |    CAST(len(list_filter(toks, x -> x IN ${TextOps.stopSqlList})) AS BIGINT) AS n_stop
      |  FROM gt),
      |st2 AS (
      |  SELECT st1.doc_id FROM st1 JOIN gm USING (doc_id)
      |  WHERE n_words >= 50 AND n_words <= 100000
      |    AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
      |    AND 10 * n_sym <= n_words
      |    AND 10 * n_alpha >= 7 * n_words
      |    AND n_stop >= 2),
      |sht AS (
      |  SELECT d.doc_id, unnest(regexp_extract_all(lower(d.text), '\S+')) AS tok
      |  FROM documents d JOIN st2 USING (doc_id)),
      |shh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
      |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
      |  FROM sht),
      |shb AS (
      |  SELECT doc_id,
      |    $bitSums
      |  FROM shh GROUP BY doc_id),
      |shv AS (
      |  SELECT doc_id,
      |    $chunks
      |  FROM shb),
      |shc0 AS (
      |  SELECT doc_id, v0, v1, v2, v3, u.c,
      |    CASE u.c WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS vv
      |  FROM shv, unnest(generate_series(0, 3)) AS u(c)),
      |shc AS (
      |  SELECT doc_id, v0, v1, v2, v3, c, vv FROM (
      |    SELECT shc0.*, count(*) OVER (PARTITION BY c, vv) AS w FROM shc0) t
      |  WHERE w <= ${Dedup.MaxBucketWidth}),
      |shcand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM shc a JOIN shc b ON a.c = b.c AND a.vv = b.vv AND a.doc_id < b.doc_id),
      |drop3 AS (
      |  SELECT DISTINCT cd.id2 AS doc_id
      |  FROM shcand cd
      |  JOIN shv x ON x.doc_id = cd.id1
      |  JOIN shv y ON y.doc_id = cd.id2
      |  WHERE bit_count(xor(x.v0, y.v0)) + bit_count(xor(x.v1, y.v1)) +
      |        bit_count(xor(x.v2, y.v2)) + bit_count(xor(x.v3, y.v3)) <= 6),
      |st3 AS (
      |  SELECT doc_id FROM st2
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop3)),
      |bg AS (
      |  SELECT DISTINCT unnest([concat_ws(' ', $gterms)
      |            FOR i IN generate_series(1, len(toks) - 12)]) AS g
      |  FROM gt JOIN documents USING (doc_id)
      |  WHERE source = 'src0' AND len(toks) >= 13),
      |cg AS (
      |  SELECT gt.doc_id,
      |    unnest([concat_ws(' ', $gterms)
      |            FOR i IN generate_series(1, len(toks) - 12)]) AS g
      |  FROM gt JOIN st3 USING (doc_id) JOIN documents d USING (doc_id)
      |  WHERE d.source <> 'src0' AND len(toks) >= 13),
      |cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)),
      |st4 AS (
      |  SELECT st3.doc_id FROM st3 JOIN documents d USING (doc_id)
      |  WHERE d.source <> 'src0'
      |    AND st3.doc_id NOT IN (SELECT doc_id FROM cont))""".stripMargin
  }

  val q276Sql: String =
    raw"""WITH $funnelCtes,
      |census AS (
      |  SELECT 0 AS stage_id, 'raw' AS stage, d.doc_id
      |  FROM documents d
      |  UNION ALL SELECT 1, 'exact_dedup', doc_id FROM st1
      |  UNION ALL SELECT 2, 'quality', doc_id FROM st2
      |  UNION ALL SELECT 3, 'near_dedup', doc_id FROM st3
      |  UNION ALL SELECT 4, 'decontam', doc_id FROM st4)
      |SELECT c.stage_id, c.stage,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(coalesce(sum(st.n_tok), 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(sum(st.n_ids), 0) AS BIGINT) AS n_ids
      |FROM census c LEFT JOIN stats st ON st.doc_id = c.doc_id
      |GROUP BY c.stage_id, c.stage
      |ORDER BY c.stage_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q87_curation_pipeline" -> (curate _),
    "q108_curation_md5"     -> (q108CurationMd5 _),
    "q276_pipeline_funnel"  -> (q276PipelineFunnel _),
    "q280_funnel_mixture"   -> (q280FunnelMixture _))

  val oracle: Map[String, String] = Map(
    "q87_curation_pipeline" -> q87Sql,
    "q108_curation_md5" -> q108Sql,
    "q276_pipeline_funnel" -> q276Sql,
    "q280_funnel_mixture" -> q280Sql)
}
