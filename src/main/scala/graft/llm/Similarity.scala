package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Similarity search over the `embeddings` table (north star:
  * approximate-nearest-neighbor for near-dup mining / retrieval).
  *
  * Two paths, same contract:
  *  - q36 brute-force cosine top-k — the correctness baseline. O(Q·N)
  *    with the Q query vectors broadcast; fine when Q is small or N
  *    fits a partition sweep, and the oracle for the ANN path.
  *  - q38 LSH (sign-random-projection) bucketed top-k — the scale
  *    path: vectors are hashed to buckets by the sign pattern of P
  *    deterministic hyperplanes; candidate pairs only form inside a
  *    bucket, turning O(N²) into a bucket-equality shuffle join,
  *    exactly the geometry a 100 TB dedup/retrieval job needs.
  *    Unit-tested for recall against the brute-force baseline
  *    (rows-only check driver-side: LSH is not SQL-expressible).
  *
  * All arithmetic is cast to double BEFORE any fold (float32 folds are
  * not reproducible across engines) and folds are sequential left
  * folds (`aggregate`), matching DuckDB's list_* evaluation order.
  */
object Similarity {

  /** embedding as double[] with the vec_id. */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double")).as("v"))
  }

  /** IVF seed stride for an N-vector corpus: max(minStride, ⌊√N⌋), so
    * K ≈ √N cells past the floor and exactly the historical fixed
    * stride below it. Mirrored verbatim by the q66 oracle's scalar
    * subquery (`greatest(31, floor(sqrt(count(*))))`) — both sides
    * compute one exact count, one IEEE sqrt, one floor. */
  private[graft] def ivfStride(n: Long, minStride: Int): Long =
    math.max(minStride.toLong, math.floor(math.sqrt(n.toDouble)).toLong)

  /** Lloyd TRAINING stride: the refinement passes see only vectors with
    * `vec_id % trainStride == 0` — a deterministic ≈8·K-vector sample
    * (the faiss discipline: train the coarse quantizer on c·K points,
    * then assign the full corpus ONCE). With K ≈ √N this caps each
    * Lloyd pass at ~8√N·K ≈ 8N cosine evaluations — linear — where the
    * r9 build paid the full N·K per pass (the measured ~36×/decade
    * curve, PERF.md §ANN). One more modulo predicate, so the oracle
    * restates it in the same scalar-subquery style as `ivfStride`. */
  private[graft] def ivfTrainStride(stride: Long): Long =
    math.max(1L, stride / 8)

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k over an arbitrary (vec_id, v) set — the
    * correctness baseline every ANN path's recall is measured against.
    * Query side is broadcast; candidates stream by without a shuffle
    * until the final per-query top-k window. */
  def bruteTopkFrom(e: DataFrame, nq: Int = 10, k: Int = 5): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val q = e.filter($"vec_id" < nq).select($"vec_id".as("qid"), $"v".as("qv"))
    val c = e.select($"vec_id".as("cid"), $"v".as("cv"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    c.join(broadcast(q), $"cid" =!= $"qid")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  /** q36: brute-force cosine top-k — for each query vector (vec_id < 10),
    * the 5 nearest neighbors. */
  def q36CosineTopk(s: SparkSession, dir: String): DataFrame =
    bruteTopkFrom(vecs(s, dir))

  val q36Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      |sims AS (
      |  SELECT q.qid, e.vec_id AS cid,
      |    list_dot_product(q.qv, e.v)
      |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
      |  FROM q JOIN e ON e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |  FROM sims)
      |SELECT qid, rank, cid, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** q37: vector stats — L2 norm and dimensionality per embedding (the
    * sanity scan before any ANN build). */
  def q37VecNorms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir)
      .select($"vec_id", $"label",
        size($"v").as("dim"),
        round(norm($"v"), 4).as("l2"))
      .orderBy($"vec_id")
  }

  val q37Sql: String =
    """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
      |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** q38: per-label centroid — element-wise mean via posexplode.
    * Sums go through DECIMAL(18,9) so the result is independent of
    * partial-aggregation order (double addition is not associative;
    * decimal is), then divided and rounded in double. Output is one
    * scalar row per (label, pos) — array-typed output columns are not
    * comparable by the driver's pandas sorter, and the exploded shape
    * is also what a downstream consumer joins against. */
  def q38LabelCentroid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir)
      .select($"label", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(round(sum($"x".cast(DecimalType(18, 9))).cast("double") / count(lit(1)), 4).as("m"))
      .orderBy($"label", $"pos")
  }

  val q38Sql: String =
    """SELECT label, CAST(pos AS INT) AS pos,
      |  round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 4) AS m
      |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |             generate_subscripts(embedding, 1) - 1 AS pos
      |      FROM embeddings) t
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** LSH banding: `LshBands` independent signatures of `LshPlanesPerBand`
    * hyperplanes each. Two vectors are candidates if ANY band agrees —
    * the classic banding trade-off (more bands → higher recall, more
    * candidates). 4×4 tuned for weakly-similar random vectors. */
  val LshBands = 4
  val LshPlanesPerBand = 4

  /** Deterministic ±1 hyperplane weights — md5("p|j") byte parity —
    * PRECOMPUTED once driver-side and embedded as literal arrays. At
    * scale the hyperplane table is a broadcast constant: the earlier
    * shape (a hash expression per (row, plane, dim)) burned O(N·P·D)
    * hash evaluations on the corpus side for values that never change.
    * Same bytes → same md5 in the JVM, Spark SQL and DuckDB, so the
    * banding is also directly oracle-expressible (q39/q111 share one
    * SQL restatement). Supports dim ≤ MaxDim (= 512). */
  private val MaxDim = 512
  private lazy val md5Planes: IndexedSeq[Array[Double]] =
    (0 until LshBands * LshPlanesPerBand).map { p =>
      (0 until MaxDim).map { j =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p|$j".getBytes("UTF-8"))
        if ((d(0) & 1) == 0) 1.0 else -1.0
      }.toArray
    }

  private def bandBucket(v: Column, band: Int): Column = {
    val bits = (0 until LshPlanesPerBand).map { i =>
      val p = band * LshPlanesPerBand + i
      val w = typedLit(md5Planes(p))
      val proj = aggregate(
        zip_with(v, slice(w, lit(1), size(v)), (x, ww) => x * ww),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1 << i)).otherwise(lit(0))
    }
    // Fail fast past MaxDim. Without this guard, zip_with null-pads the
    // 512-element plane against a longer vector, the aggregate fold goes
    // null, when(proj > 0) is false for EVERY plane, and every vector
    // lands in bucket 0 of every band — one silent mega-bucket, O(N²)
    // candidates, exactly the failure that "runs fine at sf0.1" and
    // melts at 100 TB. A wrong-dim corpus must error, not degrade.
    when(size(v) > MaxDim,
      raise_error(concat(
        lit("graft LSH bandBucket: embedding dim "), size(v).cast("string"),
        lit(s" exceeds MaxDim=$MaxDim; enlarge Similarity.MaxDim (md5Planes) for this corpus"))))
      .otherwise(bits.reduce(_ + _))
  }

  /** (band, bucket) pairs for a vector — exploded so candidate generation
    * is a plain equality join on (band, bucket). */
  private def bandedBuckets(v: Column): Column =
    array((0 until LshBands).map(b =>
      struct(lit(b).as("band"), bandBucket(v, b).as("bkt"))): _*)

  /** XOR probe codes for a multi-probe depth over `LshPlanesPerBand` sign
    * bits: the query's own bucket (0), plus every single-bit flip at
    * depth ≥ 1, plus every double-bit flip at depth ≥ 2. The SINGLE
    * source of truth for both the Spark plan (`annLshFrom`) and the
    * generated oracle SQL (`annLshSql`) — so q39's registered oracle can
    * never drift from whatever `spark.graft.lsh.multiprobe` the session
    * runs with. */
  def probeCodes(multiProbe: Int): Seq[Int] = {
    val bits = 0 until LshPlanesPerBand
    val one = if (multiProbe >= 1) bits.map(1 << _) else Seq.empty
    val two = if (multiProbe >= 2)
      (for (i <- bits; j <- bits if i < j) yield (1 << i) | (1 << j))
    else Seq.empty
    0 +: (one ++ two)
  }

  /** LSH-banded approximate top-k over an arbitrary (vec_id, v) set.
    *
    * `multiProbe`: in addition to a query's own bucket in each band,
    * probe every bucket whose code differs in ≤ multiProbe of the
    * band's sign bits (classic multi-probe LSH — Lv et al., VLDB'07).
    * A near-neighbor that lands one hyperplane-sign away is reached
    * WITHOUT growing the number of tables: the probe fan-out multiplies
    * only the broadcast QUERY side (×(1+P) buckets per band at
    * multiProbe=1), never the corpus side — the knob buys recall at
    * O(queries) cost, which is the right trade at 100 TB where the
    * corpus-side explode is the expensive dimension. */
  def annLshFrom(e0: DataFrame, nq: Int = 10, k: Int = 5,
                 multiProbe: Int = 1): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    // spread before the banding (optimization r20, guide §2.5): the
    // 16-band hyperplane-sign hashing runs per row ABOVE the
    // single-row-group scan, i.e. on ONE task — and it runs TWICE (the
    // broadcast query side and the corpus side both re-derive it).
    // Hash-spreading the scan makes both passes cluster-wide; the
    // guard no-ops on inputs that already arrive in many splits.
    val e = graft.Tables.spread(e0, "vec_id")
      .withColumn("bb", explode(bandedBuckets($"v")))
      .select($"vec_id", $"v", $"bb.band".as("band"), $"bb.bkt".as("bkt"))
    val flips: Seq[Column] = probeCodes(multiProbe).map(lit(_))
    val q = e.filter($"vec_id" < nq)
      .withColumn("probe", explode(array(flips: _*)))
      .select($"vec_id".as("qid"), $"v".as("qv"), $"band",
        $"bkt".bitwiseXOR($"probe").as("bkt"))
    val c = e.select($"vec_id".as("cid"), $"v".as("cv"),
      $"band".as("cband"), $"bkt".as("cbkt"))
    val pairs = c.join(broadcast(q),
        $"cband" === $"band" && $"cbkt" === $"bkt" && $"cid" =!= $"qid")
      .select($"qid", $"qv", $"cid", $"cv")
      .dropDuplicates("qid", "cid")
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    pairs
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  /** q39: LSH-banded approximate top-k — candidates form only inside a
    * (band, bucket) cell, turning the O(N²) similarity join into a
    * bucket-equality shuffle join; pairs found by several bands are
    * deduped before scoring. Multi-probe depth via
    * `spark.graft.lsh.multiprobe` (default 1). Hash-graded: the oracle
    * entry is synthesized from the SAME `probeCodes` at the session's
    * multiprobe depth (see `oracle` below), and recall vs the
    * brute-force q36 is unit tested in LlmSpec with an asserted ≥0.8
    * floor on a clustered corpus. */
  def q39AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val mp = s.conf.getOption("spark.graft.lsh.multiprobe")
      .map(_.toInt).getOrElse(1)
    annLshFrom(vecs(s, dir), multiProbe = mp)
  }

  /** Nearest-n of `cands` (idCol, vecCol) for every row of `df`, ranked
    * by (cosine DESC, id ASC); emits df's columns plus `out` (the
    * candidate id) and `out_rn` (its rank). The shared argmax kernel of
    * the IVF family (flat assignment, Lloyd training, hierarchical
    * hops, incremental batch assignment).
    *
    * Ranking formulation MEASURED, not assumed (sf0.1, local[32],
    * solo): the row_number window (1.7 s whole-query) beats both
    * argmax-as-aggregation alternatives — max_by grouped by every df
    * column (4.5 s: an array grouping key forces sort-based
    * aggregation over the full N×K fan-out) and max_by grouped by
    * vec_id with the vector carried through the aggregation buffer
    * (3.1 s: ObjectHashAggregate pays per-row array copies into the
    * buffer twice, partial + final). The window shuffles the N×K
    * fan-out once and ranks it in one pass; Catalyst prunes the
    * candidate vector before the exchange, so the carried weight is
    * the same row the aggregation would buffer anyway. */
  private def nearestN(cands: DataFrame, idCol: String, vecCol: String)(
      df: DataFrame, keyCol: String, vcol: String, n: Int,
      out: String, keepSim: Option[String] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val scored = df.crossJoin(broadcast(cands))
      .withColumn("nsim", graft.functions.CosineSim.cosine(s, col(vcol), col(vecCol)))
    val w = Window.partitionBy(col(keyCol)).orderBy($"nsim".desc, col(idCol).asc)
    // keepSim exposes the winner's cosine under the given name — q229
    // reads the distance-to-own-centroid this pass already computed
    // instead of re-joining the centroids to rebuild the same number
    val extra = keepSim.map(nm => $"nsim".as(nm)).toSeq
    scored
      .withColumn("nrn", row_number().over(w))
      .filter($"nrn" <= n)
      .select(df.columns.map(col) ++
        (col(idCol).as(out) +: $"nrn".as(s"${out}_rn") +: extra): _*)
  }

  /** Stride seeds + sampled-Lloyd refinement over `corpus` (vec_id, v)
    * → the centroid table (cent_id, cv0). The one IVF build, shared by
    * the flat (q66), hierarchical (q132) and incremental (q134) paths.
    *
    * Adaptive seed stride: a FIXED stride makes K ∝ N centroids, and
    * the assignment pass (N×K broadcast fan-out) silently turns
    * quadratic as the corpus grows — the classic IVF sizing is
    * K ≈ √N, i.e. stride ≈ √N, which keeps the build N·√N and the
    * per-query probe touching ~nprobe·√N vectors. max(strideMod, ⌊√N⌋)
    * keeps small corpora (tests, sf0.01 — where √N < 31) bit-identical
    * to the historical fixed stride, and the arithmetic (one exact
    * count, one IEEE sqrt, one floor) restates verbatim in the oracle's
    * scalar subquery, so the build stays hash-graded at every SF.
    *
    * Sampled Lloyd training: refinement sees only the deterministic
    * ≈8·K-vector training slice (`vec_id % trainStride == 0`), so each
    * pass costs ~8N cosines (linear) instead of the full N×K fan-out —
    * the r9 decade study measured full-corpus Lloyd at ~36×/decade
    * (N^1.5), and the 2-of-3 assignment passes it spent there were
    * training, not the one final assignment the cells actually need.
    * Cell means over a sample are still means through DECIMAL(18,9) —
    * deterministic and order-independent, so the oracle unrolls
    * identically with one more WHERE clause. A cell that captures no
    * training vectors keeps its previous centroid (LEFT JOIN +
    * coalesce).
    *
    * Seed/train residues are ANCHORED at the corpus's min vec_id
    * (ADVICE r14, medium): a %4-FILTERED store (q134/q233's split)
    * whose derived stride happens to be a multiple of 4 contains NO
    * multiples of stride at all — residue 0 would seed an EMPTY
    * centroid set and the entire downstream assignment silently emits
    * zero rows, identically in the oracle, so the hash grade would
    * pass the data loss. Anchoring at floorMod(min, stride) guarantees
    * at least one seed (the min itself) for ANY id subset — the same
    * fix [[labelLloydCents]] already carries for small labels. For the
    * full-corpus callers (q66/q132/q136/q229) min vec_id = 0, so the
    * residue is 0 and their builds/oracles are bit-unchanged; the
    * filtered-store oracles (q134/q233) restate the anchor in their
    * params CTE. */
  private def sampledLloydCents(corpus: DataFrame, strideMod: Int,
                                lloydIters: Int): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val nm = corpus.agg(count(lit(1)), min($"vec_id".cast("long"))).head
    val stride = Similarity.ivfStride(nm.getLong(0), strideMod)
    val trainStride = Similarity.ivfTrainStride(stride)
    val mn = if (nm.isNullAt(1)) 0L else nm.getLong(1)
    val seeds = corpus
      .filter(pmod($"vec_id", lit(stride)) === lit(Math.floorMod(mn, stride)))
      .select($"vec_id".as("cent_id"), $"v".as("cv0"))
    val train = corpus.filter(
      pmod($"vec_id", lit(trainStride)) === lit(Math.floorMod(mn, trainStride)))
    (1 to lloydIters).foldLeft(seeds) { (cs, _) =>
      val means = nearestN(cs, "cent_id", "cv0")(train, "vec_id", "v", 1, "cell")
        .select($"cell", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x".cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          t => t.getField("m")).as("nv"))
      cs.join(means, cs("cent_id") === means("cell"), "left")
        .select(cs("cent_id"), coalesce($"nv", cs("cv0")).as("cv0"))
    }
  }

  /** q66: IVF-style ANN — the other scale path besides LSH banding:
    *  1. seed: deterministic stride sample of the corpus (no RNG);
    *  2. refine: `lloydIters` (default 2) FIXED Lloyd iterations over
    *     the TRAINING SLICE only (`vec_id % trainStride == 0`, ≈8·K
    *     vectors — see [[ivfTrainStride]]): assign each training
    *     vector to its nearest centroid (argmax cosine, ties toward
    *     the smallest cent_id), replace each centroid by its cell's
    *     element-wise mean over the slice. Stride seeds land wherever
    *     vec_id order happens to put them; two Lloyd steps pull the
    *     cells onto the data's actual clusters, which is what makes
    *     nprobe small-and-sufficient on clustered corpora (the
    *     realistic near-dup geometry). Fixed iteration count and
    *     tie-broken argmin keep the whole build deterministic — and
    *     therefore ORACLE-RESTATABLE: the q66 SQL unrolls the same
    *     iterations CTE-by-CTE over the same slice. Means go through
    *     DECIMAL(18,9) sums (q38's trick) so the refined centroids are
    *     independent of partial-aggregation order — double addition is
    *     not associative; decimal is. A cell that captures no training
    *     vectors keeps its previous centroid (LEFT JOIN + coalesce).
    *  3. assign: every vector goes to its final nearest-centroid cell
    *     (broadcast centroids, ONE full N×K pass — the only
    *     super-linear term left in the build);
    *  4. probe: each query searches its `nprobe` (default 2) nearest
    *     cells only.
    * Candidate generation is an equality join on cell id — at 100 TB
    * the cells shard the corpus so a query touches ~nprobe/K of it,
    * each Lloyd pass is ~8N cosines (linear), and the one remaining
    * N×K pass is the irreducible cost of EXACT flat-IVF assignment.
    * `nprobe`/`lloydIters` follow session confs `spark.graft.ivf.
    * nprobe` / `spark.graft.ivf.lloyditers` in q66, with the oracle
    * synthesized at the same values (the q39 multiprobe pattern).
    * Hash-graded via q66; recall vs brute force unit-tested. */
  def annIvfFrom(e: DataFrame, nq: Int = 10, k: Int = 5,
                 strideMod: Int = 31, nprobe: Int = 2,
                 lloydIters: Int = 2,
                 centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = centsIn.getOrElse(sampledLloydCents(e, strideMod, lloydIters))
    val assigned = nearestN(cents, "cent_id", "cv0")(
      e, "vec_id", "v", 1, "cell").drop("cell_rn")
    val q = nearestN(cents, "cent_id", "cv0")(
      e.filter($"vec_id" < nq), "vec_id", "v", nprobe, "cell")
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cell")
    val c = assigned.select($"vec_id".as("cid"), $"v".as("cv"), $"cell".as("ccell"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    c.join(broadcast(q), $"ccell" === $"cell" && $"cid" =!= $"qid")
      .select($"qid", $"qv", $"cid", $"cv").dropDuplicates("qid", "cid")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  def q66AnnIvf(s: SparkSession, dir: String): DataFrame =
    annIvfFrom(vecs(s, dir),
      nprobe = sessionIvfNprobe(s), lloydIters = sessionIvfLloydIters(s),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))

  /** q132: HIERARCHICAL IVF — the linear-build scale path past q66.
    *
    * q66's one remaining super-linear term is the exact final
    * assignment: every vector against every centroid, N×K = N^1.5 with
    * the √N cell sizing (measured 23×/decade after sampled Lloyd,
    * PERF.md §IVF r10). This twin coarse-quantizes the CENTROIDS
    * (G ≈ √K supers — every ⌈K/G⌉-th centroid in cent_id rank order,
    * assigned to their nearest super) and then assigns each vector in
    * two hops: nearest super (N×G), then nearest centroid within that
    * super (N×K/G avg) — ~2N·N^0.25 total, an IMI-style approximate
    * assignment. Queries probe `nsupers` supers and then `nprobe`
    * cells among those supers' centroids, so a boundary vector whose
    * true cell landed one super over is still reachable. Every argmax
    * is row_number + (sim DESC, id ASC) tie-broken, the super
    * selection is rank arithmetic over `count(*) OVER ()` — all
    * in-plan, no driver-side sizing action — so the WHOLE build
    * restates in SQL and q132 is hash-graded like q66. Recall floor
    * asserted on the clustered corpus in LlmSpec. */
  def annIvf2From(e: DataFrame, nq: Int = 10, k: Int = 5,
                  strideMod: Int = 31, nprobe: Int = 2,
                  lloydIters: Int = 2, nsupers: Int = 2,
                  centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // seed + sampled-Lloyd refine: the SAME build as q66's. Eagerly
    // checkpointed (K ≈ √N rows — trivial blocks):
    // five consumers read it (supers rank, centroid→super, the
    // occupied-set collect, vector assignment, query probes), and
    // without truncation each re-runs the whole Lloyd chain — the r17
    // occupied-supers guard made that visible by adding a consumer
    // (gate flag 2.46→3.9 s; with the checkpoint the guard is free).
    // centsIn: the shared corpus-cents artifact (already a memoized
    // cut) when the caller is the registered full-corpus query.
    val cents = centsIn.getOrElse(
      sampledLloydCents(e, strideMod, lloydIters).transform(graft.Ckpt.cut))
    // coarse quantizer: G = max(1, ⌊√K⌋) supers = every ⌈K/G⌉-th
    // centroid in cent_id rank order — rank arithmetic over a window
    // count, no driver action, restates verbatim in SQL
    val ranked = cents
      .withColumn("rn", row_number().over(Window.orderBy($"cent_id")))
      .withColumn("kk", count(lit(1)).over(Window.partitionBy(lit(1))))
    val supers = ranked
      .filter(($"rn" - 1) %
        ceil($"kk".cast("double") / greatest(lit(1L), floor(sqrt($"kk")))).cast("long") === 0)
      .select($"cent_id".as("super_id"), $"cv0".as("sv"))
    // centroid -> super (K×G, tiny), vector -> super (N×G), then
    // vector -> centroid within its super (N×K/G)
    val centSup = nearestN(supers, "super_id", "sv")(
      cents, "cent_id", "cv0", 1, "sup").drop("sup_rn")
    // data-side assignment routes only to OCCUPIED supers, so the
    // within-super join can never drop a vector (ADVICE r16 — see
    // twoHopAssign; query probes stay unrestricted: an empty probe
    // lane is reduced probing, not data loss). The occupied set is
    // ≤ G ≈ √K ids — driver-resident model state (one tiny collect),
    // so the N-row nearestN still broadcasts a simple filtered leaf
    // instead of serializing behind a join-result broadcast (measured
    // +1.5 s at sf0.1 in the join form, r17 gate flag).
    val occ2h = centSup.select($"sup").distinct().as[Long].collect().toSeq
    // same degenerate-input guard as twoHopAssign (ADVICE r17): an
    // empty occupied set may only route an empty data side
    if (occ2h.isEmpty && !e.isEmpty)
      throw new IllegalStateException(
        "annIvf2From: empty centroid build against a non-empty corpus — " +
          "refusing to silently drop every vector from the assignment")
    val occSupers = supers.filter($"super_id".isin(occ2h: _*))
    val vecSup = nearestN(occSupers, "super_id", "sv")(
      e, "vec_id", "v", 1, "vsup").drop("vsup_rn")
    def cellsWithin(df: DataFrame, supCol: String, n: Int): DataFrame = {
      val joined = df.join(centSup.select($"cent_id", $"cv0", $"sup"),
        col(supCol) === $"sup")
        .withColumn("csim", graft.functions.CosineSim.cosine(s, $"v", $"cv0"))
      val w = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cent_id".asc)
      joined.withColumn("crn", row_number().over(w)).filter($"crn" <= n)
        .select($"vec_id", $"v", $"cent_id".as("cell"))
    }
    val assigned = cellsWithin(vecSup, "vsup", 1)
    // queries: nsupers supers wide, then nprobe cells among their cents
    val qSup = nearestN(supers, "super_id", "sv")(
      e.filter($"vec_id" < nq), "vec_id", "v", nsupers, "qsup").drop("qsup_rn")
    val q = cellsWithin(qSup, "qsup", nprobe)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cell")
    val c = assigned.select($"vec_id".as("cid"), $"v".as("cv"), $"cell".as("ccell"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    c.join(broadcast(q), $"ccell" === $"cell" && $"cid" =!= $"qid")
      .select($"qid", $"qv", $"cid", $"cv").dropDuplicates("qid", "cid")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  def q132AnnIvf2(s: SparkSession, dir: String): DataFrame =
    annIvf2From(vecs(s, dir),
      nprobe = sessionIvfNprobe(s), lloydIters = sessionIvfLloydIters(s),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))

  /** q229: SemDeDup — semantic (embedding-cluster) deduplication, the
    * cluster-then-prune method of Abbas et al. 2023 (arXiv:2303.09540,
    * public): cluster the corpus, then within each cluster drop
    * vectors that sit in the cluster's tight semantic core, keeping
    * one representative. This is the LINEAR-cost member of the
    * embedding-dedup family — q104/q133 enumerate near-dup PAIRS
    * (cost ∝ duplicate mass); SemDeDup never forms a pair at all:
    *  1. cluster: the SAME deterministic sampled-Lloyd IVF build as
    *     q66 (stride seeds, fixed tie-broken iterations over the
    *     training slice, DECIMAL means — fully oracle-restatable);
    *  2. assign: every vector to its nearest centroid (one N×K
    *     broadcast pass, map-side);
    *  3. score: cosine of each vector to its OWN cell centroid
    *     (broadcast centroid join, map-side — the paper's
    *     distance-to-centroid variant of within-cluster similarity);
    *  4. prune: per cell, the representative is the argmax
    *     cosine-to-centroid (ties to the smallest vec_id — the row
    *     closest to the semantic center survives, the paper's "keep
    *     the most typical" policy); every OTHER vector with
    *     cosine ≥ τ is a semantic duplicate.
    * Stage 4 is one window over cell partitions = one shuffle keyed by
    * cell; total cost is linear in N and independent of how much of
    * the corpus is duplicated — exactly why the method exists at
    * 100 TB. τ (`spark.graft.semdedup.tau`, default 0.5) compares RAW
    * cosines, and `CosineSim`'s fold is bit-identical to DuckDB's
    * list_dot_product (q36's proof), so the flag cannot flip between
    * engines at any τ. On the synthetic near-uniform embeddings τ=0.5
    * splits the corpus meaningfully (measured at sf0.01: cell-core
    * mass above it, dispersed tail below); a real near-dup corpus
    * runs 0.9+. */
  def q229SemanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(vecs(s, dir), sessionSemdedupTau(s),
      sessionIvfLloydIters(s),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))

  /** q229's engine on an arbitrary (vec_id, v) frame — split out so
    * specs can pin the tie-break discipline on CONSTRUCTED exact ties
    * (duplicate vectors), which the synthetic corpus cannot force. */
  def semanticDedupFrom(e: DataFrame, tau: Double,
                        lloydIters: Int,
                        centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = centsIn.getOrElse(sampledLloydCents(e, 31, lloydIters))
    // the assignment pass already computes every vector's cosine to its
    // own (winning) centroid — keepSim reads it instead of re-joining
    // the centroids and re-folding N cosines to rebuild the same number
    val withCos = nearestN(cents, "cent_id", "cv0")(
      e, "vec_id", "v", 1, "cell", keepSim = Some("cosc")).drop("cell_rn")
    val w = Window.partitionBy($"cell").orderBy($"cosc".desc, $"vec_id".asc)
    withCos.withColumn("rn", row_number().over(w))
      .select($"vec_id", $"cell",
        round($"cosc", 4).as("cos_cent"),
        ($"rn" === 1).as("is_rep"),
        ($"rn" =!= 1 && $"cosc" >= tau).as("is_semantic_dup"))
      .orderBy($"vec_id")
  }

  /** q229 oracle at the session's knob values: q66's unrolled
    * Lloyd/assignment CTEs verbatim, then the centroid-cosine score,
    * per-cell argmax representative and the τ cut — every stage
    * deterministic and bit-parity (see q66Sql's argument). */
  def q229Sql(lloydIters: Int, tau: Double): String = {
    val iters = (1 to lloydIters).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$lloydIters"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |assigned AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM e, $cLast c) t WHERE crn = 1),
       |cc AS (
       |  SELECT a.vec_id, a.cell, ${cosSql("a.v", "c.cv")} AS cosc
       |  FROM assigned a JOIN $cLast c ON c.cent_id = a.cell),
       |rk AS (
       |  SELECT vec_id, cell, cosc,
       |    row_number() OVER (PARTITION BY cell ORDER BY cosc DESC, vec_id ASC) AS rn
       |  FROM cc)
       |SELECT vec_id, cell, round(cosc, 4) AS cos_cent,
       |  rn = 1 AS is_rep,
       |  rn <> 1 AND cosc >= $tau AS is_semantic_dup
       |FROM rk ORDER BY vec_id""".stripMargin
  }

  /** q233: INCREMENTAL SemDeDup — q229's production shape for a GROWING
    * corpus (VERDICT r13 item 2), completing the batch-vs-store family
    * (q122 exact, q134 IVF, q135 Bloom, q147 LSH). The store
    * (vec_id % 4 != 0, q134's split) owns the semantic index: cells
    * from the store-sized sampled-Lloyd build, plus per cell the
    * store's REPRESENTATIVE (argmax cosine-to-centroid, ties to the
    * smallest vec_id — q229's policy). An ingest batch
    * (vec_id % 4 == 0) is then deduped WITHOUT touching the store:
    *  1. assign each batch vector to its nearest EXISTING cell — one
    *     broadcast argmax pass, work ∝ |batch|·K;
    *  2. compare each batch vector to its cell's store representative
    *     (the K-row (cell → rep) table is broadcast) — one cosine per
    *     batch row; `cos_rep ≥ τ` marks the batch row a semantic dup
    *     of data the store already carries.
    * Work ∝ |batch| — never a rebuild, never a pair across the store —
    * which is what makes nightly ingest viable against a 100 TB
    * semantically-indexed corpus; compaction (re-running q229 on
    * store ∪ survivors) is amortized to rare maintenance, the same
    * operational discipline as q134's IVF increment. A cell whose
    * final store assignment captured nothing has no representative:
    * the batch row keeps NULL rep/cosine and is NOT a dup (it becomes
    * the cell's first occupant) — LEFT JOIN semantics identical on
    * both engines. Deterministic throughout (stride seeds, tie-broken
    * argmaxes, raw-cosine τ cut — bit-parity per q36's proof), so the
    * whole path restates in SQL and is hash-graded. */
  def q233SemdedupIncrement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    // lloydIters follows the SAME session knob as q229 (the build this
    // query increments) — a knob change retunes both sides together,
    // Spark and oracle (CODE-REVIEW r14: the first cut pinned 2 here
    // while q229 followed the knob, so retuning would silently diverge
    // the incremental cells from the full build's)
    semdedupIncrementFrom(
      e.filter(pmod($"vec_id", lit(4)) =!= 0),
      e.filter(pmod($"vec_id", lit(4)) === 0),
      sessionSemdedupTau(s), lloydIters = sessionIvfLloydIters(s))
  }

  /** q233's engine on arbitrary store/batch (vec_id, v) frames — split
    * out (semanticDedupFrom's discipline) so specs can pin the
    * exact-dup and no-representative paths on CONSTRUCTED data.
    * Composed of [[semIndexFrom]] ∘ [[semAssignFrom]] since r15 so the
    * store's index is a first-class artifact (q240 grades assignment
    * against a COMMITTED index fixture; Streams.semanticIngest reuses
    * the same assignment per micro-batch). */
  def semdedupIncrementFrom(store: DataFrame, batch: DataFrame,
                            tau: Double, lloydIters: Int): DataFrame =
    // the K-row index is read twice by the assignment (cells broadcast
    // + reps broadcast) — eager-cut so the store-side build runs once
    // (optimization r20)
    semAssignFrom(semIndexFrom(store, lloydIters).transform(graft.Ckpt.cut),
      batch, tau)

  /** The store's SEMANTIC INDEX — one row per centroid cell: the
    * refined centroid vector and the store's representative for that
    * cell (argmax cosine-to-centroid, ties to the smallest vec_id —
    * q229's policy; NULL rep columns for a cell whose final store
    * assignment captured nothing). This K-row table IS the state a
    * production embedding-ingest pipeline persists between batches:
    * q233 rebuilds it live (the oracle discipline), q240 reads it from
    * the committed fixture (grading batch-only marginal cost), and the
    * streaming ingest broadcasts it as batch-static state. */
  def semIndexFrom(store: DataFrame, lloydIters: Int): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    // eager cut (optimization r20, annIvf2From's r19 discipline): cents
    // feeds the full-store assignment AND the final index join — un-cut,
    // each consumer re-ran the whole Lloyd chain (q233's before-plan
    // carried 106 Exchange nodes from the duplicated subtrees)
    val cents = sampledLloydCents(store, 31, lloydIters)
      .transform(graft.Ckpt.cut)
    val storeAsg = nearestN(cents, "cent_id", "cv0")(
      store, "vec_id", "v", 1, "cell", keepSim = Some("cosc")).drop("cell_rn")
    val wr = Window.partitionBy($"cell").orderBy($"cosc".desc, $"vec_id".asc)
    val reps = storeAsg.withColumn("rn", row_number().over(wr))
      .filter($"rn" === 1)
      .select($"cell".as("rcell"), $"vec_id".as("rep_id"), $"v".as("rep_v"))
    cents.join(reps, cents("cent_id") === reps("rcell"), "left")
      .select(cents("cent_id").as("cell"), cents("cv0").as("cv"),
        $"rep_id", $"rep_v")
  }

  /** Assign an ingest batch against an EXISTING semantic index — the
    * batch-only half of q233: one broadcast argmax pass (work ∝
    * |batch|·K) + one cosine per batch row against the cell's
    * representative. A cell with no representative keeps NULL
    * rep/cosine and the batch row is NOT a dup (first occupant) —
    * LEFT JOIN semantics identical on both engines. */
  def semAssignFrom(index: DataFrame, batch: DataFrame,
                    tau: Double): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val cents = index.select($"cell".as("cent_id"), $"cv".as("cv0"))
    val reps = index.filter($"rep_id".isNotNull)
      .select($"cell".as("rcell"), $"rep_id", $"rep_v")
    val basg = nearestN(cents, "cent_id", "cv0")(
      batch.select($"vec_id", $"v"), "vec_id", "v", 1, "cell").drop("cell_rn")
    basg.join(broadcast(reps), $"cell" === $"rcell", "left")
      .withColumn("cos_rep", graft.functions.CosineSim.cosine(s, $"v", $"rep_v"))
      .select($"vec_id", $"cell", $"rep_id",
        round($"cos_rep", 4).as("cos_rep"),
        coalesce($"cos_rep" >= tau, lit(false)).as("is_semantic_dup"))
      .orderBy($"vec_id")
  }

  /** The TWO-LEVEL semantic index build — [[semIndexFrom]]'s output
    * contract (cell, cv, rep_id, rep_v) from q132's ~2N·N^0.25
    * hierarchical assignment instead of the flat N×K pass: coarse-
    * quantize the refined centroids into G ≈ √K supers (rank
    * arithmetic, no driver sizing), assign each store vector nearest-
    * super then nearest-centroid-within-super, and take the per-cell
    * rep argmax over the two-hop assignment's own cosines. The scale
    * form of the compaction rebuild (q254); q250 keeps the flat
    * oracle-verbatim-of-q233 form. */
  def semIndexFrom2(store: DataFrame, lloydIters: Int): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    // eager checkpoint for the same multi-consumer reason as
    // annIvf2From (supers, centSup, occupied-set collect, rep join)
    val cents = sampledLloydCents(store, 31, lloydIters).transform(graft.Ckpt.cut)
    val ranked = cents
      .withColumn("rn", row_number().over(Window.orderBy($"cent_id")))
      .withColumn("kk", count(lit(1)).over(Window.partitionBy(lit(1))))
    val supers = ranked
      .filter(($"rn" - 1) %
        ceil($"kk".cast("double") / greatest(lit(1L), floor(sqrt($"kk")))).cast("long") === 0)
      .select($"cent_id".as("super_id"), $"cv0".as("sv"))
    val centSup = nearestN(supers, "super_id", "sv")(
      cents, "cent_id", "cv0", 1, "sup").drop("sup_rn")
    val assigned = twoHopAssign(store, centSup, supers)
    val wr = Window.partitionBy($"cell").orderBy($"cosc".desc, $"vec_id".asc)
    val reps = assigned.withColumn("rn", row_number().over(wr))
      .filter($"rn" === 1)
      .select($"cell".as("rcell"), $"vec_id".as("rep_id"), $"v".as("rep_v"))
    cents.join(reps, cents("cent_id") === reps("rcell"), "left")
      .select(cents("cent_id").as("cell"), cents("cv0").as("cv"),
        $"rep_id", $"rep_v")
  }

  /** The two-hop (vector → super → centroid-within-super) assignment
    * of [[semIndexFrom2]], split out so LlmSpec can pin CONSERVATION:
    * vectors route only to OCCUPIED supers (supers that attracted ≥ 1
    * centroid in `centSup`), so the within-super inner join can never
    * drop a vector (ADVICE r16: with the unrestricted super set, a
    * super whose duplicate/parallel twin absorbed every centroid —
    * fp-noise on parallel centroid vectors can orphan one — silently
    * vanished its vectors from the rebuilt index; the SQL twin
    * replayed the same join, so the grade stayed green while recall
    * dropped). Every super normally attracts at least its own
    * centroid, so the restriction is a no-op outside the degenerate
    * geometry — and there it REROUTES instead of dropping. */
  private[graft] def twoHopAssign(store: DataFrame, centSup: DataFrame,
      supers: DataFrame): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    // occupied set as driver-resident model state (≤ G ≈ √K ids, one
    // tiny collect) — see annIvf2From's note on the join-form cost
    val occ = centSup.select($"sup").distinct().as[Long].collect().toSeq
    // ADVICE r17: an EMPTY occupied set (empty centroid build) would
    // turn isin() into drop-everything — the exact silent-vector-loss
    // failure this restriction exists to prevent, in the degenerate
    // case. Legal only when there is nothing to assign.
    if (occ.isEmpty && !store.isEmpty)
      throw new IllegalStateException(
        "twoHopAssign: empty centroid build against a non-empty store — " +
          "refusing to silently drop every vector from the assignment")
    val occSupers = supers.filter($"super_id".isin(occ: _*))
    val vecSup = nearestN(occSupers, "super_id", "sv")(
      store, "vec_id", "v", 1, "vsup").drop("vsup_rn")
    val joined = vecSup
      .join(centSup.select($"cent_id", $"cv0", $"sup"), $"vsup" === $"sup")
      .withColumn("cosc", graft.functions.CosineSim.cosine(s, $"v", $"cv0"))
    val wv = Window.partitionBy($"vec_id").orderBy($"cosc".desc, $"cent_id".asc)
    joined.withColumn("crn", row_number().over(wv))
      .filter($"crn" === 1)
      .select($"vec_id", $"v", $"cent_id".as("cell"), $"cosc")
  }

  /** q240: BATCH-ONLY marginal cost of incremental SemDeDup, GRADED —
    * closing the one honest gap in the 100 TB dedup story (VERDICT r14
    * item 1): q233's graded form recomputes the store's index from
    * scratch because SQL has no state, so its decade rows measure
    * store rebuild, not ingest work. Here the store's semantic index
    * is a COMMITTED FIXTURE (`fixtures/q240_semindex_sf001`, generated
    * at sf0.01 THROUGH [[semIndexFrom]] — the q46 band-fixture
    * precedent, FIXTURES.md §A2), and the registered query does NO
    * store-side work at all: read the K-row index, assign the ingest
    * batch (one broadcast argmax, work ∝ |batch|·K), compare each
    * batch row to its cell's representative. The oracle replays
    * assignment+compare downstream of the same parquet, so the grade
    * is a full hash grade — and the decade row measures work ∝ BATCH
    * directly (the index is scale-pinned by construction, exactly like
    * a production nightly ingest against last night's index).
    * Corpus guard: every non-null representative in the fixture must
    * equal the live corpus vector at rep_id (float→double widening is
    * exact on both engines, so list equality is bit-exact); any
    * disagreement injects a named poison row instead of a confusing
    * hash mismatch (the q46 guard discipline). */
  def q240SemdedupBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val batch = vecs(s, dir).filter(pmod($"vec_id", lit(4)) === 0)
    val index = s.read.parquet(s"${graft.Fixtures.dir}/q240_semindex_sf001")
    semAssignFrom(index, batch, sessionSemdedupTau(s))
  }

  /** The q240 fixture dataset: the store's semantic index at the
    * generating scale, built THROUGH [[semIndexFrom]] (shared code,
    * not a copy — FixtureGen/FixtureDriftSpec discipline). lloydIters
    * is PINNED at the default 2 — the fixture is a committed artifact
    * and must not drift with session knobs. */
  def q240IndexFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    semIndexFrom(vecs(s, dir).filter(pmod($"vec_id", lit(4)) =!= 0)
      .select($"vec_id", $"v"), lloydIters = 2)
      .orderBy($"cell")
  }

  /** q240 oracle at the session's τ: the committed index via
    * read_parquet, one batch argmax over its cells, the LEFT-JOINed
    * representative comparison, plus the rep-vs-corpus content guard. */
  def q240Sql(tau: Double): String =
    s"""WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |batch AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 = 0),
       |idx AS (SELECT cell, cv, rep_id, rep_v
       |        FROM read_parquet('${graft.Fixtures.dir}/q240_semindex_sf001/*.parquet')),
       |fixture_corpus_mismatch AS (
       |  SELECT count(*) AS n FROM (
       |    SELECT i.rep_id FROM idx i LEFT JOIN eall e ON e.vec_id = i.rep_id
       |    WHERE i.rep_id IS NOT NULL
       |      AND (e.vec_id IS NULL OR e.v <> i.rep_v))),
       |basg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT b.vec_id, b.v, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql("b.v", "c.cv")} DESC, c.cell ASC) AS crn
       |    FROM batch b, idx c) t WHERE crn = 1),
       |reps AS (SELECT cell, rep_id, rep_v FROM idx WHERE rep_id IS NOT NULL)
       |SELECT vec_id, cell, rep_id, cos_rep, is_semantic_dup FROM (
       |  SELECT b.vec_id, b.cell, r.rep_id,
       |    round(${cosSql("b.v", "r.rep_v")}, 4) AS cos_rep,
       |    coalesce(${cosSql("b.v", "r.rep_v")} >= $tau, false) AS is_semantic_dup
       |  FROM basg b LEFT JOIN reps r ON r.cell = b.cell
       |  UNION ALL
       |  SELECT -1, CAST(n AS BIGINT), NULL, NULL, false
       |  FROM fixture_corpus_mismatch WHERE n > 0) t
       |ORDER BY vec_id""".stripMargin

  /** q250: SEMANTIC-INDEX COMPACTION, GRADED — the handoff event the
    * streaming ingest family assumed but never demonstrated (VERDICT
    * r15 item 3): [[Streams.semanticIngest]] broadcasts a BATCH-STATIC
    * index and calls the rebuild "the rare maintenance event"; this
    * registers that event itself. The BEFORE index is the committed
    * `fixtures/q240_semindex_sf001` (v1 — the q240 pattern giving the
    * before/after pair for free); the ingest batch is assigned against
    * v1 exactly as q240 does; the batch SURVIVORS' vectors join the
    * store; and v2 = [[semIndexFrom]] over the GROWN store — new
    * deterministic seeds/stride at the grown size, refined centroids,
    * fresh per-cell representatives (which may now COME FROM the
    * ingested batch: `rep_from_batch` grades exactly the rows the
    * handoff exists to promote). Output: one row per v2 cell with its
    * representative, the rep's cosine-to-centroid, and the provenance
    * flag. Everything is deterministic (stride seeds, tie-broken
    * argmaxes, DECIMAL centroid means — q66's proof), so the oracle
    * replays v1-assignment → survivor cut → grown store → the full
    * Lloyd unroll → rep argmax CTE-by-CTE, plus q240's rep-vs-corpus
    * content guard on the fixture. The exactly-once SWAP semantics
    * (replays inert across the v1→v2 handoff, no double-ingest, no
    * loss) are pinned in StreamingSpec — the store key is vec_id, so
    * a changed v2 verdict on a replayed row cannot double-append.
    * 100 TB shape: the rebuild is q229's linear build (sampled Lloyd,
    * ~8K training vectors, one full-store assignment pass) run at
    * compaction cadence, never per batch. */
  def q250SemindexCompaction(s: SparkSession, dir: String): DataFrame =
    compactionGrade(s,
      semIndexFrom(compactionGrownStore(s, dir),
        lloydIters = sessionIvfLloydIters(s)))

  /** The grown store both compaction grades rebuild from: the fixture
    * (v1) assignment's batch survivors unioned onto the store split.
    * Session-memoized eager cut (optimization r19): q250 AND
    * q254 rebuild from the SAME grown store, and within each query the
    * rebuild consumes it from several subtrees (the sizing count, the
    * seed and train slices, the full assignment, the rep join) — un-cut,
    * every consumer re-ran the fixture assignment + survivor join. One
    * build per session+dir, attributed on memo_pays. */
  /** Resident footprint (ADVICE r19, low): the memoized grown store is
    * corpus-scale (~3/4 of vecs + survivors) and its entry holds it for
    * the session's lifetime, ONCE PER (dir, tau) touched —
    * a scaling study iterating several dirs in one session holds one
    * such checkpoint per dir (~N×65 doubles each; ~2.6 MB at sf0.1).
    * Bounded by the study's dir list; a new session starts clean. */
  private val grownStoreCache =
    new graft.SessionCache[DataFrame]("compaction_grown_store")

  private def compactionGrownStore(s: SparkSession, dir: String): DataFrame =
    // tau-keyed (ADVICE r19): the build's survivor cut reads the
    // session's semdedup tau — without it in the key, a mid-session
    // knob change served q250/q254 a stale grown store while their
    // oracles were synthesized at the new tau (silent wrong results)
    grownStoreCache.getOrElseUpdate(s, s"$dir#tau=${sessionSemdedupTau(s)}",
      graft.Ckpt.cut(compactionGrownStoreBuild(s, dir)))

  private def compactionGrownStoreBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    val store = all.filter(pmod($"vec_id", lit(4)) =!= 0).select($"vec_id", $"v")
    val batch = all.filter(pmod($"vec_id", lit(4)) === 0).select($"vec_id", $"v")
    val v1 = s.read.parquet(s"${graft.Fixtures.dir}/q240_semindex_sf001")
    val survivors = semAssignFrom(v1, batch, sessionSemdedupTau(s))
      .filter(!$"is_semantic_dup").select($"vec_id")
      .join(batch, "vec_id").select($"vec_id", $"v")
    store.unionByName(survivors)
  }

  /** The graded projection of a rebuilt index: per cell its rep, the
    * rep's cosine-to-centroid, and batch provenance. */
  private def compactionGrade(s: SparkSession, v2: DataFrame): DataFrame = {
    import s.implicits._
    v2.select($"cell", $"rep_id",
        round(graft.functions.CosineSim.cosine(s, $"rep_v", $"cv"), 4)
          .as("rep_cos"),
        coalesce(pmod($"rep_id", lit(4)) === 0, lit(false)).as("rep_from_batch"))
      .orderBy($"cell")
  }

  /** Shared WITH-prefix of the two compaction oracles (q250 flat,
    * q254 two-level): fixture read + content guard + batch assignment
    * + survivor cut + grown store + seed/train params + the Lloyd
    * unroll, ending after c\$lloydIters with a trailing comma — ONE
    * statement of the compaction front in SQL, mirroring the single
    * [[compactionGrownStore]] on the Spark side (CODE-REVIEW r16). */
  private def compactionFrontCtes(tau: Double, lloydIters: Int): String = {
    val iters = (1 to lloydIters).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    s"""eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |store AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 <> 0),
       |batch AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 = 0),
       |idx AS (SELECT cell, cv, rep_id, rep_v
       |        FROM read_parquet('${graft.Fixtures.dir}/q240_semindex_sf001/*.parquet')),
       |fixture_corpus_mismatch AS (
       |  SELECT count(*) AS n FROM (
       |    SELECT i.rep_id FROM idx i LEFT JOIN eall e ON e.vec_id = i.rep_id
       |    WHERE i.rep_id IS NOT NULL
       |      AND (e.vec_id IS NULL OR e.v <> i.rep_v))),
       |basg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT b.vec_id, b.v, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql("b.v", "c.cv")} DESC, c.cell ASC) AS crn
       |    FROM batch b, idx c) t WHERE crn = 1),
       |v1reps AS (SELECT cell, rep_id, rep_v FROM idx WHERE rep_id IS NOT NULL),
       |surv AS (
       |  SELECT b.vec_id, b.v
       |  FROM basg b LEFT JOIN v1reps r ON r.cell = b.cell
       |  WHERE NOT coalesce(${cosSql("b.v", "r.rep_v")} >= $tau, false)),
       |grown AS (SELECT vec_id, v FROM store UNION ALL SELECT vec_id, v FROM surv),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride,
       |                  min(vec_id) AS mn FROM grown),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM grown
       |       WHERE vec_id % (SELECT stride FROM params) = (SELECT mn % stride FROM params)),
       |tr AS (SELECT vec_id, v FROM grown
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params)
       |           = (SELECT mn % greatest(1, stride // 8) FROM params)),
       |$iters""".stripMargin
  }

  /** The final SELECT shared by both compaction oracles: per final
    * cell its rep, rep_cos, batch provenance, plus the guard's poison
    * row. */
  private def compactionGradeSql(cLast: String): String =
    s"""SELECT cell, rep_id, rep_cos, rep_from_batch FROM (
       |  SELECT c.cent_id AS cell, r.rep_id,
       |    round(${cosSql("r.rep_v", "c.cv")}, 4) AS rep_cos,
       |    coalesce(r.rep_id % 4 = 0, false) AS rep_from_batch
       |  FROM $cLast c LEFT JOIN reps2 r ON r.cell = c.cent_id
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(n AS BIGINT), NULL, false
       |  FROM fixture_corpus_mismatch WHERE n > 0) t
       |ORDER BY cell""".stripMargin

  /** q250 oracle at the session's τ / lloydIters: q240Sql's fixture
    * read + batch assignment + content guard, the survivor cut, the
    * grown store, then q233Sql's deterministic build machinery (seed
    * stride/offset from the GROWN store's own count and min) unrolled
    * CTE-by-CTE, and the per-cell representative argmax. */
  def q250Sql(tau: Double, lloydIters: Int): String = {
    s"""WITH ${compactionFrontCtes(tau, lloydIters)}
       |sasg AS (
       |  SELECT vec_id, v, cell, cosc FROM (
       |    SELECT g.vec_id, g.v, c.cent_id AS cell,
       |      ${cosSql("g.v", "c.cv")} AS cosc,
       |      row_number() OVER (PARTITION BY g.vec_id ORDER BY
       |        ${cosSql("g.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM grown g, c$lloydIters c) t WHERE crn = 1),
       |reps2 AS (
       |  SELECT cell, vec_id AS rep_id, v AS rep_v FROM (
       |    SELECT cell, vec_id, v,
       |      row_number() OVER (PARTITION BY cell ORDER BY cosc DESC, vec_id ASC) AS rn
       |    FROM sasg) t WHERE rn = 1)
       |${compactionGradeSql(s"c$lloydIters")}""".stripMargin
  }

  /** q254: the compaction rebuild at its SCALE form — q250's grade
    * with v2 built by [[semIndexFrom2]] (q132's two-level ~2N·N^0.25
    * assignment) instead of the flat N×K pass. q250's own decade row
    * showed why this twin must exist: the flat rebuild's second decade
    * is 21.6× (the N^1.5 term), while the two-hop assignment stays
    * near-linear — the same flat-vs-hierarchical relationship q66/q132
    * graded for queries, now graded for the INDEX-REBUILD event the
    * streaming ingest family hands off to. Same output contract, same
    * grown store, same rep-argmax policy; the only change is which
    * build produced the cells, so the pair (q250, q254) documents the
    * swap-in point on the record. Fully hash-graded: the super
    * selection is rank arithmetic, both hops are tie-broken argmaxes,
    * and the rep argmax uses the two-hop assignment's own cosines —
    * all restated CTE-by-CTE (q132Sql's machinery over the grown
    * store). */
  def q254SemindexCompact2(s: SparkSession, dir: String): DataFrame =
    compactionGrade(s,
      semIndexFrom2(compactionGrownStore(s, dir),
        lloydIters = sessionIvfLloydIters(s)))

  /** q254 oracle: the shared compaction front + q132Sql's super and
    * two-hop CTEs over the grown store + the rep argmax + the shared
    * graded projection. */
  def q254Sql(tau: Double, lloydIters: Int): String = {
    val cLast = s"c$lloydIters"
    s"""WITH ${compactionFrontCtes(tau, lloydIters)}
       |kg AS (SELECT cent_id, cv, row_number() OVER (ORDER BY cent_id) AS rn,
       |              count(*) OVER () AS kk FROM $cLast),
       |sup AS (SELECT cent_id AS super_id, cv AS sv FROM kg
       |        WHERE (rn - 1) % CAST(ceil(CAST(kk AS DOUBLE)
       |          / greatest(1, CAST(floor(sqrt(CAST(kk AS DOUBLE))) AS BIGINT))) AS BIGINT) = 0),
       |cs AS (
       |  SELECT cent_id, cv, super_id AS sup FROM (
       |    SELECT c.cent_id, c.cv, s.super_id,
       |      row_number() OVER (PARTITION BY c.cent_id ORDER BY
       |        ${cosSql("c.cv", "s.sv")} DESC, s.super_id ASC) AS srn
       |    FROM $cLast c, sup s) t WHERE srn = 1),
       |occ AS (SELECT DISTINCT sp.super_id, sp.sv
       |        FROM sup sp JOIN cs ON cs.sup = sp.super_id),
       |vsup AS (
       |  SELECT vec_id, v, super_id AS vsup FROM (
       |    SELECT g.vec_id, g.v, s.super_id,
       |      row_number() OVER (PARTITION BY g.vec_id ORDER BY
       |        ${cosSql("g.v", "s.sv")} DESC, s.super_id ASC) AS srn
       |    FROM grown g, occ s) t WHERE srn = 1),
       |sasg AS (
       |  SELECT vec_id, v, cell, cosc FROM (
       |    SELECT vs.vec_id, vs.v, c.cent_id AS cell,
       |      ${cosSql("vs.v", "c.cv")} AS cosc,
       |      row_number() OVER (PARTITION BY vs.vec_id ORDER BY
       |        ${cosSql("vs.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM vsup vs JOIN cs c ON c.sup = vs.vsup) t WHERE crn = 1),
       |reps2 AS (
       |  SELECT cell, vec_id AS rep_id, v AS rep_v FROM (
       |    SELECT cell, vec_id, v,
       |      row_number() OVER (PARTITION BY cell ORDER BY cosc DESC, vec_id ASC) AS rn
       |    FROM sasg) t WHERE rn = 1)
       |${compactionGradeSql(cLast)}""".stripMargin
  }

  /** q233 oracle at the session's τ: q134's store/batch split and
    * store-sized sampled-Lloyd unroll, the store's full assignment
    * WITH its cosine-to-own-centroid (for the per-cell representative
    * argmax), one batch argmax, and the LEFT-JOINed representative
    * comparison. */
  def q233Sql(tau: Double, lloydIters: Int): String = {
    val iters = (1 to lloydIters).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    s"""WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |store AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 <> 0),
       |batch AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 = 0),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride,
       |                  min(vec_id) AS mn FROM store),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM store
       |       WHERE vec_id % (SELECT stride FROM params) = (SELECT mn % stride FROM params)),
       |tr AS (SELECT vec_id, v FROM store
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params)
       |           = (SELECT mn % greatest(1, stride // 8) FROM params)),
       |$iters
       |sasg AS (
       |  SELECT vec_id, v, cell, cosc FROM (
       |    SELECT st.vec_id, st.v, c.cent_id AS cell,
       |      ${cosSql("st.v", "c.cv")} AS cosc,
       |      row_number() OVER (PARTITION BY st.vec_id ORDER BY
       |        ${cosSql("st.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM store st, c$lloydIters c) t WHERE crn = 1),
       |reps AS (
       |  SELECT cell, vec_id AS rep_id, v AS rep_v FROM (
       |    SELECT cell, vec_id, v,
       |      row_number() OVER (PARTITION BY cell ORDER BY cosc DESC, vec_id ASC) AS rn
       |    FROM sasg) t WHERE rn = 1),
       |basg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT b.vec_id, b.v, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql("b.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM batch b, c$lloydIters c) t WHERE crn = 1)
       |SELECT b.vec_id, b.cell, r.rep_id,
       |  round(${cosSql("b.v", "r.rep_v")}, 4) AS cos_rep,
       |  coalesce(${cosSql("b.v", "r.rep_v")} >= $tau, false) AS is_semantic_dup
       |FROM basg b LEFT JOIN reps r ON r.cell = b.cell
       |ORDER BY vec_id""".stripMargin
  }

  /** One unrolled Lloyd iteration in DuckDB: assign every TRAINING
    * vector (the `tr` CTE — the same `vec_id % trainStride` slice the
    * Spark build refines on) to its nearest `prev` centroid (argmax
    * cosine, ties toward the smallest cent_id), mean each cell per
    * dimension through DECIMAL(18,9) (q38's order-independence trick —
    * the Spark side sums the same decimals), rebuild arrays in
    * dimension order, keep the previous centroid for cells that
    * captured nothing. */
  private def lloydCtes(i: Int, prev: String): String =
    s"""asg$i AS (
       |  SELECT vec_id, v, cent_id AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.v, c.cv)
       |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |        c.cent_id ASC) AS crn
       |    FROM tr e, $prev c) t WHERE crn = 1),
       |m$i AS (
       |  SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS pos
       |        FROM asg$i) t
       |  GROUP BY cell, pos),
       |n$i AS (SELECT cell, list(m ORDER BY pos) AS nv FROM m$i GROUP BY cell),
       |c$i AS (SELECT p.cent_id, coalesce(n$i.nv, p.cv) AS cv
       |        FROM $prev p LEFT JOIN n$i ON n$i.cell = p.cent_id),""".stripMargin

  /** q66 oracle AT GIVEN KNOB VALUES: the IVF build is fully
    * deterministic (stride seeds, a FIXED number of tie-broken Lloyd
    * iterations over a deterministic training slice, no RNG) and
    * `CosineSim`'s fold is bit-identical to DuckDB's list_dot_product
    * (proved by q36), so the WHOLE IVF pipeline — seeding, sampled
    * Lloyd refinement (unrolled CTE-by-CTE below), cell assignment,
    * nprobe probing, scoring — restates in SQL and is hash-graded, not
    * rows-only. The registered entry is synthesized from the SESSION's
    * knob values (see `oracle`), so a harness overriding the confs
    * still hash-matches — the q39 multiprobe discipline. */
  def q66Sql(nprobe: Int, lloydIters: Int): String = {
    val iters = (1 to lloydIters).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$lloydIters"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |asgf AS (
       |  SELECT vec_id, v, cent_id, crn FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.v, c.cv)
       |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
       |        c.cent_id ASC) AS crn
       |    FROM e, $cLast c) t),
       |assigned AS (SELECT vec_id, v, cent_id AS cell FROM asgf WHERE crn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cent_id AS cell
       |      FROM asgf WHERE vec_id < 10 AND crn <= $nprobe),
       |sims AS (
       |  SELECT DISTINCT q.qid, c.vec_id AS cid,
       |    list_dot_product(q.qv, c.v)
       |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS sim
       |  FROM q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, cid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |  FROM sims)
       |SELECT qid, rank, cid, round(sim, 4) AS sim
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Cross-query memo for the ANN family's shared artifacts
    * (optimization r19, the videoSigs/funnel-artifact discipline): the
    * recall compositions q265/q268/q278 score SHORTLISTS the graded
    * index queries already compute — brute ground truth (q36) plus one
    * frame per index family. Un-memoized, q268 re-ran four full index
    * builds and q265/q278 one each (profiled: 101 driver jobs, the
    * embeddings scan re-read 8×). A production pipeline builds each
    * index once and runs every evaluation off it; the memo is that
    * artifact — an eager cut that lives as long as its entry (built
    * once per key even under concurrent first calls), attributed on
    * the bench's memo_pays ledger, keyed by (session, dir # name) so
    * scaled-study dirs never collide. */
  private val annShortlistCache =
    new graft.SessionCache[DataFrame]("ann_shortlists")

  private def annArtifact(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    annShortlistCache.getOrElseUpdate(s, dir + "#" + name,
      graft.Ckpt.cut(build))

  /** The full-corpus coarse quantizer as a shared artifact
    * (optimization r19): q66/q132/q229/q267/q269/q277 all refine the
    * SAME deterministic sampled-Lloyd centroids (stride 31 seeds over
    * `vecs`, session lloydIters) and each rebuilt them from scratch —
    * K ≈ √N rows, built once per (session, dir, iters) now. The
    * store/grown-corpus builds (q233/q250/q254) are different corpora
    * and keep their own builds. */
  private def cachedCorpusCents(s: SparkSession, dir: String,
      lloydIters: Int): DataFrame =
    annArtifact(s, dir, s"cents$lloydIters")(
      sampledLloydCents(vecs(s, dir), 31, lloydIters))

  /** q265: ANN RECALL, GRADED — every ANN deployment is an accuracy
    * trade, and until now the IVF's recall lived only as a spec
    * assertion (LlmSpec's clustered-corpus floor). This registers the
    * measurement itself: per query, brute-force top-5 (q36, the exact
    * ground truth) left-joined against the IVF's top-5 (q66, the SAME
    * session-knobbed build the graded query runs) — hit count and
    * recall in exact ppm, a number a 100 TB operator reads before
    * trusting the index. Shape: both sides are 10-query × top-5
    * frames, so the scoring join is trivially broadcastable; the cost
    * is the two builds it measures. Oracle: q36Sql and q66Sql verbatim
    * as derived tables (both already hash-graded bit-parity, so the
    * recall join inherits their determinism). */
  def q265AnnRecall(s: SparkSession, dir: String): DataFrame =
    recallFrom(annArtifact(s, dir, "brute")(q36CosineTopk(s, dir)),
      // knob-keyed (ADVICE r19): the ivf shortlist depends on the
      // session's nprobe/lloydIters — folding them into the artifact
      // name means a knob change mid-session rebuilds instead of
      // silently serving a frame built at the old values (the
      // cents$lloydIters pattern applied to every index shortlist)
      annArtifact(s, dir, s"ivf-np${sessionIvfNprobe(s)}-li${sessionIvfLloydIters(s)}")(
        q66AnnIvf(s, dir)))

  /** The recall scorer on any two (qid, …, cid) top-k frames — exact
    * ground truth on the left, the approximate index under test on the
    * right. Pinned in LlmSpec: exhaustive probing scores 1.0 recall on
    * the clustered corpus. */
  private[graft] def recallFrom(brute: DataFrame, ann: DataFrame): DataFrame = {
    val s = brute.sparkSession
    import s.implicits._
    brute.select($"qid", $"cid")
      .join(ann.select($"qid", $"cid", lit(1).as("hit")),
        Seq("qid", "cid"), "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_brute"),
        sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select($"qid", $"n_brute", $"n_hits",
        expr("CAST((n_hits * 1000000) div n_brute AS BIGINT)").as("recall_ppm"))
      .orderBy($"qid")
  }

  def q265Sql(np: Int, li: Int): String =
    s"""WITH brute AS (SELECT qid, cid FROM ($q36Sql) b),
       |ann AS (SELECT qid, cid FROM (${q66Sql(np, li)}) a)
       |SELECT b.qid,
       |  CAST(count(*) AS BIGINT) AS n_brute,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS recall_ppm
       |FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.cid = b.cid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** The nprobe values q267 sweeps — the knob's practical range on a
    * √N-cell index (16 probes of a 40-cell sf0.1 index is 40% of the
    * corpus; past that you want brute force, not ANN). */
  val SweepNprobes: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** q267: the ANN ACCURACY FRONTIER (VERDICT r18 item 2) — q265
    * grades ONE point of the recall curve (the session's nprobe); an
    * operator tuning a real index needs the CURVE: recall@5 AND cost
    * per nprobe ∈ {1,2,4,8,16}. Cost here is `n_cand` — the exact
    * number of candidate vectors the probe scans (the quantity that
    * prices a probe at 100 TB; wall-clock is not oracle-gradable,
    * candidate count is). ONE build (centroids, assignment, probe
    * ranks to max nprobe) serves every sweep point: the per-nprobe
    * shortlists differ only in the `cell_rn <= nprobe` filter, so the
    * sweep costs one q66 build + one brute baseline, not five of
    * each. Where recall crosses 90%+ is read directly off the graded
    * rows. */
  def q267AnnNprobeSweep(s: SparkSession, dir: String): DataFrame =
    nprobeSweepFrom(vecs(s, dir), lloydIters = sessionIvfLloydIters(s),
      // the brute baseline is the SAME frame q36 grades — read the
      // shared artifact instead of re-running the all-pairs pass (r19)
      brute = Some(annArtifact(s, dir, "brute")(q36CosineTopk(s, dir))),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))

  private[graft] def nprobeSweepFrom(e: DataFrame, nq: Int = 10, k: Int = 5,
      strideMod: Int = 31, lloydIters: Int = 2,
      brute: Option[DataFrame] = None,
      centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = centsIn.getOrElse(sampledLloydCents(e, strideMod, lloydIters))
    val assigned = nearestN(cents, "cent_id", "cv0")(
      e, "vec_id", "v", 1, "cell").drop("cell_rn")
    val qp = nearestN(cents, "cent_id", "cv0")(
      e.filter($"vec_id" < nq), "vec_id", "v", SweepNprobes.max, "cell")
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cell", $"cell_rn")
    val nps = SweepNprobes.toDF("nprobe")
    // (nprobe, qid) -> the probed cells: rank <= nprobe. Tiny frame
    // (|Q| * 16 * |sweep| rows) — broadcast against the assignment.
    val qcells = qp.crossJoin(nps).filter($"cell_rn" <= $"nprobe")
      .select($"nprobe", $"qid", $"qv", $"cell")
    val c = assigned.select($"vec_id".as("cid"), $"v".as("cv"),
      $"cell".as("ccell"))
    // cells are disjoint (assignment is argmax rn=1), so no dedup is
    // needed: each cid appears at most once per (nprobe, qid)
    val cand = c.join(broadcast(qcells),
        $"ccell" === $"cell" && $"cid" =!= $"qid")
      .select($"nprobe", $"qid", $"qv", $"cid", $"cv")
      // EAGER cut (r19): two consumers (cost census, top-k) evaluate
      // in one action — a lazy persist raced them into re-running the
      // candidate join (profiled: twin ~550 ms 32-task stages)
      .transform(graft.Ckpt.cut)
    val costs = cand.groupBy($"nprobe", $"qid")
      .agg(count(lit(1)).as("n_cand"))
    val w = Window.partitionBy($"nprobe", $"qid")
      .orderBy($"sim".desc, $"cid".asc)
    val top = cand
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"nprobe", $"qid", $"cid", lit(1).as("hit"))
    brute.getOrElse(bruteTopkFrom(e, nq, k))
      .select($"qid", $"cid").crossJoin(nps)
      .join(top, Seq("nprobe", "qid", "cid"), "left")
      .groupBy($"nprobe", $"qid")
      .agg(count(lit(1)).as("n_brute"),
        sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .join(costs, Seq("nprobe", "qid"), "left")
      .select($"nprobe", $"qid",
        coalesce($"n_cand", lit(0L)).as("n_cand"), $"n_brute", $"n_hits",
        expr("CAST((n_hits * 1000000) div n_brute AS BIGINT)")
          .as("recall_ppm"))
      .orderBy($"nprobe", $"qid")
  }

  /** q267 oracle: q66's build CTEs verbatim (same Lloyd unroll, same
    * tie-broken assignment), the probe ranks taken to the sweep max,
    * and the five nprobe points derived by filtering `crn <= nprobe`
    * against a VALUES table — exactly the one-build-many-points shape
    * the Spark plan uses. */
  def q267Sql(li: Int): String = {
    val iters = (1 to li).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$li"
    val maxNp = SweepNprobes.max
    val npVals = SweepNprobes.map(n => s"($n)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |asgf AS (
       |  SELECT vec_id, v, cent_id, crn FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "c.cv")} DESC,
       |        c.cent_id ASC) AS crn
       |    FROM e, $cLast c) t),
       |assigned AS (SELECT vec_id, v, cent_id AS cell FROM asgf WHERE crn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cent_id AS cell, crn
       |      FROM asgf WHERE vec_id < 10 AND crn <= $maxNp),
       |nps AS (SELECT nprobe FROM (VALUES $npVals) n(nprobe)),
       |cand AS (
       |  SELECT n.nprobe, q.qid, q.qv, c.vec_id AS cid, c.v AS cv
       |  FROM nps n, q
       |  JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.qid
       |  WHERE q.crn <= n.nprobe),
       |costs AS (SELECT nprobe, qid, CAST(count(*) AS BIGINT) AS n_cand
       |          FROM cand GROUP BY 1, 2),
       |top AS (
       |  SELECT nprobe, qid, cid FROM (
       |    SELECT nprobe, qid, cid,
       |      row_number() OVER (PARTITION BY nprobe, qid
       |        ORDER BY ${cosSql("qv", "cv")} DESC, cid ASC) AS rank
       |    FROM cand) t WHERE rank <= 5),
       |brute AS (SELECT qid, cid FROM ($q36Sql) b),
       |expected AS (SELECT n.nprobe, b.qid, b.cid FROM nps n, brute b),
       |rec AS (
       |  SELECT x.nprobe, x.qid,
       |    CAST(count(*) AS BIGINT) AS n_brute,
       |    CAST(sum(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM expected x
       |  LEFT JOIN top t ON t.nprobe = x.nprobe AND t.qid = x.qid AND t.cid = x.cid
       |  GROUP BY 1, 2)
       |SELECT r.nprobe, r.qid, coalesce(c.n_cand, 0) AS n_cand,
       |  r.n_brute, r.n_hits,
       |  CAST(r.n_hits * 1000000 // r.n_brute AS BIGINT) AS recall_ppm
       |FROM rec r LEFT JOIN costs c ON c.nprobe = r.nprobe AND c.qid = r.qid
       |ORDER BY r.nprobe, r.qid""".stripMargin
  }

  /** q268: the recall score applied across the WHOLE ANN family
    * (VERDICT r18 item 2, second half) — [[recallFrom]] is
    * frame-agnostic, so the two-hop (q132), LSH (q39), PQ (q138) and
    * SQ8 (q136) shortlists each score against the same brute ground
    * truth in one graded frame. The number an operator reads before
    * picking an index family — on the record, not in a spec comment. */
  def q268AnnFamilyRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shared artifacts (optimization r19): the four families' graded
    // builds and the brute ground truth come from the memo — one build
    // per session+dir. The old lazy `.persist()` on brute additionally
    // raced all four union branches into re-computing it (the q260
    // pattern); the memoized cut is materialized once, race-free.
    val brute = annArtifact(s, dir, "brute")(q36CosineTopk(s, dir))
      .select($"qid", $"cid")
    // knob-keyed artifact names (ADVICE r19): ivf2 reads the session's
    // nprobe/lloydIters and lsh its multiprobe — a knob change must
    // rebuild, not serve the stale frame; pq/sq8 read no session knobs
    val np = sessionIvfNprobe(s); val li = sessionIvfLloydIters(s)
    Seq("ivf2" -> annArtifact(s, dir, s"ivf2-np$np-li$li")(q132AnnIvf2(s, dir)),
        "lsh"  -> annArtifact(s, dir, s"lsh-mp${sessionLshMultiprobe(s)}")(
          q39AnnLsh(s, dir)),
        "pq"   -> annArtifact(s, dir, "pq")(q138AnnPq(s, dir)),
        "sq8"  -> annArtifact(s, dir, "sq8")(q136AnnSq8(s, dir)))
      .map { case (nm, df) =>
        recallFrom(brute, df).withColumn("family", lit(nm)) }
      .reduce(_ unionByName _)
      .select($"family", $"qid", $"n_brute", $"n_hits", $"recall_ppm")
      .orderBy($"family", $"qid")
  }

  /** q268 oracle: each family's already-hash-graded SQL as a derived
    * table (so this grade inherits their bit-parity), unioned under a
    * family tag and scored against q36's brute rows. */
  def q268Sql(np: Int, li: Int, mp: Int): String =
    s"""WITH brute AS (SELECT qid, cid FROM ($q36Sql) b),
       |hits AS (
       |  SELECT 'ivf2' AS family, qid, cid FROM (${q132Sql(np, li)}) x
       |  UNION ALL SELECT 'lsh', qid, cid FROM (${annLshSql(mp)}) x
       |  UNION ALL SELECT 'pq', qid, cid FROM ($q138Sql) x
       |  UNION ALL SELECT 'sq8', qid, cid FROM ($q136Sql) x),
       |fams AS (SELECT family FROM (VALUES ('ivf2'), ('lsh'), ('pq'), ('sq8')) f(family)),
       |expected AS (SELECT f.family, b.qid, b.cid FROM fams f, brute b)
       |SELECT x.family, x.qid,
       |  CAST(count(*) AS BIGINT) AS n_brute,
       |  CAST(sum(CASE WHEN h.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN h.cid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS recall_ppm
       |FROM expected x
       |LEFT JOIN hits h ON h.family = x.family AND h.qid = x.qid AND h.cid = x.cid
       |GROUP BY x.family, x.qid
       |ORDER BY x.family, x.qid""".stripMargin

  /** q269: q265's SAMPLED ground-truth twin — the 100 TB form of the
    * recall measurement (VERDICT r18 item 2, the weak-by-designation
    * fix). q265's brute side is exact and therefore Θ(|Q|·N) — 26×
    * per decade at the 100× point by design. This estimator bounds
    * the ground-truth side to a CONSTANT-size deterministic corpus
    * sample (`vec_id % max(4, ⌊N/512⌋) = 1` — ≈512 vectors at any
    * scale, the ivfStride sizing discipline) and a query sample (the
    * even half of the query batch): exact brute top-k ON THE SAMPLE
    * vs the full-corpus IVF's probe restricted to the same sample,
    * ranked within it. Graded exactly on the sample (every row of the
    * estimate is hash-checked); what is approximate is only the
    * ESTIMATOR's relationship to full recall, which is the standard
    * subsampled-ground-truth trade every production recall harness
    * makes. Scale shape: brute side |Qs|·512 cosines — FLAT per
    * decade where q265's grows 26×. */
  def q269AnnRecallSampled(s: SparkSession, dir: String): DataFrame =
    sampledRecallFrom(vecs(s, dir),
      nprobe = sessionIvfNprobe(s), lloydIters = sessionIvfLloydIters(s),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))

  private[graft] def sampledRecallFrom(e: DataFrame, nq: Int = 10, k: Int = 5,
      strideMod: Int = 31, nprobe: Int = 2, lloydIters: Int = 2,
      sampleCap: Long = 512L,
      centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val sStride = math.max(4L, e.count() / sampleCap)
    val qs = e.filter($"vec_id" < nq && $"vec_id" % 2 === 0)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val wb = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    val bruteS = e.filter(pmod($"vec_id", lit(sStride)) === 1)
      .select($"vec_id".as("cid"), $"v".as("cv"))
      .join(broadcast(qs), $"cid" =!= $"qid")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(wb)).filter($"rank" <= k)
      .select($"qid", $"cid")
    val cents = centsIn.getOrElse(sampledLloydCents(e, strideMod, lloydIters))
    val assigned = nearestN(cents, "cent_id", "cv0")(
      e, "vec_id", "v", 1, "cell").drop("cell_rn")
    val qp = nearestN(cents, "cent_id", "cv0")(
      e.filter($"vec_id" < nq && $"vec_id" % 2 === 0),
      "vec_id", "v", nprobe, "cell")
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cell")
    val wa = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    val annS = assigned.filter(pmod($"vec_id", lit(sStride)) === 1)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"cell".as("ccell"))
      .join(broadcast(qp), $"ccell" === $"cell" && $"cid" =!= $"qid")
      .dropDuplicates("qid", "cid")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(wa)).filter($"rank" <= k)
      .select($"qid", $"cid")
    recallFrom(bruteS, annS)
  }

  /** q269 oracle: q66's build CTEs with both sides' sample filters
    * restated (`params2` computes the same ⌊N/512⌋-floored stride from
    * the corpus's own count, the ivfStride pattern). */
  def q269Sql(np: Int, li: Int): String = {
    val iters = (1 to li).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$li"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |params2 AS (SELECT greatest(4, count(*) // 512) AS sstride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e
       |       WHERE vec_id < 10 AND vec_id % 2 = 0),
       |bruteS AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.vec_id AS cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${cosSql("q.qv", "c.v")} DESC, c.vec_id ASC) AS rank
       |    FROM qs q JOIN e c
       |      ON c.vec_id % (SELECT sstride FROM params2) = 1
       |     AND c.vec_id <> q.qid) t WHERE rank <= 5),
       |asgf AS (
       |  SELECT vec_id, v, cent_id, crn FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "c.cv")} DESC,
       |        c.cent_id ASC) AS crn
       |    FROM e, $cLast c) t),
       |assigned AS (SELECT vec_id, v, cent_id AS cell FROM asgf WHERE crn = 1),
       |qp AS (SELECT vec_id AS qid, v AS qv, cent_id AS cell
       |       FROM asgf WHERE vec_id < 10 AND vec_id % 2 = 0 AND crn <= $np),
       |annS AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |    FROM (
       |      SELECT DISTINCT q.qid, c.vec_id AS cid,
       |        ${cosSql("q.qv", "c.v")} AS sim
       |      FROM qp q JOIN assigned c
       |        ON c.cell = q.cell AND c.vec_id <> q.qid
       |       AND c.vec_id % (SELECT sstride FROM params2) = 1) s) t
       |  WHERE rank <= 5)
       |SELECT b.qid,
       |  CAST(count(*) AS BIGINT) AS n_brute,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS recall_ppm
       |FROM bruteS b LEFT JOIN annS a ON a.qid = b.qid AND a.cid = b.cid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin
  }

  /** q132 oracle: the hierarchical build is q66's sampled-Lloyd build
    * plus three more deterministic argmax layers (super selection by
    * rank arithmetic, centroid→super, vector→super→cell), every one
    * row_number + tie-broken — so the whole two-level pipeline unrolls
    * in SQL exactly like the flat one. */
  def q132Sql(nprobe: Int, lloydIters: Int, nsupers: Int = 2): String = {
    val iters = (1 to lloydIters).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$lloydIters"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |kg AS (SELECT cent_id, cv, row_number() OVER (ORDER BY cent_id) AS rn,
       |              count(*) OVER () AS kk FROM $cLast),
       |sup AS (SELECT cent_id AS super_id, cv AS sv FROM kg
       |        WHERE (rn - 1) % CAST(ceil(CAST(kk AS DOUBLE)
       |          / greatest(1, CAST(floor(sqrt(CAST(kk AS DOUBLE))) AS BIGINT))) AS BIGINT) = 0),
       |cs AS (
       |  SELECT cent_id, cv, super_id AS sup FROM (
       |    SELECT c.cent_id, c.cv, s.super_id,
       |      row_number() OVER (PARTITION BY c.cent_id ORDER BY
       |        ${cosSql("c.cv", "s.sv")} DESC, s.super_id ASC) AS srn
       |    FROM $cLast c, sup s) t WHERE srn = 1),
       |occ AS (SELECT DISTINCT sp.super_id, sp.sv
       |        FROM sup sp JOIN cs ON cs.sup = sp.super_id),
       |vsup AS (
       |  SELECT vec_id, v, super_id AS vsup FROM (
       |    SELECT e.vec_id, e.v, s.super_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "s.sv")} DESC, s.super_id ASC) AS srn
       |    FROM e, occ s) t WHERE srn = 1),
       |assigned AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT vs.vec_id, vs.v, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY vs.vec_id ORDER BY
       |        ${cosSql("vs.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM vsup vs JOIN cs c ON c.sup = vs.vsup) t WHERE crn = 1),
       |qsup AS (
       |  SELECT vec_id, v, super_id FROM (
       |    SELECT e.vec_id, e.v, s.super_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "s.sv")} DESC, s.super_id ASC) AS srn
       |    FROM e, sup s WHERE e.vec_id < 10) t WHERE srn <= $nsupers),
       |qcells AS (
       |  SELECT vec_id AS qid, v AS qv, cell FROM (
       |    SELECT q.vec_id, q.v, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM qsup q JOIN cs c ON c.sup = q.super_id) t WHERE crn <= $nprobe),
       |sims AS (
       |  SELECT DISTINCT q.qid, c.vec_id AS cid,
       |    ${cosSql("q.qv", "c.v")} AS sim
       |  FROM qcells q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, cid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |  FROM sims)
       |SELECT qid, rank, cid, round(sim, 4) AS sim
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** q111: the ANN-LSH pipeline pinned at multi-probe depth 1 — now
    * that the hyperplanes are driver-precomputed md5 parities, this is
    * the SAME geometry as q39 (sign, bucket code, probe set, candidate
    * join, scoring) and both hash-grade against one SQL template;
    * q111 stays registered as the fixed-parameter twin while q39
    * follows the session's multiprobe knob — including in its oracle,
    * which is generated from the same `probeCodes`. */
  def q111AnnMd5(s: SparkSession, dir: String): DataFrame =
    annLshFrom(vecs(s, dir), multiProbe = 1)

  /** The md5-parity banding as DuckDB CTEs (e → proj → codes) — the
    * shared geometry of every LSH-blocked oracle (q39/q111 ANN, q133
    * near-dup): same hyperplane parities, same band/bucket codes as the
    * Spark side's precomputed `md5Planes`. */
  private val lshCodesCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |proj AS (
      |  SELECT vec_id, u.p,
      |    list_dot_product(v,
      |      [ CASE WHEN ('0x' || substr(md5(CAST(u.p AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 2))::INT % 2 = 0
      |             THEN 1.0 ELSE -1.0 END
      |        FOR j IN generate_series(0, len(v) - 1) ]) AS pr
      |  FROM e, unnest(generate_series(0, 15)) AS u(p)),
      |codes AS (
      |  SELECT vec_id, CAST(p // 4 AS INT) AS band,
      |    CAST(sum(CASE WHEN pr > 0 THEN 1 << (p % 4) ELSE 0 END) AS INT) AS bkt
      |  FROM proj GROUP BY vec_id, p // 4)""".stripMargin

  /** DuckDB restatement of `annLshFrom` at a given multi-probe depth —
    * the probe list is interpolated from `probeCodes`, the same code the
    * Spark plan explodes, so plan and oracle move together. */
  def annLshSql(multiProbe: Int): String = {
    val probes = probeCodes(multiProbe).mkString(", ")
    s"""WITH $lshCodesCtes,
      |withv AS (SELECT c.vec_id, c.band, c.bkt, e.v FROM codes c JOIN e USING (vec_id)),
      |q AS (
      |  SELECT w.vec_id AS qid, w.v AS qv, w.band, xor(w.bkt, f.f) AS bkt
      |  FROM withv w, unnest([$probes]) AS f(f)
      |  WHERE w.vec_id < 10),
      |sims AS (
      |  SELECT DISTINCT q.qid, c.vec_id AS cid,
      |    list_dot_product(q.qv, c.v)
      |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS sim
      |  FROM q JOIN withv c ON c.band = q.band AND c.bkt = q.bkt AND c.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |  FROM sims)
      |SELECT qid, rank, cid, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  val q111Sql: String = annLshSql(1)

  /** The multiprobe depth q39 will actually run with on the active
    * session (default 1) — `oracle` is a def and Verify materializes it
    * AFTER the session is up, so the dumped q39 SQL always carries the
    * probe set of the conf that produced the q39 parquet. */
  private def sessionMultiProbe: Int =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption("spark.graft.lsh.multiprobe"))
      .map(_.trim.toInt).getOrElse(1)

  /** q39's multiprobe knob with an explicit session — the artifact-key
    * form of [[sessionMultiProbe]] (ADVICE r19: the lsh shortlist memo
    * key must carry the knob the build read). */
  private def sessionLshMultiprobe(s: SparkSession): Int =
    s.conf.getOption("spark.graft.lsh.multiprobe")
      .map(_.trim.toInt).getOrElse(1)

  /** IVF session knobs (q66): `spark.graft.ivf.nprobe` (default 2) and
    * `spark.graft.ivf.lloyditers` (default 2) — runtime-tunable like
    * LSH's multiprobe, with the oracle synthesized at the same values
    * so no knob setting can desynchronize plan and grade. */
  private def sessionIvfNprobe(s: SparkSession): Int =
    s.conf.getOption("spark.graft.ivf.nprobe").map(_.trim.toInt).getOrElse(2)

  private def sessionIvfLloydIters(s: SparkSession): Int =
    s.conf.getOption("spark.graft.ivf.lloyditers").map(_.trim.toInt).getOrElse(2)

  private def sessionIvf: (Int, Int) =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(s => (sessionIvfNprobe(s), sessionIvfLloydIters(s)))
      .getOrElse((2, 2))

  /** q229 semantic-dup threshold (`spark.graft.semdedup.tau`): RAW
    * cosines compare bit-identically on both engines (q36), so any τ
    * is cross-engine-safe; 0.5 is calibrated to the synthetic
    * near-uniform embeddings. */
  private def sessionSemdedupTau(s: SparkSession): Double =
    s.conf.getOption("spark.graft.semdedup.tau").map(_.trim.toDouble).getOrElse(0.5)

  private def sessionSemdedup: (Int, Double) =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(s => (sessionIvfLloydIters(s), sessionSemdedupTau(s)))
      .getOrElse((2, 0.5))

  /** q104: embedding-cosine near-dup pairs — the vector-space member of
    * the dedup family (exact q29, MinHash q46, SimHash q47, n-gram
    * Jaccard q34): pairs whose cosine clears a threshold, blocked by
    * `label` (the cluster/partition key) so candidate generation is an
    * equality join, never corpus×corpus. Uses the codegen'd `CosineSim`
    * kernel; its fold is bit-identical to DuckDB's list_dot_product
    * (proved by q36), so the threshold cut is hash-exact.
    *
    * Threshold 0.35 is calibrated to the synthetic uniform-random
    * vectors (max observed within-label cosine ≈ 0.47); a real corpus
    * with duplicated content uses 0.9+. At 100 TB the label block is
    * replaced by LSH buckets (q39's geometry) — same join shape. */
  def q104CosineDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val a = e.select($"label", $"vec_id".as("id1"), $"v".as("v1"))
    val b = e.select($"label".as("l2"), $"vec_id".as("id2"), $"v".as("v2"))
    a.join(b, $"label" === $"l2" && $"id1" < $"id2")
      .withColumn("cos", graft.functions.CosineSim.cosine(s, $"v1", $"v2"))
      .filter($"cos" >= 0.35)
      .select($"id1", $"id2", round($"cos", 4).as("cos"))
      .orderBy($"id1", $"id2")
  }

  val q104Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS id1, b.vec_id AS id2,
      |  round(list_dot_product(a.v, b.v)
      |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
      |ORDER BY id1, id2""".stripMargin

  /** q133: embedding-cosine near-dup with LSH-BUCKET blocking — q104's
    * own scaladoc names this as its 100 TB form ("the label block is
    * replaced by LSH buckets — same join shape"); this query SHIPS it.
    * Candidates form only inside a (band, bucket) cell of the
    * md5-parity banding (q39's geometry — SQL-expressible, so the
    * whole path stays hash-graded), pairs found by several bands are
    * deduped, and the codegen cosine verifies the threshold. The band
    * join carries ONLY (vec_id, band, bkt) — vectors never ride the
    * ×Bands-exploded shuffle (q46's id-only discipline); they join
    * back per candidate pair. Unlike the label block, this needs NO
    * pre-existing partition key — the hash family manufactures one
    * from the data, which is what an unlabeled 100 TB corpus requires.
    * Recall vs the exhaustive all-pairs cut is banding-bounded (any
    * pair agreeing on one band is found; LlmSpec asserts the clustered
    * floor). */
  def lshCosineDupsFrom(e: DataFrame, threshold: Double): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // spread before the banding (r20, annLshFrom's note): the per-row
    // hyperplane hashing otherwise runs on the scan's one split —
    // profiled as a 459 ms single-task stage inside q133
    val banded = graft.Tables.spread(e, "vec_id")
      .withColumn("bb", explode(bandedBuckets($"v")))
      .select($"vec_id", $"bb.band".as("band"), $"bb.bkt".as("bkt"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    val x = e.select($"vec_id".as("id1"), $"v".as("v1"))
    val y = e.select($"vec_id".as("id2"), $"v".as("v2"))
    cand.join(x, "id1").join(y, "id2")
      .withColumn("cos", graft.functions.CosineSim.cosine(s, $"v1", $"v2"))
      .filter($"cos" >= threshold)
      .select($"id1", $"id2", round($"cos", 4).as("cos"))
      .orderBy($"id1", $"id2")
  }

  def q133LshCosineDups(s: SparkSession, dir: String): DataFrame =
    lshCosineDupsFrom(vecs(s, dir), 0.35)

  /** q133 oracle: the same banding CTEs as q39/q111 plus the candidate
    * self-join and threshold cut. */
  val q133Sql: String =
    s"""WITH $lshCodesCtes,
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      |  FROM codes a JOIN codes b
      |    ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
      |SELECT id1, id2, round(cos, 4) AS cos FROM (
      |  SELECT cd.id1, cd.id2, ${cosSql("x.v", "y.v")} AS cos
      |  FROM cand cd
      |  JOIN e x ON x.vec_id = cd.id1
      |  JOIN e y ON y.vec_id = cd.id2) t
      |WHERE cos >= 0.35
      |ORDER BY id1, id2""".stripMargin

  /** q134: INCREMENTAL IVF assignment — index maintenance without a
    * rebuild, the ANN analogue of q122's incremental batch-vs-store
    * dedup. The store (vec_id % 4 != 0) owns the index: centroids are
    * built from store vectors only (the same stride-seed + sampled-
    * Lloyd build as q66, sized by the STORE's count). An ingest batch
    * (vec_id % 4 == 0) is then assigned to the EXISTING cells in one
    * broadcast pass — work ∝ |batch|·K, independent of the store size,
    * which is the property that makes nightly ingest viable against a
    * 100 TB indexed corpus (rebuilds are amortized to rare compactions,
    * exactly the faiss/IVF operational discipline). Output: per-cell
    * arrival counts + first new id — the shape a capacity monitor
    * consumes. Deterministic throughout, so the whole path (store
    * split, store-sized build, batch argmax) restates in SQL and is
    * hash-graded. */
  def q134IvfIncrement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val store = e.filter(pmod($"vec_id", lit(4)) =!= 0)
    val batch = e.filter(pmod($"vec_id", lit(4)) === 0)
    val cents = sampledLloydCents(store, 31, 2)
    nearestN(cents, "cent_id", "cv0")(batch, "vec_id", "v", 1, "cell")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_new"), min($"vec_id").as("first_new"))
      .orderBy($"cell")
  }

  /** q134 oracle: store/batch split, store-sized params, the sampled
    * Lloyd unroll (the `tr` slice is of the STORE), one batch argmax,
    * per-cell counts. */
  val q134Sql: String = {
    val iters = (1 to 2).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    s"""WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |store AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 <> 0),
       |batch AS (SELECT vec_id, v FROM eall WHERE vec_id % 4 = 0),
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride,
       |                  min(vec_id) AS mn FROM store),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM store
       |       WHERE vec_id % (SELECT stride FROM params) = (SELECT mn % stride FROM params)),
       |tr AS (SELECT vec_id, v FROM store
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params)
       |           = (SELECT mn % greatest(1, stride // 8) FROM params)),
       |$iters
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT b.vec_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql("b.v", "c.cv")} DESC, c.cent_id ASC) AS crn
       |    FROM batch b, c2 c) t WHERE crn = 1)
       |SELECT cell, count(*) AS n_new, min(vec_id) AS first_new
       |FROM asg GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** q125: the SQL FRONT DOOR to the codegen cosine kernel — the whole
    * query is SQL TEXT calling `graft_cosine` (registered in the
    * session's function registry; a session built with
    * `GraftExtensions` has it from birth, any other session gets it
    * from the idempotent `CosineSim.register`). Grades that the
    * registry path and the Column path bind the same expression: the
    * top-20 most similar vector pairs among vec_id < 50, ranked before
    * rounding with a full (sim, id1, id2) tie-break.
    *
    * The global (un-partitioned) rank is a single-task sort of the
    * ~1.2k pair rows AFTER the per-pair kernel ran distributed — fine
    * here and at 100 TB only because the pair set is pre-bounded; an
    * unbounded version would use `TopK.perGroup` (q86/q106's operator)
    * instead of a global window. */
  def q125CosineSqlPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(s)
    vecs(s, dir).select(col("vec_id"), col("v")).filter(col("vec_id") < 50)
      .createOrReplaceTempView("graft_q125_vecs")
    s.sql(
      """SELECT rn AS rank, id1, id2, round(sim, 4) AS sim FROM (
        |  SELECT id1, id2, sim,
        |    row_number() OVER (ORDER BY sim DESC, id1 ASC, id2 ASC) AS rn
        |  FROM (
        |    SELECT a.vec_id AS id1, b.vec_id AS id2, graft_cosine(a.v, b.v) AS sim
        |    FROM graft_q125_vecs a JOIN graft_q125_vecs b ON a.vec_id < b.vec_id) p) t
        |WHERE rn <= 20 ORDER BY rank""".stripMargin)
  }

  val q125Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 50),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |    list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |ranked AS (
      |  SELECT id1, id2, sim,
      |    row_number() OVER (ORDER BY sim DESC, id1 ASC, id2 ASC) AS rn
      |  FROM p)
      |SELECT rn AS rank, id1, id2, round(sim, 4) AS sim
      |FROM ranked WHERE rn <= 20 ORDER BY rank""".stripMargin

  // ---- q136: scalar-quantized (int8) ANN with exact rerank ------------

  /** q136: brute-force retrieval over SCALAR-QUANTIZED vectors with an
    * exact rerank — the bandwidth side of the ANN family (IVF/LSH cut
    * which vectors are scored; SQ cuts what scoring a vector COSTS).
    *
    * Build: per-dimension [lo, hi] extents (one tiny posexplode
    * aggregate, broadcast back as two 64-element arrays — the corpus
    * itself is never reshuffled), then each vector maps to integer
    * codes `floor((x−lo)/(hi−lo)·255 + 0.5)` ∈ [0,255] in a single
    * map-side transform. Codes carry 8 bits of information per
    * dimension — a production table stores them as `tinyint` (8×
    * smaller scan than float64, 4× smaller than float32); here they
    * stay integer-VALUED doubles so the scoring kernel is the same
    * codegen `graft_cosine` fused loop, and every intermediate stays
    * EXACT (sums of products of ints ≤ 2^53), which is what licenses
    * the DuckDB oracle: both engines compute identical integers, then
    * identical IEEE divisions.
    *
    * Search: score all candidates in the quantized domain, keep the
    * top-`SqRerank` per query by (simq DESC, cid ASC), then rerank
    * just those with the EXACT cosine on the full vectors and emit the
    * top-5 — q36's output contract, so LlmSpec measures recall against
    * the brute-force baseline directly. Composes with IVF at 100 TB:
    * the quantized scan runs inside probed cells only, and the rerank
    * touches R·Q full vectors — the only rows that ever leave the
    * quantized representation. */
  val SqRerank = 20

  private def sqCodes(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val ex = e.select(posexplode($"v").as(Seq("pos", "x")))
    val ext = ex.groupBy($"pos").agg(min($"x").as("lo"), max($"x").as("hi"))
      .agg(
        transform(array_sort(collect_list(struct($"pos", $"lo"))),
          p => p("lo")).as("los"),
        transform(array_sort(collect_list(struct($"pos", $"hi"))),
          p => p("hi")).as("his"))
    e.crossJoin(broadcast(ext))
      .withColumn("c", transform($"v", (x, i) => {
        val lo = element_at($"los", i + 1)
        val hi = element_at($"his", i + 1)
        when(hi === lo, lit(0.0))
          .otherwise(floor((x - lo) / (hi - lo) * 255 + 0.5).cast("double"))
      }))
      .select($"vec_id", $"v", $"c")
  }

  def q136AnnSq8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: the query side and the candidate side both read it,
    // and each read would otherwise repeat the extent pass
    val codes = sqCodes(vecs(s, dir)).persist()
    val q = codes.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"c".as("qc"))
    val cand = codes.select($"vec_id".as("cid"), $"v".as("cv"), $"c".as("cc"))
      .join(broadcast(q), $"cid" =!= $"qid")
      .withColumn("simq", graft.functions.CosineSim.cosine(s, $"qc", $"cc"))
    val wq = Window.partitionBy($"qid").orderBy($"simq".desc, $"cid".asc)
    val shortlist = cand
      .withColumn("rr", row_number().over(wq))
      .filter($"rr" <= SqRerank)
    val we = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    shortlist
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(we))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  /** The quantization restated CTE-by-CTE: same per-dim extents, same
    * floor expression (identical IEEE op order), integer-exact dot
    * products, the same two tie-broken windows. */
  val q136Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |st AS (
      |  SELECT pos, min(x) AS lo, max(x) AS hi
      |  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e) t
      |  GROUP BY pos),
      |ext AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
      |cd AS (
      |  SELECT vec_id, v,
      |    [CASE WHEN his[i] = los[i] THEN 0.0
      |          ELSE floor((v[i] - los[i]) / (his[i] - los[i]) * 255 + 0.5) END
      |     FOR i IN generate_series(1, len(v))] AS c
      |  FROM e, ext),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    CASE WHEN list_dot_product(q.c, q.c) = 0 OR list_dot_product(c.c, c.c) = 0
      |         THEN 0.0
      |         ELSE list_dot_product(q.c, c.c)
      |           / (sqrt(list_dot_product(q.c, q.c)) * sqrt(list_dot_product(c.c, c.c))) END AS simq
      |  FROM cd q JOIN cd c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |shortlist AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY simq DESC, cid ASC) AS rr
      |    FROM scored) t WHERE rr <= $SqRerank),
      |rr AS (
      |  SELECT s.qid, s.cid,
      |    list_dot_product(eq.v, ec.v)
      |      / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
      |  FROM shortlist s
      |  JOIN e eq ON eq.vec_id = s.qid
      |  JOIN e ec ON ec.vec_id = s.cid)
      |SELECT qid, rank, cid, round(sim, 4) AS sim FROM (
      |  SELECT qid, cid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |  FROM rr) t
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- q138: product-quantized ANN (asymmetric ADC + exact rerank) ----

  /** q138: product quantization — the memory-compression end of the ANN
    * family. The 64-dim space splits into `PqM`=8 subspaces of 8 dims;
    * each subspace gets a 16-entry codebook (the subvectors of every
    * ⌊N/16⌋-th vector — deterministic stride seeding, the `ivfStride`
    * discipline), and a vector's representation collapses to 8 4-bit
    * codes: 4 bytes instead of 512, a 128× in-memory shrink. Search is
    * asymmetric (ADC): the query keeps full precision, candidates are
    * scored against their RECONSTRUCTION (the concatenation of their
    * chosen codebook entries), the top-`PqRerank` shortlist is reranked
    * with the exact cosine, and the top-5 emitted — q36's contract, so
    * recall is measured against brute force directly (LlmSpec).
    *
    * Determinism (r14): NO fold crosses a partial-aggregation boundary
    * — in-slice folds (encoding distances, dots, norms) run as
    * sequential left folds over the 8-dim slice ARRAYS inside codegen
    * (bit-identical to DuckDB's list_dot_product, q36's proof), and
    * per-vector sums over the M per-subspace values fold an
    * array_sort'ed collect_list (order-independent by construction).
    * Plain doubles end-to-end; the r13 build's DECIMAL(18,9) lift —
    * measured at 2.6× of the whole query (PERF.md r14) — is gone, and
    * the oracle still restates the build CTE-by-CTE (stride seeding,
    * argmin encoding with j-ascending tie-break, ADC scoring, both
    * tie-broken windows).
    *
    * Scale shape: encoding moves N · M slice rows through one broadcast
    * join against the K·M-row codebook and one (vec_id, m)-keyed
    * argmin — 8× fewer rows than the r13 per-scalar shape; scoring fans
    * Q · N · M with Q bounded by the query batch. The
    * production form keeps codes as packed bytes and scores via an
    * ADC lookup table (256 · M floats per query, built once); this
    * relational twin exists to make those semantics hash-gradable
    * end-to-end, and composes with IVF (q66/q132) the standard way:
    * coarse cells prune N, PQ compresses what remains. */
  val PqM = 8        // subspaces
  val PqK = 16       // codebook entries per subspace (4-bit codes)
  val PqRerank = 50

  def q138AnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annPqFrom(vecs(s, dir).select($"vec_id", $"v"))
  }

  /** PQ build + ADC search over an arbitrary (vec_id, v) set — the
    * recall harness runs it on the clustered corpus (LlmSpec).
    *
    * ARITHMETIC (r14 restructure): every fold runs as an ORDERED ARRAY
    * fold — the encoding distance and per-subspace dots fold the 8-dim
    * slice arrays inside codegen (q36's sequential-left-fold kernel,
    * bit-identical to DuckDB's list_dot_product), and the per-vector
    * sums over the M per-subspace values fold an array_sort'ed
    * collect_list (deterministic regardless of partial-aggregation
    * order — sampledLloydCents' trick). NOTHING sums doubles across an
    * aggregation boundary, so plain-double arithmetic is exactly
    * reproducible on both engines and the DECIMAL(18,9) lift the r13
    * build needed is gone — PqArithStudy measured it at 2.6× of the
    * whole query (PERF.md r14), which this shape simply does not pay.
    * The exploded (vec, pos) row shape went with it: the build now
    * moves M-row slices instead of D-row scalars (8× fewer rows through
    * the encode join and window). */
  def annPqFrom(e: DataFrame, nq: Int = 10, k: Int = 5): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val scored = pqAdcScoredFrom(e, nq)
    val wq = Window.partitionBy($"qid").orderBy($"simpq".desc, $"cid".asc)
    val shortlist = scored.withColumn("rr", row_number().over(wq))
      .filter($"rr" <= PqRerank).select($"qid", $"cid")
    val wr = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    shortlist
      .join(e.select($"vec_id".as("qid"), $"v".as("qv")), Seq("qid"))
      .join(e.select($"vec_id".as("cid"), $"v".as("cv")), Seq("cid"))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(wr))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  /** The PQ build through the ADC score frame (qid, cid, simpq) — the
    * shared prefix of q138 (fixed-depth shortlist + rerank) and q273
    * (the rerank-depth sweep): codebooks, encoding, and the asymmetric
    * scores are ONE build; what varies downstream is only how deep the
    * exact rerank reaches into the ADC ranking. */
  // deterministic sequential left folds over PQ slice arrays — shared
  // by the model build and both scoring paths
  private def pqDotF(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
  private def pqSqDiffF(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
  // ordered fold over the M per-subspace values of a group — the
  // collect_list is sorted by m before folding, so the sum is
  // independent of aggregation order without any decimal cast
  private def pqMFold(mCol: String, vCol: String) =
    s"aggregate(transform(array_sort(collect_list(struct($mCol, $vCol))), " +
      s"t -> t.$vCol), 0.0D, (acc, x) -> acc + x)"

  /** The PQ MODEL build — (subs, cents, codes, cn2): per-(vector,
    * subspace) slice arrays (persisted — the caller's query sweeps
    * it), the K·M-row codebook, each vector's code words, and each
    * vector's reconstruction norm. Shared by the full-ADC scoring
    * paths (q138/q273) and the IVF-restricted path (q277). */
  private def pqModel(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val s = e.sparkSession
    import s.implicits._
    val cnt = e.agg(greatest(lit(1L),
      floor(count(lit(1)) / PqK).cast("long")).as("stride"))
    // per-(vector, subspace) slice arrays; subspace width from the
    // data's own dim (⌈dim/M⌉ — 8 for the 64-dim embeddings table)
    val subs = e
      .withColumn("sw", ceil(size($"v") / lit(PqM.toDouble)).cast("int"))
      .select($"vec_id", explode(expr(
        s"transform(sequence(0, ${PqM - 1}), mm -> " +
          "struct(mm AS m, slice(v, mm * sw + 1, sw) AS sub))")).as("t"))
      .select($"vec_id", $"t.m".as("m"), $"t.sub".as("sub"))
      // EAGER cut (r19): feeds cents, encoding, the query side and the
      // norms — the broadcast builds and the probe stage evaluate
      // concurrently, and a lazy persist raced them into re-running
      // the slice scan (profiled: twin ~700 ms single-task stages in
      // q138/q273/q277's profiles)
      .transform(graft.Ckpt.cut)
    val cents = subs.crossJoin(broadcast(cnt))
      .filter($"vec_id" % $"stride" === 0 && $"vec_id" < $"stride" * PqK)
      .select(expr("vec_id div stride").as("j"), $"m", $"sub".as("carr"))
    // encode: per (vector, subspace) the L2-nearest codebook entry,
    // ties toward the smallest j; the codebook is K·M rows — broadcast
    val enc = subs.join(broadcast(cents), Seq("m"))
      .withColumn("d2", expr(pqSqDiffF("sub", "carr")))
    val wEnc = Window.partitionBy($"vec_id", $"m").orderBy($"d2".asc, $"j".asc)
    val codes = enc.withColumn("rn", row_number().over(wEnc)).filter($"rn" === 1)
      .select($"vec_id".as("cid"), $"m", $"j")
    val cn2m = cents.select($"j", $"m", expr(pqDotF("carr", "carr")).as("c2"))
    val cn2 = codes.join(broadcast(cn2m), Seq("j", "m"))
      .groupBy($"cid").agg(expr(pqMFold("m", "c2")).as("cn2"))
    (subs, cents, codes, cn2)
  }

  private[graft] def pqAdcScoredFrom(e: DataFrame, nq: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val (subs, cents, codes, cn2) = pqModel(e)
    val cdim = codes.join(broadcast(cents), Seq("j", "m")) // (cid, m, carr)
    val qsubs = subs.filter($"vec_id" < nq)
      .select($"vec_id".as("qid"), $"m".as("qm"), $"sub".as("qsub"))
    val ddot = cdim.join(broadcast(qsubs), $"qm" === $"m" && $"cid" =!= $"qid")
      .withColumn("dm", expr(pqDotF("qsub", "carr")))
      .groupBy($"qid", $"cid").agg(expr(pqMFold("m", "dm")).as("ddot"))
    val qn2 = qsubs.withColumn("q2", expr(pqDotF("qsub", "qsub")))
      .groupBy($"qid").agg(expr(pqMFold("qm", "q2")).as("qn2"))
    ddot.join(qn2, "qid").join(cn2, "cid")
      .withColumn("simpq",
        when($"qn2" === 0 || $"cn2" === 0, lit(0.0))
          .otherwise($"ddot" / (sqrt($"qn2") * sqrt($"cn2"))))
  }

  /** ADC scores RESTRICTED to a candidate (qid, cid) frame — the
    * IVFPQ composition's scoring pass: the candidate list (from the
    * coarse quantizer's probed cells) joins the code table FIRST, so
    * ADC work is ∝ |candidates|·M instead of |Q|·N·M. Same arithmetic
    * as [[pqAdcScoredFrom]] fold-for-fold. */
  private[graft] def pqAdcScoredOn(e: DataFrame, cand: DataFrame,
      nq: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val (subs, cents, codes, cn2) = pqModel(e)
    val cdim = codes.join(broadcast(cents), Seq("j", "m")) // (cid, m, carr)
    val qsubs = subs.filter($"vec_id" < nq)
      .select($"vec_id".as("qsid"), $"m".as("qm"), $"sub".as("qsub"))
    val ddot = cand.join(cdim, Seq("cid"))
      .join(broadcast(qsubs), $"qm" === $"m" && $"qsid" === $"qid")
      .withColumn("dm", expr(pqDotF("qsub", "carr")))
      .groupBy($"qid", $"cid").agg(expr(pqMFold("m", "dm")).as("ddot"))
    val qn2 = qsubs.withColumn("q2", expr(pqDotF("qsub", "qsub")))
      .groupBy($"qsid").agg(expr(pqMFold("qm", "q2")).as("qn2"))
      .withColumnRenamed("qsid", "qid")
    ddot.join(qn2, "qid").join(cn2, "cid")
      .withColumn("simpq",
        when($"qn2" === 0 || $"cn2" === 0, lit(0.0))
          .otherwise($"ddot" / (sqrt($"qn2") * sqrt($"cn2"))))
  }

  /** The rerank depths q273 sweeps — brackets the session default
    * (`PqRerank` = 50) both ways; 200 against a 500-vector graded
    * corpus is 40% of it, the same past-this-use-brute boundary the
    * nprobe sweep stops at. */
  val PqRerankSweep: Seq[Int] = Seq(10, 25, 50, 100, 200)

  /** q273: the PQ accuracy frontier over RERANK DEPTH — q267 swept the
    * IVF's nprobe knob; the PQ family's knob is how deep the exact
    * rerank reaches into the ADC ranking. q268 grades PQ at the fixed
    * session depth (50) and reads 0.50 recall@5 on the live corpus —
    * the number that says WHERE the loss lives is this curve: if
    * recall climbs with depth, the 4-bit ADC ordering is merely
    * coarse (true neighbors sit just below the cutoff — spend rerank);
    * if it plateaus, the codebooks themselves lose the neighborhood
    * (spend bits, not rerank). Cost is `n_short` — the exact number of
    * full-precision vectors the rerank touches, the quantity that
    * prices a depth at 100 TB (the ADC pass is depth-independent).
    * ONE build (codebooks, codes, ADC scores, the rank window) serves
    * every sweep point: shortlists are nested (rr <= depth), so the
    * sweep costs one q138 build + one brute baseline, not five of
    * each. */
  def q273PqRerankSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqRerankSweepFrom(vecs(s, dir).select($"vec_id", $"v"),
      // shared brute artifact, as in q267 (optimization r19)
      brute = Some(annArtifact(s, dir, "brute")(q36CosineTopk(s, dir))))
  }

  private[graft] def pqRerankSweepFrom(e: DataFrame, nq: Int = 10,
      k: Int = 5, brute: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val maxR = PqRerankSweep.max
    val wq = Window.partitionBy($"qid").orderBy($"simpq".desc, $"cid".asc)
    // exact sims computed ONCE on the max-depth shortlist (|Q| * maxR
    // rows); every shallower depth is a filter of this frame
    val ex = pqAdcScoredFrom(e, nq)
      .withColumn("rr", row_number().over(wq)).filter($"rr" <= maxR)
      .join(e.select($"vec_id".as("qid"), $"v".as("qv")), Seq("qid"))
      .join(e.select($"vec_id".as("cid"), $"v".as("cv")), Seq("cid"))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .select($"qid", $"cid", $"rr", $"sim")
      // EAGER cut (r19): cost census + per-depth top-k evaluate in one
      // action — a lazy persist raced them into re-running the ADC
      // scoring (profiled: twin ~750 ms single-task embedding scans)
      .transform(graft.Ckpt.cut)
    val depths = PqRerankSweep.toDF("rerank")
    val cand = ex.crossJoin(broadcast(depths)).filter($"rr" <= $"rerank")
    val costs = cand.groupBy($"rerank", $"qid")
      .agg(count(lit(1)).as("n_short"))
    val wt = Window.partitionBy($"rerank", $"qid")
      .orderBy($"sim".desc, $"cid".asc)
    val top = cand.withColumn("rank", row_number().over(wt))
      .filter($"rank" <= k)
      .select($"rerank", $"qid", $"cid", lit(1).as("hit"))
    brute.getOrElse(bruteTopkFrom(e, nq, k)).select($"qid", $"cid")
      .crossJoin(broadcast(depths))
      .join(top, Seq("rerank", "qid", "cid"), "left")
      .groupBy($"rerank", $"qid")
      .agg(count(lit(1)).as("n_brute"),
        sum(when($"hit".isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .join(costs, Seq("rerank", "qid"), "left")
      .select($"rerank", $"qid",
        coalesce($"n_short", lit(0L)).as("n_short"), $"n_brute", $"n_hits",
        expr("CAST((n_hits * 1000000) div n_brute AS BIGINT)")
          .as("recall_ppm"))
      .orderBy($"rerank", $"qid")
  }

  /** q138 oracle — mirrors the fold-structured build: slice arrays per
    * (vector, subspace), list_dot_product for every in-slice fold
    * (bit-identical to Spark's sequential aggregate/zip_with — q36's
    * proof), and the per-vector sums over M per-subspace values folded
    * from an m-ORDERED list through the same proven kernel
    * (list_dot_product(l, ones) — each term x·1.0 is bitwise x, so the
    * partial sums match Spark's ordered-collect_list fold exactly). */
  /** The oracle restatement of [[pqAdcScoredFrom]] — the CTE prefix
    * shared verbatim by q138Sql and q273Sql, so both grades inherit
    * the same proven build arithmetic. */
  private val pqScoredCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cnt AS (SELECT greatest(1, count(*) // $PqK) AS stride FROM e),
      |subs AS (
      |  SELECT vec_id, mm AS m, v[mm * sw + 1 : mm * sw + sw] AS sub
      |  FROM (SELECT vec_id, v, CAST(ceil(len(v) / ${PqM}.0) AS INT) AS sw FROM e) t,
      |       (SELECT unnest(generate_series(0, ${PqM - 1})) AS mm) u),
      |cents AS (
      |  SELECT vec_id // stride AS j, m, sub AS carr FROM subs, cnt
      |  WHERE vec_id % stride = 0 AND vec_id < stride * $PqK),
      |enc AS (
      |  SELECT vec_id, m, j, list_dot_product(dif, dif) AS d2 FROM (
      |    SELECT s.vec_id, s.m, c.j,
      |      list_transform(generate_series(1, len(s.sub)),
      |        i -> s.sub[i] - c.carr[i]) AS dif
      |    FROM subs s JOIN cents c ON c.m = s.m) t),
      |codes AS (
      |  SELECT vec_id AS cid, m, j FROM (
      |    SELECT vec_id, m, j,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
      |    FROM enc) t WHERE rn = 1),
      |cn2m AS (SELECT j, m, list_dot_product(carr, carr) AS c2 FROM cents),
      |cn2 AS (
      |  SELECT cid, list_dot_product(l, list_transform(l, x -> 1.0)) AS cn2 FROM (
      |    SELECT cid, list(c2 ORDER BY m) AS l
      |    FROM codes JOIN cn2m USING (j, m) GROUP BY cid) t),
      |cdims AS (SELECT cid, m, carr FROM codes JOIN cents USING (j, m)),
      |qsubs AS (SELECT vec_id AS qid, m, sub AS qsub FROM subs WHERE vec_id < 10),
      |ddot AS (
      |  SELECT qid, cid, list_dot_product(l, list_transform(l, x -> 1.0)) AS ddot FROM (
      |    SELECT qid, cid, list(dm ORDER BY m) AS l FROM (
      |      SELECT q.qid, c.cid, c.m, list_dot_product(q.qsub, c.carr) AS dm
      |      FROM qsubs q JOIN cdims c ON c.m = q.m AND c.cid <> q.qid) x
      |    GROUP BY qid, cid) t),
      |qn2 AS (
      |  SELECT qid, list_dot_product(l, list_transform(l, x -> 1.0)) AS qn2 FROM (
      |    SELECT qid, list(list_dot_product(qsub, qsub) ORDER BY m) AS l
      |    FROM qsubs GROUP BY qid) t),
      |scored AS (
      |  SELECT d.qid, d.cid,
      |    CASE WHEN q.qn2 = 0 OR c2.cn2 = 0 THEN 0.0
      |         ELSE d.ddot / (sqrt(q.qn2) * sqrt(c2.cn2)) END AS simpq
      |  FROM ddot d JOIN qn2 q USING (qid) JOIN cn2 c2 USING (cid))""".stripMargin

  val q138Sql: String =
    s"""WITH $pqScoredCtes,
      |short AS (
      |  SELECT qid, cid FROM (
      |    SELECT qid, cid,
      |      row_number() OVER (PARTITION BY qid ORDER BY simpq DESC, cid ASC) AS rr
      |    FROM scored) t WHERE rr <= $PqRerank),
      |rr AS (
      |  SELECT s.qid, s.cid,
      |    list_dot_product(eq.v, ec.v)
      |      / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
      |  FROM short s
      |  JOIN e eq ON eq.vec_id = s.qid
      |  JOIN e ec ON ec.vec_id = s.cid)
      |SELECT qid, rank, cid, round(sim, 4) AS sim FROM (
      |  SELECT qid, cid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |  FROM rr) t
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** q273 oracle: the shared PQ build prefix, the ADC rank window
    * taken once to the sweep max, exact sims on that max-depth
    * shortlist, and the five depth points derived by filtering
    * `rr <= rerank` against a VALUES table — exactly the
    * one-build-many-points shape the Spark plan uses (q267's oracle
    * pattern applied to the rerank knob). */
  def q273Sql: String = {
    val maxR = PqRerankSweep.max
    val dVals = PqRerankSweep.map(n => s"($n)").mkString(", ")
    s"""WITH $pqScoredCtes,
       |rrk AS (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |    ORDER BY simpq DESC, cid ASC) AS rr
       |  FROM scored),
       |ex AS (
       |  SELECT r.qid, r.cid, r.rr,
       |    list_dot_product(eq.v, ec.v)
       |      / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
       |  FROM rrk r
       |  JOIN e eq ON eq.vec_id = r.qid
       |  JOIN e ec ON ec.vec_id = r.cid
       |  WHERE r.rr <= $maxR),
       |depths AS (SELECT rerank FROM (VALUES $dVals) d(rerank)),
       |costs AS (
       |  SELECT d.rerank, x.qid, CAST(count(*) AS BIGINT) AS n_short
       |  FROM depths d JOIN ex x ON x.rr <= d.rerank GROUP BY 1, 2),
       |top AS (
       |  SELECT rerank, qid, cid FROM (
       |    SELECT d.rerank, x.qid, x.cid,
       |      row_number() OVER (PARTITION BY d.rerank, x.qid
       |        ORDER BY x.sim DESC, x.cid ASC) AS rank
       |    FROM depths d JOIN ex x ON x.rr <= d.rerank) t WHERE rank <= 5),
       |brute AS (SELECT qid, cid FROM ($q36Sql) b),
       |expected AS (SELECT d.rerank, b.qid, b.cid FROM depths d, brute b),
       |rec AS (
       |  SELECT x.rerank, x.qid,
       |    CAST(count(*) AS BIGINT) AS n_brute,
       |    CAST(sum(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM expected x
       |  LEFT JOIN top t ON t.rerank = x.rerank AND t.qid = x.qid AND t.cid = x.cid
       |  GROUP BY 1, 2)
       |SELECT r.rerank, r.qid, coalesce(c.n_short, 0) AS n_short,
       |  r.n_brute, r.n_hits,
       |  CAST(r.n_hits * 1000000 // r.n_brute AS BIGINT) AS recall_ppm
       |FROM rec r LEFT JOIN costs c ON c.rerank = r.rerank AND c.qid = r.qid
       |ORDER BY r.rerank, r.qid""".stripMargin
  }

  /** q277: IVF-PQ — the PRODUCTION ANN composition (the FAISS
    * IVFPQ/IMI shape, Jégou et al. 2011): the coarse quantizer prunes
    * N (q66's cells — only the query's `nprobe` probed cells produce
    * candidates), PQ compresses what remains (q138's 4-bit codes —
    * the probed candidates are scored against their RECONSTRUCTIONS,
    * never their full vectors), and the exact rerank recovers
    * precision on the top-`PqRerank` shortlist. Both parents ship
    * graded and frontier-swept (q267 prices nprobe, q273 prices
    * rerank depth); this registers their composition, where ADC work
    * is ∝ probed-candidate mass · M instead of q138's |Q|·N·M — the
    * memory story (4-byte codes) and the pruning story (nprobe/K of
    * the corpus) in one operator, q36's output contract so recall
    * scores against brute force directly ([[recallFrom]] in LlmSpec).
    * 100 TB shape: the only N×K term is the coarse assignment q66
    * already prices; scoring touches ~|Q|·nprobe·N/K code rows. */
  def q277AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annIvfPqFrom(vecs(s, dir).select($"vec_id", $"v"),
      nprobe = sessionIvfNprobe(s), lloydIters = sessionIvfLloydIters(s),
      centsIn = Some(cachedCorpusCents(s, dir, sessionIvfLloydIters(s))))
  }

  private[graft] def annIvfPqFrom(e: DataFrame, nq: Int = 10, k: Int = 5,
      strideMod: Int = 31, nprobe: Int = 2, lloydIters: Int = 2,
      centsIn: Option[DataFrame] = None): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // the coarse build, eagerly checkpointed (K ≈ √N rows): two
    // consumers (assignment, probes) would otherwise re-run the Lloyd
    // chain — q132's discipline; centsIn is the shared corpus artifact
    val cents = centsIn.getOrElse(
      sampledLloydCents(e, strideMod, lloydIters).transform(graft.Ckpt.cut))
    val assigned = nearestN(cents, "cent_id", "cv0")(
      e, "vec_id", "v", 1, "cell").drop("cell_rn")
    val qp = nearestN(cents, "cent_id", "cv0")(
      e.filter($"vec_id" < nq), "vec_id", "v", nprobe, "cell")
      .select($"vec_id".as("qid"), $"cell")
    // cells are disjoint (assignment is argmax rn=1), so a candidate
    // appears at most once per qid
    val cand = assigned.select($"vec_id".as("cid"), $"cell".as("ccell"))
      .join(broadcast(qp), $"ccell" === $"cell" && $"cid" =!= $"qid")
      .select($"qid", $"cid")
    val scored = pqAdcScoredOn(e, cand, nq)
    val wq = Window.partitionBy($"qid").orderBy($"simpq".desc, $"cid".asc)
    val shortlist = scored.withColumn("rr", row_number().over(wq))
      .filter($"rr" <= PqRerank).select($"qid", $"cid")
    val wr = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    shortlist
      .join(e.select($"vec_id".as("qid"), $"v".as("qv")), Seq("qid"))
      .join(e.select($"vec_id".as("cid"), $"v".as("cv")), Seq("cid"))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(wr))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"rank")
  }

  /** q277 oracle: the shared PQ build prefix (all-pairs ADC scores —
    * the oracle may over-compute; restriction commutes with scoring
    * because a pair's ADC score is independent of the candidate set),
    * q66's coarse-quantizer CTEs verbatim, the probed-cell candidate
    * join, and q138's shortlist/rerank tail over the restricted
    * scores. */
  def q277Sql(np: Int, li: Int): String = {
    val iters = (1 to li).map(i =>
      lloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$li"
    s"""WITH $pqScoredCtes,
       |params AS (SELECT greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM e),
       |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
       |       WHERE vec_id % (SELECT stride FROM params) = 0),
       |tr AS (SELECT vec_id, v FROM e
       |       WHERE vec_id % (SELECT greatest(1, stride // 8) FROM params) = 0),
       |$iters
       |asgf AS (
       |  SELECT vec_id, v, cent_id, crn FROM (
       |    SELECT e.vec_id, e.v, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e.v", "c.cv")} DESC,
       |        c.cent_id ASC) AS crn
       |    FROM e, $cLast c) t),
       |assigned AS (SELECT vec_id, cent_id AS cell FROM asgf WHERE crn = 1),
       |qp AS (SELECT vec_id AS qid, cent_id AS cell
       |       FROM asgf WHERE vec_id < 10 AND crn <= $np),
       |cand AS (
       |  SELECT q.qid, c.vec_id AS cid
       |  FROM qp q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.qid),
       |iscored AS (SELECT s.* FROM scored s JOIN cand USING (qid, cid)),
       |short AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY simpq DESC, cid ASC) AS rr
       |    FROM iscored) t WHERE rr <= $PqRerank),
       |rr AS (
       |  SELECT s.qid, s.cid,
       |    list_dot_product(eq.v, ec.v)
       |      / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
       |  FROM short s
       |  JOIN e eq ON eq.vec_id = s.qid
       |  JOIN e ec ON ec.vec_id = s.cid)
       |SELECT qid, rank, cid, round(sim, 4) AS sim FROM (
       |  SELECT qid, cid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
       |  FROM rr) t
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** q278: the IVFPQ composition's RECALL on the graded record —
    * q265's discipline applied to q277: per query, brute top-5 (q36)
    * left-joined against the composed index's top-5, hits + recall in
    * exact ppm. The number that closes the frontier story: q267
    * prices the coarse knob, q273 prices the rerank knob, q277
    * registers the composition, and this row says what the
    * composition actually recalls at the session shape — against the
    * family readings q268 already carries (SQ8 0.98, LSH 0.96, PQ
    * 0.50, ivf2 0.44 at sf0.01). */
  def q278IvfPqRecall(s: SparkSession, dir: String): DataFrame =
    recallFrom(annArtifact(s, dir, "brute")(q36CosineTopk(s, dir)),
      // knob-keyed (ADVICE r19) — q277 reads the session nprobe/lloydIters
      annArtifact(s, dir,
        s"ivfpq-np${sessionIvfNprobe(s)}-li${sessionIvfLloydIters(s)}")(
        q277AnnIvfPq(s, dir)))

  def q278Sql(np: Int, li: Int): String =
    s"""WITH brute AS (SELECT qid, cid FROM ($q36Sql) b),
       |ann AS (SELECT qid, cid FROM (${q277Sql(np, li)}) a)
       |SELECT b.qid,
       |  CAST(count(*) AS BIGINT) AS n_brute,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.cid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS recall_ppm
       |FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.cid = b.cid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** q159: reciprocal-rank fusion — the HYBRID-retrieval join of the
    * two ranking families this engine ships: the lexical BM25 ranking
    * (q157, `Corpus.bm25Scores`) and a dense cosine ranking against a
    * fixed probe vector (vec_id 0 — doc ids and vec ids share one id
    * space in this corpus). Each list is truncated to its top-100, the
    * lists FULL-OUTER join on document id (a doc ranked by only one
    * retriever still fuses), and RRF scores sum 1/(60+rank) over the
    * lists a doc appears in — rank arithmetic on exact integers, so
    * the fused score is bit-identical across engines by construction.
    *
    * Scale: both rankings window over AGGREGATED score tables (docs
    * containing query terms; candidate similarity rows) — never raw
    * corpus rows; the fusion join carries ≤ |lists|·100 rows. The
    * dense side broadcasts the 1-row probe and streams candidates
    * through the codegen CosineSim kernel without a shuffle until the
    * final ranking. */
  def q159HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val L = 100
    val e = vecs(s, dir)
    val probe = e.filter($"vec_id" === 0).select($"v".as("qv"))
    val vecRank = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"v"))
      .withColumn("rk_v", row_number().over(
        Window.orderBy($"sim".desc, $"vec_id".asc)))
      .filter($"rk_v" <= L)
      .select($"vec_id".as("vid"), $"rk_v")
    val textRank = Corpus.bm25Scores(s, dir, Seq("join", "vector"))
      .withColumn("rk_t", row_number().over(
        Window.orderBy($"score".desc, $"doc_id".asc)))
      .filter($"rk_t" <= L)
      .select($"doc_id".as("tid"), $"rk_t")
    textRank.join(vecRank, $"tid" === $"vid", "full_outer")
      .select(coalesce($"tid", $"vid").as("doc_id"), $"rk_t", $"rk_v",
        round(coalesce(lit(1.0) / (lit(60) + $"rk_t"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + $"rk_v"), lit(0.0)), 8).as("rrf"))
      .withColumn("rank", row_number().over(
        Window.orderBy($"rrf".desc, $"doc_id".asc)))
      .filter($"rank" <= 30)
      .orderBy($"rank")
  }

  val q159Sql: String =
    s"""WITH ${Corpus.bm25Cte},
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |vr AS (
       |  SELECT vec_id AS vid,
       |    row_number() OVER (ORDER BY
       |      list_dot_product(qv, v)
       |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) DESC,
       |      vec_id ASC) AS rk_v
       |  FROM e CROSS JOIN q WHERE vec_id <> 0),
       |vrl AS (SELECT vid, rk_v FROM vr WHERE rk_v <= 100),
       |tr AS (
       |  SELECT doc_id AS tid,
       |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk_t
       |  FROM bm),
       |trl AS (SELECT tid, rk_t FROM tr WHERE rk_t <= 100),
       |f AS (
       |  SELECT coalesce(tid, vid) AS doc_id, rk_t, rk_v,
       |    round(coalesce(CAST(1 AS DOUBLE) / (60 + rk_t), 0) +
       |          coalesce(CAST(1 AS DOUBLE) / (60 + rk_v), 0), 8) AS rrf
       |  FROM trl FULL OUTER JOIN vrl ON tid = vid)
       |SELECT doc_id, rk_t, rk_v, rrf, rank FROM (
       |  SELECT f.*, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
       |  FROM f) t
       |WHERE rank <= 30 ORDER BY rank""".stripMargin

  /** q185: k-NN label voting — classify each probe vector by the
    * majority label of its 5 nearest labeled neighbors (cosine), the
    * label-propagation step a curation pipeline runs to extend a small
    * labeled seed set over an unlabeled corpus. Probes are vec_id < 10
    * (treated as unlabeled); candidates are the rest, carrying their
    * `label` column.
    *
    * Shape: q36's brute-force geometry (broadcast probes, candidates
    * stream by, per-probe top-k window) + one vote aggregation — the
    * ANN variants (q39/q66/q132) are the drop-in scale path for the
    * neighbor stage. Determinism: neighbor rank ties break by cid
    * (q36's rule); vote ties by (count DESC, label ASC), in the query
    * text per the q172 discipline. */
  /** Per-probe k-NN majority prediction (shared by q185/q190): probes
    * are vec_id < nq, candidates the rest; neighbor ties by cid, vote
    * ties by (count DESC, label ASC). */
  private def knnPredict(s: SparkSession, dir: String,
      nq: Int, k: Int): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"label".as("true_label"))
    val c = e.filter($"vec_id" >= nq)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"label")
    val wNn = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid".asc)
    val nn = c.join(broadcast(q))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("rank", row_number().over(wNn))
      .filter($"rank" <= k)
    val wVote = Window.partitionBy($"qid").orderBy($"votes".desc, $"label".asc)
    nn.groupBy($"qid", $"true_label", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter($"vr" === 1)
      .select($"qid", $"label".as("pred_label"), $"votes",
        $"true_label", ($"label" === $"true_label").as("correct"))
  }

  def q185KnnLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    knnPredict(s, dir, nq = 10, k = 5).orderBy($"qid")
  }

  /** q237: GREEDY K-CENTER CORESET — coreset selection for data-
    * efficient training (Sener & Savarese 2018, arXiv:1708.00489,
    * public: pick k points whose max-min distance to the rest is
    * small; the farthest-point-first greedy is the standard
    * 2-approximation). Deterministic protocol, stated here: the first
    * center is the smallest vec_id (the paper seeds randomly; a fixed
    * seed is what makes the run reproducible and oracle-restatable),
    * then k−1 rounds of "select the vector farthest (cosine distance
    * 1−cos) from the chosen set", ties to the smallest vec_id. Each
    * round emits the winner's distance — the COVERAGE RADIUS curve, the
    * quantity a curation team reads to choose k.
    *
    * Shape per round (q182's per-round scalar-graft discipline): the
    * current center rides a 1-row broadcast crossJoin — never a driver
    * collect; the running min-distance column folds with `least`; the
    * round winner is a distributed max(struct(mind, −vec_id, v)) —
    * partial maxes merge map-side, NO global sort anywhere. Per-round
    * persists break the otherwise-2^k lineage (q161's fix). Total work
    * k·N cosines, linear in the corpus for fixed k. Raw-cosine
    * bit-parity (q36) makes every round's argmax and radius exact on
    * both engines, so the whole k-round greedy unrolls CTE-by-CTE and
    * is hash-graded. */
  val KCenterK = 8

  def q237KcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kcenterCoresetFrom(vecs(s, dir).select($"vec_id", $"v"), KCenterK)
  }

  /** q237's engine on an arbitrary (vec_id, v) frame — split out so
    * LlmSpec can pin the farthest-first property on constructed
    * clustered geometry.
    *
    * Execution discipline (r15, closing VERDICT r14 item 2 + the
    * ADVICE k>N divergence): each round's (vec_id, v, mind) frame is
    * an EAGER `localCheckpoint` and the superseded round is
    * `Ckpt.free`d immediately — executor storage holds ~ONE frame at
    * any moment instead of k−1 (`Ckpt.scala` documents exactly this
    * fixpoint case; the r14 form persisted every round until the
    * post-query sweep — a k× storage cliff at corpus scale). The
    * 1-row round winner is collected to the driver (bounded by
    * construction — q238's driver-resident model-state discipline)
    * and re-grafted as a literal, so the argmax aggregation runs ONCE
    * per round (the r14 form ran it twice) and freeing the superseded
    * frame is safe: nothing downstream re-reads it. Doubles roundtrip
    * the driver bit-exactly, so the graded output is hash-identical.
    * An EXHAUSTED pool (k > corpus size) STOPS the loop: the r14 form
    * unioned one all-NULL winner row per empty round, which the
    * oracle's `ORDER BY ... LIMIT 1` over an empty CTE never emits —
    * a cross-engine row-count divergence on any corpus smaller than
    * k (ADVICE r14). Now both engines emit exactly min(k, N) rows. */
  def kcenterCoresetFrom(e0: DataFrame, k: Int): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val e = e0.select($"vec_id".cast("long").as("vec_id"), $"v")
    val first = e.orderBy($"vec_id".asc).limit(1).collect()
    val out = collection.mutable.ArrayBuffer.empty[(Int, Long, Option[Double])]
    if (first.nonEmpty) {
      var curId = first(0).getLong(0)
      var curV = first(0).getSeq[Double](1)
      out += ((1, curId, None))
      var st: DataFrame = e.withColumn("mind", lit(2.0)) // 1−cos ∈ [0,2]
      var prev: DataFrame = null
      var i = 2
      var exhausted = false
      while (i <= k && !exhausted) {
        st = st.filter($"vec_id" =!= lit(curId))
          .withColumn("mind", least($"mind",
            lit(1.0) - graft.functions.CosineSim.cosine(s, $"v", typedLit(curV))))
          .select($"vec_id", $"v", $"mind")
          .transform(graft.Ckpt.cut) // eager: this round materializes NOW
        if (prev != null) graft.Ckpt.free(prev) // rotate: ~1 frame live
        prev = st
        val top = st
          .agg(max(struct($"mind", (-$"vec_id").as("nid"), $"v")).as("t"))
          .select((-$"t.nid").as("cid"), $"t.v".as("cv"), $"t.mind".as("radius"))
          .collect()
        if (top.isEmpty || top(0).isNullAt(0)) exhausted = true
        else {
          curId = top(0).getLong(0)
          curV = top(0).getSeq[Double](1)
          out += ((i, curId, Some(top(0).getDouble(2))))
        }
        i += 1
      }
      if (prev != null) graft.Ckpt.free(prev)
    }
    s.createDataset(out.toSeq).toDF("rank", "vec_id", "radius")
      .select($"rank", $"vec_id", round($"radius", 4).as("radius"))
      .orderBy($"rank")
  }

  /** q237 oracle: the k-round greedy unrolled — each round one
    * argmax-by-(mind DESC, vec_id ASC) LIMIT 1 and one least() fold,
    * the same IEEE ops in the same order as the Spark plan. */
  val q237Sql: String = {
    val rounds = (2 to KCenterK).map { i =>
      val pm = if (i == 2) "m1" else s"m${i - 1}"
      s"""c$i AS (SELECT vec_id AS cid, v AS cv, mind AS radius
         |  FROM $pm ORDER BY mind DESC, vec_id ASC LIMIT 1),
         |m$i AS (
         |  SELECT m.vec_id, m.v, least(m.mind, 1.0 - ${cosSql("m.v", "c.cv")}) AS mind
         |  FROM $pm m, c$i c WHERE m.vec_id <> c.cid),""".stripMargin
    }.mkString("\n")
    val sel = (2 to KCenterK).map(i =>
      s"SELECT $i AS rank, cid AS vec_id, round(radius, 4) AS radius FROM c$i")
      .mkString("\n|UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c1 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 1),
       |m1 AS (
       |  SELECT e.vec_id, e.v, least(2.0, 1.0 - ${cosSql("e.v", "c.cv")}) AS mind
       |  FROM e, c1 c WHERE e.vec_id <> c.cid),
       |$rounds
       |dummy AS (SELECT 1)
       |SELECT rank, vec_id, radius FROM (
       |SELECT 1 AS rank, cid AS vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1
       |UNION ALL $sel) t
       |ORDER BY rank""".stripMargin
  }

  /** q244: IN-ENGINE PCA BY POWER ITERATION + ABTT CORRECTION — the
    * embedding post-processing step of Mu & Viswanath 2018 ("All-but-
    * the-Top", arXiv:1702.01417, public: embedding sets share a large
    * common component; removing the mean and the top principal
    * component(s) measurably improves similarity tasks). The top PC is
    * TRAINED INSIDE THE ENGINE by T=6 unrolled power-iteration steps —
    * q238's in-engine-training discipline extended from gradient
    * descent to iterative linear algebra, hash-graded end-to-end:
    *  1. features quantize to the 2^-12 dyadic grid (components are
    *     floor(x·2^12)/2^12 — exact IEEE ops), the per-dim mean is one
    *     exact-sum aggregation + a correctly-rounded division, and the
    *     centered vectors re-quantize to the same grid;
    *  2. each step: s_i = c_i·w (products on the 2^-24 grid, bounded
    *     mantissas ⇒ EXACT at any fold order), quantized to 2^-12;
    *     g = Σ_i s_i·c_i (exact for N ≤ ~2·10^6 at these grids — at
    *     10^9 vectors coarsen the grid, the q238 knob, not a
    *     redesign); w ← floor((g/‖g‖)·2^12)/2^12, where ‖g‖ is a
    *     64-term ORDERED left fold of squares (the q52/q138 list-fold
    *     precedent: both engines fold in dimension order, so the one
    *     non-exact sum is still bit-identical) and a zero norm keeps
    *     the previous w (degenerate-input guard);
    *  3. output per vector: the final projection s_i (an exact-grid
    *     double — graded raw), its exact 2^-12 integer units, and the
    *     ABTT residual norm² ‖c_i − ŝ_i·w‖² with the residual
    *     re-quantized per dimension and the square-sum folded in
    *     dimension order (bit-identical, q203's raw-double grading).
    * The 64-double component is DRIVER-RESIDENT MODEL STATE
    * (re-broadcast as a literal per step — q238's 2^T-plan-bomb
    * lesson); each step is one narrow aggregation over the persisted
    * centered frame, so training adds nothing super-linear. LlmSpec
    * pins recovery of a constructed dominant axis and that ABTT
    * actually removes it (residual variance ≪ raw variance along w). */
  def q244AbttPca(s: SparkSession, dir: String): DataFrame =
    abttPcaFrom(vecs(s, dir).select(col("vec_id"), col("v")), steps = 6)

  /** q244's engine on an arbitrary (vec_id, v) frame. */
  def abttPcaFrom(e: DataFrame, steps: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val dim = 64
    val g12 = 4096.0
    def q12(c: Column): Column = floor(c * g12) / lit(g12)
    // 1. quantize, mean (exact sums on the shared grid), center, requantize
    // spread BEFORE the persist: the cached frame otherwise inherits the
    // single-task scan partitioning and every power-iteration pass runs
    // one task (measured ~900 ms/step serial; guide §2.5). Dyadic-grid
    // sums are exact at any aggregation order, so the parallel partial
    // aggregation is bit-identical (q238's argument, carried here).
    val xq = graft.Tables.spread(e, "vec_id")
      .select($"vec_id", transform($"v", x => q12(x)).as("xq"))
      .persist()
    val meanRows = xq.select(posexplode($"xq").as(Seq("pos", "x")))
      .groupBy($"pos").agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      .select($"pos", ($"sx" / $"n").as("m"))
      .collect().map(r => r.getAs[Int]("pos") -> r.getAs[Double]("m")).toMap
    val marr = (0 until dim).map(meanRows(_))
    val cc = xq.select($"vec_id",
        zip_with($"xq", typedLit(marr), (x, m) => q12(x - m)).as("c"))
      .persist()
    // materialize cc OFF xq's cached blocks before dropping them
    // (ADVICE r15: unpersisting first made cc's first action recompute
    // xq from source, so the xq persist bought nothing past meanRows)
    cc.count()
    xq.unpersist()
    // 2. power iteration; w is driver-resident model state
    var w: IndexedSeq[Double] = IndexedSeq.fill(dim)(0.125)
    def sqCol(wl: IndexedSeq[Double]): Column =
      q12(aggregate(zip_with($"c", typedLit(wl), (cd, wd) => cd * wd),
        lit(0.0), (acc, x) => acc + x))
    for (_ <- 1 to steps) {
      val g = cc.select(sqCol(w).as("sq"), posexplode($"c").as(Seq("pos", "cd")))
        .groupBy($"pos").agg(sum($"sq" * $"cd").as("g"))
        .collect().map(r => r.getAs[Int]("pos") -> r.getAs[Double]("g")).toMap
      val garr = (0 until dim).map(g(_))
      // ordered left fold of squares — matches the oracle's
      // list_sum(list(g*g ORDER BY pos)) bit-for-bit (q52 precedent)
      val nrm = math.sqrt(garr.foldLeft(0.0)((acc, x) => acc + x * x))
      if (nrm != 0.0)
        w = garr.map(gd => math.floor(gd / nrm * g12) / g12)
    }
    // 3. final projection + ABTT residual
    val out = cc.select($"vec_id", $"c", sqCol(w).as("proj"))
      .select($"vec_id", $"proj",
        ($"proj" * g12).cast("long").as("proj_q12"),
        aggregate(
          transform(zip_with($"c", typedLit(w), (cd, wd) => q12(cd - $"proj" * wd)),
            r => r * r),
          lit(0.0), (acc, x) => acc + x).as("rn2"))
      .orderBy($"vec_id")
    out
  }

  /** q244 oracle: the T-step power iteration unrolled CTE-by-CTE —
    * exact-grid quantizations, one ordered list fold per norm, the
    * same zero-norm guard, and the per-vector projection/residual
    * arithmetic restated over the same lists. */
  def q244Sql(steps: Int): String = {
    val iters = (1 to steps).map { i =>
      val pw = s"w${i - 1}"
      s"""s$i AS MATERIALIZED (SELECT vec_id, c,
         |  floor(list_dot_product(c, $pw.warr) * 4096) / 4096.0 AS sq
         |  FROM cc, $pw),
         |g$i AS MATERIALIZED (SELECT u.pos, sum(sq * c[u.pos]) AS g
         |  FROM s$i, unnest(generate_series(1, 64)) AS u(pos) GROUP BY u.pos),
         |n$i AS MATERIALIZED (
         |  SELECT sqrt(list_sum(list(g * g ORDER BY pos))) AS nrm FROM g$i),
         |w$i AS MATERIALIZED (SELECT CASE WHEN (SELECT nrm FROM n$i) = 0
         |    THEN (SELECT warr FROM $pw)
         |    ELSE (SELECT list(floor(g / (SELECT nrm FROM n$i) * 4096) / 4096.0
         |                      ORDER BY pos) FROM g$i) END AS warr),""".stripMargin
    }.mkString("\n")
    s"""WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |xq AS (SELECT vec_id,
       |  [floor(v[i] * 4096) / 4096.0 FOR i IN generate_series(1, 64)] AS xq
       |  FROM eall),
       |mt AS (SELECT u.pos, sum(xq[u.pos]) / count(*) AS m
       |  FROM xq, unnest(generate_series(1, 64)) AS u(pos) GROUP BY u.pos),
       |ma AS (SELECT list(m ORDER BY pos) AS marr FROM mt),
       |cc AS MATERIALIZED (SELECT vec_id,
       |  [floor((xq.xq[i] - ma.marr[i]) * 4096) / 4096.0
       |   FOR i IN generate_series(1, 64)] AS c
       |  FROM xq, ma),
       |w0 AS MATERIALIZED (SELECT [0.125 FOR i IN generate_series(1, 64)] AS warr),
       |$iters
       |fin AS (SELECT vec_id, c,
       |  floor(list_dot_product(c, wf.warr) * 4096) / 4096.0 AS proj
       |  FROM cc, w$steps wf)
       |SELECT vec_id, proj,
       |  CAST(floor(proj * 4096) AS BIGINT) AS proj_q12,
       |  list_sum(list_transform(
       |    [floor((fin.c[i] - fin.proj * wt.warr[i]) * 4096) / 4096.0
       |     FOR i IN generate_series(1, 64)],
       |    r -> r * r)) AS rn2
       |FROM fin, w$steps wt ORDER BY vec_id""".stripMargin
  }

  /** q231: HARD-NEGATIVE MINING — the contrastive-training data op
    * (public method family: in-batch/hard negatives for embedding-model
    * training, e.g. DPR, Karpukhin et al. 2020): for each query vector,
    * its top-k nearest SAME-label neighbors (positives) and its top-k
    * nearest DIFFERENT-label neighbors (hard negatives — the most
    * confusable wrong-label rows, exactly what a contrastive loss needs
    * mined). Exact cosine over the broadcast query set (q36's graded
    * brute-force shape — the allowlisted deliberate fan-out), one
    * window per (query, kind); deterministic ties (sim DESC, cid ASC).
    * Scale path: the per-label candidate generation is q66's IVF
    * machinery applied per label partition — same geometry as q185's
    * kNN, which this op extends with the kind split. */
  def q231HardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegativesFrom(vecs(s, dir))

  /** q231's exact engine on an arbitrary (vec_id, label, v) frame —
    * split out so LlmSpec can measure q234's IVF recall against the
    * exact sets on constructed clustered geometry. */
  def hardNegativesFrom(e: DataFrame, nq: Int = 10, k: Int = 5): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"label".as("qlabel"))
    val c = e.filter($"vec_id" >= nq)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"label".as("clabel"))
    val w = Window.partitionBy($"qid", $"kind").orderBy($"sim".desc, $"cid".asc)
    c.join(broadcast(q))
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("kind",
        when($"clabel" === $"qlabel", "positive").otherwise("hard_negative"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"kind", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"kind", $"rank")
  }

  /** Per-LABEL sampled-Lloyd IVF build → (label, cent_id, cv0): q66's
    * build generalized from one corpus-wide index to one index per
    * label partition, entirely declaratively — per-label seed strides
    * come from a broadcast (label → stride) params table instead of a
    * scalar subquery, every Lloyd argmax join adds a label-equality
    * conjunct, and cell means are keyed (label, cell). No driver loop:
    * label count scales freely. Same determinism contract as
    * [[sampledLloydCents]] (stride seeds, fixed tie-broken iterations
    * over the per-label training slice, DECIMAL means, keep-previous
    * for empty cells), so the whole build restates in SQL (q234's
    * oracle) and stays hash-graded. */
  private def labelLloydCents(c: DataFrame, minStride: Int,
                              lloydIters: Int): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    // seed/train predicates are OFFSET by each label's min vec_id
    // (mn % stride): a small label whose ids happen to dodge the global
    // multiples of stride would otherwise seed NO cells and silently
    // drop out; anchoring the residue class at the label's own min
    // guarantees >= 1 seed (the min itself) from one hash aggregation —
    // no per-label total order anywhere, so the build stays
    // 1000-executor-safe at any label skew
    val params = c.groupBy($"label".as("pl"))
      .agg(greatest(lit(minStride.toLong),
        floor(sqrt(count(lit(1)).cast("double"))).cast("long")).as("stride"),
        min($"vec_id").as("mn"))
      .withColumn("tstride", greatest(lit(1L), expr("stride div 8")))
    val cp = c.join(broadcast(params), $"label" === $"pl").drop("pl")
    val seeds = cp.filter(pmod($"vec_id", $"stride") === pmod($"mn", $"stride"))
      .select($"label", $"vec_id".as("cent_id"), $"v".as("cv0"))
    val train = cp.filter(pmod($"vec_id", $"tstride") === pmod($"mn", $"tstride"))
      .select($"label", $"vec_id", $"v")
    (1 to lloydIters).foldLeft(seeds) { (cs, _) =>
      val scored = train.as("t").join(cs.as("k"), col("t.label") === col("k.label"))
        .withColumn("nsim",
          graft.functions.CosineSim.cosine(s, col("t.v"), col("k.cv0")))
      val wb = Window.partitionBy(col("t.vec_id"))
        .orderBy($"nsim".desc, col("k.cent_id").asc)
      val best = scored.withColumn("rn", row_number().over(wb))
        .filter($"rn" === 1)
        .select(col("t.label").as("label"), col("k.cent_id").as("cell"),
          col("t.v").as("v"))
      val means = best
        .select($"label", $"cell", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"label", $"cell", $"pos")
        .agg((sum($"x".cast(DecimalType(18, 9))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy($"label", $"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          t => t.getField("m")).as("nv"))
      cs.as("p").join(means.as("n"),
          col("p.label") === col("n.label") && col("p.cent_id") === col("n.cell"),
          "left")
        .select(col("p.label").as("label"), col("p.cent_id").as("cent_id"),
          coalesce(col("n.nv"), col("p.cv0")).as("cv0"))
    }
  }

  /** q234: hard-negative mining THROUGH per-label IVF — q231's 100 TB
    * form, registered and graded (VERDICT r13 item 6). q231 scores the
    * broadcast probe set against the ENTIRE corpus (exact, the
    * definition anchor); at scale the candidate generation must be
    * index-pruned. The label partition is the natural shard for
    * contrastive mining: positives live in the query's own label's
    * index, hard negatives in every other label's — so build q66's IVF
    * once per label ([[labelLloydCents]]), assign each candidate to its
    * own label's nearest cell, and let each query probe the nprobe
    * nearest cells of EVERY label's index (positives and negatives fall
    * out of the same probe by the label split). A probed query touches
    * ~nprobe·√(N_l) vectors per label instead of N — the same
    * geometry/cost argument as q66, repeated per label. Deterministic
    * end-to-end (stride seeds, tie-broken argmaxes, fixed iterations),
    * so the whole pipeline restates in SQL at the session's knob values
    * and is hash-graded; recall vs the exact q231 top-5 sets is pinned
    * in LlmSpec. */
  def q234HardNegativesIvf(s: SparkSession, dir: String): DataFrame =
    hardNegativesIvfFrom(vecs(s, dir),
      nprobe = sessionIvfNprobe(s), lloydIters = sessionIvfLloydIters(s))

  def hardNegativesIvfFrom(e: DataFrame, nq: Int = 10, k: Int = 5,
                           nprobe: Int = 2, lloydIters: Int = 2): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val c = e.filter($"vec_id" >= nq)
    val q = e.filter($"vec_id" < nq)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"label".as("qlabel"))
    // eager cut (optimization r20): the per-label cents feed the
    // candidate assignment join AND the broadcast probe ranking —
    // un-cut, both re-ran the whole per-label Lloyd chain (whose fold
    // already embeds its own prior iteration twice per step)
    val cents = labelLloydCents(c.select($"label", $"vec_id", $"v"),
      31, lloydIters).transform(graft.Ckpt.cut)
    val scored = c.as("x").join(cents.as("k"), col("x.label") === col("k.label"))
      .withColumn("nsim",
        graft.functions.CosineSim.cosine(s, col("x.v"), col("k.cv0")))
    val wa = Window.partitionBy(col("x.vec_id"))
      .orderBy($"nsim".desc, col("k.cent_id").asc)
    val assigned = scored.withColumn("rn", row_number().over(wa))
      .filter($"rn" === 1)
      .select(col("x.vec_id").as("cid"), col("x.v").as("cv"),
        col("x.label").as("clabel"), col("k.cent_id").as("ccell"))
    // probes: the query set × every label's centroid table is tiny
    // (Q · Σ_l K_l rows) — rank cells per (query, label), keep nprobe
    val qp = q.crossJoin(broadcast(cents))
      .withColumn("psim", graft.functions.CosineSim.cosine(s, $"qv", $"cv0"))
    val wp = Window.partitionBy($"qid", $"label")
      .orderBy($"psim".desc, $"cent_id".asc)
    val probes = qp.withColumn("prn", row_number().over(wp))
      .filter($"prn" <= nprobe)
      .select($"qid", $"qv", $"qlabel",
        $"label".as("plabel"), $"cent_id".as("pcell"))
    val w = Window.partitionBy($"qid", $"kind").orderBy($"sim".desc, $"cid".asc)
    assigned.join(broadcast(probes),
        $"clabel" === $"plabel" && $"ccell" === $"pcell")
      .withColumn("sim", graft.functions.CosineSim.cosine(s, $"qv", $"cv"))
      .withColumn("kind",
        when($"clabel" === $"qlabel", "positive").otherwise("hard_negative"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"kind", $"rank", $"cid", round($"sim", 4).as("sim"))
      .orderBy($"qid", $"kind", $"rank")
  }

  /** One unrolled PER-LABEL Lloyd iteration (q234's oracle): lloydCtes
    * with a label-equality conjunct in the argmax join and (label,
    * cell)-keyed means — the same DECIMAL(18,9) order-independence. */
  private def labelLloydCtes(i: Int, prev: String): String =
    s"""asg$i AS (
       |  SELECT label, vec_id, v, cell FROM (
       |    SELECT t.label, t.vec_id, t.v, k.cent_id AS cell,
       |      row_number() OVER (PARTITION BY t.vec_id ORDER BY
       |        ${cosSql("t.v", "k.cv")} DESC, k.cent_id ASC) AS crn
       |    FROM tr t JOIN $prev k ON k.label = t.label) x WHERE crn = 1),
       |m$i AS (
       |  SELECT label, cell, pos,
       |    CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT label, cell, unnest(v) AS x,
       |               generate_subscripts(v, 1) - 1 AS pos FROM asg$i) t
       |  GROUP BY label, cell, pos),
       |n$i AS (SELECT label, cell, list(m ORDER BY pos) AS nv
       |        FROM m$i GROUP BY label, cell),
       |c$i AS (SELECT p.label, p.cent_id, coalesce(n$i.nv, p.cv) AS cv
       |        FROM $prev p LEFT JOIN n$i
       |          ON n$i.label = p.label AND n$i.cell = p.cent_id),""".stripMargin

  /** q234 oracle at given knob values: per-label params (GROUP BY
    * instead of q66's scalar subquery), per-label seed/training slices,
    * the label-aware Lloyd unroll, per-label final assignment, the
    * per-(query, label) probe ranking, and the kind-split top-k. */
  def q234Sql(nprobe: Int, lloydIters: Int): String = {
    val iters = (1 to lloydIters).map(i =>
      labelLloydCtes(i, if (i == 1) "c0" else s"c${i - 1}")).mkString("\n")
    val cLast = s"c$lloydIters"
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 10),
       |params AS (
       |  SELECT label,
       |    greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride,
       |    greatest(1, greatest(31, CAST(floor(sqrt(count(*))) AS BIGINT)) // 8) AS tstride,
       |    min(vec_id) AS mn
       |  FROM c GROUP BY label),
       |c0 AS (SELECT c.label, c.vec_id AS cent_id, c.v AS cv
       |       FROM c JOIN params p ON p.label = c.label
       |       WHERE c.vec_id % p.stride = p.mn % p.stride),
       |tr AS (SELECT c.label, c.vec_id, c.v
       |       FROM c JOIN params p ON p.label = c.label
       |       WHERE c.vec_id % p.tstride = p.mn % p.tstride),
       |$iters
       |fasg AS (
       |  SELECT cid, cv, clabel, cell FROM (
       |    SELECT x.vec_id AS cid, x.v AS cv, x.label AS clabel,
       |      k.cent_id AS cell,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        ${cosSql("x.v", "k.cv")} DESC, k.cent_id ASC) AS crn
       |    FROM c x JOIN $cLast k ON k.label = x.label) t WHERE crn = 1),
       |probes AS (
       |  SELECT qid, qv, qlabel, plabel, pcell FROM (
       |    SELECT q.qid, q.qv, q.qlabel, k.label AS plabel,
       |      k.cent_id AS pcell,
       |      row_number() OVER (PARTITION BY q.qid, k.label ORDER BY
       |        ${cosSql("q.qv", "k.cv")} DESC, k.cent_id ASC) AS prn
       |    FROM q CROSS JOIN $cLast k) t WHERE prn <= $nprobe),
       |sims AS (
       |  SELECT p.qid, f.cid,
       |    CASE WHEN f.clabel = p.qlabel THEN 'positive'
       |         ELSE 'hard_negative' END AS kind,
       |    ${cosSql("p.qv", "f.cv")} AS sim
       |  FROM probes p JOIN fasg f
       |    ON f.clabel = p.plabel AND f.cell = p.pcell),
       |rk AS (
       |  SELECT qid, kind, cid, sim,
       |    row_number() OVER (PARTITION BY qid, kind ORDER BY sim DESC, cid ASC) AS rank
       |  FROM sims)
       |SELECT qid, kind, rank, cid, round(sim, 4) AS sim
       |FROM rk WHERE rank <= 5
       |ORDER BY qid, kind, rank""".stripMargin
  }

  val q231Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, v AS cv, label AS clabel FROM e WHERE vec_id >= 10),
      |sims AS (
      |  SELECT q.qid, c.cid,
      |    CASE WHEN c.clabel = q.qlabel THEN 'positive' ELSE 'hard_negative' END AS kind,
      |    list_dot_product(q.qv, c.cv)
      |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      |  FROM q CROSS JOIN c),
      |rk AS (
      |  SELECT qid, kind, cid, sim,
      |    row_number() OVER (PARTITION BY qid, kind ORDER BY sim DESC, cid ASC) AS rank
      |  FROM sims)
      |SELECT qid, kind, rank, cid, round(sim, 4) AS sim
      |FROM rk WHERE rank <= 5
      |ORDER BY qid, kind, rank""".stripMargin

  val q185Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv, label AS true_label FROM e WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, v AS cv, label FROM e WHERE vec_id >= 10),
      |sims AS (
      |  SELECT q.qid, q.true_label, c.cid, c.label,
      |    list_dot_product(q.qv, c.cv)
      |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      |  FROM q CROSS JOIN c),
      |nn AS (
      |  SELECT qid, true_label, label FROM (
      |    SELECT qid, true_label, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |    FROM sims) t
      |  WHERE rank <= 5),
      |v AS (
      |  SELECT qid, true_label, label, count(*) AS votes
      |  FROM nn GROUP BY qid, true_label, label)
      |SELECT qid, label AS pred_label, votes, true_label,
      |       label = true_label AS correct
      |FROM (
      |  SELECT v.*, row_number() OVER (PARTITION BY qid
      |    ORDER BY votes DESC, label ASC) AS vr
      |  FROM v) t
      |WHERE vr = 1 ORDER BY qid""".stripMargin

  /** q190: k-NN CONFUSION MATRIX — the evaluation report over a larger
    * probe set (vec_id < 100): per (true_label, predicted) cell count
    * plus each row's per-class recall, exact integers and one rounded
    * division. What a curation team reads before trusting q185's label
    * propagation at corpus scale. */
  def q190KnnConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val preds = knnPredict(s, dir, nq = 100, k = 5)
    val rowTot = preds.groupBy($"true_label").agg(count(lit(1)).as("row_n"))
    preds.groupBy($"true_label", $"pred_label")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(rowTot), Seq("true_label"))
      .select($"true_label", $"pred_label", $"n",
        round($"n".cast("double") / $"row_n", 4).as("row_recall"))
      .orderBy($"true_label", $"pred_label")
  }

  val q190Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv, label AS true_label FROM e WHERE vec_id < 100),
      |c AS (SELECT vec_id AS cid, v AS cv, label FROM e WHERE vec_id >= 100),
      |sims AS (
      |  SELECT q.qid, q.true_label, c.cid, c.label,
      |    list_dot_product(q.qv, c.cv)
      |      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      |  FROM q CROSS JOIN c),
      |nn AS (
      |  SELECT qid, true_label, label FROM (
      |    SELECT qid, true_label, label,
      |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
      |    FROM sims) t
      |  WHERE rank <= 5),
      |v AS (
      |  SELECT qid, true_label, label, count(*) AS votes
      |  FROM nn GROUP BY qid, true_label, label),
      |p AS (
      |  SELECT qid, true_label, label AS pred_label FROM (
      |    SELECT v.*, row_number() OVER (PARTITION BY qid
      |      ORDER BY votes DESC, label ASC) AS vr
      |    FROM v) t
      |  WHERE vr = 1),
      |m AS (SELECT true_label, pred_label, count(*) AS n
      |      FROM p GROUP BY 1, 2),
      |rt AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS row_n
      |       FROM m GROUP BY 1)
      |SELECT m.true_label, m.pred_label, m.n,
      |       round(CAST(m.n AS DOUBLE) / rt.row_n, 4) AS row_recall
      |FROM m JOIN rt USING (true_label)
      |ORDER BY true_label, pred_label""".stripMargin

  /** q198: cosine THRESHOLD SWEEP — the calibration report a curation
    * team reads before picking a near-dup cutoff: for each candidate
    * threshold, how many pairs and how many distinct documents a
    * cosine-dedup pass at that threshold would touch. ONE pass total:
    * each surviving pair (q104's same-label geometry, floored at the
    * weakest threshold) explodes to its two endpoint ids, and a single
    * conditional aggregation over that stream serves all three
    * thresholds — n_pairs as endpoint-rows/2, n_docs as the filtered
    * distinct count — then `stack` unpivots the one row into the
    * 3-row report. No persisted intermediate (the r10 version cached
    * the pair frame for three scans; ADVICE r10 flagged the cache as
    * the largest block left behind — now nothing is left behind and
    * the expensive pair join runs exactly once). */
  def q198CosineThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, dir)
    val a = e.select($"label", $"vec_id".as("id1"), $"v".as("v1"))
    val b = e.select($"label".as("l2"), $"vec_id".as("id2"), $"v".as("v2"))
    val ids = a.join(b, $"label" === $"l2" && $"id1" < $"id2")
      .withColumn("cos", graft.functions.CosineSim.cosine(s, $"v1", $"v2"))
      .filter($"cos" >= 0.35)
      .select(explode(array($"id1", $"id2")).as("id"), $"cos")
    val one = ids.agg(
      (count(when($"cos" >= 0.5, 1)) / 2).cast("long").as("p1"),
      countDistinct(when($"cos" >= 0.5, $"id")).as("d1"),
      (count(when($"cos" >= 0.7, 1)) / 2).cast("long").as("p2"),
      countDistinct(when($"cos" >= 0.7, $"id")).as("d2"),
      (count(when($"cos" >= 0.9, 1)) / 2).cast("long").as("p3"),
      countDistinct(when($"cos" >= 0.9, $"id")).as("d3"))
    one.select(expr(
      "stack(3, 0.5D, p1, d1, 0.7D, p2, d2, 0.9D, p3, d3) " +
        "AS (threshold, n_pairs, n_docs)"))
      .orderBy($"threshold")
  }

  val q198Sql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |    list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      |f AS (SELECT * FROM p WHERE cos >= 0.35),
      |x AS (SELECT id1 AS id, cos FROM f UNION ALL SELECT id2, cos FROM f)
      |SELECT CAST(t.threshold AS DOUBLE) AS threshold,
      |  (SELECT count(*) FROM f WHERE cos >= t.threshold) AS n_pairs,
      |  (SELECT count(DISTINCT id) FROM x WHERE cos >= t.threshold) AS n_docs
      |FROM (VALUES (0.5), (0.7), (0.9)) AS t(threshold)
      |ORDER BY threshold""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_cosine_threshold_sweep" -> (q198CosineThresholdSweep _),
    "q190_knn_confusion" -> (q190KnnConfusion _),
    "q185_knn_label"     -> (q185KnnLabel _),
    "q36_cosine_topk"    -> (q36CosineTopk _),
    "q159_hybrid_rrf"    -> (q159HybridRrf _),
    "q37_vec_norms"      -> (q37VecNorms _),
    "q38_label_centroid" -> (q38LabelCentroid _),
    "q39_ann_lsh"        -> (q39AnnLsh _),
    "q66_ann_ivf"        -> (q66AnnIvf _),
    "q132_ann_ivf2"      -> (q132AnnIvf2 _),
    "q265_ann_recall"    -> (q265AnnRecall _),
    "q267_ann_nprobe_sweep" -> (q267AnnNprobeSweep _),
    "q268_ann_family_recall" -> (q268AnnFamilyRecall _),
    "q269_ann_recall_sampled" -> (q269AnnRecallSampled _),
    "q273_pq_rerank_sweep" -> (q273PqRerankSweep _),
    "q277_ann_ivfpq"     -> (q277AnnIvfPq _),
    "q278_ivfpq_recall"  -> (q278IvfPqRecall _),
    "q104_cosine_dups"   -> (q104CosineDups _),
    "q111_ann_md5"       -> (q111AnnMd5 _),
    "q125_cosine_sql"    -> (q125CosineSqlPairs _),
    "q133_lsh_cosine_dups" -> (q133LshCosineDups _),
    "q134_ivf_increment" -> (q134IvfIncrement _),
    "q136_ann_sq8"       -> (q136AnnSq8 _),
    "q138_ann_pq"        -> (q138AnnPq _),
    "q229_semantic_dedup" -> (q229SemanticDedup _),
    "q231_hard_negatives" -> (q231HardNegatives _),
    "q233_semdedup_increment" -> (q233SemdedupIncrement _),
    "q234_hard_negatives_ivf" -> (q234HardNegativesIvf _),
    "q237_kcenter_coreset" -> (q237KcenterCoreset _),
    "q240_semdedup_batch" -> (q240SemdedupBatch _),
    "q244_abtt_pca" -> (q244AbttPca _),
    "q250_semindex_compaction" -> (q250SemindexCompaction _),
    "q254_semindex_compact2" -> (q254SemindexCompact2 _),
  )

  // def, not val: q39's and q66's oracle SQL is synthesized from the
  // ACTIVE session's conf values (multiprobe / nprobe / lloyditers) via
  // the same generators the Spark plans use, so a harness overriding
  // the knobs still hash-matches (previously q39 was pinned to depth 1
  // and any other depth made it spuriously fail).
  def oracle: Map[String, String] = {
    val (np, li) = sessionIvf
    val (sdLi, sdTau) = sessionSemdedup
    Map(
      "q229_semantic_dedup" -> q229Sql(sdLi, sdTau),
      "q231_hard_negatives" -> q231Sql,
      "q233_semdedup_increment" -> q233Sql(sdTau, sdLi),
      "q234_hard_negatives_ivf" -> q234Sql(np, li),
      "q240_semdedup_batch" -> q240Sql(sdTau),
      "q250_semindex_compaction" -> q250Sql(sdTau, sdLi),
      "q254_semindex_compact2" -> q254Sql(sdTau, sdLi),
      "q244_abtt_pca" -> q244Sql(6),
      "q237_kcenter_coreset" -> q237Sql,
      "q198_cosine_threshold_sweep" -> q198Sql,
      "q190_knn_confusion" -> q190Sql,
      "q185_knn_label"     -> q185Sql,
      "q36_cosine_topk"    -> q36Sql,
      "q37_vec_norms"      -> q37Sql,
      "q38_label_centroid" -> q38Sql,
      "q39_ann_lsh"        -> annLshSql(sessionMultiProbe),
      "q66_ann_ivf"        -> q66Sql(np, li),
      "q132_ann_ivf2"      -> q132Sql(np, li),
      "q265_ann_recall"    -> q265Sql(np, li),
      "q267_ann_nprobe_sweep" -> q267Sql(li),
      "q268_ann_family_recall" -> q268Sql(np, li, sessionMultiProbe),
      "q269_ann_recall_sampled" -> q269Sql(np, li),
      "q273_pq_rerank_sweep" -> q273Sql,
      "q277_ann_ivfpq"     -> q277Sql(np, li),
      "q278_ivfpq_recall"  -> q278Sql(np, li),
      "q104_cosine_dups"   -> q104Sql,
      "q111_ann_md5"       -> q111Sql,
      "q125_cosine_sql"    -> q125Sql,
      "q133_lsh_cosine_dups" -> q133Sql,
      "q134_ivf_increment" -> q134Sql,
      "q136_ann_sq8"       -> q136Sql,
      "q138_ann_pq"        -> q138Sql,
      "q159_hybrid_rrf"    -> q159Sql,
    )
  }
}
