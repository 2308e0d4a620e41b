package graft.analytics

import graft.{Op, Tables}
import graft.Op.{Eval, Ext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Weighted PageRank over the nation-level trade graph — which
  * countries sit at the center of the order flow (customers in nation
  * A buying from suppliers in nation B). The reference's dashboards
  * show per-region revenue rollups but never a graph centrality; this
  * closes the iterative-graph family next to the connected-components
  * dedup (text/DedupClusters.scala).
  *
  * Determinism (the hard part of verifying an iterative double-typed
  * algorithm): ranks live as BIGINT in units of 1e-12 — every
  * per-edge contribution is floor(r·w/ow) computed WITHOUT forming
  * the raw product: `(r div ow)*w + ((r mod ow)*w) div ow` (an exact
  * identity for non-negative integers; floor division of positives is
  * identical in Spark and DuckDB), the damping update is
  * `(15*INIT) div 100 + (85*Σ) div 100`, so five iterations stay
  * bit-exact across engines and partition orders. No floats anywhere.
  * The split form bounds intermediates by max(r, ow·w) instead of
  * r·w: a direct `(r*w) div ow` overflows Long once concentrated rank
  * (~|V|·1e12) meets large edge weights, wrapping silently in Spark
  * (ANSI off) while DuckDB errors — the split keeps the contract to
  * any scale with ow < ~3e9 (√Long.MaxValue; a 100 TB lineitem count
  * per source nation sits well under that).
  *
  * Scale posture: the edge build pays ONE big-big shuffle (lineitem ⋈
  * orders on the order key) with every dim broadcast, once per
  * collection vintage ([[CopurchaseStore]]); edges aggregate to
  * nation-pair grain, so the graph is bounded by the nation SCHEMA
  * (≤ 25² edges at any corpus scale) and the five rank steps run on
  * the driver ([[pagerankLocal]]). The triangle censuses below read
  * the co-purchase edge set the same store holds.
  */
object Graph {
  /** 1.0 of rank in integer units. */
  val RankInit = 1000000000000L

  val Iters = 5

  /** Customer-nation → supplier-nation edges weighted by lineitem
    * count: one order-key shuffle; dim join strategy is the planner's
    * size-based choice (nation hinted — 25 rows at any SF). */
  private[graft] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    // customer/supplier are scaling dims — no hard broadcast hint (the
    // planner broadcasts them while they fit and shuffles when they
    // don't); nation is 25 rows at any SF and stays hinted
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(graft.Joins.broadcastIfSmall(c), col("o_custkey") === c("c_custkey"))
      .join(broadcast(n).as("cn"), c("c_nationkey") === col("cn.n_nationkey"))
      .join(graft.Joins.broadcastIfSmall(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n).as("sn"), s("s_nationkey") === col("sn.n_nationkey"))
      .groupBy(col("cn.n_name").as("src"), col("sn.n_name").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Integer weighted PageRank for SCHEMA-BOUNDED graphs, over an
    * in-memory (src, dst, w) edge list; damping 0.85 as exact integer
    * 85/100 splits. Scala's `/` and `%` on non-negative Longs are the
    * same floor-division / modulus DuckDB's `//`/`%` computes, so the
    * oracle's unrolled replay is bit-equal. Iteration order never
    * matters: each step is a pure sum over edges. */
  private[graft] def pagerankLocal(edges: Seq[(String, String, Long)],
                                   iters: Int = Iters): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val ow = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> RankInit).toMap
    val base = 15L * RankInit / 100L
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        val (rs, o) = (r(s), ow(s))
        contrib(d) += (rs / o) * w + ((rs % o) * w) / o
      }
      r = nodes.map(n => n -> (base + 85L * contrib(n) / 100L)).toMap
    }
    r
  }

  /** Served from the persisted trade-edge asset ([[CopurchaseStore]]):
    * the order-key shuffle that derives the nation graph is paid once
    * per collection vintage, every ranking run reads the ≤ 25²-row
    * stored edge table. [[tradeEdges]] remains the build-side core.
    *
    * The rank loop itself runs on the DRIVER over the collected edge
    * frame: the graph is bounded by the nation SCHEMA (25 nations →
    * ≤ 625 edges at any corpus scale — the same boundedness argument
    * as the hard `broadcast(nation)` hints), so iterating Spark jobs
    * over it is pure scheduling overhead — the previous distributed
    * form planned 18 Exchanges / 14 scans of a ≤ 625-row parquet
    * (`git show 8d51299:plans/r16/pagerank_nation_trade_before.txt`). */
  def pagerankNationTrade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = CopurchaseStore.tables(spark, dir)("trade_edges")
      .select(col("src"), col("dst"), col("w").cast(LongType))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // plan-level sort (trivial on ≤25 rows) so the DESC ordering is a
    // guarantee of the returned plan, not a property of LocalRelation
    // happening to preserve Seq order. NOTE for plan-only callers: the
    // rank loop executes EAGERLY at construction (collect + driver
    // recurrence) — explain() on the result reflects only the final
    // local frame.
    pagerankLocal(edges).toSeq
      .sortBy { case (n, r) => (-r, n) }
      .toDF("nation", "rank_units")
      .orderBy(desc("rank_units"), asc("nation"))
  }

  val pagerankNationTradeSql: String = {
    val iterCtes = (1 to Iters).map { i =>
      s"""r$i AS (
  SELECT n.node,
         CAST((15 * $RankInit) // 100 + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM((r.r // e.ow) * e.w + ((r.r % e.ow) * e.w) // e.ow) AS BIGINT) AS contrib
    FROM ew e JOIN r${i - 1} r ON e.src = r.node
    GROUP BY e.dst) c ON n.node = c.node)"""
    }.mkString(",\n")
    s"""
WITH edges AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY cn.n_name, sn.n_name),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
ew AS (
  SELECT e.src, e.dst, e.w, o.ow
  FROM edges e JOIN (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src) o
    ON e.src = o.src),
r0 AS (SELECT node, CAST($RankInit AS BIGINT) AS r FROM nodes),
$iterCtes
SELECT node AS nation, r AS rank_units FROM r$Iters
ORDER BY rank_units DESC, nation"""
  }

  // ------------------------------------------- triangle counting

  /** Triangle census of the part co-purchase graph (vertices = parts,
    * edges = distinct same-order co-occurrence) — triangle count and
    * global transitivity are THE density/community signals on a
    * co-purchase graph, and the operator family (wedge enumeration)
    * is the standard bulk-graph pattern the engine should own next to
    * PageRank and connected components.
    *
    * Scale posture — the degree-ordered orientation bound: each
    * undirected edge is oriented from its lower-(degree,key) endpoint
    * to the higher, which caps every out-degree at O(√m) regardless of
    * skew (a hub of degree d only RECEIVES edges from lower-degree
    * neighbors), so the wedge stream Σ C(outdeg,2) is O(m^1.5) worst
    * case instead of Σ C(deg,2) — unbounded under power-law hubs. Each
    * triangle {x<y<z} in the orientation order is found exactly once:
    * at its base edge x→y, as z ∈ N⁺(x) ∩ N⁺(y) — a linear hash-set
    * intersection per edge over the out-neighbor table, so the
    * Σ C(outdeg,2) wedge stream never materializes as rows (see
    * [[triangleBaseCounts]]). No cartesian anywhere; every shuffle is
    * key-partitioned.
    *
    * Determinism: all counts are exact longs; transitivity is one
    * double expression (3·t/w, both < 2⁵³ → exact conversion, single
    * IEEE divide — identical in both engines). The oracle counts the
    * same triangles via the naive key-ordered three-way self-join
    * (orientation choice cannot change the census). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    censusRowOf(spark, CopurchaseStore.edges(spark, dir))

  /** Per-node degree of an undirected (a<b) edge list. */
  private[graft] def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** Degree-ordered orientation: src is the lower-(degree,key)
    * endpoint under ord(v) = d·2³² + v (keys < 2³¹ ⇒ unique,
    * overflow-free), which caps every out-degree at O(√m). */
  private[graft] def orientedOver(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .withColumn("orda", col("da") * lit(4294967296L) + col("a"))
      .withColumn("ordb", col("db") * lit(4294967296L) + col("b"))
      .select(
        when(col("orda") < col("ordb"), col("a")).otherwise(col("b")).as("src"),
        when(col("orda") < col("ordb"), col("b")).otherwise(col("a")).as("dst"))

  /** Per-base-edge triangle counts over an oriented edge list (lazy;
    * exposed for the PlanSpec no-cartesian guard). Each triangle
    * {x, y, z} with ord(x) < ord(y) < ord(z) is oriented x→y, x→z,
    * y→z, so it is counted EXACTLY once at its base edge x→y as
    * z ∈ N⁺(x) ∩ N⁺(y) (counting at x→z would need z→y, at y→z would
    * need y→x — both run against the orientation).
    *
    * This replaces the earlier wedge-materializing form (self-join on
    * src → Σ C(outdeg,2) wedge ROWS through an exchange → closing
    * key-join): the wedge stream never exists as rows. One groupBy of
    * the oriented edges builds the out-neighbor table (each list
    * ≤ O(√m) under the degree orientation, total payload exactly m;
    * list ORDER is irrelevant — the intersection SIZE is a set
    * quantity, so collect_list's partition-order nondeterminism
    * cannot reach the result), two key equi-joins attach both endpoint
    * lists to each edge, and the per-edge count is a hash-set
    * intersection in codegen — O(Σ_edges (outdeg(x)+outdeg(y))) work
    * with nothing wedge-shaped shuffled (measured 0.8–1.3 s → 0.31 s
    * at sf0.1, same census bit-for-bit). The inner join on dst drops
    * edges whose head has no out-list — their intersection is empty,
    * so the sum is unchanged (src always has an out-list: this edge).
    *
    * JOIN ORDER (round 17): attach the HEAD endpoint's list first.
    * Exactly one of the two adjacency joins re-shuffles a stream that
    * already carries an out-neighbor array (the other ships narrow
    * (src, dst) rows into a join whose adj side is already hash-
    * partitioned by its groupBy). Joining dst first makes that
    * array-carrying re-shuffle pay Σ_edges outdeg(dst) longs instead
    * of Σ_edges outdeg(src) = Σ outdeg² — under the degree-ordered
    * orientation the dst endpoint is the higher-ordered one, whose
    * out-degree the orientation caps hardest (measured on the sampled
    * sf0.1 co-purchase graph: 5.44M vs 9.22M longs, 1.7× — and this
    * exchange is the census's dominant shuffle at the 300× rung,
    * where it ENOSPC'd the r17 ladder attempt). Intersection size is
    * symmetric, both joins stay inner on the same keys: census
    * bit-identical. */
  private[graft] def triangleBaseCounts(orientated: DataFrame): DataFrame = {
    val adj = orientated.groupBy("src")
      .agg(collect_list("dst").as("nbrs"))
    orientated.select(col("src"), col("dst"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), "dst")
      .join(adj.select(col("src"), col("nbrs").as("na")), "src")
      .select(size(array_intersect(col("na"), col("nb")))
        .cast(LongType).as("t"))
  }

  /** Eager census core over any undirected (a < b) edge list:
    * (n_vertices, n_edges, n_wedges, n_triangles). The edge list and
    * the oriented list each feed 3 consumers, so both persist for the
    * census and release before return — the Pq.trainedCodebook
    * discipline: without it the basket+distinct subtree appears ~6× in
    * the DAG and Spark only reuses the exchanges AQE happens to line
    * up. Shared by the exact census and the DOULION-sparsified one
    * (same enumeration, different edge list). */
  private def censusOf(edgesIn: DataFrame): (Long, Long, Long, Long) = {
    val edges = edgesIn.persist()
    try {
      val deg = degreesOf(edges)
      val orientated = orientedOver(edges, deg).persist()
      try {
        val t = triangleBaseCounts(orientated)
          .agg(coalesce(sum("t"), lit(0L)).cast(LongType)).head().getLong(0)
        val s = deg.agg(count(lit(1)).as("n_vertices"),
          // empty edge set: SUM over zero rows is NULL — coalesce so
          // the census row degrades to zeros instead of an NPE
          coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L))
            .cast(LongType).as("n_wedges")).head()
        (s.getLong(0), edges.count(), s.getLong(1), t)
      } finally orientated.unpersist(false)
    } finally edges.unpersist(false)
  }

  /** Triangle count of an arbitrary undirected (a < b) edge list —
    * spec surface for the sampled-census contract sweep. */
  private[graft] def trianglesOfEdges(edges: DataFrame): Long =
    censusOf(edges)._4

  /** Census row over any undirected (a < b) edge frame — the registered
    * op's tail; specs run it over hand-made baskets'
    * [[CopurchaseStore.edgesOf]]. */
  private[graft] def censusRowOf(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val (nv, ne, nw, t) = censusOf(edges)
    // both t and nw < 2⁵³ ⇒ exact double conversion, one IEEE
    // divide — bit-identical to the oracle's 3.0*t/w; a wedge-free
    // graph has no transitivity to report (NULL, not 0/0 = NaN)
    Seq((nv, ne, nw, t, if (nw == 0L) None else Some(3.0 * t / nw)))
      .toDF("n_vertices", "n_edges", "n_wedges", "n_triangles",
        "transitivity")
  }

  /** DOULION edge sparsification (Tsourakakis et al., KDD 2009): keep
    * each undirected edge with probability 1/k via a deterministic md5
    * coin on the EDGE KEY — a pure function of (a, b), so filtering the
    * stored distinct edge set samples the edge SET, any run or cluster
    * layout keeps the same edges, and the DuckDB oracle replays the
    * draw bit-for-bit. */
  private[graft] def doulionCoinE(k: Int): String =
    s"""pmod(cast(conv(substr(md5(concat('tri:', cast(a as string), '_',
       |cast(b as string))), 1, 8), 16, 10) as bigint), $k) = 0"""
      .stripMargin.replace("\n", " ")

  lazy val triangleCountSql: String = """
WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
deg AS (SELECT node, COUNT(*) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        GROUP BY node),
tri AS (SELECT COUNT(*) AS t
        FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
       t AS n_triangles,
       3.0 * t / (SELECT SUM((d * (d - 1)) // 2) FROM deg) AS transitivity
FROM tri"""

  // ------------------------------------- DOULION sampled triangle census

  /** DOULION sparsification factor: keep edges w.p. 1/k, estimate
    * t̂ = t_sampled · k³. k = 3 shrinks the wedge stream ~9× (the
    * O(m^1.5) stage that makes the exact census the ladder's most
    * expensive op — 190 s at the 300× rung) while the estimator's
    * relative σ ≈ √(k³/t) stays under 1% on any graph with ≥ a few
    * hundred thousand triangles (measured 0.44%/0.58% at the driver
    * SFs). */
  val DoulionK = 3

  /** The PRODUCTION sampled census — what a 100 TB co-purchase graph
    * runs when the exact [[triangleCount]] is too expensive: the same
    * degree-ordered enumeration over the 1/k md5-sampled edge set
    * ([[doulionCoinE]]), estimate scaled by k³. Exact on the
    * sampled graph and fully deterministic (the coin is a hash), so
    * the oracle replays it bit-for-bit — no weaker rows-only check
    * needed, unlike an RNG-seeded sampler. */
  def triangleDoulion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the stored distinct edge set filtered by the md5 coin
    val (_, ne, _, ts) = censusOf(
      CopurchaseStore.edges(spark, dir).filter(expr(doulionCoinE(DoulionK))))
    val k3 = DoulionK.toLong * DoulionK * DoulionK
    Seq((ne, ts, ts * k3))
      .toDF("n_edges_sampled", "n_triangles_sampled", "n_triangles_est")
  }

  /** The ERROR-CONTRACT row (the approx-quantiles verification-query
    * pattern): exact and sampled censuses side by side, relative error,
    * and an in-bounds boolean the oracle expects LITERALLY TRUE — the
    * contract is |t̂ − t| ≤ 5·√((t+1)·k³), a Chebyshev-style ≥4.9σ
    * envelope under the independent-triangle approximation of
    * Var(t̂) ≈ t·(k³−1), with the (t+1) guard keeping the bound
    * positive on triangle-free graphs and the 5σ slack absorbing the
    * shared-edge covariance the approximation drops (DOULION's exact
    * variance adds 2·Δ·(k−1) for Δ triangle pairs sharing an edge).
    * A red oracle row here means the estimator broke its published
    * contract. Runs BOTH censuses, so it is a driver-SF verification
    * surface, not the ladder representative — [[triangleDoulion]] is. */
  def triangleDoulionCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stored = CopurchaseStore.edges(spark, dir)
    val (_, _, _, t) = censusOf(stored)
    val (_, _, _, ts) = censusOf(stored.filter(expr(doulionCoinE(DoulionK))))
    val k3 = DoulionK.toLong * DoulionK * DoulionK
    val est = ts * k3
    val relErr =
      if (t == 0L) None else Some(math.abs(est - t).toDouble / t.toDouble)
    val inBounds =
      math.abs(est - t).toDouble <= 5.0 * math.sqrt((t + 1).toDouble * k3)
    Seq((t, est, relErr, inBounds))
      .toDF("n_triangles_exact", "n_triangles_est", "rel_err", "in_bounds")
  }

  /** Shared sampled-census CTEs: the exact edge CTE `e` (from
    * [[triangleCountSql]]'s prefix) filtered by the identical md5 coin. */
  private def doulionCtes: String = s"""
lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT DISTINCT a.p AS a, b.p AS b FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
s AS (SELECT a, b FROM e
      WHERE CAST(('0x' || substr(md5('tri:' || CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) % $DoulionK = 0),
stri AS (SELECT COUNT(*) AS ts
         FROM s e1 JOIN s e2 ON e2.a = e1.a AND e2.b > e1.b
         JOIN s e3 ON e3.a = e1.b AND e3.b = e2.b)"""

  lazy val triangleDoulionSql: String = s"""
WITH $doulionCtes
SELECT (SELECT COUNT(*) FROM s) AS n_edges_sampled,
       ts AS n_triangles_sampled,
       ts * ${DoulionK * DoulionK * DoulionK} AS n_triangles_est
FROM stri"""

  lazy val triangleDoulionCheckSql: String = s"""
WITH $doulionCtes,
etri AS (SELECT COUNT(*) AS t
         FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT etri.t AS n_triangles_exact,
       stri.ts * ${DoulionK * DoulionK * DoulionK} AS n_triangles_est,
       CASE WHEN etri.t = 0 THEN NULL
            ELSE CAST(ABS(stri.ts * ${DoulionK * DoulionK * DoulionK} - etri.t) AS DOUBLE)
                   / CAST(etri.t AS DOUBLE) END AS rel_err,
       TRUE AS in_bounds
FROM stri CROSS JOIN etri"""

  val ops: Seq[Op] = Seq(
    Op("pagerank_nation_trade", pagerankNationTrade, pagerankNationTradeSql, Ext),
    // the exact census is eval; its DOULION-sampled twin is its ladder
    // representative, and the check row runs BOTH censuses
    Op("triangle_count_copurchase", triangleCount, triangleCountSql, Eval),
    Op("triangle_doulion_copurchase", triangleDoulion, triangleDoulionSql, Ext),
    Op("triangle_doulion_check", triangleDoulionCheck, triangleDoulionCheckSql, Eval))
}
