package graft.sim

import graft.{Op, Tables}
import graft.Op.{Eval, Ext}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor — the inverted-file scale path
  * for similarity search (complementing [[Similarity.annLshBuckets]]):
  * a small k-means coarse quantizer partitions the vector space; queries
  * probe only the `nprobe` nearest cells, scanning a fraction of the
  * collection instead of all of it.
  *
  * Deterministic by construction — and therefore DuckDB-oracle-able
  * end to end (the registered `ivf_search` query replays the fixed
  * Lloyd iterations as unrolled CTEs): centroids initialize from the
  * first k vectors by vec_id, Lloyd iterations are fixed-count, every
  * argmin tie-breaks on centroid id — no RNG anywhere — and ALL
  * distance arithmetic happens on the 1e-7 integer grid (the
  * [[Similarity]] convention): components quantize to
  * floor(x·1e7) BIGINT, L2² distances are exact integer sums
  * (associative — partition order can't perturb them), and centroid
  * components are themselves grid points, floor(Σq/n) via one IEEE
  * double division that Scala, Spark and DuckDB all evaluate
  * identically. A distributed double avg() would merge partials in
  * shuffle order and not be run-to-run reproducible.
  *
  * Scale posture: the index build is `iterations` × (one broadcast of k
  * centroids + one map-side argmin + one groupBy(k) sum) — no all-pairs
  * work. The k×dim centroid table is the only driver-side state (k ≤ a
  * few thousand at any realistic scale) and is emitted as a DataFrame so
  * search never recomputes it. Search is one declarative plan — queries
  * broadcast-cross-join the k centroids to pick their `nprobe` cells,
  * then equality-join the inverted lists — so the number of Spark jobs
  * is constant in the number of queries (IvfSpec asserts this), and cost
  * is |collection| × nprobe / k per query batch.
  */
object Ivf {
  /** The built index: per-vector cell assignments (vec_id, embedding,
    * cell) and the k centroid rows (cell, centroid: array<bigint> on the
    * 1e-7 grid). */
  final case class IvfIndex(assignments: DataFrame, centroids: DataFrame)

  /** Argmin centroid id for each row of `vecs` given driver-side
    * centroids — one native codegen'd expression
    * ([[graft.functions.QArgminCell]]): the embedding quantizes once
    * into a primitive array and the k·dim distance loop is tight JVM
    * arithmetic, with the same d-then-lowest-cid tie-break the oracle
    * mirrors via `ORDER BY d2, cell`. History of this one line, because
    * each form failed a different way at scale: a when-chain fold
    * re-embedding its accumulator was O(2^k) in TREE SIZE and hung
    * Catalyst analysis at k=16 (round 6); the linear `array_min` over
    * k struct subtrees analyzed fine but EVALUATED interpreted — HOF
    * lambdas allocate ~2·dim boxed frames per candidate per row, and
    * with the Lloyd loop re-running it each iteration the interpreted
    * argmin was the dominant cost of the whole ivf_search query
    * (≈1.3s at sf0.01 and sf0.1 alike — overhead, not data; 0.6s
    * after going native).
    *
    * Null embeddings are routed to cell -1 EXPLICITLY (the leading
    * `when`; the native expression is nullIntolerant, so a bare argmin
    * would emit null). -1 matches no centroid id, so the row drops out
    * of cell joins. The `when`/`coalesce` pair keeps `cell`
    * NON-NULLABLE: downstream equi-joins on `cell` would otherwise
    * infer an `IsNotNull(cell)` filter whose condition is the whole
    * argmin expression — evaluating it twice per row (once in the
    * inferred Filter, once in the Project; seen in the ivf_search plan
    * dump).
    */
  private[graft] def assign(vecs: DataFrame, centroids: Array[(Int, Array[Long])]): DataFrame =
    vecs.withColumn("cell", nearestCell(centroids))

  /** The `rank`-th nearest cell of `embedding` (1 or 2), null embeddings
    * routed to -1 as [[assign]] describes. */
  private[sim] def nearestCell(centroids: Array[(Int, Array[Long])], rank: Int = 1): Column =
    when(col("embedding").isNull, lit(-1))
      .otherwise(coalesce(
        graft.functions.QArgminCell.of("embedding", centroids, rank), lit(-1)))

  /** Fixed-iteration Lloyd k-means over the collection; returns the final
    * centroids as 1e-7-grid integer vectors (the per-iteration groupBy(k)
    * collect is k rows — bounded driver state, not data). */
  private def lloyd(vecs: DataFrame, k: Int, iterations: Int): Array[(Int, Array[Long])] = {
    var centroids: Array[(Int, Array[Long])] = vecs
      .orderBy("vec_id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i, graft.functions.QDot.quantize(r.getAs[Seq[Float]]("embedding").toArray))
      }
    val dim = centroids.head._2.length
    (1 to iterations).foreach { _ =>
      // cell means from EXACT integer sums of the quantized components,
      // re-snapped to the grid with floor(sum/n): sums < 2^53 are exact
      // in double, so the one double division is IEEE-identical on the
      // driver, in Spark SQL and in DuckDB — bit-reproducible everywhere.
      // The sums posexplode the raw embedding and quantize the exploded
      // SCALAR — no higher-order function anywhere, so the whole pass
      // stays inside WholeStageCodegen — through ONE constant-shape
      // (cell, dim) hash aggregate instead of 64 per-dimension sum
      // columns: integer addition is order-independent, so the result
      // is bit-identical, and the per-iteration plan the analyzer must
      // rebuild (fresh centroid constants every iteration) shrinks from
      // 65 agg expressions to 2. Collected state is k·dim rows —
      // bounded by the index size, not the data.
      val means = assign(vecs, centroids)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(sum(expr(Grid.qz("v"))).as("s"), count(lit(1)).as("n"))
        .collect()
      val updated = means.groupBy(_.getAs[Int]("cell")).map { case (cell, rows) =>
        val comps = new Array[Long](dim)
        rows.foreach { r =>
          comps(r.getAs[Int]("dim")) =
            math.floor(r.getAs[Long]("s").toDouble / r.getAs[Long]("n").toDouble).toLong
        }
        (cell, comps)
      }
      // empty cells keep their previous centroid
      centroids = centroids.map { case (cid, c) => (cid, updated.getOrElse(cid, c)) }
    }
    centroids
  }

  /** Build the IVF index: assignments plus the centroid table (computed
    * once here, in the Lloyd loop — search probes it via broadcast join
    * instead of recomputing cell means). */
  def buildIndexFull(spark: SparkSession, dir: String, k: Int = 16,
                     iterations: Int = 3): IvfIndex = {
    // persisted for the Lloyd loop only (iterations × one argmin +
    // cell-mean job, each collecting bounded k·dim state) and RELEASED
    // before returning: a loop that rebuilds the index repeatedly must
    // not accumulate cached copies of the collection (the pq_search
    // variant of this leak shut down the 100× ladder's SparkContext).
    // The returned assignments recompute from the source in one scan +
    // one argmin per downstream action — centroids are driver-side
    // constants by then.
    val vecs = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    val centroids =
      try lloyd(vecs, k, iterations)
      finally vecs.unpersist(false)
    val centroidDf = spark.createDataFrame(
      centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("cell", "centroid")
    val raw = Tables.embeddings(spark, dir)
    IvfIndex(
      assign(raw, centroids).select(col("vec_id"), col("embedding"), col("cell")),
      centroidDf)
  }

  /** Cell assignment per vector (back-compat surface over
    * [[buildIndexFull]]). */
  def buildIndex(spark: SparkSession, dir: String, k: Int = 16,
                 iterations: Int = 3): DataFrame =
    buildIndexFull(spark, dir, k, iterations).assignments

  /** The SERVE path: the persisted index at the registered operating
    * point (k=[[K]], iterations=[[Iterations]]) — centroids plus the
    * inverted lists WITH their vectors (an IVF index stores the
    * vectors in its lists; that duplication is the index). First touch
    * (or a moved collection fingerprint) runs [[buildIndexFull]] and
    * persists; every later search is joins against the stored parquet,
    * no Lloyd anywhere on the query path. */
  def index(spark: SparkSession, dir: String): IvfIndex = {
    val t = IndexStore.loadOrBuild(spark, dir, "ivf",
      s"ivf-v1-k$K-it$Iterations",
      IndexStore.vintage(spark, dir, Seq("embeddings")),
      Seq("assignments", "centroids")) {
      val b = buildIndexFull(spark, dir, K, Iterations)
      Map("assignments" -> b.assignments, "centroids" -> b.centroids)
    }
    IvfIndex(t("assignments"), t("centroids"))
  }

  /** The coarse probe: the `nprobe` nearest cells of each of the first
    * `nQueries` vectors, as (query_id, q, cell) — queries ⨯ broadcast(k
    * centroids), exact grid L2², ranked by (d2, cell). Shared by
    * [[search]] and [[Ivfpq.search]]. Queries read the raw table, not
    * the assignments, so the k-candidate argmin is not evaluated just
    * to be projected away. */
  private[sim] def probe(spark: SparkSession, dir: String, centroids: DataFrame,
                         nprobe: Int, nQueries: Int): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2",
        expr(s"""aggregate(zip_with(q, centroid,
                   (x, y) -> (${Grid.qz("x")} - y) * (${Grid.qz("x")} - y)),
                 cast(0 as bigint), (a, v) -> a + v)"""))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("d2"), asc("cell"))))
      .filter(col("prank") <= nprobe)
      .select("query_id", "q", "cell")

  /** Top-k search probing the `nprobe` nearest cells per query. Queries
    * are the first `nQueries` vectors (self excluded), as in
    * [[Similarity.annCosineTopK]] — so recall against the exact result is
    * directly measurable.
    *
    * One declarative plan, no per-query jobs: [[probe]] → equality join
    * on cell against the inverted lists → exact quantized cosine
    * ([[graft.functions.QDot]]) → windowed top-k. Job count is therefore
    * independent of nQueries (spec-asserted).
    */
  def search(spark: SparkSession, dir: String, k: Int = 16, nprobe: Int = 4,
             topK: Int = 10, nQueries: Int = 5): DataFrame = {
    // at the registered operating point, serve from the persisted
    // index; a non-default k is an experiment — build inline
    val idx = if (k == K) index(spark, dir) else buildIndexFull(spark, dir, k)
    probe(spark, dir, idx.centroids, nprobe, nQueries)
      .join(idx.assignments, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.QDot.cosine("q", "embedding"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"), col("cosine"),
        col("rank").cast("int").as("rank"))
  }

  // ------------------------------------------------------------- oracle

  /** Registered-query defaults (mirrored literally in the oracle SQL). */
  val K = 16
  val Iterations = 3
  val NProbe = 4
  val TopK = 10
  val NQueries = 5

  /** CTE `name` (vec_id, qe, cell): each (vec_id, qe) row of `src`
    * with its `rank`-th nearest centroid of `cents` (cell, centroid)
    * under the (d2, cell) order — the oracle face of
    * [[graft.functions.QArgminCell]]. */
  private[sim] def nearestCellCte(name: String, src: String, cents: String,
                                  rank: Int = 1): String = s"""$name AS (
  SELECT vec_id, qe, cell FROM (
    SELECT q.vec_id, q.qe, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ${Grid.d2("q.qe", "c.centroid")}, c.cell) AS rn
    FROM $src q CROSS JOIN $cents c) WHERE rn = $rank)"""

  /** One Lloyd iteration as CTEs: argmin assignment against c{i-1},
    * per-(cell,dim) exact integer sums, floor(sum/n) re-snap, empty
    * cells keep their previous centroid. */
  private def duckIter(i: Int): String = s"""
${nearestCellCte(s"a$i", "q", s"c${i - 1}")},
m$i AS (
  SELECT cell, dim, CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
  FROM (SELECT cell, generate_subscripts(qe, 1) AS dim, unnest(qe) AS v FROM a$i)
  GROUP BY cell, dim),
c$i AS (
  SELECT p.cell, COALESCE(mm.centroid, p.centroid) AS centroid
  FROM c${i - 1} p LEFT JOIN
    (SELECT cell, list(comp ORDER BY dim) AS centroid FROM m$i GROUP BY cell) mm
  ON p.cell = mm.cell)"""

  /** The shared Lloyd-replay prefix (quantize → init → $Iterations
    * fixed iterations → final assignment `afin`) — one source of truth
    * for every IVF oracle, so the banding arithmetic cannot drift
    * between the search and cells queries. `trainWhere` restricts the
    * TRAINING collection (e.g. the base slice for the delta-assign
    * op); empty trains on everything. */
  private[sim] def ivfCommonCtesOver(trainWhere: String): String = s"""q AS (
  SELECT vec_id, ${Grid.duckQe("embedding")} AS qe FROM embeddings$trainWhere),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, qe AS centroid
  FROM (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT $K)),
${(1 to Iterations).map(duckIter).mkString(",")},
${nearestCellCte("afin", "q", s"c$Iterations")}"""

  private[sim] val ivfCommonCtes: String = ivfCommonCtesOver("")

  /** The [[probe]] replay over the `afin`/`c$Iterations` CTEs of
    * [[ivfCommonCtes]]: (query_id, qqe, cell). */
  private[sim] val probesCte: String = s"""probes AS (
  SELECT query_id, qqe, cell FROM (
    SELECT f.vec_id AS query_id, f.qe AS qqe, c.cell,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
             ORDER BY ${Grid.d2("f.qe", "c.centroid")}, c.cell) AS prank
    FROM (SELECT * FROM afin WHERE vec_id < $NQueries) f CROSS JOIN c$Iterations c)
  WHERE prank <= $NProbe)"""

  /** Full replay of buildIndexFull(k=16, iterations=3) + search(nprobe=4,
    * topK=10, nQueries=5) in DuckDB: same grid quantization, same
    * fixed-point Lloyd, same tie-breaks, same exact-integer cosine. */
  val ivfSearchSql: String = s"""
WITH $ivfCommonCtes,
$probesCte
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT p.query_id, a.vec_id, ${Grid.cosine("p.qqe", "a.qe")} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.query_id
           ORDER BY ${Grid.cosine("p.qqe", "a.qe")} DESC, a.vec_id) AS rank
  FROM probes p JOIN afin a ON p.cell = a.cell AND a.vec_id <> p.query_id)
WHERE rank <= $TopK"""

  /** The inverted-list layout of the built index — cell occupancy and
    * the smallest member id per cell (the inspection/persistence
    * surface: at 100 TB this frame IS what gets written next to the
    * centroid table when the index is stored; a serving tier reads it
    * to size per-cell fetches). One hash aggregation over the
    * assignments; same build as [[search]], so the oracle shares the
    * Lloyd-replay CTEs verbatim. */
  def cells(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    (if (k == K) index(spark, dir) else buildIndexFull(spark, dir, k))
      .assignments
      .groupBy("cell")
      .agg(count(lit(1)).as("cell_size"), min("vec_id").as("min_vec_id"))

  /** The persisted coarse-quantizer centroids, exploded to scalar
    * (cell, dim, comp) grain — the stored artifact's oracle face: the
    * replay retrains, so hash-equality proves the parquet on disk is
    * the deterministic Lloyd result. */
  def indexCentroids(spark: SparkSession, dir: String): DataFrame =
    index(spark, dir).centroids
      .select(col("cell").cast("int").as("cell"),
        posexplode(col("centroid")).as(Seq("dim", "comp")))
      .select(col("cell"), col("dim").cast("int").as("dim"),
        col("comp").cast("bigint").as("comp"))

  val ivfIndexCentroidsSql: String = s"""
WITH $ivfCommonCtes
SELECT CAST(cell AS INT) AS cell,
       CAST(generate_subscripts(centroid, 1) - 1 AS INT) AS dim,
       CAST(unnest(centroid) AS BIGINT) AS comp
FROM c$Iterations"""

  val ivfCellsSql: String = s"""
WITH $ivfCommonCtes
SELECT cell, COUNT(*) AS cell_size, MIN(vec_id) AS min_vec_id
FROM afin GROUP BY cell"""

  /** Recall@k of the IVF search against the exact brute-force top-k
    * ([[Similarity.annCosineTopK]] — same 5 queries, same k): per query,
    * how many of the true top-10 neighbors the nprobe=4 probe actually
    * surfaced. THE acceptance metric of an ANN operating point — an
    * index whose recall is not measured is not an index, it is a hope —
    * and at 100 TB this exact frame (exact top-k over a small held-out
    * query sample vs the production index) is the recurring quality
    * probe run after every index rebuild. */
  def recallVsExact(spark: SparkSession, dir: String): DataFrame =
    recallAtK(Similarity.annCosineTopK(spark, dir),
      search(spark, dir, K, NProbe, TopK, NQueries), TopK)

  /** Recall@k per query of any approximate top-k against an exact one,
    * both (query_id, vec_id, …): the share of each query's exact
    * neighbours the approximation surfaced. A left join exact→approx
    * counts misses as 0; one k-row-per-query aggregation. Shared by the
    * IVF, PQ, PQ-rerank and IVF-PQ recall probes. */
  private[sim] def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select("query_id", "vec_id")
      .join(approx.select(col("query_id"), col("vec_id")).withColumn("hit", lit(1L)),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(k.toDouble)).as("recall_at_k"))
      .orderBy("query_id")

  /** [[recallAtK]]'s DuckDB tail over CTEs (or subqueries) `exact` and
    * `approx` of (query_id, vec_id). */
  private[sim] def recallSql(exact: String, approx: String, k: Int): String = s"""SELECT e.query_id,
       CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / ${k.toDouble} AS recall_at_k
FROM $exact e LEFT JOIN $approx p ON e.query_id = p.query_id AND e.vec_id = p.vec_id
GROUP BY e.query_id
ORDER BY e.query_id"""

  /** Both sides' oracles nest verbatim as subqueries (their CTE
    * namespaces clash — both define `q`), so the recall oracle verifies
    * the composition of two already-green replays. */
  lazy val ivfRecallSql: String = s"""
WITH approx AS (SELECT query_id, vec_id FROM ($ivfSearchSql)),
exact AS (SELECT query_id, vec_id FROM (${Similarity.annCosineTopKSql}))
${recallSql("exact", "approx", TopK)}"""

  // --------------------------------------------- incremental ingest

  /** Incremental ingest into a FROZEN index — the path a serving tier
    * actually takes when vectors arrive after the index was trained:
    * nobody re-runs Lloyd per batch at 100 TB; the new vectors get one
    * argmin pass against the stored coarse quantizer and append to the
    * inverted lists, with retraining deferred to the next index
    * vintage. Here the collection's even vec_ids are the trained BASE
    * (its centroids persist via [[IndexStore]] under their own version
    * key — built once per collection vintage, k·dim longs on disk),
    * the odd vec_ids are the arriving DELTA, and the output is the
    * per-cell delta occupancy with an id-checksum — the frame an
    * ingest job emits to size list appends. The oracle replays Lloyd
    * over ONLY the base slice, then assigns the delta against those
    * frozen centroids — hash-equality proves both that the stored
    * centroids are the base-trained result and that the delta argmin
    * matches, i.e. the whole incremental path, not just the formula.
    *
    * Scale posture: serve cost is one column-pruned scan of the delta
    * + a k·dim-constant codegen'd argmin ([[graft.functions
    * .QArgminCell]]) + a ≤k-row aggregate. No shuffle of the base, no
    * Lloyd, no window. */
  def deltaAssign(spark: SparkSession, dir: String): DataFrame = {
    val delta = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 2 === 1)
    assign(delta, baseCentroids(spark, dir))
      .groupBy("cell")
      .agg(count(lit(1)).as("delta_count"),
        sum("vec_id").cast(org.apache.spark.sql.types.LongType).as("id_checksum"),
        min("vec_id").as("min_vec_id"))
      .orderBy("cell")
  }

  /** The persisted base-trained coarse quantizer as driver-side
    * constants — the frozen surface both the batch delta assignment
    * and the streaming ingest ([[graft.streaming.Streams
    * .annIngestStream]]) map through. First touch trains on the
    * even-id base and persists via [[IndexStore]]; thereafter this is
    * one tiny parquet read + a k-row collect. */
  private[graft] def baseCentroids(spark: SparkSession,
      dir: String): Array[(Int, Array[Long])] = {
    val stored = IndexStore.loadOrBuild(spark, dir, "ivf_base",
      s"ivf-base-v1-k$K-it$Iterations-even",
      IndexStore.vintage(spark, dir, Seq("embeddings")),
      Seq("centroids")) {
      val base = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 2 === 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val cents =
        try lloyd(base, K, Iterations)
        finally base.unpersist(false)
      Map("centroids" -> spark.createDataFrame(
        cents.toSeq.map { case (cid, c) => (cid, c.toSeq) })
        .toDF("cell", "centroid"))
    }
    // k rows of driver-side constants — bounded by the index, not data
    stored("centroids").collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[Seq[Long]]("centroid").toArray))
      .sortBy(_._1)
  }

  /** Lloyd over the even-id base, then frozen-centroid assignment of
    * the odd-id delta. */
  lazy val ivfDeltaAssignSql: String = s"""
WITH ${ivfCommonCtesOver(" WHERE vec_id % 2 = 0")},
qd AS (SELECT vec_id, ${Grid.duckQe("embedding")} AS qe FROM embeddings WHERE vec_id % 2 = 1),
${nearestCellCte("ad", "qd", s"c$Iterations")}
SELECT cell, COUNT(*) AS delta_count,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
       MIN(vec_id) AS min_vec_id
FROM ad GROUP BY cell ORDER BY cell"""

  val ops: Seq[Op] = Seq(
    Op("ivf_search", (s, dir) => search(s, dir, K, NProbe, TopK, NQueries), ivfSearchSql, Ext),
    Op("ivf_cells", (s, dir) => cells(s, dir, K), ivfCellsSql),
    // eval: recall re-runs the brute-force exact baseline
    Op("ivf_recall", recallVsExact, ivfRecallSql, Eval),
    Op("ivf_index_centroids", indexCentroids, ivfIndexCentroidsSql),
    Op("ivf_delta_assign", deltaAssign, ivfDeltaAssignSql, Ext))
}
