package graft.sim

import graft.{Op, Tables}
import graft.Op.{Eval, Ext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (PQ + asymmetric distance computation) —
  * the memory-side counterpart of the IVF coarse quantizer in
  * [[Ivf]]: the 64-dim embedding splits into [[M]] = 8 subspaces of
  * [[SubDim]] = 8 components, each subspace trains its own
  * [[KCodes]] = 16-codeword codebook (fixed-iteration Lloyd, exactly
  * the [[Ivf]] recipe per subspace), and every vector compresses to 8
  * one-byte codes — 64 floats → 8 bytes, the standard 32× memory cut
  * that lets a 100 TB embedding corpus fit an in-RAM serving tier.
  *
  * Search is ADC: a query computes one 8×16 table of partial squared
  * distances to every codeword (M·K tiny integer ops), then every
  * candidate's approximate distance is just 8 table lookups summed —
  * the scan never touches raw vectors. In the DataFrame formulation
  * the lookup is an equi-join of the code column against the
  * broadcast distance table and a partial-combined SUM — no window
  * over candidates, no all-pairs float math.
  *
  * Deterministic by the same construction that made IVF oracle-able:
  * all components live on the 1e-7 integer grid, every argmin
  * tie-breaks (d2, code) via a `min(struct(...))` aggregate (partial-
  * combinable — deliberately NOT a row_number window over the
  * n·M·K assignment frame), codeword means are floor(Σ/n) off exact
  * integer sums, and ADC distances are exact BIGINT sums — so DuckDB
  * replays codebook training, encoding and search bit-for-bit.
  *
  * Scale posture: training state is M·K·SubDim = 1024 integers
  * (driver-bounded, like IVF's k×dim); each Lloyd pass is one
  * broadcast join + one partial-combined aggregate over n·M rows;
  * encoding is the same join shape once; ADC search cost is
  * n·M lookup-rows per query batch with the table broadcast. Nothing
  * is ever quadratic in the collection.
  */
object Pq {
  val M = 8
  val SubDim = 8
  val KCodes = 16
  val Iterations = 2
  val TopK = 10
  val NQueries = 5

  /** One row per (vec_id, sub) with the grid-quantized subvector. */
  private[graft] def subvecs(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        explode(expr(s"sequence(0, ${M - 1})")).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        expr(s"transform(slice(embedding, sub * $SubDim + 1, $SubDim), x -> ${Grid.qz("x")})")
          .as("qsub"))

  /** Hot-path distance: native [[graft.functions.QL2]] over the
    * already-quantized subvector and codeword (the HOF twin stays in
    * the oracles). */
  private[sim] val subD2 =
    graft.functions.QL2.of(col("qsub"), col("codeword"))

  /** Nearest codeword per (vec_id, sub): broadcast codebook join +
    * min(struct(d2, code, ...)) — tie-break (d2, lowest code), no
    * window, partial-combinable at any scale. */
  private[sim] def assignCodes(sv: DataFrame, cent: DataFrame): DataFrame =
    sv.join(broadcast(cent), "sub")
      .withColumn("d2", subD2)
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d2"), col("code"), col("qsub"))).as("m"))
      .select(col("vec_id"), col("sub"),
        col("m.code").as("code"), col("m.qsub").as("qsub"))

  /** Joint per-subspace Lloyd: codebooks initialize from the first
    * [[KCodes]] vec_ids' subvectors, then [[Iterations]] fixed
    * assignment/mean rounds; empty codes keep their codeword. */
  private[graft] def codebook(sv: DataFrame): DataFrame = {
    val init = sv
      .withColumn("rn", row_number().over(
        Window.partitionBy("sub").orderBy("vec_id")))
      .filter(col("rn") <= KCodes)
      .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
        col("qsub").as("codeword"))
    (1 to Iterations).foldLeft(init) { (cent, _) =>
      val means = assignCodes(sv, cent)
        .select(col("sub"), col("code"), posexplode(col("qsub")).as(Seq("dim", "v")))
        .groupBy("sub", "code", "dim")
        .agg(expr("cast(floor(cast(sum(v) as double) / count(*)) as bigint)").as("comp"))
        .groupBy("sub", "code")
        .agg(expr("transform(array_sort(collect_list(struct(dim, comp))), s -> s.comp)")
          .as("codeword"))
      cent.alias("p")
        .join(means.alias("mm"), Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("mm.codeword"), col("p.codeword")).as("codeword"))
    }
  }

  /** Train the codebook and MATERIALIZE it to a literal M·K-row frame.
    * The subvector frame is persisted only for the Lloyd collect and
    * released before returning — a serving/bench loop that builds the
    * index repeatedly must not accumulate cached lineage (the round-9
    * 100× ladder lost its SparkContext to exactly that: seven
    * unreleased 4M-row cached frames from seven back-to-back searches
    * OOM'd an executor thread and every subsequent operator died with
    * "SparkContext was shut down"). Downstream encode/search is then
    * ONE pass over the re-read collection against driver-side
    * constants — the same shape [[Ivf.lloyd]] always had. */
  private[sim] def trainedCodebook(spark: SparkSession, svRaw: DataFrame): DataFrame = {
    val sv = svRaw.persist()
    val rows =
      try codebook(sv).collect()
      finally sv.unpersist(false)
    import spark.implicits._
    rows.toSeq
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[Seq[Long]]("codeword").toList))
      .toDF("sub", "code", "codeword")
  }

  /** The trained artifact pair a serving tier stores: the M·K codebook
    * and the 8-codes-per-vector encoding. */
  final case class PqIndex(codebook: DataFrame, codes: DataFrame)

  /** The BUILD path: train the codebook (fixed-iteration Lloyd per
    * subspace) and encode the whole collection — the multi-pass job a
    * deployment runs once per collection vintage. */
  def buildIndex(spark: SparkSession, dir: String): PqIndex =
    buildIndexOver(spark, Tables.embeddings(spark, dir))

  /** Build core over any (vec_id, embedding) frame (spec surface). */
  private[graft] def buildIndexOver(spark: SparkSession, vecs: DataFrame): PqIndex = {
    val sv = subvecs(vecs)
    val cent = trainedCodebook(spark, sv)
    PqIndex(cent, assignCodes(sv, cent).select("vec_id", "sub", "code"))
  }

  /** Everything that shapes the stored layout, in the version string:
    * a changed hyperparameter must never serve a stale artifact. */
  private def indexVersion = s"pq-v1-m$M-d$SubDim-k$KCodes-it$Iterations"

  /** The SERVE path: load the persisted index (build+persist on first
    * touch or when the collection fingerprint moved) — search cost is
    * then the ADC plan alone, decoupled from training. */
  def index(spark: SparkSession, dir: String): PqIndex = {
    val t = IndexStore.loadOrBuild(spark, dir, "pq", indexVersion,
      IndexStore.vintage(spark, dir, Seq("embeddings")), Seq("codebook", "codes")) {
      val b = buildIndex(spark, dir)
      Map("codebook" -> b.codebook, "codes" -> b.codes)
    }
    PqIndex(t("codebook"), t("codes"))
  }

  /** ADC top-k search over the PQ-encoded collection: per-query 8×16
    * integer distance table (broadcast) → code-column equi-join →
    * partial-combined SUM → top-k by exact integer distance. Runs
    * against the PERSISTED index — the plan touches the codes table
    * and the query rows, never retrains. */
  def search(spark: SparkSession, dir: String): DataFrame =
    searchCore(Tables.embeddings(spark, dir), index(spark, dir))

  /** Inline-trained twin over an arbitrary frame (spec surface — the
    * store is bypassed so adversarial corpora never touch it). */
  private[graft] def searchOver(spark: SparkSession, vecs: DataFrame): DataFrame =
    searchCore(vecs, buildIndexOver(spark, vecs))

  /** The full-collection ADC scan: codes ⨝ broadcast distance table,
    * self excluded, to the top `depth` (see [[adcTopK]]). */
  private[sim] def searchCore(queryVecs: DataFrame, idx: PqIndex, depth: Int = TopK,
                              rankCol: String = "rank"): DataFrame =
    adcTopK(idx.codes.join(broadcast(distanceTable(queryVecs, idx.codebook)), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id")), depth, rankCol)

  /** The per-query ADC table: the grid L2² from each of the first
    * [[NQueries]] vectors' subvectors to every codeword of its subspace,
    * as (query_id, sub, code, pd2). Shared by PQ search, the rerank
    * shortlist and [[Ivfpq.search]]. */
  private[sim] def distanceTable(queryVecs: DataFrame, codebook: DataFrame): DataFrame =
    subvecs(queryVecs.filter(col("vec_id") < NQueries))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebook), "sub")
      .withColumn("pd2", subD2)
      .select("query_id", "sub", "code", "pd2")

  /** ADC top-`depth`: each candidate's looked-up partial distances
    * (query_id, vec_id, pd2) summed to its exact-integer `approx_d2`,
    * ranked per query by (approx_d2, vec_id) into `rankCol` — `TopK`
    * for search, [[Shortlist]] (as `arank`, apart from the exact
    * stage's `rank`) for the rerank. */
  private[sim] def adcTopK(lookups: DataFrame, depth: Int,
                           rankCol: String = "rank"): DataFrame =
    lookups.groupBy("query_id", "vec_id")
      .agg(sum("pd2").cast("bigint").as("approx_d2"))
      .withColumn(rankCol, row_number().over(
        Window.partitionBy("query_id").orderBy(asc("approx_d2"), asc("vec_id"))))
      .filter(col(rankCol) <= depth)
      .select(col("query_id"), col("vec_id"), col("approx_d2"),
        col(rankCol).cast("int").as(rankCol))

  /** ADC shortlist size for the re-rank stage. */
  val Shortlist = 50

  /** PQ search the way a serving tier actually runs it: the compressed
    * ADC scan produces a [[Shortlist]]-deep candidate list (cheap, 8
    * lookups per candidate), then ONLY those candidates' raw vectors
    * are fetched and exactly re-ranked — the standard two-stage recipe
    * that buys back the recall the 8-byte codes give up. The exact
    * stage touches Shortlist·queries rows, never the collection. */
  def searchRerank(spark: SparkSession, dir: String): DataFrame =
    searchRerankCore(spark, dir, index(spark, dir))

  private def searchRerankCore(spark: SparkSession, dir: String,
                               idx: PqIndex): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    val shortlist = searchCore(vecs, idx, Shortlist, "arank").select("query_id", "vec_id")
    val cand = vecs.select(col("vec_id"), gridVec.as("qv"))
    exactRanked(shortlist.join(cand, "vec_id").join(broadcast(queries(vecs)), "query_id"))
      .select(col("query_id"), col("vec_id"), col("d2"),
        col("rank").cast("int").as("rank"))
  }

  /** Recall@k of the two-stage (ADC shortlist → exact re-rank) search
    * vs the exact top-k — the operating point a serving tier ships. */
  def rerankRecall(spark: SparkSession, dir: String): DataFrame =
    Ivf.recallAtK(exactTopK(spark, dir), searchRerank(spark, dir), TopK)

  /** The raw embedding on the grid, and the query sample as (query_id, qq). */
  private def gridVec = expr(s"transform(embedding, x -> ${Grid.qz("x")})")
  private def queries(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < NQueries).select(col("vec_id").as("query_id"), gridVec.as("qq"))

  /** The exact stage: (query, candidate) pairs with grid vectors `qq`
    * and `qv`, scored by exact integer L2² and ranked per query by
    * (d2, vec_id) to the top [[TopK]]. Shared by the rerank and by
    * [[exactTopK]]. */
  private def exactRanked(pairs: DataFrame): DataFrame =
    pairs.withColumn("d2", graft.functions.QL2.of(col("qq"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("d2"), asc("vec_id"))))
      .filter(col("rank") <= TopK)

  /** Exact integer-grid L2 top-k over the query sample: the baseline of
    * the PQ, PQ-rerank and IVF-PQ recall probes. */
  private[sim] def exactTopK(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    exactRanked(vecs.select(col("vec_id"), gridVec.as("qv"))
        .crossJoin(broadcast(queries(vecs)))
        .filter(col("vec_id") =!= col("query_id")))
      .select("query_id", "vec_id")
  }

  /** Recall@k of ADC search against the EXACT integer-grid L2 top-k
    * (brute force over the query sample — the recurring post-rebuild
    * quality probe, as with [[Ivf.recallVsExact]]). */
  def recallVsExact(spark: SparkSession, dir: String): DataFrame =
    Ivf.recallAtK(exactTopK(spark, dir), search(spark, dir), TopK)

  /** The persisted codebook, exploded to scalar (sub, code, dim, comp)
    * grain — the oracle-checkable face of the STORED artifact: the
    * DuckDB replay retrains from scratch, so hash-equality proves the
    * parquet on disk IS the deterministic training result (catching a
    * stale or corrupted store, not just a wrong formula). */
  def indexCodebook(spark: SparkSession, dir: String): DataFrame =
    index(spark, dir).codebook
      .select(col("sub"), col("code"),
        posexplode(col("codeword")).as(Seq("dim", "comp")))
      .select(col("sub"), col("code"), col("dim").cast("int").as("dim"),
        col("comp").cast("bigint").as("comp"))

  /** The persisted encoding — one row per (vec_id, subspace) with the
    * trained code. THE serving table (8 bytes/vector); data-sized by
    * design, exactly what an in-RAM ADC tier loads. */
  def indexCodes(spark: SparkSession, dir: String): DataFrame =
    index(spark, dir).codes
      .select(col("vec_id"), col("sub"), col("code").cast("int").as("code"))

  // ------------------------------------------------------------- oracle

  /** CTE `name` (vec_id, sub, qsub, code): each subvector of `{pfx}sv`
    * with its nearest codeword of `cents` under the (d2, code) order. */
  private def nearestCodeCte(name: String, pfx: String, cents: String): String = s"""$name AS (
  SELECT vec_id, sub, qsub, code FROM (
    SELECT s.vec_id, s.sub, s.qsub, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
             ORDER BY ${Grid.d2("s.qsub", "c.codeword")}, c.code) AS rn
    FROM ${pfx}sv s JOIN $cents c ON s.sub = c.sub) WHERE rn = 1)"""

  private def pqIter(i: Int, pfx: String): String = s"""
${nearestCodeCte(s"${pfx}a$i", pfx, s"${pfx}c${i - 1}")},
${pfx}m$i AS (
  SELECT sub, code, dim, CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
  FROM (SELECT sub, code, generate_subscripts(qsub, 1) AS dim, unnest(qsub) AS v FROM ${pfx}a$i)
  GROUP BY sub, code, dim),
${pfx}c$i AS (
  SELECT p.sub, p.code, COALESCE(mm.codeword, p.codeword) AS codeword
  FROM ${pfx}c${i - 1} p LEFT JOIN
    (SELECT sub, code, list(comp ORDER BY dim) AS codeword FROM ${pfx}m$i GROUP BY sub, code) mm
  ON p.sub = mm.sub AND p.code = mm.code)"""

  /** Shared replay prefix: quantize → subvectors → init codebooks →
    * fixed Lloyd rounds → final encoding. `pfx` namespaces every CTE so
    * the replay can coexist with the IVF replay in one oracle
    * ([[Ivfpq]]); pfx = "" keeps the standalone PQ oracles byte-stable.
    * The query/candidate frames (`q` feeding `{pfx}sv`) stay UNprefixed
    * — both replays quantize identically, so they share one `q`. */
  private[sim] def pqCtes(pfx: String): String = s"""${if (pfx.isEmpty) s"""q AS (SELECT vec_id, ${Grid.duckQe("embedding")} AS qe FROM embeddings),
""" else ""}${pfx}sv AS (
  SELECT vec_id, sub,
         list_transform(generate_series(1, $SubDim), j -> qe[sub * $SubDim + j]) AS qsub
  FROM q, generate_series(0, ${M - 1}) t(sub)),
${pfx}c0 AS (
  SELECT sub, CAST(rn - 1 AS INT) AS code, qsub AS codeword FROM (
    SELECT sub, qsub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
    FROM ${pfx}sv) WHERE rn <= $KCodes),
${(1 to Iterations).map(pqIter(_, pfx)).mkString(",")},
${nearestCodeCte(s"${pfx}codes", pfx, s"${pfx}c$Iterations")},
${pfx}dtab AS (
  SELECT f.vec_id AS query_id, c.sub, c.code,
         ${Grid.d2("f.qsub", "c.codeword")} AS pd2
  FROM (SELECT * FROM ${pfx}sv WHERE vec_id < $NQueries) f
  JOIN ${pfx}c$Iterations c ON f.sub = c.sub)"""

  private val pqCommonCtes: String = s"""${pqCtes("")},
approx AS (
  SELECT d.query_id, k.vec_id, CAST(SUM(d.pd2) AS BIGINT) AS approx_d2
  FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
  WHERE k.vec_id <> d.query_id
  GROUP BY d.query_id, k.vec_id),
ranked AS (
  SELECT query_id, vec_id, approx_d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY approx_d2, vec_id) AS INT) AS rank
  FROM approx)"""

  val pqSearchSql: String = s"""
WITH $pqCommonCtes
SELECT query_id, vec_id, approx_d2, rank FROM ranked WHERE rank <= $TopK
"""

  /** [[exactTopK]]'s replay over the quantized `q` CTE. */
  private[sim] val exactCte: String = s"""exact AS (
  SELECT query_id, vec_id FROM (
    SELECT f.vec_id AS query_id, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
             ORDER BY ${Grid.d2("f.qe", "a.qe")}, a.vec_id) AS rn
    FROM (SELECT * FROM q WHERE vec_id < $NQueries) f
    CROSS JOIN q a WHERE a.vec_id <> f.vec_id) WHERE rn <= $TopK)"""

  /** The two-stage replay: the ADC [[Shortlist]] re-ranked by exact
    * integer L2², as `rr` (query_id, vec_id, d2, rank). */
  private val rerankCtes: String = s"""shortlist AS (SELECT query_id, vec_id FROM ranked WHERE rank <= $Shortlist),
rr AS (
  SELECT query_id, vec_id, d2, rank FROM (
    SELECT s.query_id, s.vec_id,
           CAST(${Grid.d2("f.qe", "a.qe")} AS BIGINT) AS d2,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
             ORDER BY ${Grid.d2("f.qe", "a.qe")}, s.vec_id) AS INT) AS rank
    FROM shortlist s
    JOIN q a ON s.vec_id = a.vec_id
    JOIN q f ON s.query_id = f.vec_id)
  WHERE rank <= $TopK)"""

  val pqRecallSql: String = s"""
WITH $pqCommonCtes,
pq_top AS (SELECT query_id, vec_id FROM ranked WHERE rank <= $TopK),
$exactCte
${Ivf.recallSql("exact", "pq_top", TopK)}"""

  val pqSearchRerankSql: String = s"""
WITH $pqCommonCtes,
$rerankCtes
SELECT query_id, vec_id, d2, rank FROM rr"""

  val pqRerankRecallSql: String = s"""
WITH $pqCommonCtes,
$rerankCtes,
$exactCte
${Ivf.recallSql("exact", "rr", TopK)}"""

  val pqIndexCodebookSql: String = s"""
WITH ${pqCtes("")}
SELECT CAST(sub AS INT) AS sub, CAST(code AS INT) AS code,
       CAST(generate_subscripts(codeword, 1) - 1 AS INT) AS dim,
       CAST(unnest(codeword) AS BIGINT) AS comp
FROM c$Iterations"""

  val pqIndexCodesSql: String = s"""
WITH ${pqCtes("")}
SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code FROM codes"""

  val ops: Seq[Op] = Seq(
    Op("pq_search", search, pqSearchSql, Ext),
    Op("pq_search_rerank", searchRerank, pqSearchRerankSql, Ext),
    // eval: recall re-runs the brute-force exact baseline
    Op("pq_recall", recallVsExact, pqRecallSql, Eval),
    Op("pq_rerank_recall", rerankRecall, pqRerankRecallSql, Eval),
    Op("pq_index_codebook", indexCodebook, pqIndexCodebookSql),
    Op("pq_index_codes", indexCodes, pqIndexCodesSql))
}
