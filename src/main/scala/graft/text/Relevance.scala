package graft.text

import graft.{Det, Op, Sql, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-statistical text relevance and quality operators over the
  * `documents` table: per-document TF-IDF keyword extraction and a
  * corpus-trained unigram language-model quality score — the two
  * cheapest corpus-level signals a 100 TB training-data pipeline
  * computes after the per-document heuristics ([[TextOps.textStats]],
  * [[TextOps.langId]]).
  *
  * Both are two-aggregate shapes: one pass builds the corpus-level term
  * statistics (document frequencies / unigram counts — the "model"), a
  * second pass scores every document against them via an equi-join on
  * the term. At 100 TB the model side is materialized once per corpus
  * snapshot and reused across scoring runs; the join is a shuffle on
  * `term` whose output is exactly the occurrence count (one model row
  * matches each occurrence — no fanout), with AQE handling the
  * heavy-tailed hot terms and a broadcast when the vocabulary fits.
  *
  * Determinism: ln(·) is evaluated per row on integer-derived ratios —
  * identical IEEE inputs in both engines — and every aggregated measure
  * follows the [[graft.Det]] decimal convention, so the DuckDB oracle
  * hash-matches despite distributed summation.
  */
object Relevance {
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** (doc_id, term) per token occurrence, over documents with at least
    * one token. */
  private def occurrencesOver(d: DataFrame): DataFrame =
    d.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(expr(TextOps.toksE)).as("term"))

  /** Top-3 characteristic terms per document by smooth TF-IDF
    * (`tf · ln(N/df)`): raw term frequency times inverse document
    * frequency over the corpus. Ranking happens on the full-precision
    * double (ties — equal (tf, df) — break on the term itself, a total
    * order); the reported measure is snapped to the Det scale-2 output
    * convention. The per-document window ranks ≤ |distinct terms of one
    * doc| rows per key — hash-partitioned by `doc_id`, no global sort,
    * and Spark's WindowGroupLimit ships at most k rows per map
    * partition per key. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTermsOver(docs(spark, dir))

  /** Parameterized core over any (doc_id, text) frame (RelevanceSpec). */
  private[graft] def tfidfTopTermsOver(d: DataFrame): DataFrame = {
    val occ = occurrencesOver(d)
    val tf = occ.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = occ.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = d
      .filter(length(trim(col("text"))) > 0)
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("raw",
        col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")))
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("doc_id").orderBy(col("raw").desc, col("term").asc))
          .cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        Det.d2d(round(Det.dec6(col("raw")), 2)).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  private val tfidfTopTermsSql: String = s"""
WITH occ AS (SELECT doc_id, unnest(${TextOps.toksSql}) AS term
             FROM documents WHERE length(trim(text)) > 0),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE length(trim(text)) > 0),
scored AS (SELECT doc_id, term, tf, df,
                  CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS raw
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
rk AS (SELECT doc_id, term, tf, df, raw,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, term ASC) AS BIGINT) AS rank
       FROM scored)
SELECT doc_id, rank, term, tf, df,
       CAST(CAST(ROUND(CAST(raw AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS tfidf
FROM rk WHERE rank <= 3
ORDER BY doc_id, rank"""

  /** Corpus-trained unigram LM quality score: each document's mean token
    * log-probability under the corpus's own unigram distribution
    * (`p(t) = count(t) / total_tokens`). The classic cheap perplexity
    * proxy — boilerplate and low-entropy spam score HIGH (common tokens
    * only), natural text sits in a band, and gibberish scores LOW; a
    * quality gate keeps the band. Per-occurrence ln(p) values snap to
    * DECIMAL(18,6) before the sum ([[graft.Det]]) so the distributed
    * aggregation is partition-order independent and oracle-exact. */
  def lmQualityScore(spark: SparkSession, dir: String): DataFrame =
    lmQualityScoreOver(docs(spark, dir))

  /** Parameterized core over any (doc_id, text) frame (RelevanceSpec). */
  private[graft] def lmQualityScoreOver(d: DataFrame): DataFrame = {
    val occ = occurrencesOver(d)
    val counts = occ.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = occ.agg(count(lit(1)).as("total"))
    val lp = log(col("cnt").cast("double") / col("total").cast("double"))
    occ.join(counts, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        Det.msum(lp).as("sum_logprob"),
        Det.mavg(lp).as("avg_logprob"))
      .orderBy("doc_id")
  }

  private val lmQualityScoreSql: String = {
    val lp = "ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))"
    s"""
WITH occ AS (SELECT doc_id, unnest(${TextOps.toksSql}) AS term
             FROM documents WHERE length(trim(text)) > 0),
counts AS (SELECT term, COUNT(*) AS cnt FROM occ GROUP BY 1),
tot AS (SELECT COUNT(*) AS total FROM occ)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ${Sql.msum(lp)} AS sum_logprob,
       ${Sql.mavg(lp)} AS avg_logprob
FROM occ JOIN counts USING (term) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id"""
  }

  /** The BM25 retrieval queries — a fixed multi-term query set (the
    * non-deterministic "user input" replaced per SURVEY §7.4), shared
    * verbatim by the Spark plan and the DuckDB oracle. */
  private[graft] val Bm25Queries = Seq(
    "q_hash_join" -> "hash", "q_hash_join" -> "join",
    "q_window_agg" -> "window", "q_window_agg" -> "agg",
    "q_stream_batch" -> "stream", "q_stream_batch" -> "batch")

  private val K1 = 1.2
  private val B = 0.75

  /** BM25 ranked retrieval (Robertson/Sparck Jones, the full-text-search
    * staple TF-IDF feeds into): top-10 documents per query scored by
    *   Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln((N − df + ½)/(df + ½) + 1) (the always-positive
    * Lucene form), k1 = 1.2, b = 0.75.
    *
    * Scale posture: the broadcast join of the tiny query-term list onto
    * the occurrence stream FILTERS the corpus before anything shuffles —
    * only occurrences of query terms reach the tf aggregation, so cost
    * is proportional to the postings of the query vocabulary, not the
    * corpus (the per-document length/avgdl statistics are one count
    * aggregation each, materialized once per corpus snapshot in a real
    * deployment). Ranking is the WindowGroupLimit top-k per query.
    *
    * Determinism: each term score is a fixed double expression tree on
    * integer-derived ratios; the per-(query, doc) sum goes through the
    * DECIMAL(18,6) snap so distributed summation order cannot matter;
    * ranking orders by the exact decimal sum with doc_id tiebreak. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25ServedFrom(bm25Index(spark, dir))

  /** Layout version of the persisted text index: bump when the
    * tokenizer ([[TextOps.toksE]]) or the table schema changes. */
  private val Bm25IndexVersion = "bm25-v2"

  /** The inverted-index tables over any (doc_id, text) frame:
    *  - `postings` (term, doc_id, tf, dl) — DENORMALIZED: each posting
    *    carries its document's length, so scoring never joins a
    *    corpus-sized side at query time, and TERM-ORDERED on disk so
    *    parquet row-group min/max stats let a query-term pushdown skip
    *    everything outside the query vocabulary (the classic inverted-
    *    index layout, expressed as a sorted columnar table);
    *  - `df` (term, df) — per-term document frequencies;
    *  - `stats` — the one-row corpus census (n_docs, total tokens).
    * This is the BUILD cost (tokenize + three shuffles); everything the
    * query-time scorer needs and nothing per-query. */
  private[graft] def bm25IndexTablesOver(d: DataFrame): Map[String, DataFrame] = {
    val occ = occurrencesOver(d)
    val lens = occ.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = occ.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    // df per term from the postings grain (one row per (term, doc)) —
    // same value as COUNT(DISTINCT doc_id) without a second distinct
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum("dl").as("total"))
    val postings = tf.join(lens, "doc_id")
      .select("term", "doc_id", "tf", "dl").sort("term")
    Map("postings" -> postings, "df" -> dfT, "stats" -> stats)
  }

  /** The persisted index for a corpus directory ([[graft.sim
    * .IndexStore]] protocol: build once per (version, corpus
    * fingerprint), serve the stored parquet thereafter — the same
    * split the IVF/PQ family got in round 10; through round 10 BM25
    * re-derived postings/df/idf on every call). */
  private def bm25Index(spark: SparkSession, dir: String): Map[String, DataFrame] =
    graft.sim.IndexStore.loadOrBuild(spark, dir, "bm25", Bm25IndexVersion,
      graft.sim.IndexStore.vintage(spark, dir, Seq("documents")),
      Seq("postings", "df", "stats")) {
      bm25IndexTablesOver(docs(spark, dir))
    }

  /** The scorer over the inverted-index tables ([[bm25IndexTablesOver]]):
    * a STATIC `isin` on the fixed query vocabulary reaches the postings
    * scan as a pushed parquet filter (the term-ordered layout makes
    * row-group skipping effective), the tiny query list broadcasts onto
    * what survives, and dl rides inside each posting — no corpus-sized
    * scan, join, or aggregation anywhere on the query path. Then
    * tfq ⋈ broadcast df ⋈ broadcast stats → Σ per-(query, doc)
    * decimal-snapped term scores → top-10 per query; both joined sides
    * are bounded by the query vocabulary, so corpus size never enters.
    * The registered op runs it over the stored index; RelevanceSpec
    * runs it over index tables built in memory, so served == in-memory
    * checks the store round trip. */
  private def bm25ServedFrom(idx: Map[String, DataFrame]): DataFrame = {
    val spark = idx("postings").sparkSession
    import spark.implicits._
    val terms = Bm25Queries.map(_._2).distinct
    val q = Bm25Queries.toDF("query_id", "term")
    val tfq = idx("postings").filter(col("term").isin(terms: _*))
      .join(broadcast(q), "term")
      .select("query_id", "term", "doc_id", "tf", "dl")
    val dfT = idx("df").filter(col("term").isin(terms: _*))
    def D(c: String) = col(c).cast("double")
    val avgdl = D("total") / D("n_docs")
    val idf = log((D("n_docs") - D("df") + lit(0.5)) / (D("df") + lit(0.5)) + lit(1.0))
    val termScore = idf * (D("tf") * lit(K1 + 1.0)) /
      (D("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * D("dl") / avgdl))
    val scored = tfq.join(broadcast(dfT), "term")
      .crossJoin(broadcast(idx("stats")))
      .groupBy("query_id", "doc_id")
      .agg(sum(Det.dec6(termScore)).as("s"))
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("s").desc, col("doc_id").asc))
          .cast(LongType))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        Det.d2d(round(col("s"), 4).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("bm25"))
      .orderBy("query_id", "rank")
  }

  /** [[bm25Search]] over any (doc_id, text) frame, through index tables
    * built in memory instead of the store (RelevanceSpec's surface for
    * hand-made corpora). */
  private[graft] def bm25SearchOver(d: DataFrame): DataFrame =
    bm25ServedFrom(bm25IndexTablesOver(d))

  private val bm25SearchSql: String = {
    val values = Bm25Queries.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    s"""
WITH q(query_id, term) AS (VALUES $values),
occ AS (SELECT doc_id, unnest(${TextOps.toksSql}) AS term
        FROM documents WHERE length(trim(text)) > 0),
lens AS (SELECT doc_id, COUNT(*) AS dl FROM occ GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM lens),
qocc AS (SELECT o.doc_id, o.term, q.query_id FROM occ o JOIN q USING (term)),
tf AS (SELECT query_id, term, doc_id, COUNT(*) AS tf FROM qocc GROUP BY 1, 2, 3),
dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qocc GROUP BY term),
scored AS (
  SELECT query_id, doc_id,
         SUM(CAST(
           ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf AS DOUBLE) * ${K1 + 1.0})
           / (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE)
                / (CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           AS DECIMAL(18,6))) AS s
  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
  GROUP BY query_id, doc_id),
rk AS (
  SELECT query_id, doc_id, s,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored)
SELECT query_id, rank, doc_id,
       CAST(CAST(ROUND(s, 4) AS DECIMAL(18,4)) AS DOUBLE) AS bm25
FROM rk WHERE rank <= 10
ORDER BY query_id, rank"""
  }

  // ------------------------------------------------ hybrid retrieval

  /** Each lexical query's embedding-space twin — the "same user query,
    * embedded" pairing a hybrid-search deployment holds; fixed here
    * (the non-deterministic user input replaced per SURVEY §7.4) as
    * the first three [[graft.sim.Similarity.annCosineTopK]] query
    * vectors. */
  private[graft] val HybridQueryMap = Seq(
    ("q_hash_join", 0L), ("q_window_agg", 1L), ("q_stream_batch", 2L))

  /** Standard RRF smoothing constant (Cormack/Clarke/Büttcher). */
  val RrfK = 60

  /** Hybrid retrieval via Reciprocal Rank Fusion — the RAG-serving
    * staple: a lexical ranking ([[bm25Search]]) and a dense ranking
    * ([[graft.sim.Similarity.annCosineTopK]]) fused per query by
    * `Σ 1/(k+rank)`, which needs NO score calibration between the two
    * systems (only ranks), which is exactly why production hybrid
    * search uses it. Composes the two REGISTERED operators directly
    * (the [[graft.text.DedupClusters]] funnel pattern), so the fusion
    * can never drift from the rankings it fuses; the oracle nests both
    * already-green replays as subqueries.
    *
    * Determinism: each contribution is one IEEE divide on
    * integer-derived operands and the fusion is ONE fixed-order
    * addition of the two coalesced contributions — no distributed sum,
    * so the double hashes identically cross-engine. Ties break on
    * doc_id.
    *
    * Scale posture: both input rankings are top-10-per-query frames
    * (bounded by the query load, not the corpus); the fusion is a
    * full-outer join + per-query window over ≤20 rows per query. At
    * 100 TB the corpus-sized work lives entirely inside the two input
    * operators, whose plans are audited separately. */
  def hybridRrfSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = HybridQueryMap.toDF("query_id", "ann_qid")
    val b = bm25Search(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rank").as("brank"))
    val a = graft.sim.Similarity.annCosineTopK(spark, dir)
      .select(col("query_id").as("ann_qid"), col("vec_id").as("doc_id"),
        col("rank").as("arank"))
      .join(broadcast(m), "ann_qid")
      .select("query_id", "doc_id", "arank")
    val fused = b.join(a, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("brank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("arank")), lit(0.0))).as("rrf"))
    fused
      .withColumn("rrf_rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc))
          .cast(LongType))
      .filter(col("rrf_rank") <= 10)
      .select("query_id", "rrf_rank", "doc_id", "rrf")
      .orderBy("query_id", "rrf_rank")
  }

  lazy val hybridRrfSearchSql: String = {
    val values = HybridQueryMap.map { case (q, v) => s"('$q', $v)" }.mkString(", ")
    s"""
WITH b AS (SELECT query_id, doc_id, rank AS brank FROM ($bm25SearchSql)),
m(query_id, ann_qid) AS (VALUES $values),
a AS (SELECT m.query_id, s.vec_id AS doc_id, s.rank AS arank
      FROM (${graft.sim.Similarity.annCosineTopKSql}) s
      JOIN m ON s.query_id = m.ann_qid),
f AS (SELECT COALESCE(b.query_id, a.query_id) AS query_id,
             COALESCE(b.doc_id, a.doc_id) AS doc_id,
             COALESCE(1.0 / ($RrfK + b.brank), 0) + COALESCE(1.0 / ($RrfK + a.arank), 0) AS rrf
      FROM b FULL JOIN a ON b.query_id = a.query_id AND b.doc_id = a.doc_id)
SELECT query_id, rrf_rank, doc_id, rrf FROM (
  SELECT query_id, doc_id, rrf,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rrf_rank
  FROM f)
WHERE rrf_rank <= 10
ORDER BY query_id, rrf_rank"""
  }

  /** Second-stage rerank of the fused shortlist — the cross-encoder
    * slot of a production retrieval stack (retrieve cheap and wide,
    * then spend an expensive exact scorer on the tiny shortlist; the
    * [[graft.sim.Pq.searchRerank]] shortlist pattern applied to the
    * FUSED ranking). The expensive scorer here is the exact quantized
    * cosine between the query's embedding and each shortlisted
    * document's embedding ([[graft.functions.QDot]] — the
    * deterministic stand-in for a model-served cross-encoder score;
    * the plumbing, not the model, is the operator): a real deployment
    * swaps one `withColumn` for its model call and keeps the whole
    * plan.
    *
    * Scale posture: corpus-sized work lives entirely inside the two
    * audited input rankings; the rerank itself joins the ≤ 10-per-query
    * fused shortlist (broadcast) and the ≤ |queries| query-embedding
    * rows (broadcast) against ONE column-pruned pass over the
    * embeddings table — per-query cost is bounded by the shortlist
    * width, never the corpus. Both ranks ride along so the reorder is
    * observable (`rrf_rank` = first-stage position, `rerank` = final).
    *
    * Determinism: one quantized-integer dot and two correctly-rounded
    * sqrt/divides per pair — identical IEEE ops in both engines (the
    * [[graft.sim.Similarity.annCosineTopK]] convention); ties break on
    * doc_id. */
  def hybridRerankSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = HybridQueryMap.toDF("query_id", "ann_qid")
    val e = Tables.embeddings(spark, dir)
    val queries = e.join(broadcast(m), col("vec_id") === col("ann_qid"))
      .select(col("query_id"), col("embedding").as("q"))
    val shortlist = hybridRrfSearch(spark, dir)
      .select("query_id", "doc_id", "rrf_rank")
    e.select(col("vec_id").as("doc_id"), col("embedding").as("d"))
      .join(broadcast(shortlist), "doc_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("doc_id"), col("rrf_rank"),
        graft.functions.QDot.cosine("q", "d").as("ce_score"))
      .withColumn("rerank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("ce_score").desc, col("doc_id").asc))
        .cast(LongType))
      .select("query_id", "rerank", "doc_id", "ce_score", "rrf_rank")
      .orderBy("query_id", "rerank")
  }

  lazy val hybridRerankSearchSql: String = {
    val values = HybridQueryMap.map { case (q, v) => s"('$q', $v)" }.mkString(", ")
    def qz(x: String) = s"CAST(floor(CAST($x AS DOUBLE) * 1e7) AS BIGINT)"
    val dot =
      s"""list_sum(list_transform(generate_series(1, len(q)),
         i -> ${qz("q[i]")} * ${qz("d[i]")}))"""
    def nrm(a: String) =
      s"""sqrt(CAST(list_sum(list_transform($a, x -> ${qz("x")} * ${qz("x")})) AS DOUBLE))"""
    s"""
WITH m(query_id, ann_qid) AS (VALUES $values),
qe AS (SELECT m.query_id, e.embedding AS q
       FROM m JOIN embeddings e ON e.vec_id = m.ann_qid),
de AS (SELECT vec_id AS doc_id, embedding AS d FROM embeddings),
scored AS (
  SELECT f.query_id, f.doc_id, f.rrf_rank,
         CAST($dot AS DOUBLE) / (${nrm("q")} * ${nrm("d")}) AS ce_score
  FROM ($hybridRrfSearchSql) f
  JOIN qe ON f.query_id = qe.query_id
  JOIN de ON f.doc_id = de.doc_id)
SELECT query_id, rerank, doc_id, ce_score, rrf_rank FROM (
  SELECT query_id, doc_id, rrf_rank, ce_score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ce_score DESC, doc_id ASC) AS BIGINT) AS rerank
  FROM scored)
ORDER BY query_id, rerank"""
  }

  val ops: Seq[Op] = Seq(
    Op("tfidf_top_terms", tfidfTopTerms, tfidfTopTermsSql),
    Op("lm_quality_score", lmQualityScore, lmQualityScoreSql),
    Op("bm25_search", bm25Search, bm25SearchSql, Ext),
    Op("hybrid_rrf_search", hybridRrfSearch, hybridRrfSearchSql, Ext),
    Op("hybrid_rerank_search", hybridRerankSearch, hybridRerankSearchSql, Ext))
}
