package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence packing — the batch-preparation step of a pre-training
  * pipeline: documents are concatenated in a canonical order (doc_id)
  * into one token stream and cut into fixed-length training sequences.
  * Each document gets its global start position, its sequence id, and
  * its offset within that sequence; a document whose tokens straddle a
  * boundary simply spans two sequences (token-level packing).
  *
  * The global EXCLUSIVE cumulative sum is the interesting part at
  * scale: a `SUM(...) OVER (ORDER BY ...)` window would single-thread
  * 100 TB through one partition. Instead: range-partition on doc_id,
  * sort within partitions, and run two passes over ONE materialized
  * lineage — per-partition totals (a job whose result is bounded by
  * the partition count) feed per-partition starting offsets, then a
  * partition-local running sum adds them. Sharing one RDD instance is
  * load-bearing: range boundaries are sampled per instance, so two
  * separate DataFrame actions could see different partitionings (same
  * rule as [[graft.warehouse.Warehouse]]'s key numbering).
  */
object Packing {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens per training sequence. */
  val SeqLen = 2048L

  /** Exclusive cumulative sum of `valueCol` (Long) in `key` order,
    * appended as `out` — [[graft.Dist.exclusiveCumsum]] (shared with the
    * warehouse's surrogate-key numbering). */
  private[graft] def exclusiveCumsum(df: DataFrame, key: String,
                                     valueCol: String, out: String): DataFrame =
    graft.Dist.exclusiveCumsum(df, key, valueCol, out)

  /** (doc_id, est_bpe_tokens, start_token, seq_id, seq_offset) for the
    * whole corpus packed at [[SeqLen]]. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextOps.estBpeTokens.as("est_bpe_tokens"))
    exclusiveCumsum(d, "doc_id", "est_bpe_tokens", "start_token")
      .select(
        col("doc_id"), col("est_bpe_tokens"), col("start_token"),
        expr(s"start_token div $SeqLen").as("seq_id"),
        expr(s"start_token % $SeqLen").as("seq_offset"))
  }

  val packSequencesSql: String = s"""
WITH d AS (SELECT doc_id,
                  ${TextOps.estBpeTokensSqlE} AS est_bpe_tokens
           FROM documents),
c AS (SELECT doc_id, est_bpe_tokens,
             CAST(COALESCE(SUM(est_bpe_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
      FROM d)
SELECT doc_id, est_bpe_tokens, start_token,
       start_token // $SeqLen AS seq_id,
       start_token % $SeqLen AS seq_offset
FROM c"""

  /** Chunk width / stride (in whitespace tokens) for [[chunkDocuments]]:
    * 200-token windows advancing 150 — a 50-token overlap so no passage
    * is ever split without context, the standard retrieval/pre-training
    * chunking shape. */
  val ChunkTokens = 200
  val ChunkStride = 150

  /** Document chunking — the other batch-preparation shape next to
    * token-level packing: each document is cut into overlapping
    * fixed-width token windows ([[ChunkTokens]] wide, [[ChunkStride]]
    * apart), one output row per chunk with its token count and content
    * digest. Purely row-local (tokenize → per-doc window arithmetic →
    * explode): no shuffle at all, the plan is scan → generate — the
    * shape that holds at any corpus size. The digest stands in for the
    * chunk text in the verified output (hash-stable, row-size bounded);
    * production would carry the text column too. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocumentsOver(Tables.documents(spark, dir))

  /** Parameterized core over any (doc_id, text) frame — the spec drives
    * it with synthetic docs at the window/stride boundary sizes. */
  private[graft] def chunkDocumentsOver(d: DataFrame): DataFrame = {
    val toks = TextOps.toksE
    val k = s"""CASE WHEN size($toks) <= $ChunkTokens THEN 1
                ELSE 1 + CAST(ceil(CAST(size($toks) - $ChunkTokens AS DOUBLE)
                                   / $ChunkStride) AS INT) END"""
    d.select(col("doc_id"),
        expr(s"explode(sequence(0, $k - 1))").as("chunk_seq"),
        expr(toks).as("w"))
      .select(col("doc_id"), col("chunk_seq").cast("bigint").as("chunk_seq"),
        expr(s"slice(w, CAST(chunk_seq * $ChunkStride + 1 AS INT), $ChunkTokens)").as("cw"))
      .select(col("doc_id"), col("chunk_seq"),
        size(col("cw")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("cw"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_seq")
  }

  val chunkDocumentsSql: String = s"""
WITH t AS (SELECT doc_id, ${TextOps.toksSql} AS w FROM documents),
k AS (SELECT doc_id, w,
             CASE WHEN len(w) <= $ChunkTokens THEN 1
                  ELSE 1 + CAST(ceil(CAST(len(w) - $ChunkTokens AS DOUBLE)
                                     / $ChunkStride) AS BIGINT) END AS n_chunks
      FROM t),
c AS (SELECT doc_id, w, unnest(generate_series(0, n_chunks - 1)) AS chunk_seq FROM k),
s AS (SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
             list_slice(w, chunk_seq * $ChunkStride + 1,
                        least(chunk_seq * $ChunkStride + $ChunkTokens, len(w))) AS cw
      FROM c)
SELECT doc_id, chunk_seq,
       CAST(len(cw) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_seq"""

  /** [[packSequences]] under the TRAINED tokenizer — the end of the
    * tokenizer story (mine → train → account → PACK): per-document
    * token counts are the exact subword counts of the 8-rule trained
    * tokenizer (per DISTINCT (doc, word), joined against the
    * vocab-grain segmentation — the word-join is vocab-bounded on the
    * build side), documents with no letter-run words keep a 0-token
    * row (they still occupy their position in the canonical doc_id
    * packing order), and the same two-pass distributed exclusive
    * cumsum cuts the stream into [[SeqLen]]-token sequences. Replaces
    * the ceil(chars/4) ESTIMATE with the number the training run
    * actually pays. */
  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame = {
    val segE = TextOps.bpeTrainedSegE(spark, dir)
    val docWords = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).as("w"))
      .select(col("doc_id"), lower(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val vocabTok = docWords.select("word").distinct()
      .withColumn("n_tok", size(split(expr(segE), " ")).cast("long"))
    val docTok = docWords.join(vocabTok, "word")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("n_tok")).cast("long").as("bpe_tokens"))
    val d = Tables.documents(spark, dir).select(col("doc_id"))
      .join(docTok, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bpe_tokens"), lit(0L)).cast("long").as("bpe_tokens"))
    exclusiveCumsum(d, "doc_id", "bpe_tokens", "start_token")
      .select(
        col("doc_id"), col("bpe_tokens"), col("start_token"),
        expr(s"start_token div $SeqLen").as("seq_id"),
        expr(s"start_token % $SeqLen").as("seq_offset"))
  }

  val packSequencesBpeSql: String = s"""
${TextOps.bpeTrainCtes},
${TextOps.bpeVocabTokSqlCte},
sw AS (SELECT doc_id, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS word
       FROM documents),
swc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM sw GROUP BY 1, 2),
dt AS (SELECT doc_id, CAST(SUM(cnt * n_tok) AS BIGINT) AS t
       FROM swc JOIN vt USING (word) GROUP BY doc_id),
d AS (SELECT doc_id, CAST(COALESCE(t, 0) AS BIGINT) AS bpe_tokens
      FROM documents LEFT JOIN dt USING (doc_id)),
c AS (SELECT doc_id, bpe_tokens,
             CAST(COALESCE(SUM(bpe_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_token
      FROM d)
SELECT doc_id, bpe_tokens, start_token,
       start_token // $SeqLen AS seq_id,
       start_token % $SeqLen AS seq_offset
FROM c"""

  /** Length-bucket width (tokens) for padded batching. */
  val BucketTokens = 64L

  /** Sequences per padded batch. */
  val PadBatchSize = 16L

  /** Deterministic shard count — the parallelism knob: batching runs
    * independently per (bucket, shard), so no window partition is ever
    * wider than a shard's slice of one bucket. At 100 TB you raise
    * this with the cluster; the padding statistics are
    * shard-decomposable (each batch lives entirely inside one shard). */
  val PadShards = 8

  /** Padding-efficiency accounting for PADDED batching — the
    * encoder/seq2seq counterpart of [[packSequences]]' concat-packing:
    * documents are length-bucketed ([[BucketTokens]]-wide buckets),
    * length-SORTED within each (bucket, md5-shard), and cut into
    * [[PadBatchSize]]-sequence batches; every sequence in a batch pads
    * to the batch max. Emits per bucket: docs, batches, padded vs real
    * token totals and the waste — the report that decides bucket/batch
    * geometry before a training run burns the FLOPs.
    *
    * Scale shape: one narrow projection, one shuffle to (bucket,
    * shard) with SORT on (tok desc, doc_id) — windows never see more
    * than a shard's slice of a bucket — then two hash aggregations
    * whose outputs are batch- and bucket-bounded. The md5 shard coin
    * (the [[graft.analytics.Graph]] doulion idiom) breaks any
    * id↔length correlation, and all emitted measures are exact
    * BIGINTs, so the oracle replays the batching bit-for-bit. */
  def lengthBucketBatches(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.estBpeTokens.as("tok"))
      .withColumn("bucket", expr(s"tok div $BucketTokens"))
      .withColumn("shard", expr(
        s"""pmod(cast(conv(substr(md5(concat('lbb:', cast(doc_id as string))),
           |1, 8), 16, 10) as bigint), $PadShards)""".stripMargin))
      .withColumn("rn", row_number().over(
        Window.partitionBy("bucket", "shard").orderBy(desc("tok"), asc("doc_id"))))
      .withColumn("batch", expr(s"(rn - 1) div $PadBatchSize"))
      .groupBy("bucket", "shard", "batch")
      .agg(count(lit(1)).as("n_in_batch"), max("tok").as("mx_tok"),
        sum("tok").as("sum_tok"))
      .groupBy("bucket")
      .agg(sum(col("n_in_batch")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_batches"),
        sum(col("mx_tok") * col("n_in_batch")).cast("long").as("padded_tokens"),
        sum(col("sum_tok")).cast("long").as("real_tokens"))
      .withColumn("wasted_tokens",
        (col("padded_tokens") - col("real_tokens")).cast("long"))
      .orderBy("bucket")
  }

  val lengthBucketBatchesSql: String = s"""
WITH d AS (SELECT doc_id, ${TextOps.estBpeTokensSqlE} AS tok FROM documents),
b AS (SELECT doc_id, tok, tok // $BucketTokens AS bucket,
             CAST(('0x' || substr(md5('lbb:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
               AS BIGINT) % $PadShards AS shard
      FROM d),
r AS (SELECT bucket, shard, tok,
             ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                ORDER BY tok DESC, doc_id) AS rn
      FROM b),
g AS (SELECT bucket, shard, (rn - 1) // $PadBatchSize AS batch,
             COUNT(*) AS n_in_batch, MAX(tok) AS mx_tok, SUM(tok) AS sum_tok
      FROM r GROUP BY 1, 2, 3)
SELECT bucket,
       CAST(SUM(n_in_batch) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(mx_tok * n_in_batch) AS BIGINT) AS padded_tokens,
       CAST(SUM(sum_tok) AS BIGINT) AS real_tokens,
       CAST(SUM(mx_tok * n_in_batch) - SUM(sum_tok) AS BIGINT) AS wasted_tokens
FROM g GROUP BY bucket ORDER BY bucket"""

  val inventory: Map[String, Q] = Map(
    "pack_sequences"  -> (packSequences _),
    "pack_sequences_bpe" -> (packSequencesBpe _),
    "chunk_documents" -> (chunkDocuments _),
    "length_bucket_batches" -> (lengthBucketBatches _))

  val oracle: Map[String, String] = Map(
    "pack_sequences"  -> packSequencesSql,
    "pack_sequences_bpe" -> packSequencesBpeSql,
    "chunk_documents" -> chunkDocumentsSql,
    "length_bucket_batches" -> lengthBucketBatchesSql)
}
