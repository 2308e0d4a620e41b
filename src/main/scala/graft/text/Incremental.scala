package graft.text

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication — the shape that actually runs at
  * 100 TB. Nobody re-minhashes an exabyte-class corpus every time a new
  * crawl increment lands; the corpus is represented by its persisted
  * MinHash-LSH BAND INDEX — `(band, bucket)` distinct, a few dozen
  * bytes per document instead of its text — and each increment is
  * signed once and probed against that index:
  *
  *   - a new document whose band bucket matches ANY indexed bucket is a
  *     near-duplicate candidate of something already ingested
  *     (`is_novel = false`);
  *   - a document matching no bucket is certified novel at the LSH
  *     operating point and joins the corpus (and its bands join the
  *     index — the index is append-only under ingestion).
  *
  * Unlike the pairwise candidate join ([[TextOps.dedupMinhashLsh]]),
  * the index probe needs NO bucket cap: the index side is distinct per
  * `(band, bucket)`, so the join output is bounded by the increment's
  * own band count (4 rows/doc) however hot the corpus bucket — a
  * membership test, not a pair enumeration. At scale the index is
  * bucketed/bloom-indexed on `bucket` so the probe shuffles only the
  * increment's signatures; Spark expresses the same join and, when the
  * increment is a daily-sized sliver, broadcasts it.
  *
  * The registered query stands in for the corpus/increment split with a
  * deterministic 80/20 `doc_id % 10` partition of the `documents` table
  * (corpus: `% 10 < 8`; increment: `% 10 >= 8`) so the DuckDB oracle can
  * replay the whole thing — signatures, index, probe — bit-for-bit.
  * Documents under 3 tokens carry no signature (the [[TextOps.minhashE]]
  * precondition) and are excluded on both sides, exactly as in
  * [[TextOps.dedupMinhashLsh]].
  */
object Incremental {
  /** Per-increment-document membership verdict against the corpus band
    * index: `matched_bands` ∈ 0..4 indexed buckets hit, `is_novel` when
    * none. One signature pass over the table feeds BOTH sides (the split
    * filters the band rows, not the scan). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    // single-file input: parallelize the signature computation
    dedupIncrementalOver(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism))

  /** Parameterized core over any (doc_id, text) frame — the spec drives
    * it with clone/pile corpora (IncrementalDedupSpec). */
  private[graft] def dedupIncrementalOver(d: DataFrame): DataFrame = {
    val bands = TextOps.minhashBands(d)
    val index = bands.filter(col("doc_id") % 10 < 8)
      .select("band", "bucket").distinct()
    bands.filter(col("doc_id") % 10 >= 8)
      .select("doc_id", "band", "bucket")
      .join(index.withColumn("hit", lit(1L)), Seq("band", "bucket"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("matched_bands"))
      .select(col("doc_id"), col("matched_bands"),
        (col("matched_bands") === 0L).as("is_novel"))
      .orderBy("doc_id")
  }

  private[text] val dedupIncrementalSql: String = TextOps.minhashBandCtes + """,
idx AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id % 10 < 8),
inc AS (SELECT doc_id, band, bucket FROM bands WHERE doc_id % 10 >= 8)
SELECT inc.doc_id,
       CAST(SUM(CASE WHEN idx.band IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched_bands,
       CAST(SUM(CASE WHEN idx.band IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = 0 AS is_novel
FROM inc LEFT JOIN idx ON inc.band = idx.band AND inc.bucket = idx.bucket
GROUP BY inc.doc_id
ORDER BY doc_id"""

  val ops: Seq[Op] = Seq(
    Op("dedup_incremental", dedupIncremental, dedupIncrementalSql))
}
