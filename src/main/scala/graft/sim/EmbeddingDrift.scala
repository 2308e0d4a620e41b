package graft.sim

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-space distribution drift — per-label centroid comparison
  * between two slices of the corpus (here the deterministic vec_id
  * parity split standing in for yesterday's batch vs today's): the
  * cosine between the two centroids and the L2 shift. The
  * embedding-side counterpart of [[graft.monitor.Drift]]'s categorical
  * PSI: a retrained encoder, a scraper regression, or topic drift moves
  * centroids long before any categorical column notices.
  *
  * Exactness trick: a centroid is sum/n, and BOTH metrics are algebraic
  * in the per-dimension SUM vectors, so nothing float-order-dependent
  * is ever aggregated —
  *   cos(cA, cB) = Σ SA·SB / (√Σ SA² · √Σ SB²)   (the 1/n factors cancel)
  *   ‖cA − cB‖  = √Σ (SA·nb − SB·na)² / (na·nb)
  * with SA, SB exact BIGINT sums on the 1e-7 quantization grid (the
  * [[Similarity]] convention) and the dim-wise squares summed as exact
  * DECIMAL(38,0) (≈4·10²² per term — far past 2⁶³, well inside 38
  * digits). Doubles appear only in the final sqrt/divide — single IEEE
  * ops, identical across engines.
  *
  * Scale posture: posexplode fans each vector into dim rows (×64), then
  * ONE hash aggregation on (label, half, dim) with map-side partial
  * combine collapses the corpus to |labels|·2·dim cells before the
  * shuffle; everything after is proportional to labels. The exact
  * distributed shape for centroid math at any corpus size.
  */
object EmbeddingDrift {
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDriftOver(Tables.embeddings(spark, dir))

  /** Parameterized core over any (vec_id, label, embedding) frame — the
    * spec drives it with hand-built shifts. */
  private[graft] def embeddingDriftOver(emb: DataFrame): DataFrame = {
    val dec = DecimalType(20, 0)
    val ex = emb
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("half"), col("dim"),
        floor(col("v").cast(DoubleType) * lit(1e7)).cast(LongType).as("q"))
    val sums = ex.groupBy("label", "half", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
    val a = sums.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("s").as("sb"), col("n").as("nb"))
    val j = a.join(b, Seq("label", "dim"))
    val diff = (col("sa") * col("nb") - col("sb") * col("na")).cast(dec)
    val g = j.groupBy("label").agg(
      max("na").as("n_a"), max("nb").as("n_b"),
      sum(col("sa").cast(dec) * col("sb").cast(dec)).as("dot"),
      sum(col("sa").cast(dec) * col("sa").cast(dec)).as("a2"),
      sum(col("sb").cast(dec) * col("sb").cast(dec)).as("b2"),
      sum(diff * diff).as("d2"))
    g.select(
        col("label"), col("n_a"), col("n_b"),
        (col("dot").cast(DoubleType)
          / (sqrt(col("a2").cast(DoubleType)) * sqrt(col("b2").cast(DoubleType))))
          .as("centroid_cosine"),
        // ÷1e7 converts back from quantization-grid units to embedding units
        (sqrt(col("d2").cast(DoubleType))
          / ((col("n_a") * col("n_b")).cast(DoubleType) * lit(1e7)))
          .as("centroid_l2_shift"))
      .orderBy("label")
  }

  val embeddingDriftSql: String = """
WITH ex AS (
  SELECT label, vec_id % 2 AS half,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e7) AS BIGINT) AS q
  FROM embeddings),
s AS (
  SELECT label, half, dim, SUM(q) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, half, dim),
j AS (
  SELECT a.label, a.dim, a.s AS sa, b.s AS sb, a.n AS na, b.n AS nb
  FROM s a JOIN s b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 0 AND b.half = 1),
g AS (
  SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
         SUM(CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT)) AS dot,
         SUM(CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT)) AS a2,
         SUM(CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT)) AS b2,
         SUM(CAST(sa * nb - sb * na AS HUGEINT)
             * CAST(sa * nb - sb * na AS HUGEINT)) AS d2
  FROM j GROUP BY label)
SELECT label, n_a, n_b,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE))) AS centroid_cosine,
       sqrt(CAST(d2 AS DOUBLE)) / (CAST(n_a * n_b AS DOUBLE) * 1e7) AS centroid_l2_shift
FROM g ORDER BY label"""

  val ops: Seq[Op] = Seq(
    Op("embedding_drift", embeddingDrift, embeddingDriftSql, Ext))
}
