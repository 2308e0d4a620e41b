package graft.sim

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contrastive training-pair mining over the embedding corpus — the
  * data-prep stage an embedding-model (or reranker) training pipeline
  * runs between curation and packing: for each anchor, one POSITIVE
  * (the most-similar same-label vector) and the top hard NEGATIVES
  * (the most-similar different-label vectors — the ones a contrastive
  * loss learns the most from, per the in-batch/ANN-mined hard-negative
  * literature).
  *
  * Hard negatives come from the anchor's own coarse IVF cell — the
  * standard ANN-assisted mining shape: candidates are the inverted
  * list the serving index already stores ([[Ivf.index]], fingerprint-
  * guarded parquet; no Lloyd on this path after first build), so the
  * candidate set per anchor is cell occupancy (~n/k), never the
  * corpus. Scoring is the exact quantized cosine
  * ([[graft.functions.QDot]] on the 1e-7 grid — doubles only in the
  * final sqrt/divide, the [[Ivf.search]] convention), so the DuckDB
  * oracle replays build + mining bit-for-bit.
  *
  * Scale posture (100 TB): anchors are a bounded batch (the registered
  * op pins [[NAnchors]]; a production run streams anchor batches);
  * the join is an equality join on `cell` against the stored inverted
  * lists — per-anchor work is one list scan, and the per-(anchor,
  * role) windows rank at most one cell's occupancy. Nothing
  * corpus-quadratic anywhere.
  *
  * Honest contract: an anchor with no same-label neighbor in its cell
  * emits no `pos` row (multi-probe or a global same-label fallback
  * would be the recall lever, exactly as in semantic dedup); fewer
  * than [[NNegatives]] different-label members emit fewer `neg` rows.
  */
object Contrastive {
  /** Anchor batch size of the registered op (vec_id < NAnchors — the
    * [[Ivf.search]] query-selection convention, so the mined triples
    * are directly comparable with the search family's rows). */
  val NAnchors = 8

  /** Hard negatives kept per anchor. */
  val NNegatives = 3

  def contrastiveTriples(spark: SparkSession, dir: String): DataFrame = {
    val idx = Ivf.index(spark, dir)
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val anchors = idx.assignments
      .filter(col("vec_id") < NAnchors)
      .join(labels, "vec_id")
      .select(col("vec_id").as("anchor_id"), col("embedding").as("q"),
        col("cell"), col("label").as("anchor_label"))
    val cands = idx.assignments.join(labels, "vec_id")

    // the anchor batch is bounded by contract — broadcast it so the
    // candidate side streams through one cell-keyed hash join (the
    // plan-audited shape; without the hint the 8-row side sort-merges)
    broadcast(anchors).join(cands, "cell")
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("role",
        when(col("label") === col("anchor_label"), lit("pos")).otherwise(lit("neg")))
      .withColumn("cosine", graft.functions.QDot.cosine("q", "embedding"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("anchor_id", "role")
          .orderBy(desc("cosine"), asc("vec_id"))))
      .filter((col("role") === "pos" && col("rank") <= 1) ||
        (col("role") === "neg" && col("rank") <= NNegatives))
      .select(col("anchor_id"), col("role"), col("rank").cast("int").as("rank"),
        col("vec_id").as("cand_id"), col("label").as("cand_label"), col("cosine"))
      .orderBy("anchor_id", "role", "rank")
  }

  /** Full replay: the shared Lloyd-replay prefix (`afin` — identical
    * text to every other IVF oracle, so the assignment arithmetic
    * cannot drift), then the label join, the cell-local scoring, and
    * the per-(anchor, role) windows. */
  val contrastiveTriplesSql: String = s"""
WITH ${Ivf.ivfCommonCtes},
lab AS (SELECT vec_id, label FROM embeddings),
anch AS (
  SELECT f.vec_id AS anchor_id, f.qe AS aqe, f.cell, l.label AS anchor_label
  FROM afin f JOIN lab l USING (vec_id) WHERE f.vec_id < $NAnchors),
cand AS (SELECT f.vec_id, f.qe, f.cell, l.label FROM afin f JOIN lab l USING (vec_id)),
scored AS (
  SELECT a.anchor_id, c.vec_id AS cand_id, c.label AS cand_label,
         CASE WHEN c.label = a.anchor_label THEN 'pos' ELSE 'neg' END AS role,
         ${Grid.cosine("a.aqe", "c.qe")} AS cosine
  FROM anch a JOIN cand c ON a.cell = c.cell AND c.vec_id <> a.anchor_id),
ranked AS (
  SELECT anchor_id, role, ROW_NUMBER() OVER (
           PARTITION BY anchor_id, role ORDER BY cosine DESC, cand_id) AS rank,
         cand_id, cand_label, cosine
  FROM scored)
SELECT anchor_id, role, rank, cand_id, cand_label, cosine FROM ranked
WHERE (role = 'pos' AND rank <= 1) OR (role = 'neg' AND rank <= $NNegatives)
ORDER BY anchor_id, role, rank"""

  /** Per-cell keep cap for [[clusterBalancedSample]]. */
  val CellCap = 4

  /** Cluster-balanced downsampling — the diversity-preserving curation
    * step (the SemDeDup-adjacent complement of
    * [[graft.text.Curation]]'s label-STRATIFIED samplers): keep at most
    * [[CellCap]] vectors per LEARNED cluster, chosen by a deterministic
    * md5 coin, so dense semantic regions are capped and sparse ones
    * survive intact. Where stratified sampling balances a KNOWN
    * categorical axis, this balances the learned semantic axis — the
    * knob a pre-training corpus uses against topic monoculture.
    *
    * Emits kept rows only: (cell, keep_rank, vec_id, label,
    * cell_size) — output bounded by cells × cap regardless of corpus
    * size; `cell_size` rides along so the downsample ratio per region
    * is observable. Scale shape: one window per cell partition over
    * the stored inverted lists (same join key the serving tier
    * already uses), no corpus-wide ordering anywhere. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    Ivf.index(spark, dir).assignments
      .select(col("vec_id"), col("cell"))
      .join(labels, "vec_id")
      .withColumn("coin", expr(
        "cast(conv(substr(md5(concat('cbs:', cast(vec_id as string))), 1, 14), 16, 10) as bigint)"))
      .withColumn("cell_size",
        count(lit(1)).over(Window.partitionBy("cell")).cast("long"))
      .withColumn("keep_rank", row_number().over(
        Window.partitionBy("cell").orderBy(asc("coin"), asc("vec_id"))).cast("int"))
      .filter(col("keep_rank") <= CellCap)
      .select(col("cell").cast("int").as("cell"), col("keep_rank"),
        col("vec_id"), col("label"), col("cell_size"))
      .orderBy("cell", "keep_rank")
  }

  val clusterBalancedSampleSql: String = s"""
WITH ${Ivf.ivfCommonCtes},
lab AS (SELECT vec_id, label FROM embeddings),
sized AS (
  SELECT f.cell, f.vec_id, l.label,
         CAST(('0x' || substr(md5('cbs:' || CAST(f.vec_id AS VARCHAR)), 1, 14))::UBIGINT
           AS BIGINT) AS coin,
         CAST(COUNT(*) OVER (PARTITION BY f.cell) AS BIGINT) AS cell_size
  FROM afin f JOIN lab l USING (vec_id)),
ranked AS (
  SELECT cell, vec_id, label, cell_size,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY coin, vec_id) AS keep_rank
  FROM sized)
SELECT cell, keep_rank, vec_id, label, cell_size
FROM ranked WHERE keep_rank <= $CellCap
ORDER BY cell, keep_rank"""

  val ops: Seq[Op] = Seq(
    Op("contrastive_triples", contrastiveTriples, contrastiveTriplesSql, Ext),
    Op("cluster_balanced_sample", clusterBalancedSample, clusterBalancedSampleSql, Ext))
}
