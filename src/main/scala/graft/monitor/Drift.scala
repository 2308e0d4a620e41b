package graft.monitor

import graft.{Det, Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distribution-drift monitoring — the Population Stability Index over
  * the categorical event mix, the standard "did my input distribution
  * shift" probe a production pipeline runs between ingestion batches
  * (banking/ML-monitoring folklore; PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over
  * category shares, with ≥0.2 conventionally "significant shift").
  * The reference's monitor only watches volume (3σ daily counts) and
  * freshness; drift in the MIX is the failure mode those both miss —
  * e.g. clicks collapsing while views grow keeps total volume flat.
  *
  * Windows are fixed against [[Det.AsOfEventDate]] (SURVEY §7.4):
  * current = the 14 days before as-of, baseline = the 14 days before
  * that, so both land inside the generated January event month.
  *
  * Scale posture: ONE conditional-count aggregation over the filtered
  * scan (the day predicate pushes to parquet row groups), producing one
  * row per category (≤ a handful); totals broadcast back via the same
  * tiny-frame crossJoin [[Monitor.volumeAnomaly]] uses. Nothing after
  * the first aggregation is proportional to events.
  *
  * Determinism: shares are single divides of exact longs; each PSI term
  * is (p−q)·ln(p/q) on those — a fixed per-row double expression tree,
  * bit-identical across engines (the ln-on-integer-derived-ratios
  * precedent is [[graft.text.Relevance]]); the total is an exact
  * DECIMAL(18,6) sum of per-term doubles, order-independent.
  */
object Drift {
  def driftPsi(spark: SparkSession, dir: String): DataFrame =
    driftPsiOver(Tables.events(spark, dir))

  /** Parameterized core over any (event_type, ts) frame — the spec
    * drives it with synthetic mixes. */
  private[graft] def driftPsiOver(ev: DataFrame): DataFrame = {
    val asOf = to_date(lit(Det.AsOfEventDate))
    val day = to_date(col("ts"))
    val inCur = day >= date_sub(asOf, 14) && day < asOf
    val inBase = day >= date_sub(asOf, 28) && day < date_sub(asOf, 14)
    val per = ev
      .filter(day >= date_sub(asOf, 28) && day < asOf)
      .groupBy("event_type")
      .agg(
        count(when(inBase, lit(1))).as("base_n"),
        count(when(inCur, lit(1))).as("cur_n"))
    val tot = per.agg(
      sum("base_n").as("base_tot"), sum("cur_n").as("cur_tot"))
    val withShares = per.crossJoin(broadcast(tot))
      .withColumn("base_share",
        col("base_n").cast(DoubleType) / col("base_tot").cast(DoubleType))
      .withColumn("cur_share",
        col("cur_n").cast(DoubleType) / col("cur_tot").cast(DoubleType))
      // a category absent from either window has no finite PSI term —
      // surfaced as NULL (plus the share columns showing which side is 0)
      // rather than an epsilon-fudged pseudo-number
      .withColumn("psi_term",
        when(col("base_n") > 0 && col("cur_n") > 0,
          (col("cur_share") - col("base_share")) * log(col("cur_share") / col("base_share"))))
    val perRows = withShares.select(
      col("event_type"), col("base_n"), col("cur_n"),
      col("base_share"), col("cur_share"), col("psi_term"))
    val totalRow = withShares.agg(
        sum("base_n").as("base_n"), sum("cur_n").as("cur_n"),
        round(sum(col("psi_term").cast(DecimalType(18, 6))), 6)
          .cast(DecimalType(18, 6)).cast(DoubleType).as("psi_term"))
      .select(lit("__total__").as("event_type"), col("base_n"), col("cur_n"),
        lit(1.0).as("base_share"), lit(1.0).as("cur_share"), col("psi_term"))
    perRows.unionAll(totalRow).orderBy("event_type")
  }

  val driftPsiSql: String = s"""
WITH win AS (
  SELECT event_type, CAST(ts AS DATE) AS day FROM events
  WHERE CAST(ts AS DATE) >= DATE '${Det.AsOfEventDate}' - INTERVAL 28 DAY
    AND CAST(ts AS DATE) < DATE '${Det.AsOfEventDate}'),
per AS (
  SELECT event_type,
         COUNT(CASE WHEN day <  DATE '${Det.AsOfEventDate}' - INTERVAL 14 DAY THEN 1 END) AS base_n,
         COUNT(CASE WHEN day >= DATE '${Det.AsOfEventDate}' - INTERVAL 14 DAY THEN 1 END) AS cur_n
  FROM win GROUP BY event_type),
tot AS (SELECT SUM(base_n) AS base_tot, SUM(cur_n) AS cur_tot FROM per),
shares AS (
  SELECT event_type, base_n, cur_n,
         CAST(base_n AS DOUBLE) / CAST(base_tot AS DOUBLE) AS base_share,
         CAST(cur_n AS DOUBLE) / CAST(cur_tot AS DOUBLE) AS cur_share
  FROM per CROSS JOIN tot),
terms AS (
  SELECT event_type, base_n, cur_n, base_share, cur_share,
         CASE WHEN base_n > 0 AND cur_n > 0
              THEN (cur_share - base_share) * ln(cur_share / base_share) END AS psi_term
  FROM shares)
SELECT * FROM (
  SELECT * FROM terms
  UNION ALL
  SELECT '__total__', CAST(SUM(base_n) AS BIGINT), CAST(SUM(cur_n) AS BIGINT), 1.0, 1.0,
         CAST(CAST(ROUND(SUM(CAST(psi_term AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS DOUBLE)
  FROM terms)
ORDER BY event_type"""

  val ops: Seq[Op] = Seq(
    Op("monitor_drift_psi", driftPsi, driftPsiSql))
}
