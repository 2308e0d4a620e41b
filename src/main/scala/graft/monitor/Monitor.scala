package graft.monitor

import graft.{Det, Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline-monitoring operators — the reference's 3σ volume anomaly
  * detection over a 30-day daily-count window
  * (reference: scripts/monitoring/pipeline_monitor.py:164-189 +
  * sql/queries/monitoring_queries.sql:30-37) and per-source data-freshness
  * lag with thresholded status (pipeline_monitor.py:143-157), computed
  * over the `events` table against the fixed as-of timestamp
  * (non-deterministic CURRENT_* replaced per SURVEY §7.4).
  *
  * Determinism: mean/stddev are derived from exact integer sums
  * (Σn, Σn²) so the double arithmetic is a fixed expression tree —
  * identical in Spark and DuckDB regardless of partitioning — instead of
  * a distributed float stddev aggregate, whose summation order is not.
  */
object Monitor {
  /** Daily event counts in the 30-day window before as-of, flagged when
    * outside mean ± 3σ (pipeline_monitor.py:171-183). */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame =
    volumeAnomalyOver(Tables.events(spark, dir))

  private[graft] def volumeAnomalyOver(ev: DataFrame): DataFrame = {
    val asOf = to_date(lit(Det.AsOfEventDate))
    val daily = ev
      .filter(to_date(col("ts")) >= date_sub(asOf, 30) && to_date(col("ts")) < asOf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("event_count"))
    val stats = daily.agg(
      count(lit(1)).as("n"),
      sum("event_count").as("s"),
      sum(col("event_count") * col("event_count")).as("sq"))
    val mean = col("s").cast(DoubleType) / col("n").cast(DoubleType)
    // n = 1 would divide by zero (Spark: NULL with ANSI off; DuckDB:
    // NaN — the engines would then DISAGREE on is_anomaly). A single
    // observation has no dispersion estimate: stddev NULL, not anomalous.
    val std = when(col("n") > 1,
      sqrt((col("sq").cast(DoubleType) - col("n").cast(DoubleType) * mean * mean)
        / (col("n").cast(DoubleType) - lit(1.0))))
      .otherwise(lit(null).cast(DoubleType))
    daily.crossJoin(broadcast(stats)).select(
      date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_count"),
      mean.as("mean_count"),
      std.as("stddev_count"),
      coalesce(abs(col("event_count").cast(DoubleType) - mean) > lit(3.0) * std,
        lit(false)).as("is_anomaly"))
  }

  val volumeAnomalySql: String = s"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS event_count
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '${Det.AsOfEventDate}' - INTERVAL 30 DAY
    AND CAST(ts AS DATE) < DATE '${Det.AsOfEventDate}'
  GROUP BY CAST(ts AS DATE)),
stats AS (
  SELECT COUNT(*) AS n, SUM(event_count) AS s, SUM(event_count * event_count) AS sq
  FROM daily)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.event_count,
       CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE) AS mean_count,
       CASE WHEN s.n > 1 THEN
         sqrt((CAST(s.sq AS DOUBLE) - CAST(s.n AS DOUBLE) * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)) * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
              / (CAST(s.n AS DOUBLE) - 1.0)) END AS stddev_count,
       coalesce(ABS(CAST(d.event_count AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
         > 3.0 * CASE WHEN s.n > 1 THEN
                    sqrt((CAST(s.sq AS DOUBLE) - CAST(s.n AS DOUBLE) * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)) * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
                         / (CAST(s.n AS DOUBLE) - 1.0)) END, false) AS is_anomaly
FROM daily d CROSS JOIN stats s"""

  /** Robust (median/MAD) twin of [[volumeAnomaly]] — the 3σ rule's known
    * failure is that the anomaly itself inflates the mean and stddev it
    * is judged against (one 10× day can mask itself); the median and the
    * median-absolute-deviation have a 50% breakdown point, so a
    * contaminated window still flags. Convention: robust z-score
    * (x − med) / (1.4826·MAD) (1.4826 = 1/Φ⁻¹(3/4), the consistency
    * constant making MAD estimate σ under normality), flag |z| > 3.
    *
    * Medians are exact type-1 rank selections (rank ⌈n/2⌉ of the sorted
    * multiset, the [[graft.analytics.Quantiles]] convention) computed by
    * the value-counts slab trick. The windows involved run over the
    * POST-AGGREGATION daily frame — ≤ 30 rows by construction (the
    * monitoring window length), so the single-partition window sort is
    * bounded by the calendar, not the data, at any corpus size.
    *
    * Determinism: med and MAD are exact longs; z and the flag are fixed
    * per-row double expression trees over them (single divides/products),
    * identical across engines. MAD = 0 (≥ half the days identical) has
    * no finite z: z is NULL and the flag degrades to x ≠ med.
    */
  def madAnomaly(spark: SparkSession, dir: String): DataFrame =
    madAnomalyOver(Tables.events(spark, dir))

  /** Parameterized core over any (ts) event frame — the spec drives it
    * with synthetic daily shapes the classical 3σ rule mis-scores. */
  private[graft] def madAnomalyOver(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asOf = to_date(lit(Det.AsOfEventDate))
    val daily = ev
      .filter(to_date(col("ts")) >= date_sub(asOf, 30) && to_date(col("ts")) < asOf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("event_count"))

    // exact type-1 median of `v` in a tiny frame via value-count slabs
    def medianOf(vals: DataFrame, out: String): DataFrame = {
      val counts = vals.groupBy("v").agg(count(lit(1)).as("c"))
      val ranked = counts
        .withColumn("cum", sum("c").over(Window.orderBy("v")))
        .withColumn("n", sum("c").over(Window.partitionBy()))
      ranked.agg(
        max(when(col("cum") - col("c") < ceil(col("n") * 0.5)
              && col("cum") >= ceil(col("n") * 0.5), col("v"))).as(out))
    }

    val med = medianOf(daily.select(col("event_count").as("v")), "med")
    val withMed = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("event_count") - col("med")))
    val mad = medianOf(withMed.select(col("dev").as("v")), "mad")
    val scale = lit(3.0) * lit(1.4826) * col("mad").cast(DoubleType)
    withMed.crossJoin(broadcast(mad)).select(
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("event_count"),
      col("med").as("median_count"),
      col("mad").as("mad_count"),
      when(col("mad") > 0,
        (col("event_count").cast(DoubleType) - col("med").cast(DoubleType))
          / (lit(1.4826) * col("mad").cast(DoubleType))).as("robust_z"),
      when(col("mad") > 0, col("dev").cast(DoubleType) > scale)
        .otherwise(col("event_count") =!= col("med")).as("is_anomaly"))
  }

  val madAnomalySql: String = s"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS event_count
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '${Det.AsOfEventDate}' - INTERVAL 30 DAY
    AND CAST(ts AS DATE) < DATE '${Det.AsOfEventDate}'
  GROUP BY CAST(ts AS DATE)),
vc1 AS (SELECT event_count AS v, COUNT(*) AS c FROM daily GROUP BY event_count),
r1 AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM vc1),
med AS (SELECT MAX(CASE WHEN cum - c < ceil(n * 0.5) AND cum >= ceil(n * 0.5) THEN v END) AS med FROM r1),
devs AS (SELECT d.day, d.event_count, m.med, ABS(d.event_count - m.med) AS dev
         FROM daily d CROSS JOIN med m),
vc2 AS (SELECT dev AS v, COUNT(*) AS c FROM devs GROUP BY dev),
r2 AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM vc2),
mad AS (SELECT MAX(CASE WHEN cum - c < ceil(n * 0.5) AND cum >= ceil(n * 0.5) THEN v END) AS mad FROM r2)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.event_count,
       d.med AS median_count, m.mad AS mad_count,
       CASE WHEN m.mad > 0 THEN
         (CAST(d.event_count AS DOUBLE) - CAST(d.med AS DOUBLE))
           / (1.4826 * CAST(m.mad AS DOUBLE)) END AS robust_z,
       CASE WHEN m.mad > 0 THEN CAST(d.dev AS DOUBLE) > 3.0 * 1.4826 * CAST(m.mad AS DOUBLE)
            ELSE d.event_count <> d.med END AS is_anomaly
FROM devs d CROSS JOIN mad m"""

  /** Per-source freshness: hours since last event vs as-of, with the
    * reference's threshold statuses (staging>24h critical, >1h delayed —
    * pipeline_monitor.py:146-157). Lag computed on whole seconds (both
    * engines truncate identically). */
  def freshnessLag(spark: SparkSession, dir: String): DataFrame = {
    val asOfSec = unix_timestamp(lit(Det.AsOfTs), "yyyy-MM-dd HH:mm:ss")
    val lagHours = (asOfSec - unix_timestamp(max(col("ts")))).cast(DoubleType) / lit(3600.0)
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(lagHours.as("lag_hours"))
      .select(
        col("event_type"), col("lag_hours"),
        when(col("lag_hours") > 24.0, "critical")
          .when(col("lag_hours") > 1.0, "delayed")
          .otherwise("fresh").as("status"))
  }

  val freshnessLagSql: String = s"""
SELECT event_type,
       CAST(CAST(floor(epoch(TIMESTAMP '${Det.AsOfTs}')) AS BIGINT)
            - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS DOUBLE) / 3600.0 AS lag_hours,
       CASE WHEN CAST(CAST(floor(epoch(TIMESTAMP '${Det.AsOfTs}')) AS BIGINT)
                      - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS DOUBLE) / 3600.0 > 24.0 THEN 'critical'
            WHEN CAST(CAST(floor(epoch(TIMESTAMP '${Det.AsOfTs}')) AS BIGINT)
                      - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS DOUBLE) / 3600.0 > 1.0 THEN 'delayed'
            ELSE 'fresh' END AS status
FROM events
GROUP BY event_type"""

  /** The consolidated health rollup — the reference's overall verdict
    * (pipeline_monitor.py:200-266): per-check statuses, alert counts by
    * severity, and a healthy/degraded/critical pipeline_health, in one
    * row. Checks mirrored:
    *
    *   - last_execution: hours since the previous run finished, critical
    *     when > 25h (pipeline_monitor.py:84-91). The run timestamp is the
    *     fixed [[graft.Det.LastRunTs]] (the reference reads the prior
    *     execution report — non-deterministic).
    *   - data_freshness: warning when any source in [[freshnessLag]] is
    *     not 'fresh' (py:143-157, thresholds applied per source there).
    *   - data_volume: the LATEST day's 3σ flag from [[volumeAnomaly]] —
    *     the reference checks only "today" (py:171-183).
    *   - data_quality: score from [[graft.quality.Quality.qualityScore]],
    *     degraded below 95 (py:192-203).
    *   - pipeline_health: critical if any critical alert, degraded if any
    *     alert, else healthy (py:206-210); overall_health_score is the
    *     quality score (py:260).
    *
    * Scale: every input is a scalar aggregate over an already-scalable
    * relation; the rollup itself is four one-row broadcasts cross-joined —
    * no data-sized shuffle is added.
    */
  def healthRollupAt(lastRunTs: String, asOfTs: String = Det.AsOfTs)(
      spark: SparkSession, dir: String): DataFrame =
    healthRollupOver(lastRunTs, asOfTs)(spark, freshnessLag(spark, dir),
      volumeAnomaly(spark, dir), graft.quality.Quality.qualityScore(spark, dir))

  /** [[healthRollupAt]] over already computed inputs: the rows of
    * [[freshnessLag]] and [[volumeAnomaly]] and a [[graft.quality.Quality
    * .qualityScore]] relation. The pipeline's monitoring step passes the
    * outputs it and the quality step just wrote, so none is worked out
    * again from the source tables. */
  def healthRollupOver(lastRunTs: String, asOfTs: String)(
      spark: SparkSession, freshness: DataFrame, volume: DataFrame,
      score: DataFrame): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val hours = (unix_timestamp(lit(asOfTs), fmt) -
      unix_timestamp(lit(lastRunTs), fmt)).cast(DoubleType) / lit(3600.0)
    val lastExec = spark.range(1).select(hours.as("hours_since_last_run"))
    val fresh = freshness.agg(
      max("lag_hours").as("max_lag_hours"),
      max(when(col("status") =!= "fresh", 1L).otherwise(0L)).as("fresh_warn"))
    // day is yyyy-MM-dd formatted → lexicographic max is chronological;
    // days are unique (group key) so max_by is deterministic.
    val vol = volume.agg(
      max_by(col("is_anomaly"), col("day")).as("anomaly_detected"))
    val qual = score.select(col("quality_score"))

    val critical = when(col("hours_since_last_run") > 25.0, 1L).otherwise(0L)
    val warnings = col("fresh_warn") +
      when(col("anomaly_detected"), 1L).otherwise(0L) +
      when(col("quality_score") < 95.0, 1L).otherwise(0L)
    lastExec.crossJoin(broadcast(fresh)).crossJoin(broadcast(vol))
      .crossJoin(broadcast(qual))
      .select(
        col("hours_since_last_run"),
        when(col("hours_since_last_run") > 25.0, "critical").otherwise("ok")
          .as("last_execution_status"),
        col("max_lag_hours"),
        when(col("fresh_warn") > 0L, "warning").otherwise("ok")
          .as("freshness_status"),
        col("anomaly_detected"),
        when(col("anomaly_detected"), "anomaly_detected").otherwise("ok")
          .as("volume_status"),
        col("quality_score"),
        when(col("quality_score") < 95.0, "degraded").otherwise("ok")
          .as("quality_status"),
        critical.as("alerts_critical"),
        warnings.as("alerts_warning"),
        when(critical > 0L, "critical").when(warnings > 0L, "degraded")
          .otherwise("healthy").as("pipeline_health"),
        col("quality_score").as("overall_health_score"))
  }

  def healthRollup(spark: SparkSession, dir: String): DataFrame =
    healthRollupAt(Det.LastRunTs)(spark, dir)

  val healthRollupSql: String = s"""
WITH fresh AS ($freshnessLagSql),
vol AS ($volumeAnomalySql),
qual AS (SELECT quality_score FROM (${graft.quality.Quality.qualityScoreSql}) qs),
le AS (SELECT CAST(CAST(floor(epoch(TIMESTAMP '${Det.AsOfTs}')) AS BIGINT)
                   - CAST(floor(epoch(TIMESTAMP '${Det.LastRunTs}')) AS BIGINT) AS DOUBLE)
              / 3600.0 AS hours_since_last_run),
fa AS (SELECT MAX(lag_hours) AS max_lag_hours,
              MAX(CASE WHEN status <> 'fresh' THEN 1 ELSE 0 END) AS fresh_warn
       FROM fresh),
va AS (SELECT max_by(is_anomaly, day) AS anomaly_detected FROM vol),
j AS (SELECT * FROM le CROSS JOIN fa CROSS JOIN va CROSS JOIN qual),
c AS (SELECT *,
        CASE WHEN hours_since_last_run > 25.0 THEN 1 ELSE 0 END AS n_crit,
        (fresh_warn + CASE WHEN anomaly_detected THEN 1 ELSE 0 END
                    + CASE WHEN quality_score < 95.0 THEN 1 ELSE 0 END) AS n_warn
      FROM j)
SELECT hours_since_last_run,
       CASE WHEN hours_since_last_run > 25.0 THEN 'critical' ELSE 'ok' END AS last_execution_status,
       max_lag_hours,
       CASE WHEN fresh_warn > 0 THEN 'warning' ELSE 'ok' END AS freshness_status,
       anomaly_detected,
       CASE WHEN anomaly_detected THEN 'anomaly_detected' ELSE 'ok' END AS volume_status,
       quality_score,
       CASE WHEN quality_score < 95.0 THEN 'degraded' ELSE 'ok' END AS quality_status,
       CAST(n_crit AS BIGINT) AS alerts_critical,
       CAST(n_warn AS BIGINT) AS alerts_warning,
       CASE WHEN n_crit > 0 THEN 'critical'
            WHEN n_warn > 0 THEN 'degraded'
            ELSE 'healthy' END AS pipeline_health,
       quality_score AS overall_health_score
FROM c"""

  /** Render a rollup relation as the reference's consolidated monitoring
    * report JSON (pipeline_monitor.py:213-266): pipeline_health, per-check
    * blocks, an alerts array, overall_health_score. `rollup` must be built
    * with the same `lastRunTs` and `monitoringTime` (by [[healthRollupAt]]
    * or [[healthRollupOver]]); written by the pipeline's monitoring stage. */
  def reportJsonOver(rollup: DataFrame, lastRunTs: String, monitoringTime: String): String = {
    val r = rollup.head()
    def s(c: String) = r.getAs[String](c)
    def d(c: String) = r.getAs[Double](c)
    def alert(sev: String, check: String, msg: String) =
      s"""{"severity":"$sev","check":"$check","message":"$msg","timestamp":"$monitoringTime"}"""
    val alerts = Seq(
      Option.when(s("last_execution_status") == "critical")(
        alert("critical", "last_execution", "Pipeline has not run in last 25 hours")),
      Option.when(s("freshness_status") == "warning")(
        alert("warning", "data_freshness", "Data freshness lag detected")),
      Option.when(s("volume_status") == "anomaly_detected")(
        alert("warning", "data_volume", "Volume anomaly detected")),
      Option.when(s("quality_status") == "degraded")(
        alert("warning", "data_quality", "Data quality score below threshold"))
    ).flatten.mkString("[", ",", "]")
    s"""{"monitoring_timestamp":"$monitoringTime",""" +
      s""""pipeline_health":"${s("pipeline_health")}",""" +
      s""""checks":{""" +
      s""""last_execution":{"status":"${s("last_execution_status")}","last_run":"$lastRunTs","hours_since_last_run":${d("hours_since_last_run")},"threshold_hours":25},""" +
      s""""data_freshness":{"status":"${s("freshness_status")}","max_lag_hours":${d("max_lag_hours")}},""" +
      s""""data_volume_anomalies":{"status":"${s("volume_status")}","anomaly_detected":${r.getAs[Boolean]("anomaly_detected")}},""" +
      s""""data_quality":{"status":"${s("quality_status")}","quality_score":${d("quality_score")}}},""" +
      s""""alerts":$alerts,""" +
      s""""overall_health_score":${d("overall_health_score")}}"""
  }

  /** Seasonality-adjusted volume anomaly over the event stream: each
    * (date, hour) observation is compared against the MEAN of its own
    * hour-of-week cell (the `events_hourly_heatmap` baseline), so a
    * quiet Sunday 3am is not flagged just for being quieter than
    * Friday noon — the failing of the global-mean 3σ monitor
    * ([[volumeAnomaly]]) on any diurnal workload.
    *
    * Determinism: the high/low gates are pure integer cross-products
    * (`cnt · n_dates > 2 · cell_total`) — no mean, no division until
    * the single reported double ratio — so both engines agree bit-for-
    * bit. Scale posture: ONE shuffle over raw events down to (date,
    * hour) grain; the baseline frames are ≤168 and ≤7 rows, broadcast. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalyOver(Tables.events(spark, dir))

  /** Core over any frame with a `ts` column (spec surface — drives the
    * planted-seasonality ScaleGen corpus through the detector without a
    * parquet round-trip). */
  private[graft] def seasonalAnomalyOver(events: DataFrame): DataFrame = {
    val obs = events
      .select(col("ts").cast(DateType).as("d"),
        dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .groupBy("d", "dow", "hod").agg(count(lit(1)).as("cnt"))
    val nDates = obs.groupBy("dow")
      .agg(countDistinct("d").as("n_dates"))
    val cell = obs.groupBy("dow", "hod")
      .agg(sum("cnt").cast(LongType).as("cell_total"))
    obs.join(broadcast(cell), Seq("dow", "hod"))
      .join(broadcast(nDates), Seq("dow"))
      .filter(col("cnt") * col("n_dates") > lit(2) * col("cell_total")
        || lit(2) * col("cnt") * col("n_dates") < col("cell_total"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("event_date"),
        col("hod"), col("cnt"), col("cell_total"), col("n_dates"),
        (col("cnt").cast(DoubleType) * col("n_dates").cast(DoubleType)
          / col("cell_total").cast(DoubleType)).as("ratio"),
        when(col("cnt") * col("n_dates") > lit(2) * col("cell_total"), lit("high"))
          .otherwise(lit("low")).as("flag"))
      .orderBy("event_date", "hod")
  }

  val seasonalAnomalySql: String = """
WITH obs AS (
  SELECT CAST(ts AS DATE) AS d, CAST(isodow(ts) % 7 + 1 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2, 3),
nd AS (SELECT dow, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_dates FROM obs GROUP BY dow),
cell AS (SELECT dow, hod, CAST(SUM(cnt) AS BIGINT) AS cell_total FROM obs GROUP BY dow, hod)
SELECT strftime(o.d, '%Y-%m-%d') AS event_date, o.hod, o.cnt, c.cell_total, n.n_dates,
       CAST(o.cnt AS DOUBLE) * CAST(n.n_dates AS DOUBLE) / CAST(c.cell_total AS DOUBLE) AS ratio,
       CASE WHEN o.cnt * n.n_dates > 2 * c.cell_total THEN 'high' ELSE 'low' END AS flag
FROM obs o
JOIN cell c ON o.dow = c.dow AND o.hod = c.hod
JOIN nd n ON o.dow = n.dow
WHERE o.cnt * n.n_dates > 2 * c.cell_total OR 2 * o.cnt * n.n_dates < c.cell_total
ORDER BY event_date, o.hod"""

  val ops: Seq[Op] = Seq(
    Op("monitor_volume_anomaly", volumeAnomaly, volumeAnomalySql),
    Op("monitor_mad_anomaly", madAnomaly, madAnomalySql, hazards = Map(
      Op.GlobalWindow -> ("two value-count medians, each a running sum and a total over " +
        "the distinct daily counts of a 30-day window: at most 30 rows per window"))),
    Op("monitor_seasonal_anomaly", seasonalAnomaly, seasonalAnomalySql, Ext),
    Op("monitor_freshness_lag", freshnessLag, freshnessLagSql),
    Op("monitor_health", healthRollup, healthRollupSql, hazards = Map(
      Op.SortAggregate -> ("max_by(is_anomaly, day) over the volume check's 30 daily rows: " +
        "a string ordering key is not hash-aggregatable, so its partial and final " +
        "aggregates sort at most 30 rows"))))
}
