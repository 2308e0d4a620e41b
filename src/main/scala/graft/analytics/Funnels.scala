package graft.analytics

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Behavioral analytics over the event stream — the funnel and cohort
  * queries every product-analytics layer ships (and the reference's
  * dashboard layer implies but never computes): ordered conversion
  * funnels with first-touch semantics, and signup-cohort weekly
  * retention.
  *
  * Scale posture: both shapes are ONE `groupBy(user_id)` pass over the
  * event stream (conditional mins / distinct activity weeks) followed
  * by aggregation over the tiny per-user frame — no self-joins over
  * events, no window over the raw stream. That is the form that
  * survives a 100 TB event table: the heavy aggregation partial-combines
  * per partition, and everything after it is proportional to users, not
  * events.
  */
object Funnels {
  /** Ordered view → click → purchase funnel, first-touch semantics: a
    * user reaches step k when their FIRST step-k event is strictly
    * later than their first step-(k-1) event. One conditional-min pass
    * per user, then three counts melted into (step, users_reached)
    * rows. */
  def eventsUserFunnel(spark: SparkSession, dir: String): DataFrame =
    eventsUserFunnelOver(Tables.events(spark, dir))

  /** Parameterized core over any (user_id, event_type, ts) frame — the
    * spec drives it with hand-ordered journeys. */
  private[graft] def eventsUserFunnelOver(ev: DataFrame): DataFrame = {
    val per = ev
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    val reachedClick = col("t_view").isNotNull &&
      col("t_click").isNotNull && col("t_click") > col("t_view")
    val reachedPurchase = reachedClick &&
      col("t_purchase").isNotNull && col("t_purchase") > col("t_click")
    per.agg(
        count(col("t_view")).as("u1"),
        count(when(reachedClick, lit(1))).as("u2"),
        count(when(reachedPurchase, lit(1))).as("u3"))
      .select(explode(array(
        struct(lit("1_view").as("step"), col("u1").as("users_reached")),
        struct(lit("2_click_after_view").as("step"), col("u2").as("users_reached")),
        struct(lit("3_purchase_after_click").as("step"), col("u3").as("users_reached"))))
        .as("r"))
      .select(col("r.step").as("step"), col("r.users_reached").as("users_reached"))
      .orderBy("step")
  }

  val eventsUserFunnelSql: String = """
WITH per AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id),
agg AS (
  SELECT COUNT(t_view) AS u1,
         COUNT(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                     AND t_click > t_view THEN 1 END) AS u2,
         COUNT(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                     AND t_click > t_view AND t_purchase IS NOT NULL
                     AND t_purchase > t_click THEN 1 END) AS u3
  FROM per)
SELECT step, users_reached FROM (
  SELECT '1_view' AS step, CAST(u1 AS BIGINT) AS users_reached FROM agg
  UNION ALL
  SELECT '2_click_after_view', CAST(u2 AS BIGINT) FROM agg
  UNION ALL
  SELECT '3_purchase_after_click', CAST(u3 AS BIGINT) FROM agg)
ORDER BY step"""

  /** Weekly signup-cohort retention: users are cohorted by the Monday
    * week of their FIRST signup event; a cohort member is retained in
    * week offset k when they have ANY event in cohort_week + k. The
    * per-user frame is (first signup week × distinct activity weeks) —
    * both one aggregation over events. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast(DateType).as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("week"))
      .distinct()
    cohort.join(active, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast(IntegerType).as("week_offset"))
      .agg(countDistinct("user_id").as("active_users"))
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortRetentionSql: String = """
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events)
SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
       CAST((a.week - c.cohort_week) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT c.user_id) AS active_users
FROM cohort c JOIN active a USING (user_id)
WHERE a.week >= c.cohort_week
GROUP BY c.cohort_week, (a.week - c.cohort_week) / 7
ORDER BY cohort_week, week_offset"""

  /** First-order Markov transition matrix over per-user event sequences:
    * for each consecutive (eventᵢ → eventᵢ₊₁) pair within a user's
    * timeline, the transition count and the row-normalized probability
    * P(to | from) — the clickstream model behind next-action prediction
    * and funnel-leak diagnosis. Ordering is total (ts, then event_id as
    * the unique tiebreak), so the lead() sequence — and therefore every
    * count — is reproducible across engines and partitionings.
    *
    * Scale posture: the lead() window partitions by user_id — per-user
    * state, millions of independent partitions, the same shape as
    * sessionization — then everything after the pair groupBy is
    * proportional to |event_type|² (≤ dozens of rows), with the
    * from-totals broadcast back. */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame =
    typeTransitionsOver(Tables.events(spark, dir))

  private[graft] def typeTransitionsOver(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    val cnt = pairs
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("transitions"))
    val fromTot = cnt.groupBy("from_type").agg(sum("transitions").as("from_total"))
    cnt.join(broadcast(fromTot), "from_type")
      .select(col("from_type"), col("to_type"), col("transitions"),
        (col("transitions").cast(DoubleType) / col("from_total").cast(DoubleType))
          .as("transition_prob"))
      .orderBy("from_type", "to_type")
  }

  val typeTransitionsSql: String = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
cnt AS (
  SELECT from_type, to_type, COUNT(*) AS transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
tot AS (SELECT from_type, SUM(transitions) AS from_total FROM cnt GROUP BY from_type)
SELECT c.from_type, c.to_type, c.transitions,
       CAST(c.transitions AS DOUBLE) / CAST(t.from_total AS DOUBLE) AS transition_prob
FROM cnt c JOIN tot t USING (from_type)
ORDER BY from_type, to_type"""

  /** Time-to-convert distribution: for every user who completes the
    * ordered funnel, the first-view → first-purchase latency, reduced to
    * exact p50/p90/p99 via the shared rank-selection core
    * ([[Quantiles.rankSelect]] — type-1 quantiles over value counts, in
    * integer micros end-to-end). The number product teams pair with the
    * funnel: how MANY convert is [[eventsUserFunnel]]; how LONG the
    * conversion takes is this. One groupBy(user) pass — the same
    * per-user conditional-min frame as the funnel — then the quantile
    * reduction over converting users only. */
  def funnelTimeToConvert(spark: SparkSession, dir: String): DataFrame =
    funnelTimeToConvertOver(Tables.events(spark, dir))

  private[graft] def funnelTimeToConvertOver(ev: DataFrame): DataFrame = {
    val per = ev
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    val reachedPurchase = col("t_view").isNotNull &&
      col("t_click").isNotNull && col("t_click") > col("t_view") &&
      col("t_purchase").isNotNull && col("t_purchase") > col("t_click")
    val converted = per.filter(reachedPurchase)
      .select(lit("all").as("cohort"),
        (unix_micros(col("t_purchase")) - unix_micros(col("t_view"))).as("v"))
    Quantiles.rankSelect(converted, "cohort", "micros", "n_users")
  }

  val funnelTimeToConvertSql: String = """
WITH per AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id),
conv AS (
  SELECT 'all' AS cohort,
         epoch_us(t_purchase) - epoch_us(t_view) AS v
  FROM per
  WHERE t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view
    AND t_purchase IS NOT NULL AND t_purchase > t_click)
SELECT cohort, MAX(n) AS n_users,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN v END) AS p50_micros,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN v END) AS p90_micros,
       MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN v END) AS p99_micros
FROM (
  SELECT cohort, v,
         ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY cohort) AS n
  FROM conv)
GROUP BY cohort ORDER BY cohort"""

  /** DAU / WAU / MAU and the DAU/MAU stickiness ratio per day — the
    * canonical engagement rollup. Exact trailing distinct counts cannot
    * be summed from daily distincts (users repeat), so the shape is:
    * collapse events to DISTINCT (user, day) pairs first — the only
    * pass over raw events — then fan each user-day out to the ≤7 / ≤28
    * trailing report days it supports and countDistinct per report day.
    * The fanout multiplies user-DAYS (already distinct-collapsed), not
    * events; at 100 TB the bounded-error alternative is an HLL sketch
    * per day merged over the window (`approx_count_distinct`), the same
    * exact/approx pairing as SURVEY §7.4. Report days outside the
    * 30-day monitoring window are clipped, and the first 27 days carry
    * partial-window MAU by construction (standard dashboard
    * convention). */
  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersOver(Tables.events(spark, dir))

  private[graft] def activeUsersOver(ev: DataFrame): DataFrame = {
    val asOf = to_date(lit(graft.Det.AsOfEventDate))
    val userDays = ev
      .filter(to_date(col("ts")) >= date_sub(asOf, 30) && to_date(col("ts")) < asOf)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val hi = userDays.agg(max("day").as("hi"))
    val fanned = userDays
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(27))).as("k"))
      .select(col("user_id"), col("day"),
        date_add(col("day"), col("k")).as("report_day"), col("k"))
      .crossJoin(broadcast(hi))
      .filter(col("report_day") <= col("hi"))
    // collapse to (report_day, user) grain BEFORE counting — the
    // q02/q05/q07 Expand-elimination convention: three countDistinct
    // variants here planned a ×3 Expand over the 28×-fanned frame. A
    // user's windows are decided by their NEAREST activity day
    // (min k ≥ 0): dau ⇔ min_k = 0, wau ⇔ min_k ≤ 6, mau ⇔ present —
    // plain counts over one hash-aggregated pre-pass, same values.
    fanned.groupBy("report_day", "user_id").agg(min(col("k")).as("min_k"))
      .groupBy("report_day").agg(
        count(when(col("min_k") === 0, 1)).as("dau"),
        count(when(col("min_k") <= 6, 1)).as("wau"),
        count(lit(1)).as("mau"))
      .select(
        date_format(col("report_day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"), col("mau"),
        (col("dau").cast(DoubleType) / col("mau").cast(DoubleType))
          .as("stickiness"))
      .orderBy("day")
  }

  val activeUsersSql: String = s"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE CAST(ts AS DATE) >= DATE '${graft.Det.AsOfEventDate}' - INTERVAL 30 DAY
    AND CAST(ts AS DATE) < DATE '${graft.Det.AsOfEventDate}'),
hi AS (SELECT MAX(day) AS hi FROM ud),
fanned AS (
  SELECT u.user_id, u.day, u.day + CAST(k.k AS INTEGER) AS report_day, k.k
  FROM ud u
  CROSS JOIN (SELECT unnest(generate_series(0, 27)) AS k) k
  CROSS JOIN hi
  WHERE u.day + CAST(k.k AS INTEGER) <= hi.hi)
SELECT strftime(report_day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT CASE WHEN k = 0 THEN user_id END) AS dau,
       COUNT(DISTINCT CASE WHEN k <= 6 THEN user_id END) AS wau,
       COUNT(DISTINCT user_id) AS mau,
       CAST(COUNT(DISTINCT CASE WHEN k = 0 THEN user_id END) AS DOUBLE)
         / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS stickiness
FROM fanned
GROUP BY report_day
ORDER BY day"""

  /** Hour-of-day × day-of-week activity heatmap — the seasonality grid
    * behind capacity planning and anomaly baselines (the events-side
    * complement of q09's order day-of-week pattern). One aggregation to
    * ≤ 168 cells; the share denominator broadcasts back. dayofweek is
    * Spark's 1=Sunday convention, matched in the oracle via DuckDB's
    * ISO dayofweek arithmetic. */
  def hourlyHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
    val cells = ev.groupBy("dow", "hod").agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum("n_events").as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hod"), col("n_events"),
        (col("n_events").cast(DoubleType) / col("total").cast(DoubleType))
          .as("share"))
      .orderBy("dow", "hod")
  }

  val hourlyHeatmapSql: String = """
WITH cells AS (
  SELECT CAST(isodow(ts) % 7 + 1 AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2),
tot AS (SELECT SUM(n_events) AS total FROM cells)
SELECT dow, hod, n_events,
       CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM cells CROSS JOIN tot
ORDER BY dow, hod"""

  val ops: Seq[Op] = Seq(
    Op("events_hourly_heatmap", hourlyHeatmap, hourlyHeatmapSql),
    Op("events_active_users", activeUsers, activeUsersSql, Ext),
    Op("events_user_funnel", eventsUserFunnel, eventsUserFunnelSql),
    Op("events_cohort_retention", cohortRetention, cohortRetentionSql),
    Op("events_type_transitions", typeTransitions, typeTransitionsSql, Ext),
    Op("funnel_time_to_convert", funnelTimeToConvert, funnelTimeToConvertSql, hazards = Map(
      Op.GlobalWindow -> ("NOT bounded: rankSelect partitions by the constant cohort 'all', " +
        "which the optimizer folds away, so its running sum runs in one task over every " +
        "distinct conversion duration, a frame that grows with converting users"))))
}
