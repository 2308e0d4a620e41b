package graft.ext

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively: AS-OF join and bounded
  * time-RANGE join. Both are composed from built-in operators (the
  * preference order in SURVEY §7.3 — no custom SparkPlan needed: the
  * compositions below already produce the physical shape a dedicated
  * operator would).
  *
  * Scale posture:
  *  - [[asofJoin]] is the sort-based formulation: ONE shuffle on the key,
  *    one sort per partition, no row explosion — the same cost profile as
  *    a dedicated as-of physical operator, and it survives arbitrarily
  *    large sides (no broadcast, no range materialization).
  *  - [[rangeJoin]] is the banded (bucketed) formulation: each left row
  *    lands in exactly one time bucket, each right row probes two
  *    buckets, so the equi-join key is (key, bucket) and the shuffle
  *    stays hash-partitioned — never the quadratic cross-join a naive
  *    inequality join plans. Bucket width = the range bound, so a
  *    matching pair is always in the same or adjacent bucket and each
  *    pair is produced exactly once (no dedup pass).
  */
object TemporalJoins {
  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Generic AS-OF join: for every left row, attach `payload` columns from
    * the single right row with the greatest `rightTs` <= the left row's
    * `leftTs`, per `key`. Ties on rightTs are broken by `rightTieBreak`
    * ascending (the last one wins; tie-break names must be a subset of
    * `payload`), so the result is deterministic.
    *
    * Left and right are unioned with a side tag, shuffled once on the
    * key, and sorted by (ts, side, tiebreak) — right rows sort before
    * left rows at equal timestamps, so an exactly-simultaneous right row
    * IS visible to the left row (inclusive as-of, DuckDB ASOF JOIN
    * semantics). A running `last(payload, ignoreNulls)` then carries the
    * most recent right payload forward onto each left row.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               rightTieBreak: Seq[String]): DataFrame = {
    // The payload travels as ONE struct, not independent columns: with
    // per-column last(ignoreNulls), a NULL field on the latest right row
    // would backfill from an OLDER right row, emitting a field mix that
    // never co-occurred. The struct is non-null for every right row
    // (even if all its fields are null), so ignoreNulls keys on the
    // side, never on field nullability.
    val r = right.select(
      (key.map(col) :+ col(rightTs).as(leftTs)) :+
        struct(payload.map(col): _*).as("_p"): _*)
      .withColumn("_side", lit(0))
    val all = left.withColumn("_side", lit(1))
      .unionByName(r, allowMissingColumns = true)
    val order: Seq[Column] =
      Seq(col(leftTs), col("_side")) ++ rightTieBreak.map(p => col("_p").getField(p))
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = all.withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    payload.foldLeft(carried) { (df, p) =>
      df.withColumn(p, col("_p").getField(p))
    }.drop("_p", "_side")
  }

  /** Generic bounded time-range join: all (left, right) pairs with the
    * same `key` and `0 <= right.ts - left.ts <= boundMicros` (timestamps
    * as epoch-micros columns). Left rows are exploded into their own and
    * the next bucket, so every qualifying pair meets on exactly one
    * (key, bucket) equi-key.
    *
    * Timestamps must be non-negative (`div` truncates toward zero, so
    * pre-1970 epochs would land in the wrong bucket — shift the column
    * first if that ever matters). */
  def rangeJoin(left: DataFrame, right: DataFrame, key: Seq[String],
                leftUs: String, rightUs: String, boundMicros: Long): DataFrame = {
    // bound 0 would divide by zero in the bucket math (silently NULLing
    // every bucket with ANSI off); exact-timestamp matching is a plain
    // equi-join on (key, ts), not a range join.
    require(boundMicros > 0, s"rangeJoin bound must be positive, got $boundMicros")
    val l = left.withColumn("_jb",
      explode(array(expr(s"$leftUs div $boundMicros"),
        expr(s"$leftUs div $boundMicros") + 1)))
    val r = right.withColumn("_jb", expr(s"$rightUs div $boundMicros"))
    l.join(r, key :+ "_jb")
      .filter(col(rightUs) >= col(leftUs) &&
        col(rightUs) <= col(leftUs) + boundMicros)
      .drop("_jb")
  }

  /** AS-OF attribution: each purchase event joined to the user's most
    * recent click at or before it (the classic marketing-attribution
    * as-of). DuckDB expresses the same with its native ASOF JOIN; the
    * oracle uses the window formulation so tie-breaks are bit-identical. */
  def asofClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"), col("user_id"),
        col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"), col("value").as("click_value"),
        unix_micros(col("ts")).as("click_us"))
    asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
      payload = Seq("click_event_id", "click_value", "click_us"),
      rightTieBreak = Seq("click_event_id"))
      .select(
        col("purchase_event_id"), col("user_id"),
        date_format(col("ts"), tsFmt).as("purchase_ts"),
        col("click_event_id"), col("click_value"),
        (unix_micros(col("ts")) - col("click_us")).as("gap_us"))
      .orderBy("purchase_event_id")
  }

  /** The payload rides as ONE struct, mirroring [[asofJoin]]'s struct
    * carry — per-column last_value(IGNORE NULLS) would backfill a NULL
    * field of the latest click from an older click. */
  val asofClickAttributionSql: String = """
WITH e AS (
  SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
  FROM events),
m AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'click'
                         THEN struct_pack(id := event_id, v := value, us := epoch_us(ts)) END
                    IGNORE NULLS) OVER w AS c
  FROM e
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id AS purchase_event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       (c).id AS click_event_id, (c).v AS click_value,
       epoch_us(ts) - (c).us AS gap_us
FROM m
WHERE event_type = 'purchase'
ORDER BY purchase_event_id"""

  /** Bounded range join: every (click, purchase) pair of the same user
    * with the purchase 0–6 hours after the click. */
  def rangeClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    val bound = 6L * 3600 * 1000000
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event_id"),
        unix_micros(col("ts")).as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
    rangeJoin(clicks, purchases, Seq("user_id"), "click_us", "purchase_us", bound)
      .select(col("user_id"), col("click_event_id"), col("purchase_event_id"),
        (col("purchase_us") - col("click_us")).as("gap_us"))
      .orderBy("click_event_id", "purchase_event_id")
  }

  val rangeClickPurchaseSql: String = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events)
SELECT c.user_id, c.event_id AS click_event_id, p.event_id AS purchase_event_id,
       p.us - c.us AS gap_us
FROM e c JOIN e p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.us >= c.us AND p.us <= c.us + 21600000000
ORDER BY click_event_id, purchase_event_id"""

  val ops: Seq[Op] = Seq(
    Op("asof_click_attribution", asofClickAttribution, asofClickAttributionSql, Ext),
    Op("range_join_click_purchase", rangeClickPurchase, rangeClickPurchaseSql, Ext))
}
