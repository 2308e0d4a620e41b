package graft.quality

import graft.{Det, Op, Sql, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** PII handling for operational records — the governance transform a
  * training-data pipeline applies before customer-grain rows may feed
  * analytics exports or model corpora.
  *
  * The reference carries raw identity columns end-to-end — staging
  * `first_name/email/phone` (sql/ddl/create_staging_schema.sql:19-22),
  * production `email UNIQUE` (create_production_schema.sql:16), a
  * `shipping_address` on transactions (create_staging_schema.sql:58) —
  * and its warehouse dim keeps them verbatim
  * (create_warehouse_schema.sql:12-14). `k_anonymity_audit`
  * ([[Profile]]) measures that exposure and `pii_scrub`
  * ([[graft.ext.Extensions.piiScrub]]) redacts free-text identifier
  * patterns; this module is the third leg: deterministic
  * pseudonymization and generalization, the faces a pipeline publishes
  * when downstream joins must keep working.
  *
  * Two properties make scrubbing usable at warehouse scale:
  *
  *   1. '''Deterministic pseudonymization''' — the surrogate is a pure
  *      salted-md5 function of the natural key, so every table derives
  *      the SAME pseudonym for the same customer with no lookup table
  *      to build, broadcast, or leak. Re-runs and incremental loads
  *      stay consistent forever (the same argument as
  *      [[graft.text.Curation.datasetSplit]]'s hash membership).
  *   2. '''Stateless map-side transforms''' — masking and banding are
  *      per-row expressions (no shuffle, no state); the only shuffle
  *      anywhere is the downstream join/agg a consumer would run
  *      anyway, now keyed on the 64-bit-entropy pseudonym (which also
  *      de-clusters any hot natural-key ranges).
  *
  * The driver's customer table is slim (c_custkey, c_name embedding the
  * key, c_acctbal, c_mktsegment — TESTDATA.md), so the scrub surface
  * here is: name → digit-masked, key → pseudonym, balance → 1000-unit
  * band (coarse enough to kill the near-unique quasi-identifier that
  * `k_anonymity_audit` flags at k=1 for exact balances).
  */
object Pii {
  /** Salted pseudonym of a customer key: 16 hex chars of
    * md5("pii:" + key) — identical expression in both engines. */
  private def pseudonym(key: String) =
    expr(s"concat('cust_', substr(md5(concat('pii:', cast($key as string))), 1, 16))")
  private def pseudonymSql(key: String) =
    s"'cust_' || substr(md5('pii:' || CAST($key AS VARCHAR)), 1, 16)"

  /** The publishable customer face: pseudonymized key, digit-masked
    * name, balance generalized to its 1000-unit band, segment kept
    * (the analytics dimension). Pure map-side projection — no shuffle
    * before the output sort. */
  def scrubCustomers(spark: SparkSession, dir: String): DataFrame =
    scrubCustomersOver(Tables.customer(spark, dir))

  private[graft] def scrubCustomersOver(customer: DataFrame): DataFrame =
    customer.select(
        pseudonym("c_custkey").as("pseudonym"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
        (floor(col("c_acctbal") / 1000.0) * 1000).cast(LongType)
          .as("acctbal_band"),
        col("c_mktsegment").as("mktsegment"))
      .orderBy("pseudonym")

  val scrubCustomersSql: String = s"""
SELECT ${pseudonymSql("c_custkey")} AS pseudonym,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
       CAST(FLOOR(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_band,
       c_mktsegment AS mktsegment
FROM customer
ORDER BY pseudonym"""

  /** Referential integrity THROUGH pseudonymization: orders and
    * customers are pseudonymized independently (no shared state, as
    * two ingest jobs would), then joined on the pseudonym alone. The
    * per-segment rollup equals the raw-key join's, which is the
    * property that makes scrubbed extracts analytically usable — the
    * oracle hash proves it end-to-end.
    *
    * The order side collapses to PSEUDONYM grain before the join (the
    * q05/q07 Expand-elimination discipline): `COUNT(DISTINCT
    * pseudonym)` per segment planned the 4-aggregate single-distinct
    * chain with the joined stream re-shuffled at (segment, pseudonym)
    * grain, and the join probed once per ORDER. After the collapse the
    * join probes once per ordering customer, n_customers is a plain
    * count (each joined row IS one distinct pseudonym), and the
    * pseudonym-keyed exchange carries one combined row per customer
    * instead of every order. Decimal sums are associative and the
    * round happens once at segment grain, exactly where [[Det.msum]]
    * (and the oracle) rounds — bit-equal. Still one key-shuffle join
    * (both sides data-sized, no broadcast assumption). */
  def referentialRollup(spark: SparkSession, dir: String): DataFrame = {
    val cp = Tables.customer(spark, dir)
      .select(pseudonym("c_custkey").as("pseudonym"), col("c_mktsegment"))
    val op = Tables.orders(spark, dir)
      .select(pseudonym("o_custkey").as("pseudonym"), col("o_totalprice"))
      .groupBy("pseudonym")
      .agg(count(lit(1)).as("n_orders"),
        sum(Det.dec6(col("o_totalprice"))).as("rev"))
    op.join(cp, "pseudonym")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("n_orders"),
        round(sum(col("rev")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("revenue"))
      .orderBy("mktsegment")
  }

  val referentialRollupSql: String = s"""
WITH cp AS (
  SELECT ${pseudonymSql("c_custkey")} AS pseudonym, c_mktsegment
  FROM customer),
op AS (
  SELECT ${pseudonymSql("o_custkey")} AS pseudonym, o_totalprice
  FROM orders)
SELECT c_mktsegment AS mktsegment,
       COUNT(DISTINCT pseudonym) AS n_customers,
       COUNT(*) AS n_orders,
       ${Sql.msum("o_totalprice")} AS revenue
FROM op JOIN cp USING (pseudonym)
GROUP BY c_mktsegment
ORDER BY mktsegment"""

  val ops: Seq[Op] = Seq(
    Op("pii_pseudonymize", scrubCustomers, scrubCustomersSql),
    Op("pii_referential_rollup", referentialRollup, referentialRollupSql, Ext))
}
