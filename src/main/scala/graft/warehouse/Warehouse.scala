package graft.warehouse

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema builders — the Spark-native re-expression of the reference's
  * warehouse loader (reference: scripts/transformation/load_warehouse.py and
  * sql/ddl/create_warehouse_schema.sql:9-128): 4 dimensions + 1 fact +
  * 3 aggregate tables, over the driver's TPC-H-ish test data
  * (entity mapping in FIXTURES.md §B: part→products, customer+nation+region→
  * customers/geography, orders→transactions, lineitem→transaction_items,
  * o_orderpriority→payment_method analogue).
  *
  * Scale posture (100 TB): bounded dimensions (payment/nation/region —
  * cardinality fixed by construction) broadcast unconditionally; SCALING
  * dimensions (part, customer) go through the measured-size gate
  * ([[graft.Joins.broadcastIfSmall]]) — broadcast while they fit, shuffle
  * join when they grow past the budget — so the only unavoidable shuffle
  * is lineitem⋈orders on the order key, the fact-to-fact co-partition
  * join (bucket both by order key in a real deployment and it disappears
  * too). Surrogate keys: dims rank
  * the natural key via partition-offset numbering ([[rankByUniqueKey]] —
  * deterministic run-to-run, SURVEY §7.4; never
  * monotonically_increasing_id, never a single-partition global window);
  * the fact's sales_key is
  * orderkey*32 + a per-order row_number (window partitioned by the join
  * key) instead of a global row_number, which would single-partition
  * 100 TB through one window.
  */
object Warehouse {

  /** Warehouse tables are STORED parquet assets, one vintage per
    * source-collection fingerprint — the [[graft.sim.IndexStore]]
    * build/serve protocol the ANN indexes and the co-purchase edge
    * asset already use, applied to the star schema itself. This is
    * exactly the reference's semantics (its analytics queries read
    * pre-LOADED Postgres tables, generate_analytics.py:20-24; the
    * loader runs once per collection, load_warehouse.py), and at scale
    * it is the only shape that works.
    *
    * Through round 13 this was a per-session MEMORY_AND_DISK persist of
    * the fact JOIN PLAN. The round-14 dim-scaled 300× rung killed that
    * design for a reason that only appears past the broadcast budget: a
    * CACHED plan keeps its ShuffleDependencies reachable, so the two
    * full-fact sort-merge exchanges behind the fact build (~53 GB at
    * the rung, zstd-compressed) could never be cleaned while the cache
    * lived, and every dim-grain query stacked its own ~20 GB fact-wide
    * shuffle on top — ENOSPC on a ~100 GB filesystem. Serving the fact
    * from parquet discards the join lineage (the build's shuffle files
    * become collectable the moment the write commits), gives every
    * consumer real file statistics instead of opaque RDD-backed
    * estimates, and costs one columnar write per collection vintage —
    * amortized across sessions by the manifest/fingerprint guard. */
  private def materialized(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    graft.sim.IndexStore.loadOrBuild(spark, dir, s"warehouse_$name", StoreVersion,
      graft.sim.IndexStore.vintage(spark, dir, SourceTables), Seq(name))(Map(name -> build))(name)

  /** Bump when any dim/fact derivation changes. */
  private val StoreVersion =
    "warehouse-v2;dims=natural-key-rank;fact=per-order-line-seq+size-gated-dim-joins"

  /** Only the tables the warehouse actually derives from — supplier is
    * read by nothing here, and including it meant a supplier-only
    * regeneration spuriously invalidated (and re-built, 427 s at the
    * 300× rung) every warehouse asset. */
  private val SourceTables = Seq("region", "nation", "customer", "part", "orders", "lineitem")

  /** Global 1-based rank of a UNIQUE natural key without a
    * single-partition window (SURVEY §7.4) — see [[graft.Dist]] for the
    * partition-offset machinery and the single-lineage rule. A 10⁸-row
    * dimension numbers in parallel where
    * `row_number().over(Window.orderBy(key))` would single-thread it.
    */
  private[graft] def rankByUniqueKey(df: DataFrame, key: String, out: String): DataFrame =
    graft.Dist.rankByUniqueKey(df, key, out)

  /** dim_products analogue (reference: load_warehouse.py:62-78 + derived
    * price_category at staging_to_production.py:51-58). Cost is not in the
    * test data, so it is derived deterministically as 60% of retail price
    * (the reference generates cost = price × uniform(0.5,0.8),
    * generate_data.py:92).
    */
  def dimPart(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "dim_part") { buildDimPart(spark, dir) }

  /** The dim BUILD plans (exposed like [[buildFact]] for the plan-shape
    * and served-vs-fresh-equality specs — the served dims are parquet
    * scans of the stored assets, so build-plan properties, e.g. "no
    * single-partition window in the surrogate-key rank", are only
    * visible here, and a derivation change with an unbumped
    * [[StoreVersion]] is only catchable by comparing against them). */
  private[graft] def buildDimPart(spark: SparkSession, dir: String): DataFrame = {
    val price = graft.Pricing.price(col("p_retailprice"))
    val cost  = graft.Pricing.cost(price)
    rankByUniqueKey(Tables.part(spark, dir), "p_partkey", "product_key").select(
      col("product_key"),
      col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      price.as("price"),
      cost.as("cost"),
      ((price - cost).cast(DoubleType) / price.cast(DoubleType) * lit(100.0)).as("profit_margin_pct"),
      graft.Pricing.priceCategory(price).as("price_category"),
      lit(true).as("is_current"))
  }

  /** dim_customers analogue with geography flattened in (reference:
    * load_warehouse.py:62-96; SCD2 surface columns per
    * create_warehouse_schema.sql:21-23 — the reference truncate-reloads, so
    * like it we emit constant effective/end dates).
    */
  def dimCustomer(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "dim_customer") { buildDimCustomer(spark, dir) }

  private[graft] def buildDimCustomer(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    rankByUniqueKey(
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey")),
      "c_custkey", "customer_key")
      .select(
        col("customer_key"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("acctbal"),
        col("n_name").as("nation"), col("r_name").as("region"),
        to_date(lit("1995-01-01")).as("effective_date"),
        to_date(lit("9999-12-31")).as("end_date"),
        lit(true).as("is_current"))
  }

  /** dim_date (reference: load_warehouse.py:150-163 — distinct transaction
    * dates with 8 derived calendar fields; date_key = yyyymmdd int).
    * Weekend = Saturday/Sunday via day name, sidestepping the Postgres
    * ISODOW vs Spark dayofweek numbering clash (SURVEY §7.4).
    */
  def dimDate(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "dim_date") { buildDimDate(spark, dir) }

  private[graft] def buildDimDate(spark: SparkSession, dir: String): DataFrame = {
    val d = col("full_date")
    Tables.orders(spark, dir)
      .select(col("o_orderdate").cast(DateType).as("full_date")).distinct()
      .select(
        (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast(LongType).as("date_key"),
        d,
        year(d).cast(LongType).as("year"), quarter(d).cast(LongType).as("quarter"),
        month(d).cast(LongType).as("month"),
        date_format(d, "MMMM").as("month_name"),
        dayofmonth(d).cast(LongType).as("day"),
        date_format(d, "EEEE").as("day_name"),
        weekofyear(d).cast(LongType).as("week"),
        date_format(d, "EEEE").isin("Saturday", "Sunday").as("is_weekend"))
  }

  /** dim_payment_method analogue over o_orderpriority (5 values, like the
    * reference's 5 payment methods — load_warehouse.py:180-195).
    * payment_type is the reference's hard-coded 'Digital' quirk
    * (load_warehouse.py:190), reproduced deliberately (SURVEY §7.4).
    */
  def dimPayment(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "dim_payment") { buildDimPayment(spark, dir) }

  private[graft] def buildDimPayment(spark: SparkSession, dir: String): DataFrame =
    rankByUniqueKey(
      Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("payment_method")).distinct(),
      "payment_method", "payment_method_key")
      .select(
        col("payment_method_key"),
        col("payment_method"),
        lit("Digital").as("payment_type"))

  /** fact_sales: one row per line item, all surrogate keys attached, derived
    * measures line_total / discount_amount / profit (reference:
    * load_warehouse.py:208-227, grain asserted by tests/test_warehouse.py
    * test_fact_grain). Bounded dims broadcast, scaling dims go through the
    * measured-size gate; lineitem⋈orders is the single mandatory shuffle.
    */
  def fact(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "fact") { buildFact(spark, dir) }

  /** The fact JOIN PLAN (exposed for the plan-shape specs — the served
    * [[fact]] is a parquet scan of the stored asset, so build-plan
    * properties are only visible here). */
  private[graft] def buildFact(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val dp = dimPart(spark, dir).select("product_key", "p_partkey", "cost")
    val dc = dimCustomer(spark, dir).select("customer_key", "c_custkey")
    val pm = dimPayment(spark, dir)

    val net  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val d    = col("o_orderdate").cast(DateType)

    // Deterministic surrogate line id: the test data re-uses l_linenumber
    // within an order, so number lines per order over a total ordering.
    // Partitioned by the join key → same shuffle the join needs, never a
    // global window; ≤17 lines/order observed, 32 leaves headroom.
    val lineSeq = row_number().over(
      Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_shipdate"))

    // dimPart/dimCustomer joins carry NO broadcast hint: part and
    // customer are SCALING dimensions (they grow with SF in TPC-H-shaped
    // data), so the join strategy is the planner's size-based choice —
    // statically below the autoBroadcastJoinThreshold they broadcast
    // (the sub-GB regime every driver SF and small rung sits in), and
    // past it AQE/SMJ takes over instead of a hard hint OOMing the
    // driver at 100 TB. A hard hint here was the one untested scale
    // assumption through round 13 (dims never grew on the ladder); the
    // dim-scaled ScaleGen mode now exercises both regimes. dimPayment
    // stays hinted: 5 rows by construction, bounded at any SF.
    li.withColumn("line_seq", lineSeq)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(graft.Joins.broadcastIfSmall(dp), col("l_partkey") === col("p_partkey"))
      .join(graft.Joins.broadcastIfSmall(dc), col("o_custkey") === col("c_custkey"))
      .join(broadcast(pm), col("o_orderpriority") === col("payment_method"))
      .select(
        (col("l_orderkey") * 32 + col("line_seq")).as("sales_key"),
        col("l_orderkey"), col("l_linenumber"),
        col("customer_key"), col("o_custkey"),
        col("product_key"), col("l_partkey"),
        col("payment_method_key"), col("payment_method"),
        (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast(LongType).as("date_key"),
        d.as("order_date"),
        col("l_quantity").cast(LongType).as("quantity"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        col("l_discount").as("discount_rate"),
        Det.dec6(col("l_extendedprice")).as("gross_amount"),
        Det.dec6(net).as("line_total"),
        Det.dec6(col("l_extendedprice") * col("l_discount")).as("discount_amount"),
        Det.dec6(net - col("l_quantity") * col("cost").cast(DoubleType)).as("profit"))
  }

  /** agg_daily_sales (declared but never populated by the reference —
    * create_warehouse_schema.sql:100-110; we materialize it, SURVEY §2.4).
    *
    * Same Expand-elimination rewrite as the q05/q07/q09 analytics
    * collapses: the direct form's TWO `COUNT(DISTINCT ...)` aggregates
    * (l_orderkey, customer_key) plan a ×3 `Expand` of the shuffled fact
    * — the exact shape that cost q07 47.5 s at the 300× rung. Orders
    * never span dates (date_key derives from the per-order order_date)
    * and an order has one customer, so the fact collapses to
    * (date_key, l_orderkey) grain, then (date_key, customer_key), then
    * date_key — three plain hash aggregates over progressively smaller
    * frames, no Expand, no distinct-aggregate chain. Decimal sums are
    * associative and the round happens once at date grain, exactly
    * where the direct form (and the oracle) rounds — bit-equal. */
  def aggDailySales(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = fact(spark, dir).groupBy("date_key", "l_orderkey")
      .agg(
        min(col("customer_key")).as("customer_key"), // constant within an order
        sum(Det.dec6(col("line_total"))).as("rev"),
        sum(Det.dec6(col("profit"))).as("prof"),
        sum(col("quantity")).as("qty"))
    val perCust = perOrder.groupBy("date_key", "customer_key")
      .agg(
        count(lit(1)).as("orders"),
        sum(col("rev")).as("rev"),
        sum(col("prof")).as("prof"),
        sum(col("qty")).as("qty"))
    perCust.groupBy("date_key")
      .agg(
        sum(col("orders")).as("total_transactions"),
        round(sum(col("rev")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("total_revenue"),
        round(sum(col("prof")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("total_profit"),
        count(lit(1)).as("unique_customers"),
        sum(col("qty")).as("units_sold"))
      .orderBy("date_key")
  }

  /** agg_product_performance (create_warehouse_schema.sql:112-119).
    *
    * `COUNT(DISTINCT l_orderkey)` per product plans the 4-aggregate
    * single-distinct chain with the fact shuffled at (product, order)
    * grain; collapsing to that grain EXPLICITLY makes transaction_count
    * a plain count and the chain two hash aggregates (see
    * [[aggDailySales]] for the decimal-associativity argument). */
  def aggProductPerformance(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = fact(spark, dir).groupBy("product_key", "l_partkey", "l_orderkey")
      .agg(
        sum(col("quantity")).as("qty"),
        sum(Det.dec6(col("line_total"))).as("rev"),
        sum(Det.dec6(col("profit"))).as("prof"))
    perOrder.groupBy("product_key", "l_partkey")
      .agg(
        sum(col("qty")).as("units_sold"),
        round(sum(col("rev")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("total_revenue"),
        round(sum(col("prof")), 2).cast(DecimalType(18, 2))
          .cast(DoubleType).as("total_profit"),
        count(lit(1)).as("transaction_count"))
      .orderBy("product_key")
  }

  /** agg_customer_metrics (create_warehouse_schema.sql:121-128).
    *
    * The q07 collapse applied to the warehouse table that shares its
    * shape: orders are the grain (customer_key / o_custkey / order_date
    * are constant within an order), total_transactions becomes a plain
    * count, the average re-derives as order-sum / line-count with the
    * round at customer grain where [[Det.mavg]] (and the oracle)
    * rounds — bit-equal. */
  def aggCustomerMetrics(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = fact(spark, dir).groupBy("l_orderkey")
      .agg(
        min(col("customer_key")).as("customer_key"), // constant within an order
        min(col("o_custkey")).as("o_custkey"),       // constant within an order
        min(col("order_date")).as("order_date"),     // constant within an order
        sum(Det.dec6(col("line_total"))).as("rev"),
        count(lit(1)).as("n_lines"))
    val spent = round(sum(col("rev")), 2).cast(DecimalType(18, 2))
    perOrder.groupBy("customer_key", "o_custkey")
      .agg(
        count(lit(1)).as("total_transactions"),
        spent.cast(DoubleType).as("total_revenue"),
        (spent.cast(DoubleType) / sum(col("n_lines"))).as("avg_order_value"),
        date_format(min(col("order_date")), "yyyy-MM-dd").as("first_purchase_date"),
        date_format(max(col("order_date")), "yyyy-MM-dd").as("last_purchase_date"))
      .orderBy("customer_key")
  }
}
