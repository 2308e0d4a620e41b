package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The ONE place the derived-pricing business rules live on the Spark
  * side. Three layers apply them — cleansing (`etl.Cleanse`), the
  * warehouse dim (`warehouse.Warehouse.buildDimPart`), and the quality
  * check (`quality.Quality`) — and they must agree exactly, or the
  * cleanse output, the dim, and the validation silently drift apart.
  * Their DuckDB oracles spell the same rules out in their own SQL
  * (`Cleanse.cleanseProductsSql`, `warehouse.OracleSql.prelude`,
  * `Quality.qualityChecksSql`), so the oracle check compares each layer
  * with an independent statement of the rules.
  *
  * Rules (reference: generate_data.py:92 cost = price × uniform(0.5,
  * 0.8) — fixed at 0.60 for determinism; staging_to_production.py:51-58
  * price buckets, thresholds rescaled to the test data's price range).
  */
object Pricing {
  val CostRate = "0.60"
  val BudgetBelow = 1200
  val MidRangeBelow = 1800

  /** price as exact money: DECIMAL(18,2). */
  def price(retail: Column): Column = retail.cast(DecimalType(18, 2))

  /** Derived cost = round(price × 0.60, 2), exact decimal. */
  def cost(price: Column): Column =
    round(price * lit(BigDecimal(CostRate)), 2).cast(DecimalType(18, 2))

  /** Budget / Mid-range / Premium bucket. */
  def priceCategory(price: Column): Column =
    when(price < BudgetBelow, "Budget")
      .when(price < MidRangeBelow, "Mid-range")
      .otherwise("Premium")
}
