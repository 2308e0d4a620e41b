package graft

import graft.etl.{Cleanse, Load}
import graft.monitor.Monitor
import graft.quality.Quality
import org.apache.spark.sql.functions._

class EtlQualitySpec extends SparkSpec {

  test("cleanse_lineitems recompute is always consistent and filters hold") {
    val df = Cleanse.cleanseLineitems(spark, sf)
    assert(df.filter(!col("is_consistent")).count() == 0)
    assert(df.filter(col("quantity") <= 0).count() == 0)
  }

  test("cleanse_customers title-cases and strips digits") {
    val row = Cleanse.cleanseCustomers(spark, sf)
      .filter(col("customer_id") === 1).head()
    assert(row.getAs[String]("name_clean").startsWith("Customer#"))
    assert(row.getAs[String]("id_digits").forall(_.isDigit))
    assert(row.getAs[String]("segment") == row.getAs[String]("segment").toLowerCase)
  }

  test("incremental load returns exactly the not-yet-loaded keys") {
    val keys = Load.incrementalNewOrders(spark, sf).select("order_id")
    assert(keys.filter(col("order_id") % 3 =!= 0).count() == 0)
    assert(keys.count() > 0)
  }

  test("quality_checks has 12 checks and zero orphans") {
    val checks = Quality.qualityChecks(spark, sf).collect()
    assert(checks.length == 12)
    val orphans = checks.filter(r =>
      r.getAs[String]("check_name").startsWith("orphan_"))
    assert(orphans.nonEmpty && orphans.forall(_.getAs[Long]("violations") == 0))
  }

  test("quality checks on NULL keys, duplicates and orphans on both sides of each join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("quality_edges").toString
    Seq[(Option[Long], String)]((Some(1L), "Alice"), (Some(2L), null), (Some(3L), ""),
        (Some(3L), "Carol"), (None, "NoKey"))
      .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 100.0), (11L, 0.0), (12L, -5.0))
      .toDF("p_partkey", "p_retailprice").write.parquet(s"$dir/part.parquet")
    Seq[(Option[Long], Long, Double, Double, Double, Double)](
        (Some(100L), 10L, 1.0, 10.0, 0.0, 0.0), // order 100's items total 10 + 18
        (Some(100L), 10L, 2.0, 20.0, 0.1, 0.0),
        (Some(200L), 99L, 1.0, 5.0, 0.0, 0.0),  // no order 200, no part 99
        (Some(200L), 10L, -1.0, 5.0, 0.6, 0.0), // bad quantity and discount
        (None, 11L, 3.0, 30.0, 0.0, 0.0))       // NULL order key
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq[(Option[Long], Option[Long], Double)](
        (Some(100L), Some(1L), 28.0),
        (Some(100L), Some(2L), 50.0), // duplicate key, total off
        (Some(300L), Some(7L), 10.0), // no items, no customer 7
        (None, None, 5.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val got = Quality.qualityChecks(spark, dir).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("violations")).toMap
    assert(got == Map(
      "customers_null_name" -> 2L, "customers_duplicate_key" -> 1L,
      "products_nonpositive_price" -> 2L, "products_cost_exceeds_price" -> 2L,
      "lineitems_nonpositive_quantity" -> 1L, "lineitems_discount_out_of_range" -> 1L,
      "lineitems_total_consistency" -> 0L, "orders_total_mismatch" -> 1L,
      "orphan_lineitems_orders" -> 3L, "orphan_lineitems_parts" -> 1L,
      "orphan_orders_customers" -> 2L, "orders_without_items" -> 2L))
    val score = Quality.qualityScore(spark, dir).head()
    assert(score.getAs[Long]("total_records") == 17L && score.getAs[Long]("total_violations") == 18L)
    assert(score.getAs[Double]("quality_score") == 0.0 && score.getAs[String]("grade") == "D")
  }

  test("quality_score is a valid grade over actual records") {
    val r = Quality.qualityScore(spark, sf).head()
    val score = r.getAs[Double]("quality_score")
    assert(score >= 0.0 && score <= 100.0)
    assert(Set("A", "B", "C", "D").contains(r.getAs[String]("grade")))
  }

  test("reconcile_counts covers the four entities") {
    val rows = Load.reconcileCounts(spark, sf).collect()
    assert(rows.map(_.getAs[String]("table_name")).toSet ==
      Set("customer", "part", "orders", "lineitem"))
    assert(rows.forall(r => r.getAs[Long]("loaded_rows") <= r.getAs[Long]("source_rows")))
  }

  test("freshness probes all three layers with non-negative lag") {
    val rows = Load.freshnessUnion(spark, sf).collect()
    assert(rows.map(_.getAs[String]("layer")).toSet ==
      Set("staging", "production", "warehouse"))
    assert(rows.forall(_.getAs[Long]("lag_days") >= 0))
  }

  test("volume anomaly window has rows and finite stats") {
    val rows = Monitor.volumeAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.getAs[Double]("stddev_count").isNaN))
  }

  test("backlog aging partitions exactly the unfinished orders") {
    import org.apache.spark.sql.functions._
    val rows = graft.etl.Load.backlogAging(spark, sf).collect()
    assert(rows.nonEmpty)
    val open = Tables.orders(spark, sf)
      .filter(col("o_orderstatus").isin("O", "P")).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == open)
    val buckets = Set("1_under_90d", "2_under_1y", "3_under_2y", "4_over_2y")
    rows.foreach { r =>
      assert(buckets(r.getAs[String]("age_bucket")))
      assert(r.getAs[Double]("open_value") > 0.0)
    }
  }

  test("hourly heatmap covers the week grid with shares summing to 1") {
    val rows = graft.analytics.Funnels.hourlyHeatmap(spark, sf).collect()
    assert(rows.length <= 168 && rows.nonEmpty)
    rows.foreach { r =>
      val (dow, hod) = (r.getAs[Int]("dow"), r.getAs[Int]("hod"))
      assert(dow >= 1 && dow <= 7 && hod >= 0 && hod <= 23)
    }
    val s = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(s - 1.0) < 1e-9)
  }
}
