package graft

import graft.analytics.Analytics
import graft.warehouse.Warehouse
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {

  test("every registered query returns rows and matches its oracle key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // the registry is a ++ of per-module maps: a duplicate key would
    // silently SHADOW an earlier module's op (later-wins), replacing a
    // verified row with a different query under the same name
    assert(SparkEntry.inventorySizes.sum == SparkEntry.queries.size,
      "duplicate query key across module inventories")
    // ann_lsh_dedup_pairs is CORRECTLY empty on the driver corpus: its
    // pairwise cosine tops out at 0.51 (sf0.01) / 0.60 (sf0.1), below
    // the 0.8 dedup threshold — the oracle verifies the empty set
    // cross-engine, and AnnDedupGradeSpec proves the operating point on
    // a clone-pile corpus where it is non-trivially exercised.
    val correctlyEmpty = Set("ann_lsh_dedup_pairs")
    // the 0.45 operating point exists to be OUTPUT-BEARING at the
    // driver SFs (3 rows at sf0.01, 19 at sf0.1, both oracle-checked);
    // on this spec's tiny sf0.001 corpus the deep banding may surface
    // nothing above 0.45 — empty is acceptable here, non-empty is too
    val emptyOkAtSpecSf = Set("ann_lsh_dedup_pairs_t45")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (correctlyEmpty(name)) assert(n == 0, s"$name expected empty on the driver corpus, got $n")
      else if (!emptyOkAtSpecSf(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("q01 returns exactly 10 products, revenue descending") {
    val rows = Analytics.q01(spark, sf).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getAs[Double]("total_revenue"))
    assert(revs.sameElements(revs.sorted(Ordering[Double].reverse)))
  }

  test("q05 percentages sum to 100") {
    val rows = Analytics.q05(spark, sf).collect()
    val pctTx = rows.map(_.getAs[Double]("pct_of_transactions")).sum
    val pctRev = rows.map(_.getAs[Double]("pct_of_revenue")).sum
    assert(math.abs(pctTx - 100.0) < 1e-6, s"pct_of_transactions sums to $pctTx")
    assert(math.abs(pctRev - 100.0) < 1e-6, s"pct_of_revenue sums to $pctRev")
  }

  test("fact grain is one row per lineitem and keys are complete") {
    val f = Warehouse.fact(spark, sf)
    val li = Tables.lineitem(spark, sf)
    assert(f.count() == li.count())
    assert(f.filter(col("customer_key").isNull || col("product_key").isNull ||
      col("payment_method_key").isNull || col("date_key").isNull).count() == 0)
    assert(f.select("sales_key").distinct().count() == f.count())
  }

  test("dim surrogate keys are dense, deterministic and unique") {
    val dp = Warehouse.dimPart(spark, sf)
    val n = dp.count()
    assert(dp.select("product_key").distinct().count() == n)
    assert(dp.agg(max("product_key")).head.getLong(0) == n)
    // deterministic across rebuilds
    val again = Warehouse.dimPart(spark, sf).select("product_key", "p_partkey")
    assert(dp.select("product_key", "p_partkey").except(again).count() == 0)
  }

  test("entry flagship runs on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
