package graft

import graft.analytics.{Basket, CopurchaseStore, Rfm}

/** Market-basket pair mining and RFM segmentation semantics. */
class BasketRfmSpec extends SparkSpec {
  import spark.implicits._

  test("basket pairs: hand-computed support and lift") {
    // orders: {A,B}, {A,B}, {A,C}, {D} → (A,B) in 2 of 4 orders
    val li = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 40L),
      (1L, 10L)) // duplicate line of part 10 in order 1 must not double-count
      .toDF("l_orderkey", "l_partkey")
    val rows = Basket.topPairsWithLift(CopurchaseStore.basketTablesOf(li)).collect()
    val ab = rows.find(r => r.getLong(0) == 10L && r.getLong(1) == 20L).get
    assert(ab.getAs[Long]("pair_orders") == 2L)
    assert(ab.getAs[Long]("orders_a") == 3L && ab.getAs[Long]("orders_b") == 2L)
    assert(ab.getAs[Double]("support") == 2.0 / 4.0)
    assert(ab.getAs[Double]("lift") == (2.0 * 4.0) / (3.0 * 2.0))
    // pair set is exactly the co-occurrences
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 20L), (10L, 30L)))
  }

  test("basket pairs plan: co-partitioned self-join plus a top-k") {
    val plan = Basket.basketPairs(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("rfm segments partition every customer with scores in 1..5") {
    val rows = Rfm.rfmSegments(spark, sf).collect()
    val nCustomers = Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCustomers)
    rows.foreach { r =>
      Seq("min_r", "max_r", "min_f", "max_f", "min_m", "max_m").foreach { c =>
        val v = r.getAs[Int](c)
        assert(v >= 1 && v <= 5, s"${r.getString(0)}.$c = $v")
      }
    }
    rows.find(_.getString(0) == "champions").foreach { ch =>
      assert(ch.getAs[Int]("min_r") >= 4 && ch.getAs[Int]("min_f") >= 4
        && ch.getAs[Int]("min_m") >= 4)
    }
    rows.find(_.getString(0) == "hibernating").foreach { h =>
      assert(h.getAs[Int]("max_r") <= 2 && h.getAs[Int]("max_f") <= 2)
    }
  }
}
