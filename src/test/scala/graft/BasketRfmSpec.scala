package graft

import graft.analytics.{Basket, Rfm}

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
    val rows = Basket.basketPairsOver(li).collect()
    val ab = rows.find(r => r.getLong(0) == 10L && r.getLong(1) == 20L).get
    assert(ab.getAs[Long]("pair_orders") == 2L)
    assert(ab.getAs[Long]("orders_a") == 3L && ab.getAs[Long]("orders_b") == 2L)
    assert(ab.getAs[Double]("support") == 2.0 / 4.0)
    assert(ab.getAs[Double]("lift") == (2.0 * 4.0) / (3.0 * 2.0))
    // pair set is exactly the co-occurrences
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 20L), (10L, 30L)))
  }

  test("a-priori prune is exact on a corpus where the bound activates") {
    // 30 item pairs each co-occurring in 3 TEN-item orders (8 one-off
    // filler items per order keep the average basket ≥ the fanout gate
    // — slim baskets now legitimately skip the prune, see
    // MinAvgBasketForPrune) plus 60 ten-item one-off orders: pass 1
    // derives bound=3, the selectivity guard fires (60 frequent items
    // vs a ~1400-item universe), and pass 2 REALLY prunes; the prune
    // must discard every rare pair WITHOUT perturbing the top-20
    val frequent = (0 until 30).flatMap { i =>
      (0 until 3).flatMap { r =>
        val o = (i * 3 + r).toLong
        Seq((o, 2L * i), (o, 2L * i + 1)) ++
          (0 until 8).map(k => (o, 10000L + o * 10 + k))
      }
    }
    val rare = (0 until 60).flatMap { j =>
      (0 until 10).map(k => (1000L + j, 100000L + j * 10 + k))
    }
    val li = (frequent ++ rare).toDF("l_orderkey", "l_partkey")
    val (df, pruneActive) = Basket.basketPairsOverWithDecision(li)
    val rows = df.collect()
    assert(pruneActive, "the prune should take the pruned plan here")
    assert(rows.length == Basket.TopPairs)
    assert(rows.forall(_.getAs[Long]("pair_orders") == 3L))
    // top-20 under (count desc, part_a, part_b): the 20 smallest pairs
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0 until 20).map(i => (2L * i, 2L * i + 1)))
    // lift denominator still uses TRUE (unpruned) totals: 150 orders
    // (90 frequent + 60 rare), each frequent item in 3 of them
    assert(rows.forall(_.getAs[Long]("orders_a") == 3L))
    assert(rows.forall(_.getAs[Double]("support") == 3.0 / 150.0))
    // and the pruned result equals the forced-plain plan bit for bit
    val plain = Basket.basketPairsOver(li, allowPrune = false).collect()
    assert(rows.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("slim baskets skip the prune machinery entirely") {
    // TPC-H-shaped 2-item baskets: the fanout gate must decline before
    // pass 1 spends anything (the measured-regression case)
    val li = (0 until 200).flatMap { o =>
      Seq((o.toLong, (o % 40).toLong), (o.toLong, (o % 40 + 40).toLong))
    }.toDF("l_orderkey", "l_partkey")
    val (df, pruneActive) = Basket.basketPairsOverWithDecision(li)
    df.collect()
    assert(!pruneActive)
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
