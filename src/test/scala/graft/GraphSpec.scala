package graft

import graft.analytics.{CopurchaseStore, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Integer PageRank and triangle-census invariants (the oracle proves
  * cross-engine value equality; these prove the algorithm's contract).
  * Census cases build the co-purchase tables from hand-made baskets
  * with the store's own build function and run the registered tail. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(li: DataFrame): DataFrame =
    CopurchaseStore.edgesOf(CopurchaseStore.basketTablesOf(li))

  private def censusOf(li: DataFrame) = Graph.censusRowOf(spark, edgesOf(li)).head()

  private def sampledEdgesOf(li: DataFrame): DataFrame =
    edgesOf(li).filter(expr(Graph.doulionCoinE(Graph.DoulionK)))

  test("hand-computed two-node graph, one iteration") {
    // A -> B (w=1). outw(A)=1. After 1 iter:
    //   contrib(B) = (INIT*1) div 1 = INIT
    //   r(B) = 15%INIT + 85%INIT = INIT; r(A) = 15%INIT (no in-edges)
    val r = Graph.pagerankLocal(Seq(("A", "B", 1L)), iters = 1)
    val base = 15L * Graph.RankInit / 100L
    assert(r("A") == base)
    assert(r("B") == base + 85L * Graph.RankInit / 100L)
  }

  test("rank mass is bounded and every node keeps the damping floor") {
    val ranks = Graph.pagerankNationTrade(spark, sf).collect()
    assert(ranks.nonEmpty)
    val base = 15L * Graph.RankInit / 100L
    assert(ranks.forall(_.getAs[Long]("rank_units") >= base),
      "a node fell below the teleport floor")
    // total mass can only shrink (floor division + rank lost at sinks)
    val total = ranks.map(_.getAs[Long]("rank_units")).sum
    assert(total <= ranks.length * Graph.RankInit)
  }

  test("driver-local rank loop over fresh trade edges equals the served ranks") {
    // the registered query ranks the STORED trade edges; the same loop
    // over edges derived fresh from the fact tables gives the same map
    val local = Graph.pagerankLocal(Graph.tradeEdges(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)
    val served = Graph.pagerankNationTrade(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(local.nonEmpty && served == local)
  }

  test("triangle census on a hand-computed co-purchase graph") {
    // baskets {1,2,3}, {3,4}, {2,3,4}, {5} → edges (1,2)(1,3)(2,3)(3,4)(2,4)
    // triangles {1,2,3} and {2,3,4}; degrees 2,3,3,2 → 1+3+3+1 = 8 wedges
    val li = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 3L), (20L, 4L),
      (30L, 2L), (30L, 3L), (30L, 4L),
      (40L, 5L),
      (10L, 1L)) // duplicate line must not create a self-edge or recount
      .toDF("l_orderkey", "l_partkey")
    val r = censusOf(li)
    assert(r.getAs[Long]("n_vertices") == 4L) // isolated part 5 excluded
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_wedges") == 8L)
    assert(r.getAs[Long]("n_triangles") == 2L)
    assert(r.getAs[Double]("transitivity") == 3.0 * 2L / 8L)
    // census is partition-layout invariant
    val again = censusOf(li.repartition(7))
    assert(r.toSeq == again.toSeq)
  }

  test("triangle census degrades gracefully on an edge-free corpus") {
    // single-item baskets → no co-purchase edges: the census must emit
    // zeros and a NULL transitivity, not NPE on a null wedge sum or
    // divide 0/0 into NaN
    val li = Seq((10L, 1L), (20L, 2L)).toDF("l_orderkey", "l_partkey")
    val r = censusOf(li)
    assert(r.getAs[Long]("n_vertices") == 0L)
    assert(r.getAs[Long]("n_edges") == 0L)
    assert(r.getAs[Long]("n_wedges") == 0L)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.isNullAt(r.fieldIndex("transitivity")))
  }

  test("doulion sampled edges are exactly the md5-coin subset of the exact edges") {
    // a dense 12-item basket: 66 edges; the coin keeps ~1/3, and every
    // kept edge must appear in the exact edge set (sampling the edge
    // SET, deterministic under repartitioning)
    val li = (1 to 12).map(p => (1L, p.toLong)).toDF("l_orderkey", "l_partkey")
    val exact = edgesOf(li).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = sampledEdgesOf(li).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled.subsetOf(exact))
    assert(sampled.nonEmpty && sampled.size < exact.size,
      s"coin should keep a strict nonempty subset: ${sampled.size}/${exact.size}")
    val again = sampledEdgesOf(li.repartition(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == sampled, "the md5 coin must be layout-invariant")
  }

  test("doulion estimator honors its error contract across generated corpora") {
    // sweep three deterministic basket corpora of different density;
    // the check op's in_bounds must hold on each (the contract the
    // oracle pins as literal TRUE on the driver corpus)
    val k3 = Graph.DoulionK.toLong * Graph.DoulionK * Graph.DoulionK
    Seq(400, 900, 1600).foreach { nOrders =>
      val li = (0 until nOrders).flatMap { o =>
        // 4-item baskets over a 60-part catalog: triangle-rich overlap
        (0 until 4).map(s => (o.toLong, ((o * 7 + s * 13) % 60).toLong))
      }.toDF("l_orderkey", "l_partkey")
      val exact = censusOf(li).getAs[Long]("n_triangles")
      val ts = Graph.trianglesOfEdges(sampledEdgesOf(li))
      val est = ts * k3
      assert(math.abs(est - exact).toDouble <=
        5.0 * math.sqrt((exact + 1).toDouble * k3),
        s"contract broken at $nOrders orders: est $est vs exact $exact")
    }
  }
}
