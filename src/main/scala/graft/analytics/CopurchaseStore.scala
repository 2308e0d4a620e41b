package graft.analytics

import graft.Tables
import graft.sim.IndexStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The co-purchase/trade EDGE ASSET — the graph family's build/serve
  * split (the [[graft.sim.IndexStore]] protocol the ANN and BM25
  * families already use, applied to the three heaviest rostered ops).
  *
  * Through round 13, `basket_pairs`, `triangle_doulion_copurchase` and
  * `pagerank_nation_trade` each re-derived the same pair/edge stream
  * from the raw fact tables on every call — at the 300× rung that was
  * 173 s + 133 s + 41 s, almost all of it the identical C(basket, 2)
  * fanout or the identical lineitem⋈orders shuffle, per query. At
  * 100 TB the edge list is a COLLECTION-VINTAGE ASSET, not a per-query
  * derivation: one job materializes it when the facts change, every
  * graph query serves from the stored grain.
  *
  * Stored tables (one directory per collection vintage, manifest-last
  * commit, fingerprint = file metadata of every source table):
  *  - `pair_counts` (part_a < part_b, pair_orders): the distinct
  *    co-purchase pair-count table — the UNPRUNED basket aggregation,
  *    so it is simultaneously the support table for basket mining and
  *    (projected) the undirected edge set for the triangle census.
  *    Bounded by distinct co-occurring pairs, not the pair STREAM.
  *  - `item_orders` (l_partkey, item_orders): per-item distinct-order
  *    supports (the lift denominator).
  *  - `order_stats` (n_orders): one row.
  *  - `trade_edges` (src, dst, w): the nation-grain trade graph
  *    (≤ 25² rows; its cost is the order-key shuffle that derives it).
  *
  * Serve-path determinism: every stored value is an exact long or a
  * dim string computed by the same deterministic aggregations the
  * inline forms ran, so serving from parquet is value-identical to
  * rebuilding inline — the DuckDB oracles (all-pairs forms) keep
  * machine-proving the SERVED results, and the md5 DOULION coin is a
  * pure function of the edge key, so filtering the stored edge set
  * equals filtering the freshly-derived one. */
object CopurchaseStore {

  /** Bump when any stored derivation changes. */
  private val Version =
    "copurchase-v1;pairs=distinct-basket;items=distinct-order-grain;" +
      "trade=nation-grain-lineitem-count"

  private val TableNames =
    Seq("pair_counts", "item_orders", "order_stats", "trade_edges")

  private val SourceTables = Seq("lineitem", "orders", "customer", "supplier", "nation")

  /** Load (or build once per collection vintage) the stored tables. */
  def tables(spark: SparkSession, dir: String): Map[String, DataFrame] =
    IndexStore.loadOrBuild(spark, dir, "copurchase", Version,
      IndexStore.vintage(spark, dir, SourceTables), TableNames) {
      basketTablesOf(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")) +
        ("trade_edges" -> Graph.tradeEdges(spark, dir))
    }

  /** The three lineitem-derived tables over an (l_orderkey, l_partkey)
    * frame: `pair_counts` ([[Basket.pairCountsOf]]), `item_orders` and
    * `order_stats`. The store builds them from lineitem; specs build
    * them from hand-made baskets and run the same serve tails over them. */
  private[graft] def basketTablesOf(li: DataFrame): Map[String, DataFrame] = {
    val op = li.dropDuplicates("l_orderkey", "l_partkey")
    Map(
      "pair_counts" -> Basket.pairCountsOf(li),
      "item_orders" -> op.groupBy("l_partkey")
        .agg(count(lit(1)).as("item_orders")),
      "order_stats" -> op.agg(countDistinct(col("l_orderkey")).as("n_orders")))
  }

  /** The stored undirected co-purchase edge set (a < b). */
  def edges(spark: SparkSession, dir: String): DataFrame =
    edgesOf(tables(spark, dir))

  /** The undirected edge set (a < b) of the basket tables' pair counts. */
  private[graft] def edgesOf(t: Map[String, DataFrame]): DataFrame =
    t("pair_counts").select(col("part_a").as("a"), col("part_b").as("b"))
}
