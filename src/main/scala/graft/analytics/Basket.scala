package graft.analytics

import graft.Op
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Market-basket co-occurrence mining — the top co-purchased part pairs
  * with support and lift, the classic association signal behind
  * "frequently bought together" (the reference's dashboards show
  * category mixes but never compute co-occurrence).
  *
  * Scale posture: ONE order-key shuffle builds each basket's sorted
  * distinct item array and pairs materialize inside it via a
  * combination HOF — fanout per order is C(items, 2), never
  * corpus-quadratic (measured faster than the codegen'd co-partitioned
  * self-join alternative, whose per-partition sorts dominate at 30×).
  * The remaining scale cost is the pair STREAM (C(7,2)·orders rows for
  * 20 output rows) flowing through the partial-combined count; the
  * a-priori support bound prunes it when the corpus is skewed enough
  * to bite: a pair's count is ≤ min of its items' order counts, so a
  * pair in the global top-20 needs BOTH items' supports ≥ T, the
  * 20th-best pair count. T is unknown up front, but any cheaply
  * derived lower bound c ≤ T gives an EXACT prune: pass 1 counts pairs
  * among only the [[TopItemsForBound]] highest-occurrence items (a
  * tiny pre-shuffle-filtered stream) and takes its 20th-best count as
  * c; pass 2 then counts pairs over only items with occurrences ≥ c —
  * a superset of every possible top-20 pair, so the final top-20 is
  * bit-identical to the unpruned answer (the all-pairs DuckDB oracle
  * machine-proves exactly that), while BOTH the basket shuffle and the
  * pair stream shrink to the frequent-item mass. Item and order totals
  * for the lift denominator arrive via broadcast.
  *
  * Determinism: support and lift are single-rounding double expressions
  * over exact long counts (each long < 2⁵³ converts exactly).
  */
object Basket {
  /** Pass-1 candidate pool: pairs among this many top-support items
    * derive the prune bound. C(100,2) ≈ 5k candidate keys — bounded
    * work at any corpus size. */
  val TopItemsForBound = 100

  /** Output depth (the reference's dashboards page 20 rows). */
  val TopPairs = 20

  /** Largest frequent-item set worth broadcasting (~32 MB of longs);
    * beyond it the prune falls back to the unpruned plan. */
  val MaxBroadcastItems = 4000000L

  /** Prune only when the frequent set is at most 1/this of the item
    * universe — a no-op prune on a near-uniform corpus would add a
    * broadcast join without removing anything. */
  val PruneSelectivity = 4L

  /** Prune only when the average basket holds at least this many items.
    * The cost a-priori pruning attacks is the C(basket, 2) pair-stream
    * fanout; on slim baskets (TPC-H's ~4 items → fanout 6) the pair
    * stream never dominates the mandatory full-corpus passes, so even
    * an ACTIVATED prune loses its pass-1 overhead (measured: −8% at a
    * 10× skewed rung with slim baskets vs +2.2× with 26-item baskets —
    * docs/BENCH_BASKET_SKEW.json). Gate on the cheap approximate
    * order count BEFORE pass-1 runs, so slim-basket corpora skip the
    * bound derivation entirely; approximation is fine because this is
    * a cost decision, not a correctness one (both plans are exact). */
  val MinAvgBasketForPrune = 8.0

  /** The REGISTERED op serves from the persisted co-purchase asset
    * ([[CopurchaseStore]]): top-k + lift joins over the stored
    * pair-count grain — corpus-decoupled once the asset exists, the
    * build paid once per collection vintage. Values are identical to
    * the inline derivation (the all-pairs DuckDB oracle still proves
    * the served result); [[basketPairsOver]] remains the inline core
    * the specs and the skew A/B bench drive. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = CopurchaseStore.tables(spark, dir)
    topPairsWithLift(t("pair_counts"), t("item_orders"), t("order_stats"))
  }

  /** Distinct-basket pair counts (part_a < part_b, pair_orders) over a
    * (l_orderkey, l_partkey) frame — the asset grain [[CopurchaseStore]]
    * materializes: one order-key shuffle builds each basket's sorted
    * distinct item array, pairs materialize inside it via the
    * combination HOF, then a partial-combined count. */
  private[analytics] def pairCountsOf(li: DataFrame): DataFrame = li
    .groupBy("l_orderkey")
    .agg(array_sort(collect_set("l_partkey")).as("parts"))
    .select(explode(expr(
      """flatten(transform(parts, (x, i) ->
        |  transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"""
        .stripMargin)).as("p"))
    .select(col("p.a").as("part_a"), col("p.b").as("part_b"))
    .groupBy("part_a", "part_b").agg(count(lit(1)).as("pair_orders"))

  /** Shared result tail: deterministic top-[[TopPairs]] of a pair-count
    * frame plus support/lift against the exact corpus statistics. */
  private def topPairsWithLift(cnt: DataFrame, itemN: DataFrame,
                               nOrders: DataFrame): DataFrame = {
    val top = cnt
      .orderBy(col("pair_orders").desc, col("part_a").asc, col("part_b").asc)
      .limit(TopPairs)
    // broadcast the 20-ROW side, never the catalog-sized item counts:
    // at 100 TB `itemN` is every part in the catalog
    val withA = broadcast(top)
      .join(itemN.withColumnRenamed("l_partkey", "part_a")
        .withColumnRenamed("item_orders", "orders_a"), "part_a")
    broadcast(withA)
      .join(itemN.withColumnRenamed("l_partkey", "part_b")
        .withColumnRenamed("item_orders", "orders_b"), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        (col("pair_orders").cast(DoubleType) / col("n_orders").cast(DoubleType))
          .as("support"),
        ((col("pair_orders").cast(DoubleType) * col("n_orders").cast(DoubleType))
          / (col("orders_a").cast(DoubleType) * col("orders_b").cast(DoubleType)))
          .as("lift"))
      .orderBy(col("pair_orders").desc, col("part_a").asc, col("part_b").asc)
  }

  /** `allowPrune = false` forces the unpruned fallback — the A/B knob
    * the skewed-corpus ladder variant uses to measure the prune's win
    * against the plain plan on identical input (output is bit-identical
    * either way, so only cost differs). */
  private[graft] def basketPairsOver(li: DataFrame,
                                     allowPrune: Boolean = true): DataFrame =
    basketPairsOverWithDecision(li, allowPrune)._1

  /** Internal variant that also RETURNS whether the pruned plan was
    * taken — the skew A/B bench and the spec read the decision from the
    * construction that made it, instead of a JVM-global flag that
    * concurrent constructions (parallel tests, multi-query sessions)
    * could interleave on. */
  private[graft] def basketPairsOverWithDecision(
      li: DataFrame, allowPrune: Boolean = true): (DataFrame, Boolean) = {
    // raw OCCURRENCE counts per item (not distinct supports): a cheap
    // partial-combined aggregate used only to choose pass-1 candidates
    // and the prune set. Valid for both because occurrences ≥ distinct
    // supports ≥ any pair count involving the item. Three eager
    // consumers follow (pass-1 collect, the stats head, the prune
    // filter) — persist across them and release before return (the
    // triangleCountOver discipline) so construction doesn't recompute
    // the occurrence aggregate per consumer.
    val occ = li.groupBy("l_partkey").agg(count(lit(1)).as("occ")).persist()
    try basketPairsPruned(li, occ, allowPrune)
    finally occ.unpersist(false)
  }

  private def basketPairsPruned(li: DataFrame, occ: DataFrame,
                                allowPrune: Boolean): (DataFrame, Boolean) = {
    // ONE order-key shuffle builds each basket's sorted distinct item
    // array; pairs materialize INSIDE the array via a combination HOF
    // (quadratic only in basket size — measured faster here than a
    // co-partitioned self-join, whose per-partition sorts dominate),
    // then a partial-combined count
    def basketsOf(src: DataFrame): DataFrame = src
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    def pairsOf(src: DataFrame): DataFrame = pairCountsOf(src)
    // pass 1 — the bound: the 20th-best count among pairs of the
    // TopItemsForBound highest-occurrence items is ≤ the global
    // 20th-best (subset ordering), so pruning on it is EXACT. The
    // candidate corpus filters BEFORE any shuffle, so pass-1 cost is
    // those items' occurrence mass, never the corpus.
    val fanoutWorthy = allowPrune && {
      val g = li.agg(count(lit(1)).as("n"),
        approx_count_distinct(col("l_orderkey")).as("orders")).head()
      g.getLong(0).toDouble / math.max(1L, g.getLong(1)) >= MinAvgBasketForPrune
    }
    val bound =
      if (!fanoutWorthy) 0L // plain plan: pay nothing for a bound it won't use
      else {
        val topItems = occ.orderBy(col("occ").desc, col("l_partkey").asc)
          .limit(TopItemsForBound).select("l_partkey")
        val cand = pairsOf(li.join(broadcast(topItems), "l_partkey"))
          .orderBy(col("pair_orders").desc, col("part_a").asc, col("part_b").asc)
          .limit(TopPairs).collect()
        if (cand.length == TopPairs) cand.last.getAs[Long]("pair_orders") else 0L
      }
    // pass 2 — prune only when it BITES: the frequent set must be
    // broadcastable AND a small fraction of the item universe (on a
    // near-uniform corpus every item clears a low bound, and a no-op
    // prune would only add a join). Fallback = the unpruned plan,
    // bit-identical output either way.
    val stats = occ.agg(count(lit(1)).as("n_items"),
      sum(when(col("occ") >= bound, 1L).otherwise(0L)).as("n_freq")).head()
    val nItems = stats.getLong(0)
    val nFreq = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val usePrune = allowPrune && bound > 1L && nFreq <= MaxBroadcastItems &&
      nFreq * PruneSelectivity <= nItems
    val cnt =
      if (usePrune)
        pairsOf(li.join(
          broadcast(occ.filter(col("occ") >= bound).select("l_partkey")),
          "l_partkey"))
      else pairsOf(li)
    // exact corpus statistics for support/lift always come from the
    // UNPRUNED corpus — but their formulation follows the branch. In
    // the unpruned plan the basket-array subtree is identical to cnt's
    // and the physical planner reuses one exchange, so deriving stats
    // from the arrays is free. In the PRUNED plan cnt builds arrays
    // only over the frequent-item mass, and stats via a full array
    // build would hand back everything the prune saved (measured: a
    // wash at the 30× skew rung) — the distinct (order, item) grain
    // gives the same exact counts with map-side partial dedup and no
    // array construction. Both formulations count each (order, item)
    // once, which is what the oracle's DISTINCT CTE specifies.
    val (nOrders, itemN) =
      if (usePrune) {
        val op = li.dropDuplicates("l_orderkey", "l_partkey")
        (op.agg(countDistinct(col("l_orderkey")).as("n_orders")),
          op.groupBy("l_partkey").agg(count(lit(1)).as("item_orders")))
      } else {
        val baskets = basketsOf(li)
        (baskets.agg(count(lit(1)).as("n_orders")),
          baskets.select(explode(col("parts")).as("l_partkey"))
            .groupBy("l_partkey").agg(count(lit(1)).as("item_orders")))
      }
    (topPairsWithLift(cnt, itemN, nOrders), usePrune)
  }

  val basketPairsSql: String = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
item AS (SELECT l_partkey, COUNT(*) AS item_orders FROM op GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
cnt AS (SELECT part_a, part_b, COUNT(*) AS pair_orders FROM pairs GROUP BY part_a, part_b),
top AS (
  SELECT * FROM cnt
  ORDER BY pair_orders DESC, part_a ASC, part_b ASC
  LIMIT 20)
SELECT t.part_a, t.part_b, t.pair_orders,
       ia.item_orders AS orders_a, ib.item_orders AS orders_b,
       CAST(t.pair_orders AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
       (CAST(t.pair_orders AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
         / (CAST(ia.item_orders AS DOUBLE) * CAST(ib.item_orders AS DOUBLE)) AS lift
FROM top t
JOIN item ia ON t.part_a = ia.l_partkey
JOIN item ib ON t.part_b = ib.l_partkey
CROSS JOIN n
ORDER BY pair_orders DESC, part_a ASC, part_b ASC"""

  val ops: Seq[Op] = Seq(
    Op("basket_pairs", basketPairs, basketPairsSql, Ext))
}
