package graft.analytics

import graft.Op
import graft.Op.Ext
import graft.warehouse.{OracleSql, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact distributed quantiles — discrete (type-1) quantiles computed by
  * rank selection, not interpolation: the p-quantile of n values is the
  * element at rank ceil(p·n) of the sorted multiset. Selecting an actual
  * element keeps the computation in integer space end-to-end (the value
  * column is exact micros), so the result is reproducible across engines
  * and partitionings — interpolating quantiles (Spark `percentile`,
  * DuckDB `quantile_cont`) average in floating point and are not.
  *
  * Scale posture: one shuffle on the group key; the per-group sort is
  * the window sort Spark would do for any ranked analytic. Groups here
  * are low-cardinality (5 payment methods), so per-group data is large —
  * at 100 TB this exact form still works (sort-based window, spills),
  * but `approx_percentile` (a mergeable sketch) is the escape hatch when
  * a bounded error is acceptable, mirroring SURVEY §7.4's
  * countDistinct/approx_count_distinct pairing.
  */
object Quantiles {
  private val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  /** p50/p90/p99 of line_total (as exact micros) per payment method.
    *
    * Rank selection over VALUE COUNTS, not rows: groupBy (group, v)
    * first — a fully parallel hash aggregation whose map-side combine
    * collapses duplicate values before the network — then the per-group
    * window sorts only DISTINCT values, and the element at rank
    * ceil(p·n) is the value whose cumulative-count range covers that
    * rank. Identical result to ranking raw rows (same type-1 quantile),
    * but the single-threaded part (per-group sort: group cardinality is
    * 5 here, so only 5 tasks can work) shrinks from n rows to distinct
    * values — measured 10× smaller on a fact replica where every value
    * repeats, and never larger than the raw form. */
  /** Shared rank-selection core over a (group, v) frame: ranked value
    * counts (map-side combined), cumulative slabs, and the element at
    * rank ceil(p·n) per quantile. `suffix` names the output columns
    * (`p50_<suffix>` …). */
  private[analytics] def rankSelect(vals: DataFrame, group: String,
                                    suffix: String, nCol: String): DataFrame = {
    val counts = vals.groupBy(group, "v").agg(count(lit(1)).as("c"))
    val byG = Window.partitionBy(group)
    // group totals via a tiny re-aggregation of the cells (one row per
    // group — bounded by the group domain: payment methods, languages,
    // priorities), broadcast back onto the stream. The previous
    // `sum(c) over (partition by group)` window was an unbounded-frame
    // SECOND Window pass that buffered every cell of the partition
    // before emitting a single repeated constant; the cells exchange is
    // reused between the two branches, so this costs a 5-row aggregate
    // instead of a full buffered pass over the stream.
    val totals = counts.groupBy(group).agg(sum("c").as("n"))
    // v is distinct within each group after the aggregation, so the
    // running sum's default RANGE frame has no peers and cum is exact.
    // NULL-SAFE join: this is a shared generic core, and a nullable
    // group column would silently drop its NULL group on a plain
    // equi-join where the window form (and the oracle's PARTITION BY)
    // keeps it; <=> is still a BroadcastHashJoin key.
    val ranked = counts
      .withColumn("cum", sum("c").over(byG.orderBy("v")))
      .join(broadcast(totals.withColumnRenamed(group, "_tg")),
        col(group) <=> col("_tg"))
      .drop("_tg")
    val cells = ps.map { case (name, p) =>
      // rank ceil(p·n) lands in this value's slab [cum - c + 1, cum]
      max(when(col("cum") - col("c") < ceil(col("n") * lit(p))
            && col("cum") >= ceil(col("n") * lit(p)), col("v")))
        .as(s"${name}_$suffix")
    }
    ranked.groupBy(group)
      .agg(max("n").as(nCol), cells: _*)
      .orderBy(group)
  }

  def quantilesLineTotal(spark: SparkSession, dir: String): DataFrame =
    rankSelect(
      Warehouse.fact(spark, dir).select(
        col("payment_method"),
        (col("line_total") * lit(1000000)).cast(LongType).as("v")),
      "payment_method", "micros", "n_rows")

  val quantilesLineTotalSql: String = {
    val cells = ps.map { case (name, p) =>
      s"MAX(CASE WHEN rn = CAST(ceil(n * $p) AS BIGINT) THEN v END) AS ${name}_micros"
    }.mkString(",\n       ")
    OracleSql.q(s"""
SELECT payment_method, MAX(n) AS n_rows,
       $cells
FROM (
  SELECT payment_method, v,
         ROW_NUMBER() OVER (PARTITION BY payment_method ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY payment_method) AS n
  FROM (SELECT payment_method, CAST(line_total * 1000000 AS BIGINT) AS v FROM fact))
GROUP BY payment_method
ORDER BY payment_method""")
  }

  /** Per-language token-count quantiles over the document corpus — the
    * distribution a training pipeline sizes its packing and mixture
    * decisions from (p99 token length per language decides sequence
    * budget; p50 decides expected packing density). Same exact
    * rank-selection core as [[quantilesLineTotal]]: token counts are
    * small integers that repeat heavily, so the value-counts
    * aggregation collapses the corpus to a few thousand (lang, count)
    * cells before any per-group sort — the shape that holds at corpus
    * scale. */
  def quantilesTokensByLang(spark: SparkSession, dir: String): DataFrame =
    rankSelect(
      graft.Tables.documents(spark, dir).select(
        col("lang"), graft.text.TextOps.estBpeTokens.as("v")),
      "lang", "tokens", "n_docs")

  /** WEIGHTED rank selection: same slab construction as [[rankSelect]]
    * but ranks run over cumulative WEIGHT mass (the p-quantile is the
    * value whose weight slab covers ceil(p·W)) — `vals` carries
    * (group, v, w). Identical scale shape: duplicate values collapse
    * in the map-side combine, the per-group sort sees only distinct
    * values. */
  private[analytics] def weightedRankSelect(vals: DataFrame, group: String,
                                            suffix: String, wCol: String): DataFrame = {
    val counts = vals.groupBy(group, "v").agg(sum("w").cast(LongType).as("c"))
    val byG = Window.partitionBy(group)
    // broadcast-joined group totals, not an unbounded-frame window —
    // and null-safe on the group key — see rankSelect
    val totals = counts.groupBy(group).agg(sum("c").as("n"))
    val ranked = counts
      .withColumn("cum", sum("c").over(byG.orderBy("v")))
      .join(broadcast(totals.withColumnRenamed(group, "_tg")),
        col(group) <=> col("_tg"))
      .drop("_tg")
    val cells = ps.map { case (name, p) =>
      max(when(col("cum") - col("c") < ceil(col("n") * lit(p))
            && col("cum") >= ceil(col("n") * lit(p)), col("v")))
        .as(s"${name}_$suffix")
    }
    ranked.groupBy(group)
      .agg(max("n").as(wCol), cells: _*)
      .orderBy(group)
  }

  /** Token-MASS-weighted document-length quantiles per language — "half
    * this language's tokens live in documents longer than p50" — the
    * number that actually sizes sequence-length budgets: the unweighted
    * p50 ([[quantilesTokensByLang]]) says where the median DOCUMENT is,
    * this says where the median TOKEN is, and on any long-tailed corpus
    * they differ wildly. v = w = est tokens, all integer. */
  def quantilesDocLengthWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedRankSelect(
      graft.Tables.documents(spark, dir).select(
        col("lang"), graft.text.TextOps.estBpeTokens.as("v"),
        graft.text.TextOps.estBpeTokens.as("w")),
      "lang", "wlen", "total_tokens")

  val quantilesDocLengthWeightedSql: String = {
    val cells = ps.map { case (name, p) =>
      s"MAX(CASE WHEN cum - c < CAST(ceil(n * $p) AS BIGINT) AND cum >= CAST(ceil(n * $p) AS BIGINT) THEN v END) AS ${name}_wlen"
    }.mkString(",\n       ")
    s"""
WITH d AS (
  SELECT lang, ${graft.text.TextOps.estBpeTokensSqlE} AS v,
         ${graft.text.TextOps.estBpeTokensSqlE} AS w
  FROM documents),
counts AS (SELECT lang, v, CAST(SUM(w) AS BIGINT) AS c FROM d GROUP BY lang, v),
ranked AS (
  SELECT lang, v, c,
         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM counts)
SELECT lang, MAX(n) AS total_tokens,
       $cells
FROM ranked
GROUP BY lang
ORDER BY lang"""
  }

  val quantilesTokensByLangSql: String = {
    val cells = ps.map { case (name, p) =>
      s"MAX(CASE WHEN rn = CAST(ceil(n * $p) AS BIGINT) THEN v END) AS ${name}_tokens"
    }.mkString(",\n       ")
    s"""
SELECT lang, MAX(n) AS n_docs,
       $cells
FROM (
  SELECT lang, v,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM (SELECT lang, ${graft.text.TextOps.estBpeTokensSqlE} AS v FROM documents))
GROUP BY lang
ORDER BY lang"""
  }

  /** The raw sketch surface: approx_percentile is a mergeable KLL-style
    * sketch — one partial+final aggregation, no per-group sort at all.
    * Sketch VALUES are engine-specific (DuckDB cannot reproduce them),
    * so this frame is not registered directly; [[approxQuantilesLineTotal]]
    * below wraps it in the oracle-checkable bound check, and
    * QuantilesSpec additionally bounds it against the exact
    * rank-selection result. */
  def approxQuantilesRaw(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir).select(
      col("payment_method"),
      (col("line_total") * lit(1000000)).cast(LongType).as("v"))
    f.groupBy("payment_method")
      .agg(
        count(lit(1)).as("n_rows"),
        expr(s"approx_percentile(v, array(0.5, 0.9, 0.99), $SketchAccuracy)").as("ps"))
      .select(col("payment_method"), col("n_rows"),
        col("ps").getItem(0).as("p50_micros"),
        col("ps").getItem(1).as("p90_micros"),
        col("ps").getItem(2).as("p99_micros"))
      .orderBy("payment_method")
  }

  /** approx_percentile's accuracy knob: guaranteed rank error is
    * n/accuracy (Spark's ApproximatePercentile contract). */
  val SketchAccuracy = 10000

  /** The REGISTERED sketch query — the bound check made oracle-checkable.
    * A raw sketch value can never hash-match a DuckDB oracle (sketches
    * are engine-specific), but the sketch's CONTRACT can: the returned
    * p-quantile must be an element whose rank is within n/accuracy (+1
    * slab-discretization slack) of ceil(p·n). Both rank bounds convert
    * to concrete VALUE bounds via the same (group, value)-counts
    * cumulative frame the exact [[quantilesLineTotal]] uses, the sketch
    * value is compared in-plan, and the oracle asserts every group's
    * check comes back true by recomputing the exact side (n_rows) and
    * expecting literal trues — a red row here means the sketch broke
    * its error contract. Cost: one counts-aggregation (shared shape
    * with the exact query) plus the sketch's own partial+final pass —
    * a verification query, not the hot path; the raw sketch
    * ([[approxQuantilesRaw]]) remains the single-pass production form. */
  def approxQuantilesLineTotal(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.fact(spark, dir).select(
      col("payment_method"),
      (col("line_total") * lit(1000000)).cast(LongType).as("v"))
    val counts = f.groupBy("payment_method", "v").agg(count(lit(1)).as("c"))
    val byPm = Window.partitionBy("payment_method")
    // broadcast-joined group totals, not an unbounded-frame window —
    // see rankSelect
    val totals = counts.groupBy("payment_method").agg(sum("c").as("n"))
    val ranked = counts
      .withColumn("cum", sum("c").over(byPm.orderBy("v")))
      .join(broadcast(totals), "payment_method")
    // rank slack: the sketch guarantees rank error <= n/accuracy; +1
    // covers the ceil/slab discretization at the boundary
    val slack = ceil(col("n") * lit(1.0 / SketchAccuracy)) + lit(1)
    val cells = ps.flatMap { case (name, p) =>
      val rlo = greatest(lit(1L), ceil(col("n") * lit(p)) - slack)
      val rhi = least(col("n"), ceil(col("n") * lit(p)) + slack)
      Seq(
        max(when(col("cum") - col("c") < rlo && col("cum") >= rlo, col("v")))
          .as(s"${name}_lo"),
        max(when(col("cum") - col("c") < rhi && col("cum") >= rhi, col("v")))
          .as(s"${name}_hi"))
    }
    val bounds = ranked.groupBy("payment_method")
      .agg(max("n").as("n_rows"), cells: _*)
    val sketch = approxQuantilesRaw(spark, dir)
      .select(col("payment_method"),
        col("p50_micros"), col("p90_micros"), col("p99_micros"))
    bounds.join(sketch, "payment_method")
      .select(Seq(col("payment_method"), col("n_rows")) ++ ps.map { case (name, _) =>
        (col(s"${name}_micros") >= col(s"${name}_lo") &&
          col(s"${name}_micros") <= col(s"${name}_hi")).as(s"${name}_in_bounds")
      }: _*)
      .orderBy("payment_method")
  }

  /** Oracle: the exact side (group, n_rows) recomputed, and every bound
    * check expected TRUE — the strongest cross-engine statement possible
    * about an engine-specific sketch. */
  val approxQuantilesLineTotalSql: String = OracleSql.q("""
SELECT payment_method, COUNT(*) AS n_rows,
       TRUE AS p50_in_bounds, TRUE AS p90_in_bounds, TRUE AS p99_in_bounds
FROM fact GROUP BY payment_method ORDER BY payment_method""")

  /** Fulfillment-lag distribution: ship date minus order date in days,
    * reduced to exact p50/p90/p99 per order priority — the supply-chain
    * latency reading (is the expedited queue actually faster?). The
    * lineitem⋈orders join is the fact build's co-partitioned order-key
    * shuffle; lag days are small integers that repeat massively, so the
    * value-counts collapse leaves a few hundred (priority, days) cells
    * before any ranked step. */
  def fulfillmentLag(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("ordered"))
    rankSelect(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("ship"), col("ordered")).cast(LongType).as("v")),
      "o_orderpriority", "days", "n_lines")
  }

  val fulfillmentLagSql: String = {
    val cells = ps.map { case (name, p) =>
      s"MAX(CASE WHEN rn = CAST(ceil(n * $p) AS BIGINT) THEN v END) AS ${name}_days"
    }.mkString(",\n       ")
    s"""
SELECT o_orderpriority, MAX(n) AS n_lines,
       $cells
FROM (
  SELECT o_orderpriority, v,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM (
    SELECT o.o_orderpriority,
           CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS v
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey))
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""
  }

  val ops: Seq[Op] = Seq(
    Op("quantiles_line_total", quantilesLineTotal, quantilesLineTotalSql, Ext),
    Op("quantiles_tokens_by_lang", quantilesTokensByLang, quantilesTokensByLangSql),
    Op("quantiles_doc_length_weighted", quantilesDocLengthWeighted, quantilesDocLengthWeightedSql),
    Op("fulfillment_lag", fulfillmentLag, fulfillmentLagSql),
    Op("approx_quantiles_line_total", approxQuantilesLineTotal, approxQuantilesLineTotalSql))
}
