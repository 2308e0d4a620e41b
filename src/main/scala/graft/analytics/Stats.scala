package graft.analytics

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column/key statistics operators — the ANALYZE-style infrastructure a
  * cost-based planner and a shuffle-health dashboard read, exposed as
  * first-class queries:
  *
  *   - [[skewDiagnosis]]: per-key frequency skew of a join column — the
  *     pre-flight check that predicts whether a shuffle join will
  *     straggle. At 100 TB the expensive mistake is discovering a hot
  *     key from a dead executor; this reads it from one aggregation.
  *   - [[equiDepthHistogram]]: per-group equi-depth bucket bounds (the
  *     CBO histogram primitive) via the same exact value-counts
  *     rank-selection core as [[Quantiles]].
  *
  * Both collapse to (group, value)-count cells before any ranked step,
  * so the single-threaded part is bounded by distinct values, never
  * rows.
  */
object Stats {
  /** Key-skew diagnosis for the events.user_id shuffle key: the top-5
    * heaviest keys with their share of all rows and their multiple of
    * the mean key load, alongside the corpus-level scalars (distinct
    * keys, total rows, max/avg skew ratio). A `skew_x_avg` in the
    * hundreds says "salt this key or let AQE split it" before the job
    * runs. ONE count aggregation on the key; the heavy-key ranking and
    * the scalar stats both derive from that tiny (key, cnt) frame. */
  def skewDiagnosis(spark: SparkSession, dir: String): DataFrame =
    skewDiagnosisOver(Tables.events(spark, dir).select(col("user_id").as("key")))

  private[graft] def skewDiagnosisOver(keyed: DataFrame): DataFrame = {
    val counts = keyed.groupBy("key").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum("cnt").as("total_rows"),
      max("cnt").as("max_cnt"))
    // distributed top-k first (TakeOrderedAndProject — never a global
    // sort over all keys); the rank window then runs over 5 rows
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(5)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("key").asc))
          .cast(LongType))
    val avg = col("total_rows").cast(DoubleType) / col("n_keys").cast(DoubleType)
    top.crossJoin(broadcast(stats)).select(
        col("rank"), col("key"), col("cnt"),
        (col("cnt").cast(DoubleType) / col("total_rows").cast(DoubleType))
          .as("share_of_rows"),
        (col("cnt").cast(DoubleType) / avg).as("skew_x_avg"),
        col("n_keys"), col("total_rows"),
        (col("max_cnt").cast(DoubleType) / avg).as("max_skew_x_avg"))
      .orderBy("rank")
  }

  val skewDiagnosisSql: String = """
WITH counts AS (SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id),
stats AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total_rows, MAX(cnt) AS max_cnt FROM counts),
top AS (
  SELECT key, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rank
  FROM counts)
SELECT rank, key, cnt,
       CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share_of_rows,
       CAST(cnt AS DOUBLE) / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew_x_avg,
       n_keys, CAST(total_rows AS BIGINT) AS total_rows,
       CAST(max_cnt AS DOUBLE) / (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS max_skew_x_avg
FROM top CROSS JOIN stats
WHERE rank <= 5
ORDER BY rank"""

  /** Equi-depth histogram (8 buckets) of line_total per payment method:
    * bucket i's upper bound is the element at rank ⌈i·n/8⌉ of the
    * sorted multiset — the exact type-1 convention shared with
    * [[Quantiles.rankSelect]], in integer micros. The planner-statistics
    * shape: B bounds per group summarize the distribution for range
    * selectivity estimates, computed over DISTINCT-value counts so the
    * per-group sort never sees raw rows. */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val vals = graft.warehouse.Warehouse.fact(spark, dir).select(
      col("payment_method"),
      (col("line_total") * lit(1000000)).cast(LongType).as("v"))
    val counts = vals.groupBy("payment_method", "v").agg(count(lit(1)).as("c"))
    val byG = Window.partitionBy("payment_method")
    val ranked = counts
      .withColumn("cum", sum("c").over(byG.orderBy("v")))
      .withColumn("n", sum("c").over(byG))
    val buckets = (1 to 8).map { i =>
      max(when(col("cum") - col("c") < ceil(col("n") * lit(i) / lit(8))
            && col("cum") >= ceil(col("n") * lit(i) / lit(8)), col("v")))
        .as(s"b$i")
    }
    val wide = ranked.groupBy("payment_method")
      .agg(max("n").as("n_rows"), buckets: _*)
    wide.select(col("payment_method"), col("n_rows"),
        explode(array((1 to 8).map(i =>
          struct(lit(i.toLong).as("bucket"), col(s"b$i").as("upper_micros"))): _*))
          .as("h"))
      .select(col("payment_method"), col("n_rows"),
        col("h.bucket").as("bucket"), col("h.upper_micros").as("upper_micros"))
      .orderBy("payment_method", "bucket")
  }

  val equiDepthHistogramSql: String = {
    val cells = (1 to 8).map { i =>
      s"MAX(CASE WHEN rn = CAST(ceil(n * $i / 8) AS BIGINT) THEN v END) AS b$i"
    }.mkString(",\n       ")
    val melt = (1 to 8).map { i =>
      s"SELECT payment_method, n_rows, CAST($i AS BIGINT) AS bucket, b$i AS upper_micros FROM wide"
    }.mkString("\n  UNION ALL ")
    graft.warehouse.OracleSql.q(s""", ranked AS (
  SELECT payment_method, v,
         ROW_NUMBER() OVER (PARTITION BY payment_method ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY payment_method) AS n
  FROM (SELECT payment_method, CAST(line_total * 1000000 AS BIGINT) AS v FROM fact)),
wide AS (
  SELECT payment_method, MAX(n) AS n_rows,
       $cells
  FROM ranked GROUP BY payment_method)
SELECT * FROM (
  $melt)
ORDER BY payment_method, bucket""")
  }

  /** Revenue concentration — the Gini coefficient of per-product
    * revenue plus the Pareto top-20% share, the "how 80/20 is this
    * catalog" reading a merchandiser (and a skew-aware engineer) takes
    * before partitioning anything by product. Gini over the SORTED
    * per-product revenue xᵢ (rank i ascending):
    *   G = 2·Σ i·xᵢ / (n·Σxᵢ) − (n+1)/n.
    * The rank runs over the POST-AGGREGATION product frame, and the
    * CATALOG IS A SCALING TABLE — so the rank is the distributed
    * partition-offset form ([[graft.Dist.rankByKeys]] on the unique
    * (cents, product_key) tuple), never
    * `row_number().over(Window.orderBy(...))`, which would
    * single-partition the whole catalog through one task (the last
    * data-scaling global window this registry carried, removed round
    * 14). n and the top-20% threshold are one catalog-bounded count
    * collected to the driver (`ceil` via the same IEEE double ops the
    * previous in-plan expression used, so the oracle agreement is
    * unchanged); Σ i·xᵢ is an exact DECIMAL sum of long products,
    * doubles only in the final divides. Revenue is the Det cents
    * convention (exact long). */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.warehouse.Warehouse.fact(spark, dir)
      .groupBy("product_key")
      .agg((graft.Det.msumDec(col("line_total")) * 100).cast(LongType).as("cents"))
    val ranked = graft.Dist.rankByKeys(per, Seq("cents", "product_key"), "i")
    val n = ranked.count() // catalog-bounded scalar, not a global window
    val thresh = n - math.ceil(n.toDouble * 0.2).toLong
    val dec = DecimalType(38, 0)
    val g = ranked.agg(
      count(lit(1)).as("n_products"),
      sum("cents").as("total_cents"),
      sum((col("i") * col("cents")).cast(dec)).as("sixi"),
      sum(when(col("i") > thresh, col("cents")))
        .as("topk_cents"))
    def D(c: Column) = c.cast(DoubleType)
    g.select(
      col("n_products"), col("total_cents"),
      (D(lit(2) * col("sixi")) / (D(col("n_products")) * D(col("total_cents")))
        - (D(col("n_products")) + lit(1.0)) / D(col("n_products"))).as("gini"),
      (D(col("topk_cents")) / D(col("total_cents"))).as("top20pct_share"))
  }

  val revenueConcentrationSql: String = graft.warehouse.OracleSql.q(""", per AS (
  SELECT product_key,
         CAST(CAST(ROUND(SUM(CAST(line_total AS DECIMAL(18,6))),2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM fact GROUP BY product_key),
ranked AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents ASC, product_key ASC) AS BIGINT) AS i,
         COUNT(*) OVER () AS n
  FROM per),
g AS (
  SELECT COUNT(*) AS n_products,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(i * cents AS HUGEINT)) AS sixi,
         CAST(SUM(CASE WHEN i > n - ceil(n * 0.2) THEN cents END) AS BIGINT) AS topk_cents
  FROM ranked)
SELECT n_products, total_cents,
       CAST(2 * sixi AS DOUBLE) / (CAST(n_products AS DOUBLE) * CAST(total_cents AS DOUBLE))
         - (CAST(n_products AS DOUBLE) + 1.0) / CAST(n_products AS DOUBLE) AS gini,
       CAST(topk_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS top20pct_share
FROM g""")

  /** Exact OLS fit + Pearson correlation of line quantity against
    * discount — the continuous-statistics reading behind q10's bucketed
    * "discount impact" (does a deeper discount actually move volume,
    * and how strongly?). Closed-form OLS needs only the five moment
    * sums; both inputs are exact integers after scaling (discount has
    * two decimals → ×100; quantity is integral), so Σx, Σy, Σxy, Σx²,
    * Σy² are exact BIGINT/DECIMAL sums — ONE partial-combined
    * aggregation over the scan, no iteration, order-independent — and
    * slope/intercept/r are fixed double expression trees over them.
    * The same moment-sum shape fits any 100 TB column pair. */
  def olsDiscountQuantity(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // explicit round() before the integer cast: ×100 of a two-decimal
    // double lands within 1e-13 of an integer, and Spark's double→long
    // cast TRUNCATES while DuckDB's ROUNDS — 28.999999999999996 would
    // split the engines without this
    val pts = Tables.lineitem(spark, dir).select(
      round(col("l_discount") * 100).cast(LongType).as("x"),
      round(col("l_quantity")).cast(LongType).as("y"))
    val m = pts.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    def D(c: Column) = c.cast(DoubleType)
    val covN = D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))
    val varX = D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))
    val varY = D(col("n")) * D(col("syy")) - D(col("sy")) * D(col("sy"))
    m.select(
      col("n").as("n_rows"),
      (covN / varX).as("slope_per_pct"),
      ((D(col("sy")) - covN / varX * D(col("sx"))) / D(col("n"))).as("intercept"),
      (covN / (sqrt(varX) * sqrt(varY))).as("pearson_r"))
  }

  val olsDiscountQuantitySql: String = """
WITH pts AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_quantity) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS HUGEINT)) AS sxy,
         SUM(CAST(x * x AS HUGEINT)) AS sxx,
         SUM(CAST(y * y AS HUGEINT)) AS syy
  FROM pts)
SELECT n AS n_rows,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_per_pct,
       (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS pearson_r
FROM m"""

  /** Exact Spearman rank correlation of the same (discount, quantity)
    * pair — the monotonic-association reading that survives outliers
    * and nonlinearity where Pearson does not. Computed WITHOUT sorting
    * rows: both variables have small distinct domains once integer
    * scaled, so the tie-averaged rank of every VALUE comes from its
    * value-count cumulative slab (avg rank = cum − (c−1)/2; doubled to
    * 2·cum − c + 1 so it stays an exact integer), the tiny value→rank
    * maps broadcast back onto the scan, and Spearman is Pearson over
    * the integer rank pairs via the same exact moment sums as
    * [[olsDiscountQuantity]] (the ×2 scaling cancels in r). One scan +
    * two value-count aggregations — no global sort at any scale. */
  def spearmanDiscountQuantity(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val pts = Tables.lineitem(spark, dir).select(
      round(col("l_discount") * 100).cast(LongType).as("x"),
      round(col("l_quantity")).cast(LongType).as("y"))
    def rankMap(c: String): DataFrame = {
      val counts = pts.groupBy(c).agg(count(lit(1)).as("c"))
      counts
        .withColumn("cum", sum("c").over(Window.orderBy(c)))
        .select(col(c), (lit(2) * col("cum") - col("c") + lit(1)).as(s"r$c"))
    }
    val ranked = pts
      .join(broadcast(rankMap("x")), "x")
      .join(broadcast(rankMap("y")), "y")
    // even the linear sums go through decimal: Σrank ~ 2n² wraps a
    // long near 10^9.5 rows where DuckDB's HUGEINT would not
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("rx").cast(dec)).as("sx"), sum(col("ry").cast(dec)).as("sy"),
      sum((col("rx") * col("ry")).cast(dec)).as("sxy"),
      sum((col("rx") * col("rx")).cast(dec)).as("sxx"),
      sum((col("ry") * col("ry")).cast(dec)).as("syy"))
    def D(c: Column) = c.cast(DoubleType)
    val covN = D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))
    val varX = D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))
    val varY = D(col("n")) * D(col("syy")) - D(col("sy")) * D(col("sy"))
    m.select(col("n").as("n_rows"),
      (covN / (sqrt(varX) * sqrt(varY))).as("spearman_rho"))
  }

  val spearmanDiscountQuantitySql: String = """
WITH pts AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_quantity) AS BIGINT) AS y
  FROM lineitem),
rx AS (
  SELECT x, 2 * SUM(c) OVER (ORDER BY x) - c + 1 AS rx
  FROM (SELECT x, COUNT(*) AS c FROM pts GROUP BY x)),
ry AS (
  SELECT y, 2 * SUM(c) OVER (ORDER BY y) - c + 1 AS ry
  FROM (SELECT y, COUNT(*) AS c FROM pts GROUP BY y)),
ranked AS (SELECT rx.rx, ry.ry FROM pts JOIN rx USING (x) JOIN ry USING (y)),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
         SUM(CAST(rx * ry AS HUGEINT)) AS sxy,
         SUM(CAST(rx * rx AS HUGEINT)) AS sxx,
         SUM(CAST(ry * ry AS HUGEINT)) AS syy
  FROM ranked)
SELECT n AS n_rows,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS spearman_rho
FROM m"""

  /** The same exact moment-sum OLS, GROUPED — per-brand discount
    * elasticity. One aggregation keyed by brand (the part dim arrives
    * by broadcast); everything downstream is proportional to |brands|.
    * Demonstrates the moment-sum core composing under groupBy, which
    * is the form a 100 TB "elasticity per category" report runs. */
  def olsByBrand(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val pts = Tables.lineitem(spark, dir)
      .join(graft.Joins.broadcastIfSmall(
        Tables.part(spark, dir).select("p_partkey", "p_brand")), // scaling dim: measured-size gate
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(col("l_discount") * 100).cast(LongType).as("x"),
        round(col("l_quantity")).cast(LongType).as("y"))
    val m = pts.groupBy("p_brand").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"))
    def D(c: Column) = c.cast(DoubleType)
    val covN = D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))
    val varX = D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))
    m.select(col("p_brand"), col("n").as("n_rows"),
        when(varX > 0, covN / varX).as("slope_per_pct"))
      .orderBy("p_brand")
  }

  val olsByBrandSql: String = """
WITH pts AS (
  SELECT p.p_brand,
         CAST(round(l.l_discount * 100) AS BIGINT) AS x,
         CAST(round(l.l_quantity) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
m AS (
  SELECT p_brand, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x * y AS HUGEINT)) AS sxy,
         SUM(CAST(x * x AS HUGEINT)) AS sxx
  FROM pts GROUP BY p_brand)
SELECT p_brand, n AS n_rows,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope_per_pct
FROM m ORDER BY p_brand"""

  val ops: Seq[Op] = Seq(
    Op("ols_by_brand", olsByBrand, olsByBrandSql),
    Op("skew_diagnosis", skewDiagnosis, skewDiagnosisSql, hazards = Map(
      Op.GlobalWindow -> "the rank window numbers the 5 rows of the distributed top-k")),
    Op("equi_depth_histogram", equiDepthHistogram, equiDepthHistogramSql),
    Op("revenue_concentration", revenueConcentration, revenueConcentrationSql),
    Op("ols_discount_quantity", olsDiscountQuantity, olsDiscountQuantitySql),
    Op("spearman_discount_quantity", spearmanDiscountQuantity, spearmanDiscountQuantitySql,
      hazards = Map(Op.GlobalWindow -> ("the two rank maps' running sums run over the distinct " +
        "discount (at most 101) and quantity (about 50) values"))))
}
