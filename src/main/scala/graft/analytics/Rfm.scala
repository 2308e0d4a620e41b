package graft.analytics

import graft.{Det, Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** RFM (recency / frequency / monetary) customer segmentation — the
  * marketing-standard scoring the reference's spending-bucket
  * segmentation (q03) approximates with fixed thresholds. Each customer
  * gets a 1–5 score per dimension against the CORPUS's own quintile
  * bounds, then a named segment from the usual score-grid rules.
  *
  * Instead of a global ntile() — a single-partition window sort over
  * every customer — the quintile bounds come from the exact
  * rank-selection-over-value-counts core ([[Quantiles]]): four type-1
  * bounds per dimension from the distinct-value frame (cumulated via
  * partition offsets — no single-partition window even when the
  * monetary frame is customer-sized), broadcast back, and each
  * customer scores with three comparisons. Ties share a
  * score (boundary values score identically — the deterministic
  * convention both engines mirror; ntile would split ties by row
  * position instead).
  *
  * Determinism: recency/frequency are exact integers; monetary is the
  * Det decimal-sum convention snapped to cents (an exact long) before
  * any ranking.
  */
object Rfm {
  private val qs = Seq(0.2, 0.4, 0.6, 0.8)

  /** score 1–5: 1 + number of quintile bounds strictly below v. */
  private def scoreUp(v: Column, q: String): Column =
    lit(1) + (v > col(s"${q}_q1")).cast(IntegerType) +
      (v > col(s"${q}_q2")).cast(IntegerType) +
      (v > col(s"${q}_q3")).cast(IntegerType) +
      (v > col(s"${q}_q4")).cast(IntegerType)

  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val asOf = to_date(lit(Det.AsOfDate))
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(asOf, max(to_date(col("o_orderdate")))).cast(LongType).as("recency_days"),
        count(lit(1)).as("frequency"),
        // cents as an exact long — the rankable monetary measure
        (Det.msumDec(col("o_totalprice")) * 100).cast(LongType).as("monetary_cents"))
    // ONE quintile-bounds subtree for all three dimensions instead of
    // three separate per-dimension passes: each pass paid an eager
    // partition-offsets collect inside [[graft.Dist.exclusiveCumsumBy]]
    // that re-aggregated orders at CONSTRUCTION, so the unshared form
    // ran the per-customer aggregation ~7× per invocation (3 eager
    // cumsum collects + 4 co-planned subtrees at action) — the steady
    // slowest ext op at 1.74 s. Stacking (dim, v) and cumsumming once
    // in lexicographic (dim, v) order cuts that to 3 (one construction
    // collect, bounds + scoring at action) with the identical bounds:
    // within a dim the rows are v-ordered and the per-dim cumulative
    // count is the global one minus the dim's base offset (the cumsum
    // still comes from range-partition + per-partition offsets, never a
    // single-partition window — the monetary distinct-value frame is
    // customer-cardinality at scale). Deliberately NOT persist-shared:
    // a persist left registered would serve later invocations (a
    // bench's timed runs after its warm-up) from memory instead of the
    // parquet inputs, and an eager collect-the-bounds variant measured
    // SLOWER (2.14 s) than this lazy shape — serialized small jobs lose
    // to one action with parallel broadcast builds.
    val stacked = per.select(explode(array(
        struct(lit("f").as("dim"), col("frequency").as("v")),
        struct(lit("m").as("dim"), col("monetary_cents").as("v")),
        struct(lit("r").as("dim"), col("recency_days").as("v")))).as("x"))
      .select(col("x.dim").as("dim"), col("x.v").as("v"))
    val counts = stacked.groupBy("dim", "v")
      .agg(count(lit(1)).cast(LongType).as("c"))
    val cum0 = graft.Dist.exclusiveCumsumBy(counts, Seq("dim", "v"), "c", "gcum_before")
    // per-dim total n and base offset (the global cumsum at the dim's
    // first row); 3 rows — broadcast back onto the value-count frame
    val dimTot = cum0.groupBy("dim").agg(
      sum("c").cast(LongType).as("n"),
      min("gcum_before").cast(LongType).as("base"))
    val ranked = cum0.join(broadcast(dimTot), "dim")
      .withColumn("cum", col("gcum_before") - col("base") + col("c"))
    val cells = qs.zipWithIndex.map { case (p, i) =>
      max(when(col("cum") - col("c") < ceil(col("n") * lit(p))
            && col("cum") >= ceil(col("n") * lit(p)), col("v"))).as(s"q${i + 1}")
    }
    val perDim = ranked.groupBy("dim").agg(cells.head, cells.tail: _*)
    // pivot the ≤3 bound rows into the one wide row the scoring
    // comparisons expect (r_q1..m_q4) — max(when) over ≤3 rows
    val boundCells = Seq("r", "f", "m").flatMap(pfx => (1 to 4).map(i =>
      max(when(col("dim") === pfx, col(s"q$i"))).as(s"${pfx}_q$i")))
    val oneRow = perDim.agg(boundCells.head, boundCells.tail: _*)
    val scored = per
      .crossJoin(broadcast(oneRow))
      .select(col("o_custkey"),
        // recency: LOW days = GOOD → invert the up-count
        (lit(6) - scoreUp(col("recency_days"), "r")).as("r_score"),
        scoreUp(col("frequency"), "f").as("f_score"),
        scoreUp(col("monetary_cents"), "m").as("m_score"))
    val label =
      when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champions")
        .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk_loyal")
        .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
        .when(col("f_score") >= 4, "loyal")
        .when(col("m_score") >= 4, "big_spenders")
        .otherwise("regular")
    scored.withColumn("segment", label)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        min("r_score").as("min_r"), max("r_score").as("max_r"),
        min("f_score").as("min_f"), max("f_score").as("max_f"),
        min("m_score").as("min_m"), max("m_score").as("max_m"))
      .orderBy("segment")
  }

  val rfmSegmentsSql: String = {
    def bounds(src: String, c: String, pfx: String): String = {
      val cells = qs.zipWithIndex.map { case (p, i) =>
        s"MAX(CASE WHEN cum - c < ceil(n * $p) AND cum >= ceil(n * $p) THEN v END) AS ${pfx}_q${i + 1}"
      }.mkString(", ")
      s"""${pfx}b AS (
  SELECT $cells FROM (
    SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
    FROM (SELECT $c AS v, COUNT(*) AS c FROM $src GROUP BY $c)))"""
    }
    def up(v: String, pfx: String): String =
      s"1 + CASE WHEN $v > ${pfx}_q1 THEN 1 ELSE 0 END + CASE WHEN $v > ${pfx}_q2 THEN 1 ELSE 0 END" +
        s" + CASE WHEN $v > ${pfx}_q3 THEN 1 ELSE 0 END + CASE WHEN $v > ${pfx}_q4 THEN 1 ELSE 0 END"
    s"""
WITH per AS (
  SELECT o_custkey,
         CAST(DATE '${Det.AsOfDate}' - MAX(CAST(o_orderdate AS DATE)) AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))),2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey),
${bounds("per", "recency_days", "r")},
${bounds("per", "frequency", "f")},
${bounds("per", "monetary_cents", "m")},
scored AS (
  SELECT o_custkey,
         6 - (${up("recency_days", "r")}) AS r_score,
         ${up("frequency", "f")} AS f_score,
         ${up("monetary_cents", "m")} AS m_score
  FROM per CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb),
lab AS (
  SELECT *,
         CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champions'
              WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
              WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              WHEN f_score >= 4 THEN 'loyal'
              WHEN m_score >= 4 THEN 'big_spenders'
              ELSE 'regular' END AS segment
  FROM scored)
SELECT segment, COUNT(*) AS n_customers,
       MIN(r_score) AS min_r, MAX(r_score) AS max_r,
       MIN(f_score) AS min_f, MAX(f_score) AS max_f,
       MIN(m_score) AS min_m, MAX(m_score) AS max_m
FROM lab GROUP BY segment ORDER BY segment"""
  }

  val ops: Seq[Op] = Seq(
    Op("rfm_segments", rfmSegments, rfmSegmentsSql, Ext))
}
