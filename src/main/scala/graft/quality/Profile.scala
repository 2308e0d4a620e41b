package graft.quality

import graft.{Memo, Op, Tables}
import graft.sim.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deequ-style single-pass column profiling — the "what is in this
  * table" summary every ingestion pipeline runs before trusting a new
  * drop (the reference eyeballs this manually in its validation
  * notebook; here it is a first-class operator). For every column:
  * completeness (non-null fraction) and exact distinct count; numeric
  * columns add min/max; string columns add min/avg/max length. Output
  * is melted long — one (tbl, col_name, metric, value) row per metric —
  * so the profile of any schema lands in ONE fixed four-column shape a
  * monitoring sink can diff across runs.
  *
  * Scale posture: one aggregation pass per table. The multiple exact
  * `countDistinct`s plan as a single Expand(×k columns)+two-level
  * hash aggregate — the standard multi-distinct shape, heavy but
  * shuffle-bounded by the distinct domains, and map-side partial
  * aggregation collapses each domain per partition first. At 100 TB the
  * escape hatch is `approx_count_distinct` (a mergeable HLL sketch, no
  * Expand) — same pairing as SURVEY §7.4's countDistinct convention;
  * the exact form is the oracle-checkable contract.
  *
  * Determinism: every emitted value is either an exact integer
  * (counts, distincts, lengths, mins/maxes) cast to double, or a
  * single division of two exact integers in double (completeness,
  * avg_len) — one IEEE operation, identical in both engines, no
  * order-dependent float summation anywhere.
  */
object Profile {
  /** Column kinds drive which metrics apply. */
  sealed private trait Kind
  private case object Num extends Kind // numeric: min/max
  private case object Str extends Kind // string: min_len/avg_len/max_len
  private case object Key extends Kind // other (ids, timestamps): completeness+distinct only

  /** One metric = a name plus BOTH engines' implementations, generated
    * from the same template so the Spark plan and the DuckDB oracle can
    * never drift apart. */
  private case class Metric(name: String, sparkCol: Column, sql: String)

  private def metricsFor(c: String, kind: Kind): Seq[Metric] = {
    val base = Seq(
      Metric("completeness",
        count(col(c)).cast(DoubleType) / count(lit(1)).cast(DoubleType),
        s"CAST(COUNT($c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"),
      Metric("distinct_count",
        countDistinct(col(c)).cast(DoubleType),
        s"CAST(COUNT(DISTINCT $c) AS DOUBLE)"))
    val extra = kind match {
      case Num => Seq(
        Metric("min", min(col(c)).cast(DoubleType), s"CAST(MIN($c) AS DOUBLE)"),
        Metric("max", max(col(c)).cast(DoubleType), s"CAST(MAX($c) AS DOUBLE)"))
      case Str => Seq(
        Metric("min_len", min(length(col(c))).cast(DoubleType),
          s"CAST(MIN(length($c)) AS DOUBLE)"),
        // avg length over NON-NULL values: two exact longs, one divide
        Metric("avg_len",
          sum(length(col(c))).cast(DoubleType) / count(col(c)).cast(DoubleType),
          s"CAST(SUM(length($c)) AS DOUBLE) / CAST(COUNT($c) AS DOUBLE)"),
        Metric("max_len", max(length(col(c))).cast(DoubleType),
          s"CAST(MAX(length($c)) AS DOUBLE)"))
      case Key => Nil
    }
    base ++ extra
  }

  private val docCols = Seq(
    "doc_id" -> Key, "text" -> Str, "lang" -> Str, "source" -> Str,
    "n_chars" -> Num)
  private val orderCols = Seq(
    "o_orderkey" -> Key, "o_custkey" -> Key, "o_orderstatus" -> Str,
    "o_totalprice" -> Num, "o_orderdate" -> Key)

  /** Profile one table: a single `agg()` computes every metric, then the
    * one-row result melts to long via explode — no second scan. */
  private def profileOver(df: DataFrame, tbl: String,
                          cols: Seq[(String, Kind)]): DataFrame = {
    val metrics = ("_table_", Metric("row_count",
      count(lit(1)).cast(DoubleType), "CAST(COUNT(*) AS DOUBLE)")) +:
      cols.flatMap { case (c, k) => metricsFor(c, k).map(c -> _) }
    val aliased = metrics.zipWithIndex.map { case ((_, m), i) => m.sparkCol.as(s"m$i") }
    val one = df.agg(aliased.head, aliased.tail: _*)
    val rows = metrics.zipWithIndex.map { case ((c, m), i) =>
      struct(lit(tbl).as("tbl"), lit(c).as("col_name"),
        lit(m.name).as("metric"), col(s"m$i").as("value"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.tbl").as("tbl"), col("r.col_name").as("col_name"),
        col("r.metric").as("metric"), col("r.value").as("value"))
  }

  private def sqlOver(tbl: String, cols: Seq[(String, Kind)]): String = {
    val metrics = ("_table_", Metric("row_count", count(lit(1)), "CAST(COUNT(*) AS DOUBLE)")) +:
      cols.flatMap { case (c, k) => metricsFor(c, k).map(c -> _) }
    val aggs = metrics.zipWithIndex
      .map { case ((_, m), i) => s"${m.sql} AS m$i" }.mkString(",\n         ")
    val rows = metrics.zipWithIndex.map { case ((c, m), i) =>
      s"SELECT '$tbl' AS tbl, '$c' AS col_name, '${m.name}' AS metric, m$i AS value FROM s_$tbl"
    }.mkString("\n  UNION ALL ")
    s"s_$tbl AS (\n  SELECT $aggs\n  FROM $tbl),\np_$tbl AS (\n  $rows)"
  }

  /** Registered op: profiles of `documents` and `orders`, unioned. */
  def profileTables(spark: SparkSession, dir: String): DataFrame =
    profileOver(source(spark, dir, "documents")(Tables.documents), "documents", docCols)
      .unionAll(profileOver(source(spark, dir, "orders")(Tables.orders), "orders", orderCols))
      .orderBy("tbl", "col_name", "metric")

  /** A profiled table as one handle per session and table vintage.
    * Spark's distinct-aggregate rewrite orders the Expand's projections
    * and the aggregate's grouping keys by the hash of each distinct
    * column's expression id. A fresh read gives the columns fresh ids,
    * so each call generated differently ordered code and compiled its
    * classes again (10–12 per call); one handle keeps the ids, hence the
    * code, the same on every call. */
  private def source(spark: SparkSession, dir: String, table: String)(
      read: (SparkSession, String) => DataFrame): DataFrame =
    Memo(spark, ("profile_source", dir, table), IndexStore.vintage(spark, dir, Seq(table)))(
      read(spark, dir))

  val profileTablesSql: String =
    s"""WITH ${sqlOver("documents", docCols)},
${sqlOver("orders", orderCols)}
SELECT * FROM (SELECT * FROM p_documents UNION ALL SELECT * FROM p_orders)
ORDER BY tbl, col_name, metric"""

  // ------------------------------------------------------ k-anonymity

  /** Re-identification threshold: a quasi-identifier cell smaller than
    * this is reportable. */
  val KAnon = 5L

  /** k-anonymity audit over the customer table — the governance check a
    * dataset clears before leaving the boundary: group by the
    * quasi-identifier combination an adversary could link on (nation,
    * market segment, account-balance band), report every cell whose
    * population is below [[KAnon]] plus its share of the table. One
    * hash aggregation (QI cardinality-bounded) + a broadcast total;
    * the band uses floor division of exact cents so both engines cut
    * identically. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_nationkey").cast(LongType).as("nationkey"),
      col("c_mktsegment").as("segment"),
      // offset to non-negative before the integer division: Spark `div`
      // truncates toward zero while DuckDB `//` floors, and balances go
      // negative — on a non-negative numerator the two agree
      expr("((cast(round(c_acctbal * 100) as bigint) + 10000000) div 100000) - 100")
        .as("acctbal_band_k"))
    val cells = c.groupBy("nationkey", "segment", "acctbal_band_k")
      .agg(count(lit(1)).as("cell_size"))
    val tot = cells.agg(sum("cell_size").as("n_customers"))
    cells.filter(col("cell_size") < KAnon)
      .crossJoin(broadcast(tot))
      .select(col("nationkey"), col("segment"), col("acctbal_band_k"),
        col("cell_size"), col("n_customers"),
        (col("cell_size").cast(DoubleType) / col("n_customers").cast(DoubleType))
          .as("share_at_risk"))
      .orderBy("nationkey", "segment", "acctbal_band_k")
  }

  val kAnonymityAuditSql: String = s"""
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment,
         ((CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000) - 100 AS acctbal_band_k
  FROM customer),
cells AS (
  SELECT nationkey, segment, acctbal_band_k, COUNT(*) AS cell_size
  FROM c GROUP BY 1, 2, 3),
tot AS (SELECT CAST(SUM(cell_size) AS BIGINT) AS n_customers FROM cells)
SELECT nationkey, segment, acctbal_band_k, cell_size, n_customers,
       CAST(cell_size AS DOUBLE) / CAST(n_customers AS DOUBLE) AS share_at_risk
FROM cells CROSS JOIN tot
WHERE cell_size < $KAnon
ORDER BY nationkey, segment, acctbal_band_k"""

  val ops: Seq[Op] = Seq(
    Op("profile_tables", profileTables, profileTablesSql, hazards = Map(
      Op.Expand -> ("one Expand per profiled table (documents, orders): an exact COUNT(DISTINCT) " +
        "per column is the profile's definition, so each row is expanded once per distinct " +
        "column plus one before the partial aggregate; approx_count_distinct is the scale form"))),
    Op("k_anonymity_audit", kAnonymityAudit, kAnonymityAuditSql))
}
