package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of every op (the query contract of SURVEY.md §7).
  *
  * Each module declares its ops once ([[Op]]: key, Spark query, oracle
  * SQL, roster class); `queries`, `oracleSql` and `rosterClass` are views
  * of [[ops]] keyed by op key. Column names and values match the oracle
  * exactly — see [[Det]] for the determinism conventions that make
  * double-valued measures hash-identical between Spark and DuckDB.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.Analytics.q01(spark, "/root/testdata/sf0.001")

  /** Every registered op, module by module. */
  val ops: Seq[Op] = Seq(
    analytics.Analytics.ops,
    etl.Cleanse.ops,
    etl.Load.ops,
    quality.Quality.ops,
    quality.Pii.ops,
    monitor.Monitor.ops,
    warehouse.WarehouseQueries.ops,
    text.TextOps.ops,
    sim.Similarity.ops,
    sim.Ivf.ops,
    sim.Pq.ops,
    sim.Ivfpq.ops,
    streaming.Streams.ops,
    multimodal.Multimodal.ops,
    ext.Extensions.ops,
    text.DedupClusters.ops,
    analytics.WindowOps.ops,
    etl.Skew.ops,
    ext.TemporalJoins.ops,
    ext.Reshape.ops,
    analytics.Quantiles.ops,
    ext.SetOps.ops,
    text.Curation.ops,
    text.Packing.ops,
    text.Incremental.ops,
    text.Relevance.ops,
    analytics.Funnels.ops,
    quality.Profile.ops,
    monitor.Drift.ops,
    etl.Cdc.ops,
    sim.EmbeddingDrift.ops,
    sim.Contrastive.ops,
    analytics.Stats.ops,
    analytics.Basket.ops,
    analytics.Rfm.ops,
    analytics.Graph.ops).flatten

  private val byKey: Map[String, Op] = Op.index(ops)

  /** The Spark query per key: one entry per implemented operator from
    * SURVEY.md §2. */
  val queries: Map[String, Op.Q] = byKey.map { case (k, o) => k -> o.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = byKey.map { case (k, o) => k -> o.oracleSql }

  /** Roster class per registered query ([[Op.Roster]]): `headline`, `ext`,
    * `listing` or `eval`. */
  val rosterClass: Map[String, String] = byKey.map { case (k, o) => k -> o.roster.name }

  /** The ops named, in the order given; throws on an unknown name before
    * any Spark work starts. */
  def lookup(names: Seq[String]): Seq[Op] = {
    val unknown = names.filterNot(byKey.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    names.map(byKey)
  }
}
