package graft

import graft.sim.IndexStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table adapters over the driver test data (TESTDATA.md).
  *
  * Plays the role of the reference's staging-layer scans (reference:
  * scripts/ingestion/ingest_to_staging.py:80 reads raw CSVs;
  * scripts/transformation/staging_to_production.py:138-141 re-scans whole
  * tables). Here every scan is a lazy columnar Parquet read — Catalyst
  * pushes filters and prunes columns into the scan, so downstream
  * operators never pay for unused columns (unlike the reference's
  * `SELECT *` into pandas).
  *
  * Each table's schema is inferred once per on-disk vintage and every
  * later read passes it in: a plain `spark.read.parquet` starts a
  * one-task footer-reading job per call, which a small DAG used to pay
  * dozens of times for the same files.
  */
object Tables {
  /** The schema `spark.read.parquet` infers for `<dir>/<name>.parquet`,
    * inferred once per vintage through [[Memo]]: a rewritten table lists
    * new part files, so its vintage changes and it is inferred again;
    * the legacy nanos flag, part of the slot, changes what a
    * TIMESTAMP(NANOS) column reads as. */
  private[graft] def schemaOf(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    Memo(spark, ("schema", path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")),
      IndexStore.vintage(spark, dir, Seq(name)))(spark.read.parquet(path).schema)
  }

  private def rd(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir, name)).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = rd(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = rd(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = rd(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = rd(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = rd(spark, dir, "embeddings")

  /** The driver has shipped `events.ts` in two on-disk vintages:
    * parquet TIMESTAMP(NANOS) (read as long via the legacy flag, since
    * Spark has no nanosecond timestamp) and parquet `timestamp[us]`
    * without timezone (read as TIMESTAMP_NTZ). Downstream operators —
    * `unix_micros`, watermarks, window() — need TIMESTAMP(LTZ), so every
    * vintage is normalized here, in ONE place. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(rd(spark, dir, "events"))
  }

  /** Normalize a `ts` column to TimestampType (LTZ) regardless of the
    * vintage it was read as. Safe for batch and streaming frames alike.
    *  - LongType (epoch nanos): integer-divide to micros — float division
    *    of epoch-nanos loses the low digits past 2^53 and shifts
    *    timestamps by a microsecond. Matches DuckDB's nanos→micros
    *    truncation, so oracle comparisons line up.
    *  - TIMESTAMP_NTZ: cast — the session timezone is pinned to UTC
    *    everywhere (Sessions/Verify/Bench/specs), so the wall-clock
    *    reinterpretation preserves the instant and DuckDB's naive read
    *    still matches.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
