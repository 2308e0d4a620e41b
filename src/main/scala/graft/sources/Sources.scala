package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File sources and sinks — the reference's ingestion boundary
  * (reference: scripts/ingestion/ingest_to_staging.py:80 reads header
  * CSVs with inferred dtypes; generate_analytics.py:26-27 writes result
  * CSVs; four JSON report documents are written across the pipeline,
  * SURVEY §2.1 S1/S2/S8).
  *
  * Differences by design: source schemas are EXPLICIT at the boundary
  * ([[graft.Tables]]; the reference infers, then its DDL re-asserts
  * types downstream — we declare once, SURVEY §1.2); writes are
  * columnar bulk parquet/CSV, not driver-batched INSERTs (S4's
  * page_size=1000 batching is subsumed, SURVEY §4).
  *
  * Only the sinks the pipeline and its maintenance jobs call live here;
  * reading and writing other formats (JSON lines, ORC, partitioned or
  * bucketed layouts) is one call on Spark's own reader or writer.
  */
object Sources {

  /** CSV sink, header row, overwrite (analytics exports). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Full-refresh load: TRUNCATE-then-insert becomes an atomic
    * overwrite (reference ingest_to_staging.py:150-154, S5). */
  def fullRefresh(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Incremental append: insert only keys not already present
    * (reference staging_to_production.py:160-181, S6) — a left_anti
    * join, never a collected key set. */
  def incrementalAppend(spark: SparkSession, df: DataFrame, path: String,
                        keys: Seq[String]): Long = {
    // existence via the HADOOP filesystem, not java.io.File: a URI-style
    // or non-local path (file://, hdfs://, s3a://) resolves fine for
    // spark.read/write but java.io.File would answer false — silently
    // disabling the dedup anti-join and appending duplicates.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(hPath)) {
        val existing = spark.read.parquet(path).select(keys.map(col): _*)
        df.join(existing, keys, "left_anti")
      } else df
    // persist across the two actions (count + write) so the anti-join
    // and both scans run once, not twice
    fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) fresh.write.mode(SaveMode.Append).parquet(path)
      n
    } finally fresh.unpersist()
  }

  /** Deterministic sharded output — the layout training dataloaders
    * consume: exactly `shards` files, each row's shard fixed by a hash
    * of its key (never round-robin or partition order, so reruns and
    * different cluster layouts produce identical shard membership).
    * Shard id is exposed as a partition directory (`shard=K`) so a
    * reader can open one shard without listing the rest. */
  def writeSharded(df: DataFrame, path: String, keyCol: String,
                   shards: Int): Unit = {
    require(shards > 0, s"shards must be positive, got $shards")
    df.withColumn("shard", pmod(hash(col(keyCol)), lit(shards)))
      .repartition(shards, col("shard"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)
  }

  /** Small-file compaction — the lakehouse maintenance job every
    * streaming or incremental sink eventually needs: micro-batch appends
    * leave thousands of KB-sized files, and at 100 TB the resulting
    * per-file open/footer cost dominates scan time (a 128 MB-target
    * layout reads the same bytes with ~1000× fewer file operations).
    * Bin-packs the directory to ceil(bytes / targetBytes) files via a
    * round-robin repartition (pure size balancing — no key semantics to
    * preserve), writing to a staging path first and committing it with
    * the index store's rename-aside swap ([[graft.sim.IndexStore
    * .swapIn]]), so a crashed or failed compaction never leaves the
    * table half-written or gone: a failed swap restores the original
    * and throws. Returns (filesBefore, filesAfter). */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val staging = new org.apache.hadoop.fs.Path(path + "._compacting")
    spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    graft.sim.IndexStore.swapIn(fs, staging, hPath)
    val after = fs.listStatus(hPath)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }

  /** Single JSON report document (ingestion summaries, quality reports —
    * S8): driver-side write, content from a pre-rendered JSON string. */
  def writeJsonReport(json: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
  }
}
