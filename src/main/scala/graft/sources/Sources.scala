package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File sources and sinks — the reference's ingestion boundary
  * (reference: scripts/ingestion/ingest_to_staging.py:80 reads header
  * CSVs with inferred dtypes; generate_analytics.py:26-27 writes result
  * CSVs; four JSON report documents are written across the pipeline,
  * SURVEY §2.1 S1/S2/S8).
  *
  * Differences by design: schemas are EXPLICIT at the boundary (the
  * reference infers, then its DDL re-asserts types downstream — we
  * declare once, SURVEY §1.2); writes are partitioned parquet/CSV, not
  * driver-batched INSERTs (S4's page_size=1000 batching is subsumed by
  * columnar bulk writes, SURVEY §4).
  */
object Sources {

  /** Header CSV with an explicit schema — never inferSchema in
    * production paths: inference is a full extra pass over 100 TB and
    * can drift types between runs. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

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

  /** Hive-style partitioned parquet write — THE layout decision at
    * 100 TB: queries that filter on the partition columns read only the
    * matching directories (partition pruning happens at planning time,
    * before any file is opened). Partition by low-cardinality columns
    * queries actually filter on (date, region), never by high-cardinality
    * keys (a directory per customer would be millions of tiny files). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed parquet table — the OTHER layout decision at 100 TB:
    * pre-shuffle once at write time so every future join or aggregation
    * on the bucket key runs with NO exchange (the fact⋈fact
    * lineitem⋈orders co-partition join in [[graft.warehouse.Warehouse]]
    * disappears exactly this way). Bucket by the high-cardinality join
    * key — the complement of [[writePartitioned]]'s low-cardinality
    * directory pruning; `sortBy` additionally pre-orders within buckets
    * so sort-merge joins skip their sorts when each bucket is one file.
    * Registered through the session catalog (bucketing metadata lives
    * there), externalized at `path`. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.saveAsTable(table)
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

  /** JSON-lines source with an explicit schema (same no-inference rule
    * as [[readCsv]]) — the interchange format training-data corpora
    * actually ship in. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink (one JSON object per line, splittable downstream). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Z-order clustered Parquet write: range-partition and sort the
    * rows by the Morton interleave of two non-negative int columns
    * ([[graft.functions.ZOrder]]), so each output file covers a small
    * rectangle of the (a, b) value space and Parquet min/max stats
    * prune files for predicates on EITHER column — where a plain sort
    * localizes one axis and spreads the other across every file.
    * The interleave column is dropped before writing; layout is the
    * only effect. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    files: Int): Unit = {
    require(files > 0, s"files must be positive, got $files")
    df.withColumn("_z", graft.functions.ZOrder.zValue(col(colA), col(colB)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** ORC source — the other columnar interchange format large estates
    * carry alongside Parquet (Hive-heritage warehouses in particular).
    * Same columnar pushdown/pruning path as the Parquet scans: Spark's
    * vectorized ORC reader serves predicate pushdown and column pruning
    * from the file's min/max stripes. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (columnar, splittable, compressed). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Small-file compaction — the lakehouse maintenance job every
    * streaming or incremental sink eventually needs: micro-batch appends
    * leave thousands of KB-sized files, and at 100 TB the resulting
    * per-file open/footer cost dominates scan time (a 128 MB-target
    * layout reads the same bytes with ~1000× fewer file operations).
    * Bin-packs the directory to ceil(bytes / targetBytes) files via a
    * round-robin repartition (pure size balancing — no key semantics to
    * preserve; use [[writeZOrdered]]/[[writeBucketed]] when layout IS
    * semantic), writing to a staging path first and committing it with
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

  /** Schema-evolution read: union a directory whose parquet files were
    * written under EVOLVING schemas (columns added over time) into one
    * frame — `mergeSchema` unions field sets by name across file
    * footers; rows from files predating a column read NULL for it.
    * This is the additive-evolution contract (rename/retype still needs
    * a migration); the option is per-read because footer-merging scales
    * with file count and the default fast path trusts the first footer. */
  def readParquetMergeSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Single JSON report document (ingestion summaries, quality reports —
    * S8): driver-side write, content from a pre-rendered JSON string. */
  def writeJsonReport(json: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
  }
}
