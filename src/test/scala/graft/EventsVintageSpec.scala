package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards [[Tables.normalizeTs]] against driver-side testdata vintage
  * changes: the events parquet has shipped as TIMESTAMP(NANOS) (read as
  * LongType via the legacy flag) and as naive `timestamp[us]` (read as
  * TIMESTAMP_NTZ). A future vintage flip should fail THIS one named spec,
  * not 8 scattered streaming/temporal-join tests.
  */
class EventsVintageSpec extends SparkSpec {
  import spark.implicits._

  private val instantMicros = 1704067200123456L // 2024-01-01T00:00:00.123456Z

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"vintage_$name")
    d.toFile.deleteOnExit()
    s"$d/events.parquet"
  }

  test("LongType epoch-nanos vintage normalizes to TimestampType, truncating to micros") {
    val p = tmp("nanos")
    Seq((1L, instantMicros * 1000 + 789)).toDF("event_id", "ts") // extra nanos digits
      .write.mode("overwrite").parquet(p)
    val df = Tables.normalizeTs(spark.read.parquet(p))
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == instantMicros)
  }

  test("TIMESTAMP_NTZ vintage normalizes to TimestampType preserving the instant (UTC session)") {
    val p = tmp("ntz")
    Seq((1L, instantMicros)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(p)
    val raw = spark.read.parquet(p)
    assert(raw.schema("ts").dataType == TimestampNTZType) // written as naive micros
    val df = Tables.normalizeTs(raw)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == instantMicros)
  }

  test("TimestampType vintage passes through untouched") {
    val p = tmp("ltz")
    Seq((1L, instantMicros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(p)
    val df = Tables.normalizeTs(spark.read.parquet(p))
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) == instantMicros)
  }

  test("every driver testdata dir reads events.ts as TimestampType") {
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists()) {
        val df = Tables.events(spark, dir)
        assert(df.schema("ts").dataType == TimestampType, s"vintage drift in $dir")
        // unix_micros is the downstream contract (temporal joins, monitors)
        assert(df.select(unix_micros(col("ts"))).head().getLong(0) > 0L)
      }
    }
  }
}
