package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("streaming hourly windows equal the batch twin") {
    val q = Streams.hourlyCountsStream(spark, sf).writeStream
      .format("memory").queryName("hourly_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_stream")
    val batch = Streams.eventsHourly(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("stateful streaming sessionization matches the batch twin") {
    val q = Streams.sessionizeStream(spark, Streams.eventsStream(spark, sf))
      .writeStream
      .format("memory").queryName("sessions_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sessions_stream")
      .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
        col("n_events").cast("long").as("n_events"),
        col("duration_secs"))
    val batch = Streams.eventsSessions(spark, sf)
      .select(col("user_id"), col("session_seq"),
        col("n_events"), col("duration_secs"))

    // Faithful streaming semantics: a session still open when the final
    // watermark (= max event time, 0s delay) hasn't passed last + gap stays
    // in state — the stream cannot know the bounded input ended. The batch
    // twin closes those. Expected stream output = batch minus exactly that
    // frontier-open set (the user's final session, when its timeout
    // timestamp lies beyond the final watermark — mirroring
    // sessionizeStream's `timeoutAtMs > watermark` keep-open condition).
    val gapSecs = 30L * 60
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("m"))
    val finalWatermarkMs = ev.agg(max("m")).head().getLong(0) / 1000
    val openUsers = ev.groupBy("user_id").agg(max("m").as("last_m"))
      .filter((expr("last_m div 1000000") + gapSecs + 1) * 1000 > finalWatermarkMs)
      .select("user_id")
    val lastSeq = batch.groupBy("user_id")
      .agg(max("session_seq").as("frontier_seq"))
    val frontier = batch
      .join(openUsers, "user_id")
      .join(lastSeq, "user_id")
      .filter(col("session_seq") === col("frontier_seq"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("duration_secs"))
    val expected = batch.except(frontier)

    assert(frontier.count() > 0,
      "fixture must exercise the open-at-frontier case")
    assert(streamed.count() == expected.count())
    assert(streamed.except(expected).count() == 0, "streamed sessions not in batch")
    assert(expected.except(streamed).count() == 0, "closed batch sessions missing from stream")
  }

  test("stream-stream interval join equals the batch range join") {
    val q = Streams.clickPurchaseJoinStream(spark, sf).writeStream
      .format("memory").queryName("sj_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sj_stream")
    val batch = graft.ext.TemporalJoins.rangeClickPurchase(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0, "streamed pairs not in batch")
    assert(batch.except(streamed).count() == 0, "batch pairs not in stream")
  }

  test("foreachBatch incremental sink is idempotent under replay") {
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString + "/events"
    val q1 = Streams.streamToIncrementalParquet(spark, sf, out)
    q1.awaitTermination(120000)
    val n = Tables.events(spark, sf).count()
    assert(spark.read.parquet(out).count() == n)
    // replay the whole stream (fresh query, no checkpoint): the keyed
    // anti-join append must insert nothing
    val q2 = Streams.streamToIncrementalParquet(spark, sf, out)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == n)
  }

  test("declarative session_window agrees with the lag/cumsum sessionization") {
    // Spark's built-in session_window (usable batch AND streaming) must
    // produce the same session set as the hand-rolled gaps-and-islands
    // twin the oracle verifies — same gap, same grain
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val sw = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), date_format(col("w.start"), fmt).as("session_start"),
        col("n_events"))
    val twin = Streams.eventsSessions(spark, sf)
      .select("user_id", "session_start", "n_events")
    assert(sw.count() == twin.count() && sw.count() > 0)
    assert(sw.except(twin).count() == 0)
    assert(twin.except(sw).count() == 0)
  }

  test("3-sigma volume anomaly over the stream-maintained mart equals batch") {
    // the lambda shape: the stream maintains the mart, detection runs
    // batch over it — verdicts must match detection over the source
    val mart = java.nio.file.Files.createTempDirectory("graft_mart").toString
    val q = Streams.streamToIncrementalParquet(spark, sf, s"$mart/events.parquet")
    q.awaitTermination(120000)
    val overMart = graft.monitor.Monitor.volumeAnomaly(spark, mart)
    val overSource = graft.monitor.Monitor.volumeAnomaly(spark, sf)
    assert(overMart.count() == overSource.count() && overMart.count() > 0)
    assert(overMart.except(overSource).count() == 0)
    assert(overSource.except(overMart).count() == 0)
    // the mart lands event_type too, so the PSI drift monitor and the
    // robust MAD anomaly run unchanged over it — same verdicts
    val driftMart = graft.monitor.Drift.driftPsi(spark, mart)
    val driftSource = graft.monitor.Drift.driftPsi(spark, sf)
    assert(driftMart.count() == driftSource.count() && driftMart.count() > 0)
    assert(driftMart.except(driftSource).count() == 0)
    val madMart = graft.monitor.Monitor.madAnomaly(spark, mart)
    val madSource = graft.monitor.Monitor.madAnomaly(spark, sf)
    assert(madMart.except(madSource).count() == 0)
    assert(madSource.except(madMart).count() == 0)
    // the hour-of-week seasonal monitor is (date, hour)-grain — the
    // mart carries ts, so it too runs unchanged with equal verdicts
    val seasMart = graft.monitor.Monitor.seasonalAnomaly(spark, mart)
    val seasSource = graft.monitor.Monitor.seasonalAnomaly(spark, sf)
    assert(seasMart.except(seasSource).count() == 0)
    assert(seasSource.except(seasMart).count() == 0)
  }

  test("streaming dedup suppresses duplicate event ids") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m:00")

    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    // id 1 delivered three times (twice in one batch, once redelivered
    // in the next), id 2 once
    mem.addData((1L, ts("10:00")), (1L, ts("10:00")), (2L, ts("10:05")))
    q.processAllAvailable()
    mem.addData((1L, ts("10:06")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"expected each id once, got $ids")
  }

  test("streaming content dedup emits exactly the batch dedup key set") {
    val q = Streams.dedupDocsStream(spark, sf).writeStream
      .format("memory").queryName("content_dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("content_dedup_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val batchGroups = graft.text.TextOps.dedupExact(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // one emission per distinct content, never more
    assert(streamed.length == streamed.map(_._1).distinct.length)
    assert(streamed.map(_._1).toSet == batchGroups.keySet)
    // the REGISTERED oracle twin publishes the same key set
    val twinKeys = Streams.dedupContentBatch(spark, sf)
      .select("content_md5").collect().map(_.getString(0)).toSet
    assert(twinKeys == streamed.map(_._1).toSet)
    // the kept doc must belong to its content group: its text hashes to
    // the key (verified via the batch group's membership by re-hashing)
    val byId = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    streamed.foreach { case (m, keeper) =>
      assert(byId(keeper) == m, s"keeper $keeper does not hash to $m")
    }
  }

  test("streaming phash dedup emits exactly the batch twin's key set") {
    val q = Streams.phashDedupDocsStream(spark, sf).writeStream
      .format("memory").queryName("phash_dedup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("phash_dedup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // one emission per distinct fingerprint, never more
    assert(streamed.length == streamed.map(_._1).distinct.length)
    val twinKeys = Streams.phashDedupBatch(spark, sf)
      .select("phash60").collect().map(_.getLong(0)).toSet
    assert(twinKeys == streamed.map(_._1).toSet)
    // the kept doc must fingerprint to its key (the registered phash
    // grain re-derives it)
    val byId = graft.multimodal.Multimodal
      .phashOver(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamed.foreach { case (h, keeper) =>
      assert(byId(keeper) == h, s"keeper $keeper does not fingerprint to $h")
    }
  }

  test("streaming phash dedup collapses identical payloads across micro-batches, passes distinct ones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val base = "a" * 40 + "b" * 40   // flat-then-step gradient: hash 0
    val other = "ab" * 42            // alternating gradient: hash != 0
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val q = Streams.phashDedupStream(
        mem.toDF().toDF("doc_id", "text", "ingest_ts"))
      .writeStream.format("memory").queryName("phash_mem_stream")
      .outputMode("append").start()
    mem.addData((1L, base, t), (2L, base, t), (3L, other, t))
    q.processAllAvailable()
    // redelivery in a later micro-batch, same watermark horizon
    mem.addData((4L, base, t))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("phash_mem_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 2, s"expected 2 distinct fingerprints, got $rows")
    // the identical payloads (1, 2, 4) collapse to one first-batch
    // arrival; the distinct payload passes
    assert(rows.values.toSet.intersect(Set(1L, 2L)).nonEmpty)
    assert(rows.values.exists(_ == 3L))
  }

  test("streaming ANN ingest equals the batch frozen-centroid delta path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val delta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Float]]("embedding").toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(delta.toIndexedSeq)
    val centroids = sim.Ivf.baseCentroids(spark, sf)
    val q = Streams.annIngestStream(
        mem.toDF().toDF("vec_id", "embedding"), centroids)
      .writeStream.format("memory").queryName("ann_ingest_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ann_ingest_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed.size == delta.length, "every arriving vector assigned once")
    // roll the streamed assignment up and compare against the
    // REGISTERED batch op (count + id-checksum + min per cell)
    val rolled = streamed.groupBy(_._2).map { case (cell, xs) =>
      (cell, xs.size.toLong, xs.keys.sum, xs.keys.min)
    }.toSet
    val batch = sim.Ivf.deltaAssign(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rolled == batch, "stream and batch ingest disagree")
  }

  test("content dedup state is watermark-bounded: horizon-separated dups re-emit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m:00")

    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streams.dedupContentStream(
        mem.toDF().toDF("doc_id", "text", "ingest_ts"))
      .writeStream.format("memory").queryName("content_dedup_evict")
      .outputMode("append").start()
    // batch 1: A twice in-batch, B once -> A, B emitted once each
    mem.addData((1L, "alpha", ts("10:00")), (2L, "alpha", ts("10:00")),
      (3L, "beta", ts("10:05")))
    q.processAllAvailable()
    // batch 2: A redelivered within the 1h horizon -> suppressed
    mem.addData((4L, "alpha", ts("10:30")))
    q.processAllAvailable()
    // batch 3: advance the watermark past A's expiry (10:00 + 1h):
    // max event time 12:30 -> watermark 11:30 -> A's state evicted
    mem.addData((5L, "gamma", ts("12:30")))
    q.processAllAvailable()
    // batch 4: the SAME content arriving after the horizon is a fresh
    // key -- bounded state means horizon-separated dups both pass
    mem.addData((6L, "alpha", ts("12:31")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("content_dedup_evict")
      .select("keeper_doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L, 5L, 6L),
      s"expected in-horizon dups suppressed (2,4), post-eviction re-emit (6): $out")
  }

  test("watermark drops late events from the windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m:00")

    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val agg = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()

    // window A = [10:00, 10:10): two on-time events
    mem.addData((ts("10:00"), "click"), (ts("10:05"), "click"))
    q.processAllAvailable()
    // advance event time so the watermark (max - 10m = 10:15) passes
    // window A's end -> A is finalized and emitted
    mem.addData((ts("10:25"), "click"))
    q.processAllAvailable()
    // a LATE event for window A (10:03 < watermark): must be dropped
    mem.addData((ts("10:03"), "click"), (ts("10:45"), "click"))
    q.processAllAvailable()
    q.stop()

    val a = spark.table("late_test")
      .filter(col("window_start") === ts("10:00"))
      .select("n").collect()
    assert(a.length == 1 && a.head.getLong(0) == 2,
      s"window A must finalize with the 2 on-time events only, got ${a.toSeq}")
  }

  test("sliding windows double-count each event") {
    val total = Streams.eventsSliding(spark, sf)
      .agg(sum("n_events")).head().getLong(0)
    assert(total == 2 * Tables.events(spark, sf).count())
  }

  test("stateless streaming decontamination flags exactly the batch set") {
    val q = Streams.decontaminationStream(spark, sf).writeStream
      .format("memory").queryName("decon_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("decon_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.text.TextOps.decontamination(spark, sf)
      .select("doc_id", "shared_shingles").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch,
      s"stream flags ${streamed.size} docs, batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("stateless streaming winnow decontamination flags exactly the batch set") {
    val q = Streams.winnowDecontaminationStream(spark, sf).writeStream
      .format("memory").queryName("winnow_decon_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("winnow_decon_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.text.TextOps.winnowDecontamination(spark, sf)
      .select("doc_id", "shared_fps").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch,
      s"stream flags ${streamed.size} docs, batch ${batch.size}")
    assert(batch.nonEmpty)
  }
}
