package graft.streaming

import graft.Tables
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming surface over the `events` table — the Spark-native
  * realization of the reference's "real-time ingestion" future work
  * (reference: README.md:262 lists Kafka ingestion as a planned
  * enhancement; its closest shipped analogues are the daily scheduler,
  * scripts/scheduler.py:121, and freshness/anomaly monitoring,
  * scripts/monitoring/pipeline_monitor.py:143-189).
  *
  * Each streaming computation has a BATCH TWIN registered as a verified
  * query (tumbling windows, sliding windows, gap-based sessionization are
  * all SQL-expressible), and the streaming implementation is asserted
  * equal to its twin in StreamingSpec — so the streaming path is held to
  * the same correctness bar as everything else, not just "it ran".
  *
  * Scale posture: windowed counts/sums are partial-aggregated per
  * partition before the keyed state shuffle; the watermark bounds state.
  * Sessionization shuffles once on user_id and keeps one small state
  * object per active user.
  */
object Streams {
  type Q = (SparkSession, String) => DataFrame

  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  // ------------------------------------------------------ tumbling window

  /** Tumbling 1-hour windows per event type: count + exact-decimal value
    * sum (batch twin of [[hourlyCountsStream]]). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast(DoubleType).as("total_value"))
      .select(
        date_format(col("w.start"), tsFmt).as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  val eventsHourlySql: String = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type"""

  // ------------------------------------------------------- sliding window

  /** Sliding windows (1 hour wide, 30-minute slide): every event lands in
    * two windows. The twin enumerates the two candidate window starts per
    * event. */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), tsFmt).as("window_start"),
        col("n_events"))

  val eventsSlidingSql: String = """
WITH cand AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - o.o * INTERVAL '30 minutes' AS window_start, ts
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) o)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S.%f') AS window_start, COUNT(*) AS n_events
FROM cand
WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
GROUP BY window_start"""

  // ------------------------------------------------------- sessionization

  /** Gap-based sessionization (30-minute inactivity gap) as a batch
    * window computation: new-session flags via lag, session ids via a
    * running sum, then per-session aggregates (batch twin of
    * [[sessionizeStream]]). */
  def eventsSessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = 30 * 60
    val flagged = Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapSec)
          .cast(IntegerType))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min("ts"), tsFmt).as("session_start"),
        (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_secs"))
      .select(col("user_id"), col("session_seq").cast(LongType).as("session_seq"),
        col("n_events"), col("session_start"), col("duration_secs"))
  }

  val eventsSessionsSql: String = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_secs
FROM sessions
GROUP BY user_id, session_seq"""

  // --------------------------------------------- structured streaming ops

  /** The events parquet as a bounded file stream. Streaming reads need
    * the RAW file schema (INT64 nanos or TIMESTAMP_NTZ micros depending
    * on the testdata vintage) — the normalization to TIMESTAMP(LTZ)
    * happens after the scan via [[Tables.normalizeTs]], same as the
    * batch reader, so watermarks always see an event-time-capable type. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(
      spark.readStream
        .schema(Tables.schemaOf(spark, dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Streaming tumbling-window aggregation with a 1-hour watermark —
    * readStream → withWatermark → window groupBy, the canonical
    * Structured Streaming shape. Same output schema as [[eventsHourly]]. */
  def hourlyCountsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast(DoubleType).as("total_value"))
      .select(
        date_format(col("w.start"), tsFmt).as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionState(start: Long, last: Long, n: Int, seq: Int)
  case class SessionOut(user_id: Long, session_seq: Int, n_events: Int,
                        start_micros: Long, duration_secs: Long)

  /** Custom stateful operator: gap-based sessionization via
    * flatMapGroupsWithState with EVENT-TIME timeout. The open session is
    * carried in state across micro-batches — a session spanning batches
    * RESUMES, it never splits (flushing at batch end would split one
    * session per batch boundary whenever AvailableNow processes the
    * input in more than one batch). A session is emitted when either a
    * later event proves the gap elapsed, or the watermark passes
    * last + gap (the timeout). Faithful streaming semantics: sessions
    * still open at the watermark frontier when a bounded replay ends
    * stay in state — a stream cannot know the input ended; the batch
    * twin closes them, and StreamingSpec's parity assertion accounts
    * for exactly that frontier set. */
  def sessionizeStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val gapSecs = 30L * 60
    val typed = events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros"), col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      // groupByKey on the tuple that still carries the watermarked `ts`
      // column — a MapElements here would drop the event-time attribute and
      // the stateful operator would fail analysis ("Watermark must be
      // specified ... for using event-time timeout"). Ev conversion happens
      // inside the group function instead.
      .groupByKey(_._1)

    typed.flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (userId, rows, state: GroupState[SessionState]) =>
        val events = rows.map { case (u, e, m, _) => Ev(u, e, m) }
        // duration on whole-second timestamps (matches the batch twin's
        // unix_timestamp truncation)
        def durSecs(s: SessionState): Long = s.last / 1000000 - s.start / 1000000
        def closed(s: SessionState) = SessionOut(userId, s.seq, s.n, s.start, durSecs(s))

        if (state.hasTimedOut) {
          // watermark passed last + gap: the open session is final
          val st = state.get
          state.update(SessionState(-1, -1, 0, st.seq)) // closed marker keeps seq
          Iterator.single(closed(st))
        } else {
          val sorted = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(SessionState(-1, -1, 0, 0))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { ev =>
            if (st.n == 0) st = SessionState(ev.tsMicros, ev.tsMicros, 1, st.seq + 1)
            else if (ev.tsMicros / 1000000 - st.last / 1000000 > gapSecs) {
              out += closed(st)
              st = SessionState(ev.tsMicros, ev.tsMicros, 1, st.seq + 1)
            } else st = st.copy(last = ev.tsMicros, n = st.n + 1)
          }
          state.update(st)
          if (st.n > 0) {
            // fire when the watermark proves no continuation can arrive;
            // second-truncated like the gap check so the boundary agrees
            // with the batch twin exactly
            val timeoutAtMs = (st.last / 1000000 + gapSecs + 1) * 1000
            if (timeoutAtMs > state.getCurrentWatermarkMs())
              state.setTimeoutTimestamp(timeoutAtMs)
            else {
              out += closed(st)
              state.update(SessionState(-1, -1, 0, st.seq))
            }
          }
          out.iterator
        }
    }.toDF()
  }

  /** Stream-stream interval join: clicks joined to the same user's
    * purchases 0–6 hours later. Watermarks on BOTH sides plus the time
    * bound make the join state finite: once the watermark passes
    * click_ts + 6h, the click row can never match again and Spark evicts
    * it. Same output as [[graft.ext.TemporalJoins.rangeClickPurchase]]
    * (its batch twin, asserted equal in StreamingSpec). */
  def clickPurchaseJoinStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_event_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "6 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_event_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "6 hours")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              p_ts >= c_ts AND p_ts <= c_ts + interval 6 hours"""))
      .select(col("c_user").as("user_id"),
        col("click_event_id"), col("purchase_event_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Streaming sink via foreachBatch: every micro-batch is upserted
    * into a parquet table with the SAME anti-join incremental append
    * the batch loader uses ([[graft.sources.Sources.incrementalAppend]]).
    * foreachBatch is the idiomatic bridge from a stream to batch
    * writers, and keying the append makes the sink idempotent: replayed
    * or re-delivered rows are filtered out by the key anti-join, so the
    * effect is exactly-once-per-key even without sink transactions. */
  def streamToIncrementalParquet(spark: SparkSession, dir: String,
                                 outPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream(spark, dir)
      // ts travels with the row: the landed mart must support the same
      // event-time monitoring (freshness, 3σ volume) as the source table
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // dedupe WITHIN the batch too: the anti-join only sees rows
        // already on disk, so two deliveries of one key in the same
        // micro-batch would otherwise both append
        graft.sources.Sources.incrementalAppend(
          batch.sparkSession, batch.toDF().dropDuplicates("event_id"),
          outPath, Seq("event_id"))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming twin of [[graft.text.TextOps.dedupExact]]: exact
    * content-hash dedup of a document ingest stream. Keyed on
    * `md5(text)` with `dropDuplicatesWithinWatermark`, so a document
    * whose content already arrived within the watermark horizon is
    * suppressed at ingest time, and state for content older than the
    * horizon is EVICTED — bounded memory on an unbounded corpus, which
    * plain `dropDuplicates` on a stream cannot promise (its key state
    * grows with every distinct document ever seen). The trade is
    * explicit and spec-pinned: two identical documents separated by
    * more than the horizon both pass (the batch dedup downstream
    * remains the authority for full-corpus exactness; this operator's
    * job is cutting the re-crawl/redelivery torrent BEFORE it is ever
    * written). Takes the ingest frame as a parameter (any
    * (doc_id, text, ingest_ts) stream) like [[sessionizeStream]]. */
  def dedupContentStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_md5", md5(col("text")))
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_md5")
      .select(col("content_md5"), col("doc_id").as("keeper_doc_id"))

  /** [[dedupContentStream]] over the corpus ingest view: every document
    * carries one fixed ingest timestamp (a bounded replay arrives "at
    * once"), so the emitted set must equal the batch [[graft.text
    * .TextOps.dedupExact]] key set exactly — asserted in StreamingSpec. */
  def dedupDocsStream(spark: SparkSession, dir: String): DataFrame =
    dedupContentStream(
      docsStream(spark, dir)
        .withColumn("ingest_ts",
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))

  /** Oracle-checkable batch twin of [[dedupDocsStream]]: what the stream
    * emits on a bounded replay where every document carries one fixed
    * ingest timestamp — all arrivals land inside one watermark horizon,
    * so exactly one keeper survives per distinct content hash.
    * `min(doc_id)` pins the keeper deterministically for the DuckDB
    * hash-compare (the stream keeps whichever row its micro-batch saw
    * first; StreamingSpec asserts the key-set parity both sides share,
    * plus keeper-membership by re-hashing). Unlike [[graft.text.TextOps
    * .dedupExact]] this publishes the STREAM's contract — no `dup_count`,
    * because an append-mode stream can never finalize a count. */
  def dedupContentBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min("doc_id").as("keeper_doc_id"))

  val dedupContentBatchSql: String = """
SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text)"""

  /** Streaming IMAGE dedup — [[dedupContentStream]]'s multimodal twin,
    * keyed on the perceptual hash instead of the byte hash: incoming
    * media whose 60-bit dHash ([[graft.functions.DHash60]], the same
    * codegen expression `multimodal_phash` registers) already arrived
    * within the watermark horizon is suppressed at ingest time — the
    * re-upload/re-crawl torrent of IDENTICALLY-fingerprinted media
    * (re-encodes that preserve the thumbnail grid) never reaches the
    * lake. Deliberately EXACT-key: Hamming ≤ 4 near-dup pairing needs
    * the banding join and stays the batch op
    * (`multimodal_phash_pairs`) — a keyed state store can only evict
    * by equality, so the honest streaming contract is the equality
    * slice of the near-dup relation, stated and spec-pinned. Payloads
    * shorter than the 64-sample grid pass through un-keyed (the same
    * eligibility rule every phash op shares). */
  def phashDedupStream(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= 64)
      .withColumn("phash60", graft.functions.DHash60.of(col("text")))
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("phash60")
      .select(col("phash60"), col("doc_id").as("keeper_doc_id"))

  /** [[phashDedupStream]] over the corpus ingest view (one fixed
    * ingest timestamp — a bounded replay arrives "at once"), so the
    * emitted key set must equal the batch twin's exactly —
    * StreamingSpec asserts it. */
  def phashDedupDocsStream(spark: SparkSession, dir: String): DataFrame =
    phashDedupStream(
      docsStream(spark, dir)
        .withColumn("ingest_ts",
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))

  /** Oracle-checkable batch twin of [[phashDedupDocsStream]]: one
    * keeper per distinct perceptual hash, `min(doc_id)` pinning the
    * keeper deterministically for the DuckDB hash-compare (the stream
    * keeps first-arrival; the spec asserts key-set parity and
    * keeper-membership). Composes the registered
    * [[graft.multimodal.Multimodal.phash]] grain. */
  def phashDedupBatch(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.phashOver(Tables.documents(spark, dir))
      .groupBy("phash60").agg(min("doc_id").as("keeper_doc_id"))

  val phashDedupBatchSql: String =
    s"""WITH ${graft.multimodal.Multimodal.phashCte}
SELECT phash60, MIN(doc_id) AS keeper_doc_id FROM ph GROUP BY phash60"""

  /** Streaming ANN ingest — the arrival half of [[graft.sim.Ivf
    * .deltaAssign]] as a stream: vectors map STATELESSLY through the
    * codegen'd argmin against the frozen base-trained coarse
    * quantizer (driver-side constants), emitting (vec_id, cell). No
    * state store, no watermark, no shuffle — latency is the
    * micro-batch interval, and the inverted-list append belongs in
    * the sink (foreachBatch, as [[streamToIncrementalParquet]]). At
    * 100 TB this IS how vectors reach a serving index between
    * retrains; StreamingSpec asserts the streamed assignment equals
    * the batch delta path row-for-row. */
  def annIngestStream(vecs: DataFrame,
      centroids: Array[(Int, Array[Long])]): DataFrame =
    graft.sim.Ivf.assignFrozen(vecs, centroids)
      .select(col("vec_id"), col("cell"))

  /** The documents parquet as a bounded file stream (the ingest-time
    * view of the corpus). */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.readStream
      .schema(Tables.schemaOf(spark, dir, "documents"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** In-flight decontamination — the streaming twin of
    * [[graft.text.TextOps.decontamination]]: each incoming document's
    * distinct shingles are intersected with the STATIC capped benchmark
    * vocabulary (one array literal, benchmark-sized — eval suites are
    * small by definition), and documents sharing ≥ the threshold are
    * flagged as they arrive. Deliberately STATELESS: no stream-side
    * aggregation, no watermark, no state store — the scalable shape for
    * filtering an unbounded ingest, and why the streaming form reports
    * shared_shingles but not matched_bench_docs (that rollup needs the
    * batch join). StreamingSpec asserts flag parity with the batch twin. */
  def decontaminationStream(spark: SparkSession, dir: String): DataFrame =
    flagStream(spark, dir, TextOps.shinglesNative,
      typedLit(TextOps.benchmarkVocab[String](
        TextOps.cappedShingles(Tables.documents(spark, dir)), "s")),
      "shared_shingles", TextOps.ContaminationMinShared)

  /** Streaming twin of [[graft.text.TextOps.winnowDecontamination]] —
    * passage-level in-flight decontamination, stateless like
    * [[decontaminationStream]] over the static capped benchmark
    * fingerprint vocabulary. */
  def winnowDecontaminationStream(spark: SparkSession, dir: String): DataFrame =
    flagStream(spark, dir, graft.functions.WinnowFp.of(col("text")),
      typedLit(TextOps.benchmarkVocab[Long](
        TextOps.cappedWinnowFps(Tables.documents(spark, dir)), "fp")),
      "shared_fps", TextOps.WinnowContaminationMinShared)

  /** The stateless decontamination shape: each incoming train
    * document's `feature` array intersected with the benchmark `vocab`
    * literal ([[graft.text.TextOps.benchmarkVocab]] — hot keys already
    * capped out, features distinct per document, so the intersect size
    * equals the batch join's per-document count exactly), flagged at
    * `min` shared keys. */
  private def flagStream(spark: SparkSession, dir: String,
                         feature: org.apache.spark.sql.Column,
                         vocab: org.apache.spark.sql.Column,
                         name: String, min: Int): DataFrame =
    docsStream(spark, dir)
      .filter(col("source") =!= TextOps.BenchmarkSource)
      .select(col("doc_id"), size(array_intersect(feature, vocab)).cast(LongType).as(name))
      .filter(col(name) >= min)

  val inventory: Map[String, Q] = Map(
    "events_hourly_windows"  -> (eventsHourly _),
    "events_sliding_windows" -> (eventsSliding _),
    "events_sessionization"  -> (eventsSessions _),
    "dedup_stream_content_hash" -> (dedupContentBatch _),
    "dedup_stream_phash" -> (phashDedupBatch _))

  val oracle: Map[String, String] = Map(
    "events_hourly_windows"  -> eventsHourlySql,
    "events_sliding_windows" -> eventsSlidingSql,
    "events_sessionization"  -> eventsSessionsSql,
    "dedup_stream_content_hash" -> dedupContentBatchSql,
    "dedup_stream_phash" -> phashDedupBatchSql)
}
