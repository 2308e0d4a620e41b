package graft.multimodal

import graft.{Op, Tables}
import graft.Op.Ext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run decode / feature-extraction /
  * frame-sampling over them with real Spark plumbing (schema, encoders,
  * partition-parallel execution). The container has no image/audio
  * libraries, so the decoder itself is a clearly-marked deterministic
  * STUB ([[DecodeStub]]) — the Spark-side shape (binary column in,
  * feature struct out, mapPartitions batching) is the real, tested part.
  *
  * The `documents.text` bytes stand in for media payloads; synthetic
  * width/height metadata derives from the content fingerprint so it is
  * deterministic and oracle-checkable.
  *
  * Scale posture: per-row binary feature extraction is embarrassingly
  * parallel (no shuffle); the mapPartitions path processes one partition
  * per task exactly as a real decode (which would amortize codec/library
  * init per partition, the reason mapPartitions beats a per-row UDF).
  */
object Multimodal {
  /** Media-asset view: payload as a binary column + deterministic fake
    * dimensions from the 56-bit fingerprint, plus sampled "frames"
    * (four fixed-offset 8-byte slices — the frame-sample analogue),
    * hashed for compact verification. Fully SQL-expressible → oracled. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("cast(conv(substr(md5(text), 1, 14), 16, 10) as bigint)").as("fp"))
      .select(
        col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        md5(encode(col("text"), "UTF-8")).as("payload_md5"),
        (lit(64) + expr("fp % 1024")).cast("long").as("width"),
        (lit(64) + expr("(fp div 1024) % 1024")).cast("long").as("height"),
        md5(expr(
          """concat(substr(text, 1, 8),
                    substr(text, 1 + cast(length(text) / 4 as int), 8),
                    substr(text, 1 + cast(length(text) / 2 as int), 8),
                    substr(text, 1 + cast(3 * length(text) / 4 as int), 8))"""))
          .as("frames_md5"))

  /** `length(text)/4` etc. truncate identically in both engines (BIGINT
    * division); text is ASCII so char and byte offsets coincide. */
  val mediaFeaturesSql: String = """
WITH f AS (SELECT doc_id, text,
                  CAST(('0x' || substr(md5(text), 1, 14))::UBIGINT AS BIGINT) AS fp
           FROM documents)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(64 + fp % 1024 AS BIGINT) AS width,
       CAST(64 + (fp // 1024) % 1024 AS BIGINT) AS height,
       md5(substr(text, 1, 8)
           || substr(text, 1 + CAST(length(text) // 4 AS INT), 8)
           || substr(text, 1 + CAST(length(text) // 2 AS INT), 8)
           || substr(text, 1 + CAST(3 * length(text) // 4 AS INT), 8)) AS frames_md5
FROM f"""

  // ------------------------------------------------------ decode pipeline

  case class MediaFeature(doc_id: Long, n_bytes: Int, checksum: Long,
                         n_frames: Int, mean_byte: Double)

  /** STUB decoder — stands in for an image/audio codec. Deterministic
    * pure function of the payload bytes; a real deployment would replace
    * the body with the codec call and keep the signature. */
  object DecodeStub {
    def decode(docId: Long, payload: Array[Byte]): MediaFeature = {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
      MediaFeature(
        doc_id = docId,
        n_bytes = payload.length,
        checksum = sum,
        n_frames = math.max(1, payload.length / 64),
        mean_byte = if (payload.isEmpty) 0.0 else sum.toDouble / payload.length)
    }
  }

  /** Partition-parallel decode over the binary payload column — the
    * mapPartitions shape a real codec integration uses (per-partition
    * init amortization, iterator-to-iterator, no driver collect). */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeature] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codecs init their library handle here, once per partition
        rows.map { case (id, payload) => DecodeStub.decode(id, payload) }
      }
  }

  /** The decode pipeline registered as a query. The checksum/mean are
    * byte sums — SQL-expressible on ASCII payloads, so even the "decoded"
    * features get an oracle. */
  def decodeFeaturesQ(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, dir).toDF()
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("checksum"), col("n_frames").cast("long").as("n_frames"),
        col("mean_byte"))

  val decodeFeaturesSql: String = """
WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                  list_sum(list_transform(generate_series(1, length(text)),
                    i -> ascii(substr(text, i, 1)))) AS checksum
           FROM documents)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(checksum AS BIGINT) AS checksum,
       CAST(greatest(1, n_bytes // 64) AS BIGINT) AS n_frames,
       CASE WHEN n_bytes = 0 THEN 0.0
            ELSE CAST(checksum AS DOUBLE) / CAST(n_bytes AS DOUBLE) END AS mean_byte
FROM b"""

  // ------------------------------------------------------------- resize

  /** STUB resize — the downsample analogue: sample up to 64 evenly-
    * strided bytes from the payload (an 8×8 "thumbnail"), emit the
    * sample hash and output dimensions. A real deployment swaps the
    * stride-sampling for the codec's scaler; the plumbing (binary in,
    * fixed-size binary + metadata out, per-row, no shuffle) is what's
    * exercised. ASCII payloads keep it SQL-expressible → oracled. */
  def resizeThumbnails(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_bytes"))
      .select(
        col("doc_id"), col("n_bytes"),
        lit(8L).as("out_w"), lit(8L).as("out_h"),
        least(lit(64L), col("n_bytes")).as("n_samples"),
        // empty-text guard: Spark's sequence(0, -1) yields [0, -1] (a
        // DESCENDING sequence), while DuckDB's generate_series(0, -1)
        // is empty -> NULL hash; align on NULL for zero-length payloads
        when(length(col("text")) === 0, lit(null).cast("string"))
          .otherwise(md5(expr(
            """array_join(transform(
                 sequence(0, cast(least(64, length(text)) as int) - 1),
                 i -> substr(text, 1 + i * cast(greatest(1, length(text) div 64) as int), 1)),
               '')"""))).as("thumb_md5"))

  val resizeThumbnailsSql: String = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
       CAST(least(64, length(text)) AS BIGINT) AS n_samples,
       md5(list_aggregate(list_transform(
             generate_series(0, CAST(least(64, length(text)) AS INT) - 1),
             i -> substr(text, 1 + i * CAST(greatest(1, length(text) // 64) AS INT), 1)),
           'string_agg', '')) AS thumb_md5
FROM documents"""

  // --------------------------------------------- perceptual-hash dedup

  /** Bucket cap for a phash (block, block_bits) cell — same guardrail
    * (and size) as [[graft.text.TextOps.SimhashBucketCap]]: a
    * low-entropy payload pile floods shared buckets and the candidate
    * join must stay ≤ cap² per cell, not melt. */
  val PhashBucketCap = 200

  /** 60-bit difference hash (dHash) over the strided thumbnail the
    * resize stub samples: 61 evenly-strided payload bytes (the same
    * `1 + i·max(1, len/64)` grid as [[resizeThumbnails]]), bit j = 1
    * iff sample j > sample j+1. dHash is THE standard cheap image
    * near-dup fingerprint (gradient signs survive re-encode, resize,
    * and brightness shifts); over the ASCII stand-in payloads it is a
    * pure function of the bytes, so both engines replay it exactly.
    * Payloads shorter than one full 8×8 grid (64 bytes) carry no
    * thumbnail to hash and are excluded. 60 bits, not 64: the hash
    * stays non-negative in every engine and slices into five exact
    * 12-bit blocks — the [[graft.text.TextOps.dedupSimhashPairs]]
    * pigeonhole geometry, reused verbatim.
    *
    * Computed by the native [[graft.functions.DHash60]] expression
    * (one code-point walk per row, whole-stage codegen). The first
    * formulation was the equivalent HOF ([[phashOverHof]], kept as the
    * spec twin): interpreter-bound and, fused into the pair join's
    * broadcast-build stage, it re-evaluated the 61-sample transform per
    * element_at reference — a measured 75–150 s single-task stage for
    * 5k docs at sf0.1. The oracle keeps verifying the HOF/SQL form. */
  def phash(spark: SparkSession, dir: String): DataFrame =
    phashOver(Tables.documents(spark, dir))

  private[graft] def phashOver(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 64)
      .select(col("doc_id"),
        graft.functions.DHash60.of(col("text")).as("phash60"))

  /** HOF twin of [[phashOver]] — the formulation the DuckDB oracle
    * mirrors; PhashSpec machine-checks native == HOF (incl. multibyte
    * payloads, where code-point indexing could drift from byte
    * indexing). Not registered: interpreter-bound (see [[phash]]). */
  private[graft] def phashOverHof(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 64)
      .select(col("doc_id"), expr(
        """transform(sequence(0, 60),
          |  i -> ascii(substr(text, 1 + i * cast(greatest(1, length(text) div 64) as int), 1)))"""
          .stripMargin).as("s"))
      .select(col("doc_id"), expr(
        """aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) ->
          |  acc + if(element_at(s, j + 1) > element_at(s, j + 2),
          |           shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"""
          .stripMargin).as("phash60"))

  private[graft] val phashCte: String = """
ph AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 59), j ->
           CASE WHEN s[j + 1] > s[j + 2] THEN (CAST(1 AS BIGINT) << j)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash60
  FROM (SELECT doc_id,
               list_transform(generate_series(0, 60),
                 i -> ascii(substr(text, 1 + i * CAST(greatest(1, length(text) // 64) AS INT), 1))) AS s
        FROM documents WHERE length(text) >= 64))"""

  val phashSql: String = s"WITH $phashCte\nSELECT doc_id, phash60 FROM ph"

  /** Near-duplicate payload pairs at Hamming distance ≤ 4 over the
    * dHash — found EXACTLY via the pigeonhole banding: 5 disjoint
    * 12-bit blocks, any ≤4-bit difference must agree on ≥1 block, so
    * candidates come from block-equality joins (never all-pairs) and
    * the exact Hamming filter keeps no false positives. Identical
    * payloads (the corpus's exact-dup groups) land at Hamming 0, so
    * the row is output-bearing at the driver SFs. Hot cells beyond
    * [[PhashBucketCap]] drop from candidate generation (recall
    * semantics as in SimHash: a pair is lost only when every block it
    * agrees on is degenerate). */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsOver(phashOver(Tables.documents(spark, dir)), PhashBucketCap)

  /** Parameterized core over any (doc_id, phash60) frame (BandedPairsSpec
    * drives it with an adversarial constant-payload corpus and a tiny
    * cap) — the SimHash pigeonhole banding, shared verbatim. */
  private[graft] def phashPairsOver(sh: DataFrame, bucketCap: Int): DataFrame =
    graft.sim.BandedPairs.hamming60Pairs(sh, "phash60", bucketCap)

  val phashPairsSql: String = s"WITH $phashCte," +
    graft.sim.BandedPairs.hamming60PairsSql("ph", "phash60", PhashBucketCap)

  val ops: Seq[Op] = Seq(
    Op("multimodal_features", mediaFeatures, mediaFeaturesSql),
    Op("multimodal_decode", decodeFeaturesQ, decodeFeaturesSql),
    Op("multimodal_resize", resizeThumbnails, resizeThumbnailsSql),
    Op("multimodal_phash", phash, phashSql),
    Op("multimodal_phash_pairs", phashPairs, phashPairsSql, Ext))
}
