package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** The perceptual-hash (dHash) payload dedup: gradient-sign hashing of
  * the strided thumbnail, pigeonhole banding for candidates, exact
  * Hamming verify (the bucket cap is covered with the other banded
  * families in BandedPairsSpec). */
class PhashSpec extends SparkSpec {
  import spark.implicits._
  import PhashSpec.payload

  test("identical payloads hash identically and pair at Hamming 0") {
    val d = Seq(
      (1L, payload(3)), (2L, payload(3)),       // exact clone pair
      (3L, payload(5)), (4L, payload(9)))       // unrelated
      .toDF("doc_id", "text")
    val hashes = Multimodal.phashOver(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) >= 0L, "60-bit hash must be non-negative")
    val pairs = Multimodal.phashPairsOver(Multimodal.phashOver(d), 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), s"clone pair missing from $pairs")
    assert(pairs.forall { case (a, b, _) => (a, b) == ((1L, 2L)) },
      s"unrelated payloads must not pair: $pairs")
  }

  test("a single-byte payload edit stays within the Hamming-4 pairing radius") {
    // one changed byte flips at most its two adjacent gradient signs —
    // dHash's robustness claim, machine-checked
    val base = payload(4)
    val edited = base.updated(40, if (base(40) == 'z') 'a' else 'z')
    val d = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val pairs = Multimodal.phashPairsOver(Multimodal.phashOver(d), 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length == 1 && pairs.head._3 <= 2L,
      s"edited payload should pair at Hamming <= 2, got $pairs")
  }

  test("short payloads (< one 8x8 grid) are excluded, not mis-hashed") {
    val d = Seq((1L, "short"), (2L, payload(1))).toDF("doc_id", "text")
    val ids = Multimodal.phashOver(d).select("doc_id").as[Long].collect()
    assert(ids.toSeq == Seq(2L))
  }

  test("native DHash60 == the HOF/oracle formulation, incl. multibyte payloads") {
    // the registered op hashes with the native single-pass expression;
    // the DuckDB oracle replays the ascii(substr(...)) HOF — this pins
    // the two together, on exactly the inputs where they could drift:
    // multibyte chars (code-point vs byte indexing), astral-plane chars
    // (surrogate pairs), constant and periodic payloads, and the real
    // length-stride interaction of a varied corpus
    val adv = Seq(
      (1L, "é" * 100),                            // 2-byte chars
      (2L, "日本語テキスト" * 20),                  // 3-byte chars
      (3L, ("a" * 32) + ("é" * 32) + ("𝕏" * 8)),  // mixed incl. astral
      (4L, (0 until 200).map(i => ('!' + i % 90).toChar).mkString),
      (5L, "x" * 64),                              // constant payload
      (6L, "ab" * 64),                             // period-2 payload
      (7L, payload(11)), (8L, payload(12)), (9L, payload(13)))
      .toDF("doc_id", "text")
    val mismatches = Multimodal.phashOver(adv).as("n")
      .join(Multimodal.phashOverHof(adv).as("h"), "doc_id")
      .filter(col("n.phash60") =!= col("h.phash60")).count()
    assert(mismatches == 0L)
  }

  test("generated media piles land within Hamming 4 and the pair detector recalls them") {
    // the planted-near-dup contract of DataGen's media piles (ids
    // [b+10, b+13) per 50): each member's dHash sits within Hamming <=
    // 2*edits of its base, and every eligible (base, member) pair
    // surfaces in the registered detector's output — measured recall
    // 1.0 on the planted structure, not incidental collisions
    val docs = graft.datagen.DataGen.documents(spark, 500)
      .select("doc_id", "text")
    val hashes = Multimodal.phashOver(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Multimodal.phashPairsOver(
      Multimodal.phashOver(docs), Multimodal.PhashBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).flatMap { p =>
      val b = p * 50L + 10
      Seq(11, 12).map(o => (b, p * 50L + o))
    }.filter { case (b, m) => hashes.contains(b) && hashes.contains(m) }
    assert(planted.size >= 15,
      s"most media-pile members should be phash-eligible, got ${planted.size}/20")
    planted.foreach { case (b, m) =>
      val ham = java.lang.Long.bitCount(hashes(b) ^ hashes(m))
      assert(ham <= 4, s"pile base $b member $m at Hamming $ham")
      assert(pairs.contains((b, m)), s"planted pair ($b, $m) not recalled")
    }
  }
}

object PhashSpec {
  // payload long enough for the 8×8 grid; varied bytes so the gradient
  // signs carry entropy
  def payload(seed: Int): String =
    (0 until 96).map(i => ('a' + ((i * 7 + seed * 13 + i * i * seed) % 26)).toChar)
      .mkString
}
