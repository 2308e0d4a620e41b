package graft

import graft.functions.SrpSig
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class SrpSigSpec extends SparkSpec {

  test("native srp bucket is bit-equal to the HOF formulation on every vector") {
    val mismatches = Tables.embeddings(spark, sf)
      .select(
        SrpSig.of(col("embedding")).as("native"),
        expr(Similarity.srpHofE).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("srp buckets stay in the 8-bit range") {
    val mm = Tables.embeddings(spark, sf)
      .select(SrpSig.of(col("embedding")).as("b"))
      .agg(min("b"), max("b")).head()
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 255)
  }

  test("64-plane signature's low bits equal the 16-plane bucket (shared sign rule)") {
    val mismatches = Tables.embeddings(spark, sf)
      .select(
        graft.functions.SrpSig64.of(col("embedding")).as("sig"),
        SrpSig.of(col("embedding"), planes = 16).as("b16"))
      .filter((col("sig").bitwiseAND(lit(0xFFFFL))).cast("int") =!= col("b16"))
      .count()
    assert(mismatches == 0)
  }

  test("full-width banding (1x64) selects, not degenerates to all-pairs") {
    // regression for the Int-shift mask bug: (1 << 64) == 1 in Int made
    // the mask 0, every vector landed in bucket 0, and the "LSH" join
    // was silently all-pairs — whose exact rescore reproduces the full
    // exact pair set. True 64-bit buckets collide only for near-identical
    // sigs, so the pair count must drop strictly below the exact count.
    val exactN = Similarity.embeddingNearDupPairs(spark, sf).count()
    val deep = Similarity.annLshNearDupPairsWith(spark, sf,
      bands = 1, rows = 64, threshold = 0.4).count()
    assert(exactN > 0)
    assert(deep < exactN,
      s"1x64 banding emitted $deep of $exactN exact pairs — all-pairs degeneration")
  }

  test("lsh near-dup pairs: exact rescore, precision 1, recall above the banding bound") {
    val exact = Similarity.embeddingNearDupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.annLshNearDupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every emitted pair exists in the exact set with an identical cosine
    lsh.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive pair $k")
      assert(exact(k) == c, s"rescore mismatch for $k")
    }
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    // 16 bands x 4 planes gives ~0.94 expected recall AT the 0.4 threshold
    // and more above it; 0.75 is a loose deterministic floor for this data
    assert(recall >= 0.75, s"recall $recall (${lsh.size}/${exact.size})")
  }
}
