package graft

import graft.sim.Similarity

/** Int8 quantization must preserve cosine geometry well enough to rank
  * with: reconstruct vectors from the codes and bound the cosine error
  * against the exact float vectors. */
class QuantizeSpec extends SparkSpec {

  test("dequantized cosine stays within 2e-2 of exact for the top-k pairs") {
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

    val codes = Similarity.embeddingQuantize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val dims = codes.map(_._2).max + 1
    // recover per-dim ranges the same way the operator computed them
    val lo = Array.tabulate(dims)(d => emb.values.map(_(d)).min)
    val hi = Array.tabulate(dims)(d => emb.values.map(_(d)).max)
    val deq = codes.groupBy(_._1).map { case (vid, cs) =>
      val v = new Array[Double](dims)
      cs.foreach { case (_, d, c) =>
        v(d) = if (hi(d) == lo(d)) lo(d)
               else lo(d) + (c + 0.5) / 255.0 * (hi(d) - lo(d))
      }
      vid -> v
    }

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // the pairs ANN actually ranks: each query's exact top-k
    val topk = Similarity.annCosineTopK(spark, sf)
      .select("query_id", "vec_id", "cosine").collect()
    assert(topk.nonEmpty)
    val maxErr = topk.map { r =>
      math.abs(cos(deq(r.getLong(0)), deq(r.getLong(1))) - r.getDouble(2))
    }.max
    assert(maxErr <= 0.02, s"quantization distorted cosine by $maxErr")
  }
}
