package graft

import graft.sim.Pq

/** Product-quantization invariants (the oracle proves the bit-exact
  * replay; these prove the encoding/search contract). */
class PqSpec extends SparkSpec {

  test("every vector encodes to exactly M codes in [0, KCodes)") {
    val sv = Pq.subvecs(Tables.embeddings(spark, sf))
    val cent = Pq.codebook(sv)
    // codebook shape: M subspaces × KCodes codewords, each SubDim wide
    val cents = cent.collect()
    assert(cents.length == Pq.M * Pq.KCodes)
    assert(cents.forall(_.getAs[Seq[Long]]("codeword").length == Pq.SubDim))
    val n = Tables.embeddings(spark, sf).count()
    assert(sv.count() == n * Pq.M)
  }

  test("ADC ranks are contiguous per query and distances non-negative") {
    val rows = Pq.search(spark, sf).collect()
    assert(rows.length == Pq.NQueries * Pq.TopK)
    rows.foreach(r => assert(r.getAs[Long]("approx_d2") >= 0L))
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to Pq.TopK))
    }
  }

  test("exact re-rank never loses recall vs the raw ADC ordering") {
    val adc = Pq.recallVsExact(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    val rr = Pq.rerankRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    assert(adc.keySet == rr.keySet)
    // the shortlist contains the ADC top-k, and exact re-ranking of a
    // superset can only surface MORE of the true neighbors
    adc.foreach { case (q, hits) =>
      assert(rr(q) >= hits, s"query $q: re-rank $rr vs adc $adc")
    }
  }

  test("search is deterministic under input repartitioning") {
    // inline-trained core (store bypassed) so the SECOND run really
    // re-trains and re-encodes over a differently-partitioned frame —
    // the property is that partition order cannot perturb training,
    // encoding, or ADC ranking (exact integer sums + total tie-breaks)
    val vecs = Tables.embeddings(spark, sf)
    val a = Pq.searchOver(spark, vecs).collect().toSeq
    val b = Pq.searchOver(spark, vecs.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("store round-trip: served index equals a fresh inline build") {
    val idx = Pq.index(spark, sf)
    val fresh = Pq.buildIndex(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(idx.codes) == canon(fresh.codes))
    assert(canon(idx.codebook) == canon(fresh.codebook))
    // second load is a cache hit serving the SAME artifact
    assert(canon(Pq.index(spark, sf).codes) == canon(idx.codes))
  }
}
