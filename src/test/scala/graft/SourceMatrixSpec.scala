package graft

import graft.text.TextOps

/** Pins the cross-source near-dup matrix against a from-scratch rollup
  * of the (already spec- and oracle-pinned) MinHash-LSH pair frame. */
class SourceMatrixSpec extends SparkSpec {

  test("matrix equals a from-scratch rollup of the LSH pairs") {
    val pairs = TextOps.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard")))
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap

    val want = pairs.filter(_._3 >= TextOps.SourceMatrixJaccard)
      .map { case (a, b, j) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa,
          math.round(j * 16.0))
      }
      .groupBy { case (sa, sb, _) => (sa, sb) }
      .toSeq.sortBy(_._1)
      .map { case ((sa, sb), rows) =>
        (sa, sb, rows.length.toLong, rows.map(_._3).sum)
      }

    val got = TextOps.dedupSourceMatrix(spark, sf).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("matched_hashes")))
      .toSeq
    assert(got == want)
    // ordering contract: source_a <= source_b on every row, so the
    // matrix is upper-triangular and a pair is never double-counted
    assert(got.forall { case (a, b, _, _) => a <= b })
    // every matched_hashes cell is >= 8 * n_pairs (the threshold floor)
    assert(got.forall { case (_, _, n, m) => m >= 8 * n })
  }
}
