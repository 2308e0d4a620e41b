package graft

import graft.text.TextOps

class BpeMergeSpec extends SparkSpec {

  test("bpe merge pairs equal a from-scratch Scala recomputation") {
    val out = TextOps.bpeMergePairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("pair"),
        r.getAs[Long]("merge_count"), r.getAs[Long]("n_words")))

    // rank is 1..k contiguous, merge_count non-increasing along it
    assert(out.map(_._1).toSeq == (1L to out.length).toSeq)
    assert(out.length == TextOps.BpeTopMerges)
    val counts = out.map(_._3).toSeq
    assert(counts == counts.sorted(Ordering[Long].reverse))

    // recompute the whole pair table from the raw corpus with plain
    // Scala: lowercased letter-run words -> word frequencies ->
    // position-weighted adjacent char pairs
    val wordRe = "[A-Za-z]+".r
    val vocab = Tables.documents(spark, sf).select("text").collect()
      .iterator
      .flatMap(r => wordRe.findAllIn(r.getString(0)))
      .map(_.toLowerCase)
      .foldLeft(Map.empty[String, Long]) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L)
      }
    val pairStats = vocab.iterator
      .filter(_._1.length >= 2)
      .flatMap { case (w, cnt) =>
        (0 until w.length - 1).map(i => (w.substring(i, i + 2), w, cnt))
      }
      .toSeq.groupBy(_._1)
      .map { case (p, rows) =>
        p -> (rows.map(_._3).sum, rows.map(_._2).distinct.size.toLong)
      }
    val expected = pairStats.toSeq
      .sortBy { case (p, (mc, _)) => (-mc, p) }
      .take(TextOps.BpeTopMerges)
      .zipWithIndex
      .map { case ((p, (mc, nw)), i) => (i + 1L, p, mc, nw) }
    assert(out.toSeq == expected,
      "Spark top merges differ from the Scala recomputation")

    // the top merge is argmax of the pair table — the trainer's first
    // merge decision would be exactly this pair
    val (_, topPair, topCount, _) = out.head
    assert(pairStats(topPair)._1 == topCount)
    assert(pairStats.values.forall(_._1 <= topCount))
  }
}
