package graft

import graft.sim.{Contrastive, Ivf}

/** Pins the contrastive-triple miner against a from-scratch Scala
  * recomputation over the SAME index assignments (IvfSpec already pins
  * the assignment arithmetic itself): per anchor, the positive is the
  * exact-quantized-cosine argmax among same-label same-cell candidates
  * and the negatives are the top different-label candidates, ties on
  * vec_id. */
class ContrastiveSpec extends SparkSpec {

  private def qz(x: Float): Long = math.floor(x.toDouble * 1e7).toLong

  private def cosine(a: Seq[Long], b: Seq[Long]): Double = {
    val dot = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.iterator.map(x => x * x).sum.toDouble)
    val nb = math.sqrt(b.iterator.map(x => x * x).sum.toDouble)
    dot.toDouble / (na * nb)
  }

  test("triples equal a from-scratch recomputation over the index assignments") {
    val asg = Ivf.index(spark, sf).assignments.collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq.map(qz),
        r.getAs[Int]("cell")))
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap

    val want = asg.filter(_._1 < Contrastive.NAnchors).sortBy(_._1).flatMap {
      case (aid, aqe, cell) =>
        val scored = asg.iterator
          .filter { case (vid, _, c) => c == cell && vid != aid }
          .map { case (vid, qe, _) =>
            val role = if (labels(vid) == labels(aid)) "pos" else "neg"
            (role, cosine(aqe, qe), vid)
          }.toSeq
        def top(role: String, k: Int) = scored.filter(_._1 == role)
          .sortBy { case (_, cos, vid) => (-cos, vid) }.take(k)
          .zipWithIndex
          .map { case ((r, cos, vid), i) => (aid, r, i + 1, vid, labels(vid), cos) }
        top("neg", Contrastive.NNegatives) ++ top("pos", 1)
    }.sortBy { case (aid, role, rank, _, _, _) => (aid, role, rank) }.toSeq

    val got = Contrastive.contrastiveTriples(spark, sf).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[String]("role"),
        r.getAs[Int]("rank"), r.getAs[Long]("cand_id"),
        r.getAs[Int]("cand_label"), r.getAs[Double]("cosine")))
      .toSeq
    assert(got == want)

    // structural contracts: positives share the anchor's label,
    // negatives never do, at most one pos and NNegatives negs each
    for ((aid, role, _, _, cl, _) <- got) {
      if (role == "pos") assert(cl == labels(aid)) else assert(cl != labels(aid))
    }
    val perAnchor = got.groupBy(t => (t._1, t._2))
    perAnchor.foreach { case ((_, role), rows) =>
      val limit = if (role == "pos") 1 else Contrastive.NNegatives
      assert(rows.length <= limit)
      assert(rows.map(_._3).sorted == (1 to rows.length).toSeq)
    }
    // hard negatives are ordered hardest-first
    perAnchor.filter(_._1._2 == "neg").values.foreach { rows =>
      val cs = rows.sortBy(_._3).map(_._6)
      assert(cs == cs.sorted(Ordering[Double].reverse))
    }
  }

  test("cluster-balanced sample equals a from-scratch recomputation") {
    val asg = Ivf.index(spark, sf).assignments.select("vec_id", "cell").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell")))
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    def coin(vid: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cbs:$vid".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(14), 16)
    }
    val want = asg.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (cell, vs) =>
      vs.sortBy { case (vid, _) => (coin(vid), vid) }
        .take(Contrastive.CellCap).zipWithIndex
        .map { case ((vid, _), i) =>
          (cell, i + 1, vid, labels(vid), vs.length.toLong)
        }
    }
    val got = Contrastive.clusterBalancedSample(spark, sf).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("keep_rank"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Long]("cell_size")))
      .toSeq
    assert(got == want)
    // every cell contributes at most CellCap rows and small cells
    // survive intact (keep_rank count == min(cell_size, cap))
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sz = rows.head._5
      assert(rows.length == math.min(sz, Contrastive.CellCap.toLong))
    }
  }

  test("miner is deterministic across runs") {
    val a = Contrastive.contrastiveTriples(spark, sf).collect().map(_.toSeq).toSeq
    val b = Contrastive.contrastiveTriples(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
