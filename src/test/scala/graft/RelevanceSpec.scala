package graft

import graft.text.Relevance

/** TF-IDF keyword extraction and the unigram-LM quality score against
  * hand-computed fixtures. */
class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  test("tfidf top terms: hand-computed ranks, tf and df") {
    val d = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "apple date date date")).toDF("doc_id", "text")
    val rows = Relevance.tfidfTopTermsOver(d).collect()
    // N=3; df: apple 2, banana 2, cherry 1, date 1
    // doc1: apple 2·ln(1.5)=0.81 > banana 1·ln(1.5)=0.41
    // doc2: cherry 1·ln(3)=1.10 > banana 0.41
    // doc3: date 3·ln(3)=3.30 > apple 0.41
    def top(doc: Long) = rows.find(r => r.getLong(0) == doc && r.getLong(1) == 1L).get
    assert(top(1L).getString(2) == "apple" && top(1L).getLong(3) == 2L && top(1L).getLong(4) == 2L)
    assert(top(2L).getString(2) == "cherry")
    assert(top(3L).getString(2) == "date")
    assert(math.abs(top(3L).getDouble(5) - 3.30) < 0.005)
    // every doc emits at most 3 ranked rows, ranks densely from 1
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length))
      assert(rs.length <= 3)
    }
  }

  test("tfidf exact score ties break on the term, ascending") {
    val d = Seq(
      (1L, "zeta alpha"),
      (2L, "zeta alpha")).toDF("doc_id", "text")
    // both terms: tf=1, df=2 → identical tfidf (= 0.0 here); the
    // term itself must order the ranks deterministically
    val r1 = Relevance.tfidfTopTermsOver(d)
      .filter($"doc_id" === 1L).orderBy("rank").collect()
    assert(r1.map(_.getString(2)).toSeq == Seq("alpha", "zeta"))
  }

  test("lm quality score: hand-computed single-doc log-probs") {
    val d = Seq((1L, "a a b")).toDF("doc_id", "text")
    val r = Relevance.lmQualityScoreOver(d).collect().head
    // p(a)=2/3, p(b)=1/3; sum = 2·ln(2/3)+ln(1/3) = -1.9095
    assert(r.getLong(1) == 3L)
    assert(math.abs(r.getDouble(2) - (-1.91)) < 0.005, s"sum=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - (-1.91 / 3)) < 0.005, s"avg=${r.getDouble(3)}")
  }

  test("lm quality score separates boilerplate from gibberish") {
    // 10 identical boilerplate docs + one all-unique-token doc over the
    // same corpus: the common-token docs must score strictly higher
    val d = ((1 to 10).map(i => (i.toLong, "click here to subscribe now")) :+
      (99L, "qwfp zxcv mlkj uiop ghjk")).toDF("doc_id", "text")
    val scores = Relevance.lmQualityScoreOver(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) > scores(99L),
      s"boilerplate ${scores(1L)} should outscore gibberish ${scores(99L)}")
  }

  test("bm25: both-terms doc outranks single-term docs; length normalization kicks in") {
    import org.apache.spark.sql.functions._
    // corpus tuned to the fixed q_hash_join = {hash, join} query:
    //  d1 has both terms; d2/d3 have only one; d4 has one term but is
    //  much longer than d5 with the same tf -> d5 outranks d4
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "hash join plan"),
      (2L, "hash table scan"),
      (3L, "join order scan"),
      (4L, s"hash $filler"),
      (5L, "hash probe"))
      .toDF("doc_id", "text")
    val out = Relevance.bm25SearchOver(d)
      .filter(col("query_id") === "q_hash_join").collect()
    val rankOf = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    assert(rankOf(1L) == 1L, s"both-terms doc must rank first: $rankOf")
    assert(rankOf(5L) < rankOf(4L),
      s"shorter doc with equal tf must outrank the long one: $rankOf")
    // scores are positive and weakly decreasing in rank
    val byRank = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("bm25"))
    assert(byRank.forall(_ > 0.0))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("bm25: rarer term contributes more than a common one at equal tf") {
    import org.apache.spark.sql.functions._
    // 'stream' appears in 9 docs, 'batch' in 1: for q_stream_batch the
    // batch-only doc must outrank any stream-only doc
    val d = ((1 to 9).map(i => (i.toLong, "stream pipeline node")) :+
      (50L, "batch pipeline node")).toDF("doc_id", "text")
    val out = Relevance.bm25SearchOver(d)
      .filter(col("query_id") === "q_stream_batch").collect()
    val top = out.find(_.getAs[Long]("rank") == 1L).get
    assert(top.getAs[Long]("doc_id") == 50L,
      s"rare-term doc must rank first, got ${top}")
  }

  test("served bm25 (persisted index) equals the inline computation row for row") {
    // the registered op serves from the IndexStore vintage; the inline
    // form scores the same index tables built in memory — they must be
    // value-identical (same scores, same ranks, same ties), or the
    // store's write/read round trip changed the operator
    val served = Relevance.bm25Search(spark, sf).collect().map(_.toSeq)
    val inline = Relevance.bm25SearchOver(Tables.documents(spark, sf))
      .collect().map(_.toSeq)
    assert(served.toSeq == inline.toSeq)
    // and a second serve (warm manifest) returns the same rows
    assert(Relevance.bm25Search(spark, sf).collect().map(_.toSeq).toSeq ==
      served.toSeq)
  }

  test("hybrid RRF fuses exactly 1/(k+b_rank) + 1/(k+a_rank) of its inputs") {
    val out = Relevance.hybridRrfSearch(spark, sf).collect()
    assert(out.length == 30, "3 queries x top-10")
    // recompute every fused score from the two REGISTERED source ops
    val b = Relevance.bm25Search(spark, sf).collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("rank")).toMap
    val amap = Relevance.HybridQueryMap.map(_.swap).toMap
    val a = sim.Similarity.annCosineTopK(spark, sf).collect()
      .flatMap(r => amap.get(r.getAs[Long]("query_id"))
        .map(q => (q, r.getAs[Long]("vec_id")) -> r.getAs[Int]("rank").toLong))
      .toMap
    out.foreach { r =>
      val key = (r.getAs[String]("query_id"), r.getAs[Long]("doc_id"))
      val expected =
        b.get(key).map(br => 1.0 / (Relevance.RrfK + br)).getOrElse(0.0) +
          a.get(key).map(ar => 1.0 / (Relevance.RrfK + ar)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == expected, s"score mismatch at $key")
    }
    // a doc surfaced by BOTH systems must outrank a doc surfaced by one
    // at the same single-system rank (1/(k+r) + something > 1/(k+r))
    val both = out.filter(r => b.contains((r.getString(0), r.getLong(2)))
      && a.contains((r.getString(0), r.getLong(2))))
    assert(both.nonEmpty, "fusion never saw a doc in both rankings — " +
      "the spec corpus should overlap; weaken only with evidence")
  }

  test("hybrid rerank: permutes exactly the fused shortlist, scores recomputable from raw embeddings") {
    val out = Relevance.hybridRerankSearch(spark, sf).collect()
    val fused = Relevance.hybridRrfSearch(spark, sf).collect()
    // same (query, doc) set as the first stage — rerank reorders, never
    // adds or drops a shortlist member
    val outSet = out.map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id"))).toSet
    val fusedSet = fused.map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id"))).toSet
    assert(outSet == fusedSet)
    // the carried first-stage rank is the fused one
    val fusedRank = fused.map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id")) ->
      r.getAs[Long]("rrf_rank")).toMap
    out.foreach(r => assert(r.getAs[Long]("rrf_rank") ==
      fusedRank((r.getAs[String]("query_id"), r.getAs[Long]("doc_id")))))
    // rerank is 1..n per query, ce_score descending along it
    out.groupBy(_.getAs[String]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rerank"))
      assert(sorted.map(_.getAs[Long]("rerank")).toSeq == (1L to rs.length).toSeq)
      val scores = sorted.map(_.getAs[Double]("ce_score")).toSeq
      assert(scores == scores.sorted(Ordering[Double].reverse))
    }
    // recompute one score per query from the raw embeddings with the
    // registered quantized-cosine arithmetic
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    val qmap = Relevance.HybridQueryMap.toMap
    def qz(x: Float): Long = math.floor(x.toDouble * 1e7).toLong
    def dot(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i => qz(a(i)) * qz(b(i))).sum
    out.groupBy(_.getAs[String]("query_id")).foreach { case (qid, rs) =>
      val r = rs.minBy(_.getAs[Long]("rerank"))
      val q = emb(qmap(qid))
      val d = emb(r.getAs[Long]("doc_id"))
      val expected = dot(q, d).toDouble /
        (math.sqrt(dot(q, q).toDouble) * math.sqrt(dot(d, d).toDouble))
      assert(r.getAs[Double]("ce_score") == expected, s"score mismatch at $qid")
    }
  }
}
