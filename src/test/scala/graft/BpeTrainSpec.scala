package graft

import graft.text.TextOps
import org.apache.spark.sql.functions.expr

import scala.collection.mutable

/** Pins the iterative BPE TRAINER ([[TextOps.bpeTrainMerges]] /
  * [[TextOps.bpeTokenHistogram]]) against a from-scratch Scala
  * implementation of the textbook algorithm (Sennrich et al., 2016):
  * per iteration, count adjacent-symbol pairs over the current
  * vocabulary segmentation weighted by word frequency, merge the argmax
  * pair via the repeat-leftmost loop, re-count. The Spark side applies
  * each rule as a single left fold — the equivalence of fold and
  * repeat-leftmost for a single rule is exactly what the adversarial
  * fold test exercises on the served expression,
  * [[TextOps.bpeSegEFor]] (self-overlapping runs are where a naive
  * replace-all diverges). */
class BpeTrainSpec extends SparkSpec {

  /** The textbook apply, deliberately NOT the fold under test: while
    * the pair occurs anywhere in the word, merge its LEFTMOST
    * occurrence and rescan from the start. */
  private def repeatLeftmost(s0: Seq[String], a: String, b: String): Seq[String] = {
    val s = mutable.ArrayBuffer(s0: _*)
    var again = true
    while (again) {
      val i = (0 until s.length - 1).indexWhere(j => s(j) == a && s(j + 1) == b)
      if (i < 0) again = false
      else { s(i) = a + b; s.remove(i + 1); () }
    }
    s.toSeq
  }

  /** Textbook reference: vocabulary + repeat-leftmost merge apply. */
  private def referenceTrain(vocab: Map[String, Long], iters: Int)
      : (Seq[(Long, String, String, Long)], Map[String, Seq[String]]) = {
    val segs = mutable.Map[String, Seq[String]](
      vocab.keysIterator.map(w => w -> (w.map(_.toString): Seq[String])).toSeq: _*)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var k = 1
    var done = false
    while (k <= iters && !done) {
      val pc = mutable.Map.empty[(String, String), Long]
      for ((w, s) <- segs; i <- 0 until s.length - 1) {
        val p = (s(i), s(i + 1))
        pc(p) = pc.getOrElse(p, 0L) + vocab(w)
      }
      if (pc.isEmpty) done = true
      else {
        val ((a, b), c) = pc.minBy { case ((x, y), n) => (-n, x, y) }
        merges += ((k.toLong, a, b, c))
        for ((w, s) <- segs) segs(w) = repeatLeftmost(s, a, b)
        k += 1
      }
    }
    (merges.result(), segs.toMap)
  }

  private def corpusVocab(keep: Long => Boolean = _ => true): Map[String, Long] = {
    val wordRe = "[A-Za-z]+".r
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .iterator
      .filter(r => keep(r.getAs[Long]("doc_id")))
      .flatMap(r => wordRe.findAllIn(r.getString(1)))
      .map(_.toLowerCase)
      .foldLeft(Map.empty[String, Long]) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L)
      }
  }

  test("trained merges equal the textbook iterative trainer on the corpus") {
    val got = TextOps.bpeTrainMerges(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("merge_a"),
        r.getAs[String]("merge_b"), r.getAs[Long]("merge_count")))
      .toSeq
    val (want, _) = referenceTrain(corpusVocab(), TextOps.BpeTrainIters)
    assert(got == want, "Spark trainer diverged from the textbook reference")
    // iteration 1's decision is the mining op's rank-1 pair: training
    // starts from exactly the pair table bpe_merge_pairs scores
    val mined = TextOps.bpeMergePairs(spark, sf).collect().head
    assert(got.head._2 + got.head._3 == mined.getAs[String]("pair"))
    assert(got.head._4 == mined.getAs[Long]("merge_count"))
  }

  test("token histogram equals the reference segmentation's histogram") {
    val got = TextOps.bpeTokenHistogram(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("token_count"), r.getAs[Long]("n_words")))
      .toSeq
    val vocab = corpusVocab()
    val (_, segs) = referenceTrain(vocab, TextOps.BpeTrainIters)
    val tc = mutable.Map.empty[String, Long]
    val nw = mutable.Map.empty[String, Long]
    for ((w, s) <- segs) {
      for (t <- s) tc(t) = tc.getOrElse(t, 0L) + vocab(w)
      for (t <- s.distinct) nw(t) = nw.getOrElse(t, 0L) + 1L
    }
    val want = tc.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextOps.BpeTopTokens)
      .zipWithIndex
      .map { case ((t, c), i) => (i + 1L, t, c, nw(t)) }
    assert(got == want, "Spark histogram diverged from the reference segmentation")
    // conservation: total token count over ALL tokens equals the
    // corpus word-length... no — equals Σ cnt(w)·|seg(w)|, which the
    // merges strictly shrink from Σ cnt(w)·|w|
    val totalTokens = segs.iterator.map { case (w, s) => vocab(w) * s.length }.sum
    val totalChars = vocab.iterator.map { case (w, c) => c * w.length }.sum
    assert(totalTokens < totalChars, "8 merges should compress the corpus")
  }

  test("the fold-apply equals repeat-leftmost on adversarial self-overlapping runs") {
    // the divergence case for naive replace-all: runs of the merged
    // symbol; fold must pair greedily left-to-right ('aaaaaa' under
    // (a,a) then (aa,aa) -> 'aaaa aa', never 'aa aaaa' or 'aaa aaa')
    val words = Seq("aaaaaa", "aaaa", "aaa", "ababab", "baab", "xyzzy", "a")
    val rules = Seq(("a", "a"), ("aa", "aa"), ("a", "b"), ("z", "z"))
    // the expression the tokenizer serves, over these rules as a merge
    // table in rank order
    val segE = TextOps.bpeSegEFor(rules.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b, 0L) })
    import spark.implicits._
    val got = words.toDF("word").select(expr(segE)).as[String].collect().toSeq
    val want = words.map { w =>
      rules.foldLeft(w.map(_.toString): Seq[String]) {
        case (s, (a, b)) => repeatLeftmost(s, a, b)
      }.mkString(" ")
    }
    assert(got == want)
    assert(got.head == "aaaa aa")
  }

  test("oracle SQL embeds the same iteration count and top-k as the Spark side") {
    assert(TextOps.bpeTrainMergesSql.contains(s"seg${TextOps.BpeTrainIters} "))
    assert(TextOps.bpeTokenHistogramSql.contains(s"rank <= ${TextOps.BpeTopTokens}"))
  }

  test("per-source exact token accounting matches the reference segmentation") {
    val got = TextOps.bpeSourceTokenAccounting(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_distinct_words"),
        r.getAs[Long]("exact_tokens"), r.getAs[Long]("est_tokens")))
      .toSeq
    val (_, segs) = referenceTrain(corpusVocab(), TextOps.BpeTrainIters)
    val nTok = segs.map { case (w, s) => w -> s.length.toLong }
    val wordRe = "[A-Za-z]+".r
    val rows = Tables.documents(spark, sf).select("source", "text").collect()
    val want = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (src, rs) =>
      val words = rs.iterator
        .flatMap(r => wordRe.findAllIn(r.getString(1)))
        .map(_.toLowerCase).toSeq
      val est = rs.iterator
        .map(r => math.ceil(r.getString(1).length.toDouble / 4.0).toLong).sum
      (src, rs.length.toLong, words.length.toLong, words.distinct.length.toLong,
        words.iterator.map(nTok).sum, est)
    }
    assert(got == want)
    // the trained tokenizer compresses: exact subword tokens per source
    // must be strictly fewer than raw characters' worth of words
    assert(got.forall { case (_, _, nw, _, ex, _) => ex >= nw })
  }

  test("merge drift equals two independent half-corpus trainings") {
    val (evenM, _) = referenceTrain(corpusVocab(_ % 2 == 0), TextOps.BpeTrainIters)
    val (oddM, _) = referenceTrain(corpusVocab(_ % 2 == 1), TextOps.BpeTrainIters)
    val em = evenM.map { case (r, a, b, _) => r -> (a, b) }.toMap
    val om = oddM.map { case (r, a, b, _) => r -> (a, b) }.toMap
    val want = (em.keySet ++ om.keySet).toSeq.sorted.map { r =>
      (r, em.get(r).map(_._1).orNull, em.get(r).map(_._2).orNull,
        om.get(r).map(_._1).orNull, om.get(r).map(_._2).orNull,
        em.contains(r) && em.get(r) == om.get(r))
    }
    val got = TextOps.bpeMergeDrift(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"),
        r.getAs[String]("merge_a_even"), r.getAs[String]("merge_b_even"),
        r.getAs[String]("merge_a_odd"), r.getAs[String]("merge_b_odd"),
        r.getAs[Boolean]("agree")))
      .toSeq
    assert(got == want)
  }

  test("trainer is deterministic across runs") {
    val a = TextOps.bpeTrainMerges(spark, sf).collect().map(_.toSeq).toSeq
    val b = TextOps.bpeTrainMerges(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
