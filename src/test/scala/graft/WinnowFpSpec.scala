package graft

import graft.functions.WinnowFp
import graft.text.TextOps
import org.apache.spark.sql.functions._

class WinnowFpSpec extends SparkSpec {

  test("native winnow fingerprints match the plain-Scala reference on every document") {
    // reference = direct per-position re-hash + naive window minima;
    // native = rolling hash + monotonic deque — independent algorithms,
    // same definition
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), WinnowFp.of(col("text")).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = TextOps.winnowReference(
        r.getAs[String]("text"), WinnowFp.DefaultK, WinnowFp.DefaultW)
      assert(r.getSeq[Long](2) == expected,
        s"doc ${r.getLong(0)}: native != reference")
    }
  }

  test("native matches the reference on adversarial non-ASCII and repetitive strings") {
    import spark.implicits._
    val cases = Seq(
      "ababababababababababab",           // heavy fingerprint collisions
      "aaaaaaaaaaaaaaaaaaaaaa",           // all windows identical
      "héllo wörld — 漢字テキスト with mixed ünïcode 🙂 and more padding",
      "🙂🙂🙂🙂🙂🙂🙂🙂🙂🙂",              // 4-byte code points only
      (0 until 300).map(i => ('a' + i % 26).toChar).mkString)
    val rows = cases.toDF("text")
      .select(col("text"), WinnowFp.of(col("text")).as("native")).collect()
    rows.foreach { r =>
      val expected = TextOps.winnowReference(
        r.getAs[String]("text"), WinnowFp.DefaultK, WinnowFp.DefaultW)
      assert(r.getSeq[Long](1) == expected, s"mismatch for: ${r.getString(0)}")
    }
  }

  test("hand-computed tiny case: k=2, w=2 over 'abcd'") {
    import spark.implicits._
    // cp: a=97 b=98 c=99 d=100; k-gram hashes (B=257, M=1e9+7):
    // h(ab)=97*257+98=25027, h(bc)=98*257+99=25285, h(cd)=99*257+100=25543
    // windows of 2: min(25027,25285)=25027, min(25285,25543)=25285
    val out = Seq("abcd").toDF("text")
      .select(WinnowFp.of(col("text"), k = 2, w = 2).as("fps"))
      .head().getSeq[Long](0)
    assert(out == Seq(25027L, 25285L))
  }

  test("degenerate sizes: shorter than k is empty, up to w hashes is the single min") {
    import spark.implicits._
    val out = Seq("a", "abc", "").toDF("text")
      .select(WinnowFp.of(col("text"), k = 2, w = 4).as("fps"))
      .collect().map(_.getSeq[Long](0))
    // "a": 0 hashes -> empty; "abc": 2 hashes (<= w) -> one min;
    // "": 0 hashes -> empty
    assert(out(0) == Seq())
    assert(out(1).length == 1)
    assert(out(1).head == math.min(97L * 257 + 98, 98L * 257 + 99))
    assert(out(2) == Seq())
  }

  test("winnowing guarantee: a shared substring of >= k+w-1 chars shares a fingerprint") {
    import spark.implicits._
    // k=8, w=4: any shared run of >= 11 chars must yield a common
    // fingerprint (SIGMOD'03 theorem 1); check against unrelated text too
    val shared = "the quick brown fox jumps"
    val fps = Seq(
      s"AAAA $shared BBBB",
      s"zzz 123 $shared qqq 456",
      "completely unrelated content with no overlap at all")
      .toDF("text")
      .select(WinnowFp.of(col("text")).as("fps"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert((fps(0) intersect fps(1)).nonEmpty,
      "documents sharing a 25-char passage must share a fingerprint")
    assert((fps(0) intersect fps(2)).isEmpty,
      "unrelated documents should not collide at these lengths")
  }

  test("winnow overlap pairs: df-cap anti-join is broadcast, join is hash on fp") {
    val plan = TextOps.winnowOverlapPairs(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin LeftAnti".substring(0, 17)) ||
      plan.contains("BroadcastHashJoin"), "df-cap should anti-join via broadcast")
    assert(!plan.contains("CartesianProduct"), "pairs must come from the fp equi-join")
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"unexpected join strategy:\n${plan.take(1500)}")
  }

  test("property: native matches the reference on 200 random mixed-unicode strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // mixed alphabet spanning 1-4 byte UTF-8 encodings, lengths 0..60,
    // and k/w combos beyond the defaults
    val charGen = Gen.frequency(
      6 -> Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ ' '),
      2 -> Gen.oneOf('é', 'ü', 'ß', 'ø'),
      1 -> Gen.oneOf('漢', '字', 'テ'),
      1 -> Gen.const("🙂"))
    val textGen = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val inputs = (0 until 200).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    for ((k, w) <- Seq((8, 4), (3, 2), (5, 7), (2, 1))) {
      val rows = inputs.toDF("text")
        .select(col("text"), WinnowFp.of(col("text"), k, w).as("native"))
        .collect()
      rows.foreach { r =>
        val expected = TextOps.winnowReference(r.getString(0), k, w)
        assert(r.getSeq[Long](1) == expected,
          s"k=$k w=$w mismatch for: '${r.getString(0)}'")
      }
    }
  }

  test("truncated multi-byte UTF-8 tail degrades gracefully instead of overrunning") {
    // '漢' is 3 bytes (e6 bc a2); keeping only the first 1-2 bytes makes
    // a malformed tail — reachable via cast(binary as string) or corrupt
    // data. The decode must stop at the partial character (dropping it),
    // not read past the byte array.
    val whole = "abcdefghij漢"
    val wholeBytes = whole.getBytes("UTF-8")
    val truncated = Seq(wholeBytes.length - 1, wholeBytes.length - 2).map(n =>
      org.apache.spark.unsafe.types.UTF8String.fromBytes(wholeBytes.take(n)))
    truncated.foreach { u =>
      val out = WinnowFp.compute(u, WinnowFp.DefaultK, WinnowFp.DefaultW)
      // same fingerprints as the clean prefix without the partial char
      val expected = TextOps.winnowReference(
        "abcdefghij", WinnowFp.DefaultK, WinnowFp.DefaultW)
      assert(out.toLongArray().toSeq == expected,
        s"truncated tail (${u.numBytes()} bytes) should fingerprint the clean prefix")
    }
  }

  test("winnow_fp is callable from SQL via the extension registration") {
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT winnow_fp('abcd', 2, 2) AS fps").head().getSeq[Long](0)
    assert(viaSql == Seq(25027L, 25285L))
    val defaults = spark.sql(
      "SELECT winnow_fp('the quick brown fox jumps over') AS fps").head().getSeq[Long](0)
    assert(defaults == TextOps.winnowReference(
      "the quick brown fox jumps over", WinnowFp.DefaultK, WinnowFp.DefaultW))
  }

  test("fingerprints are sorted distinct (canonical form)") {
    val bad = Tables.documents(spark, sf)
      .select(WinnowFp.of(col("text")).as("fps"))
      .filter(expr("fps != array_sort(array_distinct(fps))"))
      .count()
    assert(bad == 0)
  }
}
