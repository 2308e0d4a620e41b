package graft

import graft.text.TextOps
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The shared cell-pair core of the exact overlap ops against a
  * driver-side brute force: over random small (doc_id, key) relations,
  * distinct per document like the shingle and fingerprint relations it
  * serves, `TextOps.cappedPairCore` must report exactly the per-pair
  * shared-key counts and per-doc sizes of a plain self-join over the
  * df-capped relation, String-keyed (shingles) and Long-keyed
  * (fingerprints) alike. Samples with the same cap run as one relation
  * (doc ids and keys disjoint per sample), one core evaluation per cap. */
class CappedPairCorePropertySpec extends SparkSpec {
  import spark.implicits._

  private val Caps = 1 to 5

  /** (rows in shuffled order, cap) — a handful of docs over a small key
    * domain, so caps bind often and some keys sit exactly at the cap. */
  private def relation[K](key: Gen[K]): Gen[(Seq[(Long, K)], Int)] = for {
    nDocs <- Gen.choose(1, 10)
    rows <- Gen.listOf(Gen.zip(Gen.choose(1L, nDocs.toLong), key))
    order <- Gen.long
    cap <- Gen.oneOf(Caps)
  } yield (new scala.util.Random(order).shuffle(rows.distinct), cap)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default.withSize(30), Seed(i.toLong)))

  /** Pair counts and sizes of the plain self-join over the capped rows. */
  private def bruteForce[K](rows: Seq[(Long, K)], cap: Int)
      : (Map[(Long, Long), Long], Map[Long, Long]) = {
    val df = rows.groupBy(_._2).map { case (k, v) => k -> v.size }
    val kept = rows.filter(r => df(r._2) <= cap)
    val pairs = for ((a, ka) <- kept; (b, kb) <- kept if ka == kb && a < b) yield (a, b)
    (pairs.groupBy(identity).map { case (p, v) => p -> v.size.toLong },
      kept.groupBy(_._1).map { case (d, v) => d -> v.size.toLong })
  }

  private def check[K](name: String, key: Gen[K], tag: (Int, K) => K)
                      (toDf: Seq[(Long, K)] => org.apache.spark.sql.DataFrame): Unit = {
    val all = samples(relation(key), 60)
    assert(all.count(_._1.nonEmpty) > 40, s"$name: too few non-empty samples")
    Caps.foreach { cap =>
      // one relation per cap: sample i owns doc ids i*100+d and keys tag(i, k)
      val rows = all.zipWithIndex.collect { case ((r, c), i) if c == cap =>
        r.map { case (d, k) => (i * 100L + d, tag(i, k)) }
      }.flatten
      val (expInter, expSizes) = bruteForce(rows, cap)
      val (inter, sizes) = TextOps.cappedPairCore(toDf(rows), "k", cap)
      val gotInter = inter.as[(Long, Long, Long)].collect()
        .map { case (a, b, i) => (a, b) -> i }.toMap
      val gotSizes = sizes.as[(Long, Long)].collect().toMap
      assert(gotInter == expInter, s"$name cap=$cap: pair counts differ")
      assert(gotSizes == expSizes, s"$name cap=$cap: capped sizes differ")
    }
  }

  test("String-keyed cells: pair counts and capped sizes equal the brute-force self-join") {
    check[String]("shingles", Gen.oneOf("a b c", "b c d", "c d e", "d e f", "e f g", "f g h"),
      (i, k) => s"$i:$k")(_.toDF("doc_id", "k"))
  }

  test("Long-keyed cells: pair counts and capped sizes equal the brute-force self-join") {
    check[Long]("fingerprints", Gen.choose(0L, 7L).map(_ * 1000003L),
      (i, k) => i * 100000000L + k)(_.toDF("doc_id", "k"))
  }
}
