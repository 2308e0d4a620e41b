package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.multimodal.Multimodal
import graft.sim.BandedPairs
import graft.text.TextOps

/** The bucket cap is the safety valve of every banded-LSH pair family:
  * a low-entropy corpus piles rows into shared cells and candidates grow
  * O(N²) without it (measured 12.6× runtime for 10× docs on SimHash and
  * 10.3× for 3× docs on MinHash before the cap existed). AQE skew-join
  * can rebalance the compute of a hot cell but cannot shrink its
  * quadratic candidate OUTPUT — only the cap bounds it (worst cell =
  * cap² comparisons). One case per text/multimodal family (SRP-LSH's
  * case is AnnLshCapSpec): a pile that fills every cell
  * it occupies, plus one genuine duplicate pair with its own signature.
  * Uncapped, the pile pairs ~C(n,2) ways; capped at 50, it drops
  * wholesale (the documented recall tradeoff: such piles are
  * exact-dedup territory), while the small-cell pair survives with its
  * exact score. */
class BandedPairsSpec extends SparkSpec {
  import spark.implicits._

  private case class CapCase(family: String, title: String, input: () => DataFrame,
                             pairs: (DataFrame, Int) => DataFrame, minUncapped: Long,
                             exactScore: Row => Boolean)

  private def pileDocs: DataFrame =
    ((1 to 200).map(i =>
      (i.toLong, "data query spark table row column key value join filter")) ++
      Seq((301L, "the quick brown fox jumps over the lazy dog tonight"),
          (302L, "the quick brown fox jumps over the lazy dog tonight")))
      .toDF("doc_id", "text")

  private val cases = Seq(
    CapCase("simhash", "bucket cap keeps a single-simhash pile from exploding the join",
      () => pileDocs, TextOps.simhashPairsOverDocs, 19000, _.getLong(2) == 0L),
    // wide-hash band equality certifies the pile's members are
    // near-clones; the genuine pair survives with a full-match signature
    CapCase("minhash", "band cap keeps a single-signature pile from exploding the join",
      () => pileDocs, TextOps.minhashPairsOverDocs, 19000, _.getDouble(2) == 1.0),
    // 150 identical payloads
    CapCase("phash", "bucket cap keeps a constant-payload pile from exploding the join",
      () => ((1 to 150).map(i => (i.toLong, PhashSpec.payload(2))) ++
        Seq((301L, PhashSpec.payload(6)), (302L, PhashSpec.payload(6))))
        .toDF("doc_id", "text"),
      (d, cap) => Multimodal.phashPairsOver(Multimodal.phashOver(d), cap),
      11000, _.getLong(2) == 0L))

  cases.foreach { c =>
    test(s"${c.family}: ${c.title}") {
      val d = c.input()
      val uncapped = c.pairs(d, Int.MaxValue).count()
      assert(uncapped > c.minUncapped, s"expected ~C(pile,2) pairs uncapped, got $uncapped")
      val capped = c.pairs(d, 50).collect()
      assert(capped.length < 50, s"cap did not bound the join: ${capped.length} pairs")
      assert(capped.exists(r => r.getLong(0) == 301L && r.getLong(1) == 302L && c.exactScore(r)),
        s"the non-hot duplicate pair must still be found: ${capped.toSeq}")
    }
  }

  test("hamming60Pairs (uncapped) == brute-force all-pairs Hamming <= 4 on planted neighbours") {
    // the pigeonhole-exactness claim shared by SimHash and pHash, on
    // random 60-bit signatures: each cluster is a base plus members at
    // 0-6 flipped bits (so Hamming 5/6 must be filtered out) or sharing
    // exactly one 12-bit block with it (a candidate the exact filter must
    // reject); members of one cluster also pair with each other
    val sigG = Gen.choose(0L, (1L << 60) - 1)
    val memberG = (base: Long) => Gen.oneOf(
      for (k <- Gen.choose(0, 6); bits <- Gen.pick(k, 0 until 60))
        yield bits.foldLeft(base)((s, b) => s ^ (1L << b)),
      for (blk <- Gen.choose(0, 4); other <- sigG) yield {
        val m = 4095L << (12 * blk)
        (other & ~m) | (base & m)
      })
    val clusterG = for {
      base <- sigG
      n <- Gen.choose(1, 5)
      members <- Gen.listOfN(n, memberG(base))
    } yield base :: members
    (1 to 5).foreach { seed =>
      val sigs = Gen.listOfN(40, clusterG).apply(Gen.Parameters.default, Seed(seed.toLong))
        .get.flatten.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val want = (for {
        (i, a) <- sigs; (j, b) <- sigs
        h = java.lang.Long.bitCount(a ^ b) if i < j && h <= 4
      } yield (i, j, h.toLong)).toSet
      val got = BandedPairs.hamming60Pairs(sigs.toDF("doc_id", "sig"), "sig", Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.size >= 20, s"seed $seed planted too few neighbours: ${want.size}")
      assert(got == want, s"seed $seed: missing ${want -- got}, extra ${got -- want}")
    }
  }
}
