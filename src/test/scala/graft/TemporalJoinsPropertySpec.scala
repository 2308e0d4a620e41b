package graft

import graft.ext.TemporalJoins
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the generic temporal joins: the distributed
  * implementations must agree with trivial single-threaded reference
  * semantics on randomized inputs (seeded ScalaCheck generators — the
  * scalatest bridge isn't available offline). */
class TemporalJoinsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // small key/time domains force collisions, ties, and empty groups
  private val row: Gen[(Long, Long, Long)] = for {
    k <- Gen.choose(0L, 4L)
    t <- Gen.choose(0L, 50L)
    id <- Gen.choose(0L, 1000000L)
  } yield (k, t, id)

  test("asofJoin matches the brute-force latest-at-or-before reference") {
    val lefts = samples(row, 120).distinct
    val rights = samples(row, 120).map { case (k, t, id) => (k, t, id + 2000000L) }.distinct
    val left = lefts.toDF("k", "t", "lid")
    val right = rights.toDF("k", "rt", "rid")

    val got = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "rt",
        payload = Seq("rid"), rightTieBreak = Seq("rid"))
      .select("k", "t", "lid", "rid")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet

    // reference: latest rt <= t; ties on rt -> the largest rid wins
    val expected = lefts.map { case (k, t, lid) =>
      val cands = rights.filter { case (rk, rt, _) => rk == k && rt <= t }
      val best = if (cands.isEmpty) None
        else Some(cands.maxBy { case (_, rt, rid) => (rt, rid) }._3)
      (k, t, lid, best)
    }.toSet
    assert(got == expected)
  }

  test("rangeJoin matches the brute-force bounded-pair reference") {
    val bound = 7L
    val lefts = samples(row, 100).distinct
    val rights = samples(row, 100).map { case (k, t, id) => (k, t, id + 2000000L) }.distinct
    val left = lefts.toDF("k", "lus", "lid")
    val right = rights.toDF("k", "rus", "rid")

    val got = TemporalJoins.rangeJoin(left, right, Seq("k"), "lus", "rus", bound)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq

    val expected = for {
      (lk, lt, lid) <- lefts
      (rk, rt, rid) <- rights
      if lk == rk && rt >= lt && rt <= lt + bound
    } yield (lid, rid)

    // exact multiset equality: every qualifying pair exactly once
    assert(got.sorted == expected.sorted)
  }
}
