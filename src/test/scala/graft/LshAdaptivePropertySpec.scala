package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QArgminCell
import graft.sim.Similarity

/** Pure-JVM property tests for the two driver-side pieces the DuckDB
  * oracles mirror structurally rather than re-execute: the adaptive
  * LSH depth rule (mirrored as an integer CASE ladder — the ladder is
  * only correct if the doubling loop really is minimal and bounded)
  * and the native argmin loop (mirrored by `ORDER BY d2, cell`).
  * Seeded ScalaCheck generators directly (the scalatest bridge isn't
  * available offline), no Spark session needed — these run in
  * milliseconds. */
class LshAdaptivePropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("adaptiveLshRows: bound holds, depth is minimal, r in [8,32], monotone in n") {
    val t = Similarity.LshAdaptiveTargetOccupancy
    val ns = samples(Gen.chooseNum(0L, 4L * 1000 * 1000 * 1000 * 1000), 300) ++
      // boundary cases: exact thresholds and off-by-one around them
      (8 until 32).flatMap(r => Seq(t * (1L << r) - 1, t * (1L << r), t * (1L << r) + 1))
    ns.foreach { n =>
      val r = Similarity.adaptiveLshRows(n)
      assert(r >= 8 && r <= 32, s"n=$n: r=$r out of range")
      if (r < 32)
        assert(n <= t * (1L << r), s"n=$n: bound violated at r=$r")
      if (r > 8)
        assert(n > t * (1L << (r - 1)),
          s"n=$n: r=$r not minimal (r-1 would already satisfy the bound)")
    }
    // monotone: more vectors never means shallower buckets
    val sorted = ns.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(Similarity.adaptiveLshRows(a) <= Similarity.adaptiveLshRows(b))
    }
  }

  test("QArgminCell.compute matches a naive reference on random inputs incl. ties") {
    val dimG = Gen.chooseNum(1, 8)
    val cases = samples(for {
      dim <- dimG
      k <- Gen.chooseNum(1, 6)
      // small component range makes equal-distance ties common
      vec <- Gen.listOfN(dim, Gen.chooseNum(-3, 3).map(_ * 1e-7f))
      cents <- Gen.listOfN(k, Gen.listOfN(dim, Gen.chooseNum(-3L, 3L)))
      cids <- Gen.listOfN(k, Gen.chooseNum(0, 9))
    } yield (vec.toArray, cents.map(_.toArray).toArray, cids.toArray), 300)

    cases.foreach { case (vec, cents, cids) =>
      val q = vec.map(f => math.floor(f.toDouble * 1e7).toLong)
      val ref = cents.zip(cids).map { case (c, cid) =>
        (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        vec.map(java.lang.Float.valueOf))
      val got = QArgminCell.compute(arr, cents, cids, rank = 1)
      assert(got == ref,
        s"vec=${vec.toSeq} cents=${cents.map(_.toSeq).toSeq} cids=${cids.toSeq}: got $got want $ref")
    }
  }
}
