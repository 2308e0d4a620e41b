package graft

import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic dedup: within-cell union-find over the
  * quantizer assignment. The cell is the blocking function — components
  * must collapse inside a cell, chain through intermediates, and never
  * leak across cells; degenerate cells fall back to singletons. The
  * single-probe cases run the multi-probe core with no second probe
  * (`cell2 = cell`). */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private def unit2(deg: Double, dims: Int = 8): Seq[Float] = {
    val r = math.toRadians(deg)
    (Seq(math.cos(r).toFloat, math.sin(r).toFloat) ++
      Seq.fill(dims - 2)(0.0f))
  }

  private def singleProbe(df: org.apache.spark.sql.DataFrame, cap: Int) =
    Similarity.semanticDedupRepsMultiOver(df.withColumn("cell2", col("cell")), cap)

  private def run(rows: Seq[(Long, Seq[Float], Int)], cap: Int = 4096) =
    singleProbe(rows.toDF("vec_id", "embedding", "cell"), cap)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap

  test("a clone pile in one cell collapses to the min-id keeper") {
    val v = unit2(10)
    val out = run(Seq((5L, v, 0), (9L, v, 0), (7L, v, 0),
      (20L, unit2(90), 0)))
    assert(out(5L) == ((0, 5L, 3L, true)))
    assert(out(7L) == ((0, 5L, 3L, false)))
    assert(out(9L) == ((0, 5L, 3L, false)))
    assert(out(20L) == ((0, 20L, 1L, true)), "the far vector stays alone")
  }

  test("chain connectivity: a~b and b~c merge even though a!~c") {
    // threshold 0.85 ~ 31.8 deg: 0-25 and 25-50 qualify, 0-50 does not
    val out = run(Seq(
      (1L, unit2(0), 3), (2L, unit2(25), 3), (3L, unit2(50), 3)))
    assert(out.values.map(_._2).toSet == Set(1L),
      s"chain must be ONE component labeled by the min id: $out")
    assert(out(1L)._3 == 3L && out(1L)._4 && !out(2L)._4 && !out(3L)._4)
  }

  test("identical vectors in different cells do NOT merge (the cell is the contract)") {
    val v = unit2(42)
    val out = run(Seq((1L, v, 0), (2L, v, 1)))
    assert(out(1L) == ((0, 1L, 1L, true)))
    assert(out(2L) == ((1, 2L, 1L, true)))
  }

  test("a cell over the cap streams through as singletons") {
    val v = unit2(33)
    val pile = (1 to 20).map(i => (i.toLong, v, 0))
    val out = run(pile ++ Seq((100L, v, 1), (101L, v, 1)), cap = 10)
    assert((1 to 20).forall(i => out(i.toLong) == ((0, i.toLong, 1L, true))),
      "over-cap cell must emit every member as its own keeper")
    assert(out(100L) == ((1, 100L, 2L, true)) && out(101L)._2 == 100L,
      "the small cell still dedups")
  }

  test("layout invariance: repartitioned input yields the identical result") {
    val rows = (0 until 60).map(i =>
      (i.toLong, unit2((i % 6) * 20.0), i % 4))
    val df = rows.toDF("vec_id", "embedding", "cell")
    val a = singleProbe(df, 4096)
      .collect().map(_.toSeq).toSet
    val b = singleProbe(df.repartition(7), 4096)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ------------------------------------------------- multi-probe core

  private def runMulti(rows: Seq[(Long, Seq[Float], Int, Int)],
                       cap: Int = 4096) =
    Similarity.semanticDedupRepsMultiOver(
      rows.toDF("vec_id", "embedding", "cell", "cell2"), cap)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap

  test("multi-probe: a pile split across primary cells merges via the shared second probe") {
    // the boundary case single-probe dedup loses: two near-identical
    // vectors whose NEAREST centroids differ, but whose runner-up
    // probes land them in a common cell
    val v = unit2(10)
    val out = runMulti(Seq(
      (1L, v, 0, 2), (2L, v, 1, 2), // same direction, split primaries
      (9L, unit2(90), 3, 4))) // unrelated
    assert(out(1L) == ((0, 1L, 2L, true)), s"got $out")
    assert(out(2L) == ((1, 1L, 2L, false)), "boundary pair must merge via cell 2")
    assert(out(9L) == ((3, 9L, 1L, true)))
  }

  test("multi-probe: no shared probe cell, no merge — even for identical vectors") {
    val v = unit2(42)
    val out = runMulti(Seq((1L, v, 0, 2), (2L, v, 1, 3)))
    assert(out(1L) == ((0, 1L, 1L, true)) && out(2L) == ((1, 2L, 1L, true)))
  }

  test("multi-probe: probe cells CHAIN components across cells through shared members") {
    // a in {0,1}, b in {1,2}, c in {2,3}: a~b via cell 1, b~c via cell
    // 2 — all three must land in one component although a and c share
    // no cell
    val v = unit2(33)
    val out = runMulti(Seq((1L, v, 0, 1), (2L, v, 1, 2), (3L, v, 2, 3)))
    assert(out.values.map(_._2).toSet == Set(1L), s"one component: $out")
    assert(out(1L)._3 == 3L && out(1L)._4 && !out(2L)._4 && !out(3L)._4)
  }

  test("multi-probe: the cap counts PROBE rows and an over-cap cell contributes no edges") {
    val v = unit2(33)
    // cell 0 holds 6 secondary probes (from the pile) + 2 primaries
    // (100, 101) = 8 probe rows > cap 7; the pair (100, 101) sharing
    // only cell 0 must NOT merge, but (1..6) still merge via their
    // under-cap primary cell 1 (6 probe rows)
    val pile = (1 to 6).map(i => (i.toLong, v, 1, 0))
    val out = runMulti(pile ++ Seq((100L, v, 0, 2), (101L, v, 0, 3)),
      cap = 7)
    assert((1 to 6).forall(i => out(i.toLong)._2 == 1L),
      s"under-cap cell 1 must still dedup: $out")
    assert(out(100L)._3 == 1L && out(101L)._3 == 1L,
      "over-cap cell 0 must contribute no edges")
  }

  test("multi-probe layout invariance") {
    val rows = (0 until 60).map(i =>
      (i.toLong, unit2((i % 6) * 20.0), i % 4, (i % 4 + 1) % 4))
    val df = rows.toDF("vec_id", "embedding", "cell", "cell2")
    val a = Similarity.semanticDedupRepsMultiOver(df, 4096)
      .collect().map(_.toSeq).toSet
    val b = Similarity.semanticDedupRepsMultiOver(df.repartition(7), 4096)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }
}
