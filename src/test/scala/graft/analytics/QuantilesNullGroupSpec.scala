package graft.analytics

import graft.SparkSpec

/** The rank-selection cores are shared generic machinery (payment
  * methods, languages, priorities today — arbitrary group columns
  * tomorrow), so the r16 rewrite of the group-total window into a
  * broadcast-joined re-aggregation must be NULL-SAFE: a plain equi-join
  * on the group key would silently drop a NULL group that the window
  * form (and the DuckDB oracle's PARTITION BY) keeps. */
class QuantilesNullGroupSpec extends SparkSpec {
  import spark.implicits._

  test("rankSelect keeps a NULL group — broadcast totals join is null-safe") {
    val vals = Seq(
      (Some("a"), 1L), (Some("a"), 2L), (Some("a"), 3L),
      (None, 10L), (None, 20L), (None, 30L), (None, 40L))
      .toDF("g", "v")
    val out = Quantiles.rankSelect(vals, "g", "x", "n")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out.contains(None), s"NULL group dropped: $out")
    assert(out(None) == 4L && out(Some("a")) == 3L)
  }

  test("weightedRankSelect keeps a NULL group") {
    val vals = Seq(
      (Some("a"), 1L, 2L), (None, 5L, 3L), (None, 7L, 1L))
      .toDF("g", "v", "w")
    val out = Quantiles.weightedRankSelect(vals, "g", "x", "wsum")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(out.contains(None), s"NULL group dropped: $out")
    assert(out(None) == 4L && out(Some("a")) == 2L)
  }
}
