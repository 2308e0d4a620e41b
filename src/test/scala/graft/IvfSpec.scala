package graft

import graft.sim.{Ivf, Similarity}
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  test("ivf index assigns every vector to a cell, deterministically") {
    val idx = Ivf.buildIndex(spark, sf, k = 8, iterations = 2)
    assert(idx.count() == Tables.embeddings(spark, sf).count())
    assert(idx.filter(col("cell").isNull || col("cell") < 0 || col("cell") >= 8).count() == 0)
    val again = Ivf.buildIndex(spark, sf, k = 8, iterations = 2)
      .select("vec_id", "cell")
    assert(idx.select("vec_id", "cell").except(again).count() == 0)
  }

  test("delta assignment covers every arriving vector exactly once") {
    val out = Ivf.deltaAssign(spark, sf).cache()
    try {
      val nOdd = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 2 === 1).count()
      val agg = out.agg(sum("delta_count"), sum("id_checksum")).head()
      assert(agg.getLong(0) == nOdd, "every delta vector lands in one cell")
      // checksum over all cells == sum of all odd ids (partition of the set)
      val oddSum = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 2 === 1).agg(sum("vec_id")).head().getLong(0)
      assert(agg.getLong(1) == oddSum)
      assert(out.filter(col("cell") < 0 || col("cell") >= Ivf.K).count() == 0)
    } finally out.unpersist()
  }

  test("null embeddings route to cell -1, not centroid 0") {
    import spark.implicits._
    // with a null embedding every candidate struct has d = null, and
    // struct ordering sorts null d FIRST — the bare argmin would
    // silently land such rows in cell 0; the explicit when() routes
    // them to -1 so they drop out of cell joins
    val vecs = Seq(
      (1L, Some(Array(0.5f, 0.25f, -0.125f, 0.75f))),
      (2L, Option.empty[Array[Float]]))
      .toDF("vec_id", "embedding")
    val centroids = Array(
      0 -> Array(5000000L, 2500000L, -1250000L, 7500000L),
      1 -> Array(-5000000L, -2500000L, 1250000L, -7500000L))
    val cells = Ivf.assign(vecs, centroids)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(1L) == 0, s"real vector should hit its nearest centroid, got ${cells(1L)}")
    assert(cells(2L) == -1, s"null embedding must route to -1, got ${cells(2L)}")
  }

  test("ivf cells partition the corpus") {
    val n = Tables.embeddings(spark, sf).count()
    val cs = Ivf.cells(spark, sf).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("cell_size"), r.getAs[Long]("min_vec_id")))
    assert(cs.map(_._2).sum == n, "cell sizes must sum to the corpus size")
    assert(cs.length <= Ivf.K && cs.forall(c => c._1 >= 0 && c._1 < Ivf.K))
    assert(cs.map(_._1).distinct.length == cs.length, "one row per cell")
  }

  test("ivf search recall against exact top-k is reasonable") {
    val exact = Similarity.annCosineTopK(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ivf.search(spark, sf, k = 8, nprobe = 4)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // nprobe/k = half the space probed; uniform synthetic vectors have
    // weak cluster structure, so the bar is intentionally modest
    assert(recall >= 0.3, s"IVF recall was $recall")
  }

  test("ivf_recall matches an independently computed per-query recall") {
    val exact = Similarity.annCosineTopK(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val approx = Ivf.search(spark, sf, Ivf.K, Ivf.NProbe, Ivf.TopK, Ivf.NQueries)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.groupBy(_._1).view
      .mapValues(_.count(approx.contains).toLong).toMap
    val rows = Ivf.recallVsExact(spark, sf).collect()
    assert(rows.length == Ivf.NQueries)
    rows.foreach { r =>
      val (q, hits, rec) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(hits == expected(q), s"query $q: $hits vs ${expected(q)}")
      assert(rec == hits.toDouble / Ivf.TopK)
    }
  }

  test("ivf search job count is independent of query count") {
    def jobsFor(n: Int): Int =
      jobsIn(s"ivf-jobs-$n")(Ivf.search(spark, sf, k = 8, nprobe = 2, nQueries = n).count())
    val few = jobsFor(2)
    val many = jobsFor(8)
    assert(few == many,
      s"driver-side per-query work detected: $few jobs for 2 queries vs $many for 8")
  }
}
