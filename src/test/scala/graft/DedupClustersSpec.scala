package graft

import graft.text.{DedupClusters, TextOps}
import org.apache.spark.sql.functions._

class DedupClustersSpec extends SparkSpec {

  test("every document gets exactly one cluster, keepers are minima") {
    val c = DedupClusters.dedupClusters(spark, sf)
    assert(c.count() == Tables.documents(spark, sf).count())
    assert(c.select("doc_id").distinct().count() == c.count())
    // keeper iff doc_id == cluster_id; one keeper per cluster
    val keepers = c.filter(col("is_keeper"))
    assert(keepers.count() == c.select("cluster_id").distinct().count())
    assert(c.filter(col("cluster_id") > col("doc_id")).count() == 0)
  }

  test("near-duplicate pairs end up in the same cluster") {
    val c = DedupClusters.dedupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = TextOps.dedupJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(c(r.getLong(0)) == c(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across clusters")
    }
  }

  test("a documents table rewritten under the same dir is clustered again") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup_clusters_vintage").toString
    val (dup, other) = ("the quick brown fox jumps over the lazy dog again",
      "a completely different sentence about rivers and hills today")
    def vintage(texts: Seq[String]): Map[Long, Long] = {
      texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t, "en", "src1") }
        .toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      DedupClusters.dedupClusters(spark, dir).select("doc_id", "cluster_id")
        .as[(Long, Long)].collect().toMap
    }
    assert(vintage(Seq(dup, dup, other)) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // same session, same dir, new rows: docs 2 and 3 are now the clones
    assert(vintage(Seq(other, dup, dup)) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("stratified sample respects per-language rates") {
    val sample = DedupClusters.stratifiedSample(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("kept")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("kept")).toMap
    val totals = Tables.documents(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    val enRate = sample.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.08 && enRate < 0.35, s"en rate $enRate")
    val deRate = sample.getOrElse("de", 0L).toDouble / totals("de")
    assert(deRate > 0.4 && deRate < 0.8, s"de rate $deRate")
    // deterministic across calls
    val again = DedupClusters.stratifiedSample(spark, sf)
    assert(DedupClusters.stratifiedSample(spark, sf).except(again).count() == 0)
  }
}
