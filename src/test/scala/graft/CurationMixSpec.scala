package graft

import graft.text.{Curation, DedupClusters, TextOps}
import org.apache.spark.sql.functions._

/** Corpus mixing under a token budget, and quality-elected dedup
  * representatives. */
class CurationMixSpec extends SparkSpec {
  import spark.implicits._

  test("mix budget: integer targets follow the weight allocation exactly") {
    // 100 docs per lang, every text exactly 40 chars → 10 est tokens:
    // corpus = 2000 tokens, budget 30% = 600; en 40% → 240, de 15% → 90
    val text = "x" * 40
    val d = ((1 to 100).map(i => (i.toLong, "en", text)) ++
      (1 to 100).map(i => (1000L + i, "de", text)))
      .toDF("doc_id", "lang", "text")
    val rows = Curation.corpusMixBudgetOver(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("en").getLong(1) == 1000L && rows("en").getLong(2) == 240L)
    assert(rows("de").getLong(1) == 1000L && rows("de").getLong(2) == 90L)
    // realized tokens track the target in expectation (10 tokens/doc →
    // ±~40% at these tiny strata is still diagnostic of gross errors
    // like selecting everything or nothing)
    val en = rows("en").getLong(4)
    assert(en > 0 && en < 1000L, s"en selected_tokens $en out of range")
    assert(rows("en").getLong(3) * 10L == en,
      "selected_tokens must equal 10 per selected doc")
  }

  test("mix budget: weight-0 languages select nothing") {
    val d = ((1 to 50).map(i => (i.toLong, "en", "y " * 20)) ++
      (1 to 50).map(i => (500L + i, "xx", "y " * 20)))
      .toDF("doc_id", "lang", "text")
    val langs = Curation.corpusMixBudgetOver(d).collect().map(_.getString(0)).toSet
    assert(!langs.contains("xx"), "unweighted lang must drop out")
  }

  test("mix budget: over-allocated stratum is capped at keep-everything") {
    // a tiny en stratum vs a huge unweighted one: en's target exceeds
    // its stratum, fraction caps at 1.0, every en doc is kept
    val d = ((1 to 5).map(i => (i.toLong, "en", "z " * 30)) ++
      (1 to 500).map(i => (1000L + i, "xx", "z " * 30)))
      .toDF("doc_id", "lang", "text")
    val en = Curation.corpusMixBudgetOver(d).collect()
      .find(_.getString(0) == "en").get
    assert(en.getLong(3) == 5L, s"expected all 5 en docs kept: ${en.getLong(3)}")
  }

  test("keep-best elects the max-quality member of every cluster") {
    val clusters = DedupClusters.dedupClusters(spark, sf)
    val best = DedupClusters.dedupKeepBest(spark, sf)
    // one representative per cluster
    assert(best.count() == clusters.select("cluster_id").distinct().count())
    // the representative's quality is the cluster max, computed
    // independently from the stats surface
    val q = TextOps.withTextStats(
        Tables.documents(spark, sf).select("doc_id", "text"))
      .select("doc_id", "quality_score")
    val clusterMax = clusters.join(q, "doc_id")
      .groupBy("cluster_id").agg(max("quality_score").as("max_q"))
    val mismatches = best.join(clusterMax, "cluster_id")
      .filter(col("rep_quality") =!= col("max_q")).count()
    assert(mismatches == 0)
  }

  test("source accounting: dup rates bounded, token shares sum to 1") {
    val rows = graft.text.Curation.sourceAccounting(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_docs"))
      val dr = r.getAs[Double]("dup_rate")
      assert(dr >= 0.0 && dr < 1.0)
    }
    val s = rows.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(s - 1.0) < 1e-9)
    // cross-check against the corpus-wide exact dedup count
    val uniqueTotal = rows.map(_.getAs[Long]("n_unique")).sum
    val perSourceUnique = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")).as("h"))
      .distinct().count()
    assert(uniqueTotal == perSourceUnique)
  }

  test("temperature mix up-samples the low-resource language") {
    import spark.implicits._
    // lang 'hi' has ~1% of 'en' token mass: at alpha=0.7 its sampled
    // share must exceed its natural share (boost > 1) while 'en'
    // down-samples (boost < 1); shares still sum to 1
    val text100 = (1 to 100).map(i => s"tok$i").mkString(" ")
    val docs = ((1 to 50).map(i => (i.toLong, "en", text100)) :+
      (999L, "hi", "only five tokens right here")).toDF("doc_id", "lang", "text")
    val rows = graft.text.Curation.temperatureMixOver(docs).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(rows("hi").getAs[Double]("boost") > 1.0)
    assert(rows("en").getAs[Double]("boost") < 1.0)
    Seq("natural_share", "temp_share").foreach { c =>
      val s = rows.values.map(_.getAs[Double](c)).sum
      assert(math.abs(s - 1.0) < 1e-9, s"$c sums to $s")
    }
    // the registered frame on the corpus behaves the same way
    val corpus = graft.text.Curation.temperatureMix(spark, sf).collect()
    assert(corpus.nonEmpty)
    val ts = corpus.map(_.getAs[Double]("temp_share")).sum
    assert(math.abs(ts - 1.0) < 1e-9)
  }

  test("exact-cut token budget equals the naive total-order form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // naive: one window over the whole source in (h, doc_id) order —
    // the formulation the bucketed rank-selection must reproduce exactly
    val docs = Tables.documents(spark, sf)
    val d = docs.select(col("doc_id"), col("source"),
        graft.text.TextOps.estBpeTokens.as("toks"))
      .withColumn("h", expr(
        "cast(conv(substr(md5(concat('tb:', cast(doc_id as string))), 1, 12), 16, 10) as bigint)"))
    val b = d.groupBy("source").agg(sum("toks").as("stratum_tokens"))
      .withColumn("budget",
        expr(s"(stratum_tokens * ${graft.text.Curation.TokenBudgetPct}) div 100"))
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = d.join(b, "source")
      .withColumn("cum_before", coalesce(sum("toks").over(w), lit(0L)))
      .filter(col("cum_before") < col("budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("toks").as("selected_tokens"),
        sum("doc_id").as("id_checksum"))
      .orderBy("source").collect().toSeq
    val got = graft.text.Curation.tokenBudgetExact(spark, sf)
      .select("source", "n_selected", "selected_tokens", "id_checksum")
      .collect().toSeq
    assert(got == naive, s"bucketed cut diverged from the total-order cut:\n$got\nvs\n$naive")
  }

  test("dataset split partitions the corpus with stable membership") {
    val rows = graft.text.Curation.datasetSplit(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n, "splits must partition all docs")
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    // train must dominate: 90% in expectation, and with this corpus
    // size at least a strict majority per source
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val bySplit = rs.map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
      val tot = bySplit.values.sum
      assert(bySplit.getOrElse("train", 0L) * 2 > tot, s"$src: train not a majority")
    }
    // membership is a pure function of doc_id: a second run is identical
    val again = graft.text.Curation.datasetSplit(spark, sf).collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("exact-cut budget lands within one document of the target") {
    import org.apache.spark.sql.functions._
    val rows = graft.text.Curation.tokenBudgetExact(spark, sf).collect()
    assert(rows.nonEmpty)
    val maxDoc = Tables.documents(spark, sf)
      .agg(max(graft.text.TextOps.estBpeTokens)).head().getLong(0)
    rows.foreach { r =>
      val sel = r.getAs[Long]("selected_tokens")
      val budget = r.getAs[Long]("budget")
      assert(sel < budget + maxDoc, s"${r.getAs[String]("source")}: overshoot $sel vs $budget")
      assert(sel + maxDoc >= budget, s"${r.getAs[String]("source")}: undershoot $sel vs $budget")
    }
  }
}
