package graft

import graft.ext.Extensions
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("pii scrub actually redacts the digit runs") {
    val rows = Extensions.piiScrub(spark, sf).collect()
    assert(rows.forall(_.getAs[String]("scrubbed").contains("[ID]")))
    assert(rows.forall(_.getAs[Long]("chars_redacted") > 0))
    assert(rows.forall(r => !r.getAs[String]("scrubbed").exists(_.isDigit)))
  }

  test("ngram frequencies are descending and capped at 50") {
    val rows = Extensions.ngramFreq(spark, sf).collect()
    assert(rows.length == 50)
    val counts = rows.map(_.getAs[Long]("occurrences"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("json props extraction yields sane aggregates") {
    val rows = Extensions.propsExtract(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val avg = r.getAs[Double]("k_avg"); avg > 0 && avg < 1000
    })
  }

  test("rollup grand total equals the direct sum") {
    val rows = Extensions.rollupRevenue(spark, sf).collect()
    val grand = rows.filter(r =>
      r.getAs[String]("year") == "ALL" && r.getAs[String]("month") == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") == Tables.orders(spark, sf).count())
    // subtotal consistency: month rows of a year sum to the year subtotal
    val y = rows.filter(r => r.getAs[String]("year") != "ALL"
      && r.getAs[String]("month") == "ALL").head
    val months = rows.filter(r => r.getAs[String]("year") == y.getAs[String]("year")
      && r.getAs[String]("month") != "ALL")
    assert(months.map(_.getAs[Long]("n_orders")).sum == y.getAs[Long]("n_orders"))
  }

  test("approx count distinct stays within 5% of exact") {
    val approx = Extensions.approxMonthlyTransactionsRaw(spark, sf)
      .agg(sum("approx_transactions")).head().getLong(0)
    val exact = graft.warehouse.Warehouse.fact(spark, sf)
      .select("l_orderkey", "date_key").distinct().count()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("registered bound check reports every HLL estimate within 10% of exact") {
    val rows = Extensions.approxMonthlyTransactions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Boolean]("approx_within_10pct"),
      s"(${r.get(0)}, ${r.get(1)}): HLL estimate outside 10% of ${r.get(2)}"))
  }

  test("fuzzy join blocking finds every edit-1 shape, nothing else") {
    import spark.implicits._
    // substitution (cat~cot), deletion/insertion (cat~cats, at~cat),
    // transposition is dist 2 (act~cat: NOT matched), unrelated (dog)
    val nm = Seq("cat", "cot", "cats", "at", "act", "dog").toDF("name")
    val got = Extensions.fuzzyNamePairsOver(nm).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = Set(("at", "cat"), ("cat", "cats"), ("cat", "cot"), ("act", "at"))
    assert(got == want, s"got $got")
    assert(!got.contains(("act", "cat")), "transposition is edit distance 2")
  }

  test("fuzzy join on parts matches the brute-force answer") {
    val nm = Tables.part(spark, sf).select(col("p_name").as("name")).distinct()
    val brute = nm.as("a").crossJoin(nm.as("b"))
      .filter(col("a.name") < col("b.name")
        && levenshtein(col("a.name"), col("b.name")) <= 1)
      .select(col("a.name"), col("b.name")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val blocked = Extensions.fuzzyNamePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(blocked == brute, "blocking lost or invented a pair")
    assert(blocked.nonEmpty)
  }
}
