package graft

import graft.analytics.WindowOps
import org.apache.spark.sql.functions._

class WindowExtSpec extends SparkSpec {

  test("customer timeline window invariants hold") {
    val rows = WindowOps.customerTimeline(spark, sf)
      .filter(col("customer_id") === 1).orderBy("order_rank").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("order_rank") == 1)
    assert(rows.head.isNullAt(rows.head.fieldIndex("days_since_prev")))
    val running = rows.map(_.getAs[Double]("running_revenue"))
    assert(running.zip(running.tail).forall { case (a, b) => b >= a })
    val pct = rows.map(_.getAs[Double]("pct_of_customer_revenue")).sum
    assert(math.abs(pct - 100.0) < 1e-6)
  }

  test("minhash_sig is callable from SQL once registered") {
    graft.functions.GraftExtensions.register(spark)
    val sig = spark.sql("SELECT minhash_sig(array('a b c', 'b c d')) AS m")
      .head().getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(_ > 0))
    val sig4 = spark.sql("SELECT minhash_sig(array('a b c'), 4) AS m")
      .head().getSeq[Long](0)
    assert(sig4.length == 4)
    // matches the Column-API expression
    import spark.implicits._
    val viaCol = Seq(Seq("a b c", "b c d")).toDF("sh")
      .select(graft.functions.MinHashSig.signatureOf("sh").as("m"))
      .head().getSeq[Long](0)
    assert(viaCol == sig)
  }
}
