package graft

import java.nio.file.{Files, Paths}

/** [[Tables]] infers each source table's schema once per on-disk
  * vintage: later reads pass the cached schema and start no job, and a
  * rewritten table is inferred again. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of a source table starts no job") {
    // a private copy, so the first read here is the one that infers
    val dir = Files.createTempDirectory("tables_orders").toString
    Files.copy(Paths.get(s"$sf/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val first = jobsIn("tables-first")(Tables.orders(spark, dir))
    assert(first == 1, s"the first read infers the schema with one job, started $first")
    assert(jobsIn("tables-second")(Tables.orders(spark, dir)) == 0)
    Tables.orders(spark, sf)
    assert(jobsIn("tables-shared")(Tables.orders(spark, sf)) == 0)
    assert(Tables.orders(spark, dir).schema == spark.read.parquet(s"$sf/orders.parquet").schema)
  }

  test("a rewritten table is inferred again") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(jobsIn("tables-cached")(Tables.region(spark, dir)) == 0)
    Seq((0L, "AFRICA", "lorem")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("tables-rewritten") { read = Tables.region(spark, dir) } == 1)
    assert(read.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(read.as[(Long, String, String)].collect().toSeq == Seq((0L, "AFRICA", "lorem")))
  }
}
