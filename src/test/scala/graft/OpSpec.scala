package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry build and its one name lookup. No Spark session needed:
  * neither runs a query. */
class OpSpec extends AnyFunSuite {

  private val noop: Op.Q = (_, _) => throw new IllegalStateException("not run")

  test("the registry build throws on a duplicate key and names it") {
    val e = intercept[IllegalArgumentException](Op.index(Seq(
      Op("twice", noop, "SELECT 1"), Op("once", noop, "SELECT 2"),
      Op("twice", noop, "SELECT 3", Op.Ext))))
    assert(e.getMessage.contains("twice") && !e.getMessage.contains("once"), e.getMessage)
  }

  test("lookup returns the named ops in the order given and throws on an unknown name") {
    val names = Seq("q10_discount_impact", "dedup_exact", "q01_top_products")
    assert(SparkEntry.lookup(names).map(_.key) == names)
    assert(SparkEntry.lookup(names).map(_.oracleSql) == names.map(SparkEntry.oracleSql))
    val e = intercept[IllegalArgumentException](
      SparkEntry.lookup(Seq("q01_top_products", "q01_top_prodcts")))
    assert(e.getMessage.contains("q01_top_prodcts"), e.getMessage)
  }
}
