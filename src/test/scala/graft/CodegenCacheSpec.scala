package graft

/** Every generated class stays compiled for the life of the JVM
  * ([[Sessions.CodegenCacheEntries]], which the suite's session
  * carries): a warm rotation over more classes than Spark's default
  * cache holds (100) compiles nothing, and the registered ops whose
  * planning once produced different code per call compile nothing on
  * their warm calls. */
class CodegenCacheSpec extends SparkSpec {

  test("a warm rotation over more classes than Spark's default cache compiles none") {
    // a literal no earlier query used, so every class of the first pass
    // is new and its compile count is the rotation's distinct classes
    val tag = System.nanoTime()
    val rotation = (0 until 150).map(i => () => spark.range(4).selectExpr(s"id * $tag + $i AS v").collect())
    def pass() = compilesIn(rotation.foreach(_()))
    val distinct = pass()
    assert(distinct > 100, s"the rotation generates $distinct classes, not more than Spark's default 100")
    assert(pass() == 0, "a warm pass recompiled classes the first pass compiled")
  }

  test("ops with several distinct counts generate the same code on every call") {
    // Spark's distinct-aggregate rewrite orders the generated code by the
    // counted columns' expression ids, which these ops pin per vintage
    // (quality.Profile.source); text_decontamination's two orderings
    // came up at random, so four warm calls each must hit. AQE off, as
    // Bench and Verify run them: under AQE the codegen stage ids (part
    // of each class) follow the order concurrent stages finish in
    Seq("profile_tables", "text_decontamination").foreach { key =>
      val q = SparkEntry.lookup(Seq(key)).head.run
      Pipeline.withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false")) {
        q(spark, sf).collect()
        assert(compilesIn((1 to 4).foreach(_ => q(spark, sf).collect())) == 0, key)
      }
    }
  }
}
