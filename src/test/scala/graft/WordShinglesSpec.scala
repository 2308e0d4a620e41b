package graft

import graft.functions.WordShingles
import graft.text.TextOps
import org.apache.spark.sql.functions._

class WordShinglesSpec extends SparkSpec {

  test("native shingles are bit-equal to the HOF formulation on every document") {
    val mismatches = Tables.documents(spark, sf)
      .select(
        TextOps.shinglesNative.as("native"),
        expr(TextOps.shinglesE).as("hof"))
      .filter(col("native") =!= col("hof")) // array equality = length + elementwise + order
      .count()
    assert(mismatches == 0)
  }

  test("shingles below the width yield an empty array, width is configurable") {
    import spark.implicits._
    val out = Seq("a b", "a b c d").toDF("text")
      .select(
        WordShingles.of(expr("split(text, ' ')")).as("tri"),
        WordShingles.of(expr("split(text, ' ')"), 2).as("bi"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq())
    assert(out(0).getSeq[String](1) == Seq("a b"))
    assert(out(1).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](1) == Seq("a b", "b c", "c d"))
  }

  test("non-dedup mode is bit-equal to the HOF occurrence formulation") {
    val toks = TextOps.toksE
    val hofBigrams =
      s"""CASE WHEN size($toks) >= 2 THEN
            transform(sequence(1, size($toks) - 1),
              i -> concat(element_at($toks, i), ' ', element_at($toks, i + 1)))
          ELSE array() END"""
    val mismatches = Tables.documents(spark, sf)
      .select(
        graft.ext.Extensions.bigramsCol.as("native"),
        expr(hofBigrams).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("non-dedup mode keeps duplicate occurrences in order") {
    import spark.implicits._
    val out = Seq("x y x y").toDF("text")
      .select(WordShingles.of(expr("split(text, ' ')"), 2, dedup = false).as("sh"))
      .head().getSeq[String](0)
    assert(out == Seq("x y", "y x", "x y"))
  }

  test("duplicate shingles keep first-occurrence order like array_distinct") {
    import spark.implicits._
    val out = Seq("x y x y x y").toDF("text")
      .select(WordShingles.of(expr("split(text, ' ')")).as("sh"))
      .head().getSeq[String](0)
    assert(out == Seq("x y x", "y x y"))
  }
}
