package graft

import graft.functions.SimHashSig
import graft.text.TextOps
import org.apache.spark.sql.functions._

class SimHashSigSpec extends SparkSpec {

  test("native simhash is bit-equal to the HOF formulation on every document") {
    // the production feature set (content tokens) on both sides — the
    // HOF form embeds contentToksE, so the native input must match
    val mismatches = Tables.documents(spark, sf)
      .select(
        SimHashSig.of(expr(TextOps.contentToksE)).as("native"),
        expr(TextOps.simhashHofE).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatches == 0)
  }

  test("simhash handles null tokens like the HOF form (all counters decrement)") {
    import spark.implicits._
    val df = Seq(Seq(Some("alpha"), None), Seq(Some("alpha")))
      .toDF("toks")
      .select(col("toks").cast("array<string>").as("toks"))
    val rows = df.select(
      SimHashSig.of(col("toks")).as("native"),
      expr("""aggregate(sequence(0, 59), cast(0 as bigint), (acc, j) ->
        acc + if(aggregate(transform(toks, t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)),
                   0, (a, h) -> a + if(((shiftright(h, j) & 1)) = 1, 1, -1)) > 0,
                 shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""").as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("simhash of an empty token array is 0 (all counters negative or zero)") {
    import spark.implicits._
    val out = Seq(Array.empty[String]).toDF("toks")
      .select(SimHashSig.of(col("toks")).as("s")).head().getLong(0)
    assert(out == 0L)
  }
}
