package graft

import graft.ext.TemporalJoins
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

class TemporalJoinsSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin attaches the latest right row at or before each left row") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 150L, 20.0), (2L, 60L, 30.0))
      .toDF("k", "t", "v")
      .select(col("k"), col("t").as("rt"), col("v"))
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "rt",
        payload = Seq("v"), rightTieBreak = Seq("v"))
      .orderBy("k", "t").collect()
    // left (1,100) sees the equal-timestamp right row (inclusive as-of)
    assert(out(0).getAs[Double]("v") == 10.0)
    // left (1,200) sees the later right row at t=150
    assert(out(1).getAs[Double]("v") == 20.0)
    // left (2,50) has no right row at or before it -> null
    assert(out(2).isNullAt(out(2).fieldIndex("v")))
  }

  test("asofJoin breaks right-side timestamp ties by the tiebreak column") {
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 90L, 5.0), (1L, 90L, 7.0)).toDF("k", "rt", "v")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "rt",
      payload = Seq("v"), rightTieBreak = Seq("v")).collect()
    assert(out.head.getAs[Double]("v") == 7.0) // last in tiebreak order wins
  }

  test("asofJoin payload stays row-consistent when the latest right row has null fields") {
    val left = Seq((1L, 100L)).toDF("k", "t")
    // latest right row (t=90) has a NULL v; an older row (t=50) has v=5.0.
    // The output must carry (id=2, v=null), never the mix (id=2, v=5.0).
    val right = Seq((1L, 50L, Some(5.0), 1L), (1L, 90L, None, 2L))
      .toDF("k", "rt", "v", "rid")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "rt",
      payload = Seq("v", "rid"), rightTieBreak = Seq("rid")).head()
    assert(out.getAs[Long]("rid") == 2L)
    assert(out.isNullAt(out.fieldIndex("v")),
      s"payload mixed fields across right rows: $out")
  }

  test("rangeJoin rejects a non-positive bound instead of silently matching nothing") {
    val df = Seq((1L, 10L)).toDF("k", "us")
    intercept[IllegalArgumentException] {
      TemporalJoins.rangeJoin(df, df, Seq("k"), "us", "us", 0L)
    }
  }

  test("rangeJoin emits each qualifying pair exactly once, bounds inclusive") {
    val left = Seq((1L, 10L, 0L), (1L, 11L, 500L)).toDF("k", "lid", "lus")
    val right = Seq(
      (1L, 20L, 0L),    // gap 0 from lid 10 -> match
      (1L, 21L, 100L),  // gap 100/­-400 -> matches both
      (1L, 22L, 600L),  // gap 600 from lid 10 (> bound 100? no) ... bound below
      (2L, 23L, 50L))   // different key -> never matches
      .toDF("k", "rid", "rus")
    val out = TemporalJoins.rangeJoin(left, right, Seq("k"), "lus", "rus", 100L)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // lid 10 (t=0): rids at 0 and 100 (inclusive upper bound)
    // lid 11 (t=500): rid at 600 (exactly bound away), not 100 (before it is fine? no: rus < lus excluded)
    assert(out == Set((10L, 20L), (10L, 21L), (11L, 22L)))
  }

  test("rangeJoin plans a hash equi-join, not a nested-loop join") {
    val e = Tables.events(spark, sf)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"),
        unix_micros(col("ts")).as("cus"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("pus"))
    val plan = TemporalJoins.rangeJoin(clicks, purchases, Seq("user_id"),
      "cus", "pus", 1000000L).queryExecution.executedPlan
    val nested = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(nested.isEmpty, s"bucketed range join degenerated to nested loop:\n$plan")
  }

  test("asof attribution gap is always non-negative and clicks precede") {
    val out = TemporalJoins.asofClickAttribution(spark, sf)
      .filter(col("click_event_id").isNotNull)
    assert(out.filter(col("gap_us") < 0).count() == 0)
    assert(out.count() > 0)
  }
}
