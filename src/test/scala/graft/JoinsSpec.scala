package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}

/** The measured-size broadcast gate for scaling dimensions: the hint
  * must track the DATA, not the (opaque, RDD-backed) stats — broadcast
  * at or under the row budget, plain join above it. The fact build,
  * trade-edge build, and the headline dim joins all route scaling dims
  * through this, so the same code broadcasts at driver SFs and
  * degrades to a shuffle join on the dim-scaled ladder rungs. */
class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
    // the optimized plan is where EliminateResolvedHint has folded the
    // broadcast() marker into Join.hint — the unanalyzed plan has not
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint != JoinHint.NONE => j
    }.nonEmpty

  test("a dim at or under the budget is broadcast") {
    val dim = (1 to 10).map(i => (i.toLong, s"d$i")).toDF("k", "v")
    val fact = (1 to 100).map(i => (i.toLong % 10 + 1, i)).toDF("k", "m")
    val joined = fact.join(Joins.broadcastIfSmall(dim, maxRows = 10), "k")
    assert(hasBroadcastHint(joined), "expected a broadcast hint at 10 <= 10")
    assert(joined.count() == 100)
  }

  test("a dim past the budget is NOT force-broadcast") {
    val dim = (1 to 11).map(i => (i.toLong, s"d$i")).toDF("k", "v")
    val fact = (1 to 100).map(i => (i.toLong % 10 + 1, i)).toDF("k", "m")
    val joined = fact.join(Joins.broadcastIfSmall(dim, maxRows = 10), "k")
    assert(!hasBroadcastHint(joined), "expected no hint at 11 > 10")
    assert(joined.count() == 100)
  }

  /** The gate's [[Memo]] slots: (tag, canonicalized plan hash, budget). */
  private def gateSlots: Set[Any] = Memo.entries.keySet.filter {
    case ("broadcast_gate", _, _) => true
    case _ => false
  }

  private def gateSlot(df: org.apache.spark.sql.DataFrame, maxRows: Long) =
    ("broadcast_gate", df.queryExecution.analyzed.semanticHash(), maxRows)

  test("the gate decision is memoized per (app, plan, budget) — one count per key") {
    // the measuring count() must leave the timed serve path after the
    // first invocation: structurally identical re-derivations of the
    // same dim projection hit the memo (r14 judge finding: the eager
    // count inside every gated query cost q06/q07 +56%)
    val before = gateSlots
    def added = (gateSlots -- before).size
    val dim = (1 to 10).map(i => (i.toLong, s"memo$i")).toDF("k", "v")
    assert(jobsIn("gate-first")(Joins.broadcastIfSmall(dim, maxRows = 10)) > 0,
      "the first call measures")
    assert(added == 1, "first call records one decision")
    // same logical plan, fresh DataFrame object → same canonicalized key
    val again = (1 to 10).map(i => (i.toLong, s"memo$i")).toDF("k", "v")
    assert(jobsIn("gate-again")(Joins.broadcastIfSmall(again, maxRows = 10)) == 0,
      "an identical plan re-uses the decision without counting")
    assert(added == 1, "identical plan re-uses the decision")
    // a different budget is a different decision
    Joins.broadcastIfSmall(dim, maxRows = 5)
    assert(added == 2, "budget is part of the key")
    // a different projection is a different plan → measured fresh
    Joins.broadcastIfSmall(dim.select("k"), maxRows = 10)
    assert(added == 3, "different plan measures fresh")
  }

  test("q01/q04/q08 route dim_part through the gate (broadcast at spec scale)") {
    // the last hard broadcast(dimPart) hints were removed in r15: at
    // spec scale the gate must still CHOOSE broadcast (the planner's
    // opaque stats would sort-merge), and the memo must show the
    // decisions came from the gate, not a hint
    Seq(analytics.Analytics.q01 _, analytics.Analytics.q04 _, analytics.Analytics.q08 _)
      .foreach { q =>
        val plan = q(spark, sf).queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"), s"expected broadcast dim join:\n$plan")
        assert(!plan.contains("SortMergeJoin"), "dim join fell back to sort-merge")
      }
    val dp = graft.warehouse.Warehouse.dimPart(spark, sf)
    Seq(dp.select("product_key", "p_name", "p_brand"), dp.select("product_key", "p_type"))
      .foreach(p => assert(gateSlots(gateSlot(p, Joins.MaxBroadcastRows)),
        s"expected a gate decision for ${p.columns.mkString(",")}"))
  }

  test("the fact build's scaling-dim joins arrive via broadcast at spec scale") {
    // at sf0.001 both gated dims are far under the budget, so the
    // physical plan must show broadcast joins — the measured gate
    // choosing, where the static planner (opaque Dist-ranked stats)
    // would sort-merge a 1500-row dimension at any scale
    val plan = graft.warehouse.Warehouse.buildFact(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      s"expected >= 3 broadcast dim joins in:\n$plan")
  }

  test("the served fact is a stored parquet scan, value-equal to the build") {
    // the store discards the join lineage (the 300x ENOSPC lesson: a
    // cached plan pins its shuffle files for the session's lifetime)
    val served = graft.warehouse.Warehouse.fact(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("parquet"), s"expected a parquet scan serve path in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "served fact must not re-run the build joins")
    val built = graft.warehouse.Warehouse.buildFact(spark, sf)
    assert(served.count() == built.count())
    assert(served.exceptAll(built).isEmpty && built.exceptAll(served).isEmpty,
      "stored fact differs from a fresh build")
  }

  test("served dims are value-equal to fresh builds (StoreVersion staleness guard)") {
    // staleness of stored warehouse assets rests on bumping StoreVersion
    // when a derivation changes — and buildFact consumes the SERVED dims,
    // so a stale dim poisons the fact and even the fact equality test
    // above passes. Compare each served dim against a direct build from
    // the raw tables: an unbumped version change fails HERE.
    val w = graft.warehouse.Warehouse
    Seq(
      ("dim_part", w.dimPart(spark, sf), w.buildDimPart(spark, sf)),
      ("dim_customer", w.dimCustomer(spark, sf), w.buildDimCustomer(spark, sf)),
      ("dim_date", w.dimDate(spark, sf), w.buildDimDate(spark, sf)),
      ("dim_payment", w.dimPayment(spark, sf), w.buildDimPayment(spark, sf)),
    ).foreach { case (name, served, built) =>
      assert(served.count() == built.count(), s"$name row count drifted")
      assert(served.exceptAll(built).isEmpty && built.exceptAll(served).isEmpty,
        s"stored $name differs from a fresh build — StoreVersion not bumped?")
    }
  }
}
