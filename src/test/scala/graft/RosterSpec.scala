package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale-ladder placement policy, as a red test instead of prose.
  *
  * Round 12 left `semantic_dedup_capture_t45` — a brute-force Θ(n²)
  * all-pairs EVAL row — on the bench roster, and the 300× rung ran ~6 h
  * past the round boundary on it. The policy ("recall/eval rows never
  * ride a scale rung") had existed in PERF_NOTES since round 11; this
  * spec is its mechanization: any future re-listing of an eval row, or
  * a registered query left unclassified, fails the build rather than a
  * ladder. No Spark session needed — this is pure registry arithmetic.
  */
class RosterSpec extends AnyFunSuite {

  private lazy val classes = SparkEntry.rosterClass
  private lazy val keys = SparkEntry.queries.keySet

  test("every registered query carries exactly one valid roster class") {
    assert(classes.keySet == keys,
      s"unclassified or phantom keys: ${(classes.keySet diff keys) ++ (keys diff classes.keySet)}")
    val valid = Set("headline", "ext", "listing", "eval")
    val bad = classes.filterNot { case (_, c) => valid(c) }
    assert(bad.isEmpty, s"invalid roster classes: $bad")
  }

  test("the headline class is exactly Bench.headline") {
    assert(classes.filter(_._2 == "headline").keySet == Bench.headline.toSet)
  }

  test("the bench roster is exactly the ext+listing classes (tags are the source of truth)") {
    val rostered = classes.filter(kv => kv._2 == "ext" || kv._2 == "listing").keySet
    assert(Bench.extOps.toSet == rostered,
      s"roster/tag drift: onRosterNotTagged=${Bench.extOps.toSet diff rostered}, " +
        s"taggedNotOnRoster=${rostered diff Bench.extOps.toSet}")
    assert(Bench.extOps.distinct == Bench.extOps, "duplicate roster entries")
  }

  test("eval rows NEVER appear on the bench roster (the round-12 five-hour lesson)") {
    val offending = Bench.extOps.filter(q => classes(q) == "eval")
    assert(offending.isEmpty,
      s"eval/driver-SF-only rows on the bench roster: $offending — these are " +
        "recall/eval/contract rows whose cost is not a scale statement; " +
        "round 12's 300× rung overran its round by hours on exactly this")
  }

  test("the declared eval and listing sets reference real registered queries") {
    val rostered = (Bench.headline ++ Bench.extOps).toSet
    assert(rostered.subsetOf(keys), s"rosters name unregistered queries: ${rostered diff keys}")
    assert(classes.filter(_._2 == "listing").keySet == Set("ann_lsh_dedup_pairs"))
    assert(classes.count(_._2 == "eval") == keys.size - rostered.size)
  }

  test("the known eval rows are pinned to the eval class") {
    val pinned = Seq("semantic_dedup_capture_t45", "triangle_count_copurchase",
      "triangle_doulion_check", "ivf_recall", "pq_recall", "pq_rerank_recall",
      "ivfpq_recall", "ann_lsh_dedup_pairs_t45")
    pinned.foreach(q => assert(classes.get(q).contains("eval"),
      s"$q must be eval/driver-SF-only, got ${classes.get(q)}"))
    // the pair-LISTING contract op stays rostered but class-skippable
    assert(classes.get("ann_lsh_dedup_pairs").contains("listing"))
    // the sampled census is the exact census's ladder representative
    assert(classes.get("triangle_doulion_copurchase").contains("ext"))
  }
}
