package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The plan audit ([[PlanAudit]]) of every registered key, recomputed at
  * sf0.001, against the committed `docs/PLAN_AUDIT.json` (regenerate it
  * with a no-argument `runMain graft.ExplainDump`) and against each op's
  * hazard allowlist ([[Op.hazards]]). A drifted fingerprint or count
  * means a plan changed: regenerate the file in the same change, so the
  * diff shows which keys moved. */
class PlanAuditSpec extends SparkSpec {

  private val committedPath = "docs/PLAN_AUDIT.json"

  /** The committed audit line of each key. */
  private lazy val committed: Map[String, String] =
    Files.readAllLines(Paths.get(committedPath)).asScala.toSeq
      .filter(_.startsWith("\""))
      .map(l => l.drop(1).takeWhile(_ != '"') -> l.stripSuffix(","))
      .toMap

  /** Each key whose recomputed line differs from its committed one. */
  private def drift(entries: Seq[(String, PlanAudit.Entry)]): Seq[String] =
    entries.collect { case (k, e) if !committed.get(k).contains(PlanAudit.line(k, e)) =>
      s"$k\n  committed:  ${committed.getOrElse(k, "(none)")}\n  recomputed: ${PlanAudit.line(k, e)}"
    }

  test("keys whose Expand order depends on earlier plans audit the same alone") {
    // their plan text orders Expand projections by the expression ids
    // that plans built before them in the same JVM consumed; the audit
    // must not, so audited first and alone they match the full pass's
    // committed lines
    val alone = drift(PlanAudit.audit(spark, sf,
      SparkEntry.lookup(Seq("profile_tables", "text_decontamination"))))
    if (alone.nonEmpty) fail(alone.mkString("\n"))
  }

  private lazy val full: Seq[(String, PlanAudit.Entry)] =
    PlanAudit.audit(spark, sf, SparkEntry.ops.sortBy(_.key))

  test("every registered key's plan matches its committed audit line") {
    assert(committed.keySet == SparkEntry.queries.keySet,
      s"$committedPath keys differ from the registry: " +
        s"missing ${SparkEntry.queries.keySet -- committed.keySet}, " +
        s"unregistered ${committed.keySet -- SparkEntry.queries.keySet}")
    val drifted = drift(full)
    if (drifted.nonEmpty) fail(s"plans drifted from $committedPath (regenerate it with " +
      s"runMain graft.ExplainDump if the change is meant):\n${drifted.mkString("\n")}")
    assert(PlanAudit.render(full) == Files.readString(Paths.get(committedPath)))
  }

  test("every hazard node has an allowlist reason, and every reason its hazard") {
    val v = PlanAudit.violations(full.toMap, SparkEntry.ops.map(o => o.key -> o.hazards).toMap)
    if (v.nonEmpty) fail(v.mkString("\n"))
    SparkEntry.ops.flatMap(_.hazards.values).foreach(r => assert(r.trim.nonEmpty))
  }

  test("two COUNT(DISTINCT)s in one aggregate are one Expand, rejected without a reason") {
    import org.apache.spark.sql.functions.countDistinct
    val lines = Tables.lineitem(spark, sf)
      .groupBy("l_suppkey").agg(countDistinct("l_orderkey"), countDistinct("l_partkey"))
    val e = PlanAudit.audit(spark, sf, Seq(Op("two_distincts", (_, _) => lines, "")))
    assert(e.head._2.hazards(Op.Expand) == 1, e)
    assert(PlanAudit.violations(e.toMap, Map.empty) ==
      Seq("two_distincts: 1 expand node(s) without an allowlist reason"))
    assert(PlanAudit.violations(e.toMap, Map("two_distincts" -> Map(Op.Expand -> "bounded"))).isEmpty)
  }

  private val clean = PlanAudit.Entry("0", 1, 0, Op.Hazards.map(_ -> 0).toMap)

  test("a reason for a hazard the key no longer has fails") {
    assert(PlanAudit.violations(Map("k" -> clean), Map("k" -> Map(Op.SortAggregate -> "bounded"))) ==
      Seq("k: allowlists sort_aggregate, but its plan has none"))
  }

  test("allowlisted keys must be registered keys") {
    assert(PlanAudit.violations(Map("k" -> clean), Map("gone" -> Map(Op.Expand -> "bounded"))) ==
      Seq("gone: allowlisted, but not a registered key"))
  }
}
