package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExpandExec, InputAdapter, LeafExecNode, ReusedSubqueryExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, HashJoin}
import org.apache.spark.sql.execution.window.WindowExec

/** The mechanized plan audit: per registered key, the shape of its
  * physical plan and its hazard nodes, checked against the committed
  * `docs/PLAN_AUDIT.json` and each op's [[Op.hazards]] reasons.
  *
  * Plan text is not reproducible (RDD ids, expression ids, the order of
  * an Expand's projections all move between runs of the same code), and
  * formatted text does not print a window's empty partition spec. So the
  * audit walks the executed plan by node class: through AQE wrappers,
  * subqueries and the plans of cached relations, with the whole-stage
  * codegen wrappers left out.
  */
object PlanAudit {

  /** One key's audit: a hash of its operator tree (node classes in tree
    * order with their depth, and each join's type and build side; no
    * ids, expressions, call sites or paths), its scan count (row-reading
    * leaves), its exchange count (shuffles, broadcasts and reused
    * exchanges) and its count of each [[Op.Hazard]]. */
  final case class Entry(fingerprint: String, scans: Int, exchanges: Int,
                         hazards: Map[Op.Hazard, Int])

  /** Every operator of `p` with its depth, in tree order. */
  def nodes(p: SparkPlan, depth: Int = 0): Seq[(Int, SparkPlan)] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, depth)
    case s: QueryStageExec => nodes(s.plan, depth)
    case w: WholeStageCodegenExec => nodes(w.child, depth)
    case i: InputAdapter => nodes(i.child, depth)
    case _ =>
      val cached = p match {
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Nil
      }
      (depth, p) +: (p.children ++ cached ++ p.subqueries).flatMap(nodes(_, depth + 1))
  }

  private def className(x: AnyRef): String = x.getClass.getSimpleName.stripSuffix("$")

  private def label(p: SparkPlan): String = className(p) + (p match {
    case j: HashJoin => s" ${className(j.joinType)} ${className(j.buildSide)}"
    case j: BroadcastNestedLoopJoinExec => s" ${className(j.joinType)} ${className(j.buildSide)}"
    case j: BaseJoinExec => s" ${className(j.joinType)}"
    case _ => ""
  })

  private def isHazard(h: Op.Hazard, p: SparkPlan): Boolean = (h, p) match {
    case (Op.Expand, _: ExpandExec) => true
    case (Op.SortAggregate, _: SortAggregateExec) => true
    case (Op.CartesianProduct, _: CartesianProductExec) => true
    case (Op.GlobalWindow, w: WindowExec) => w.partitionSpec.isEmpty
    case _ => false
  }

  /** The audit of `df`'s executed plan. */
  def of(df: DataFrame): Entry = {
    val all = nodes(df.queryExecution.executedPlan)
    val tree = all.map { case (d, p) => s"$d ${label(p)}" }.mkString("\n")
    val digest = MessageDigest.getInstance("SHA-256").digest(tree.getBytes(StandardCharsets.UTF_8))
    val ops = all.map(_._2)
    Entry(
      fingerprint = digest.take(8).map("%02x".format(_)).mkString,
      scans = ops.count {
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => false
        case p => p.isInstanceOf[LeafExecNode]
      },
      exchanges = ops.count(p => p.isInstanceOf[Exchange] || p.isInstanceOf[ReusedExchangeExec]),
      hazards = Op.Hazards.map(h => h -> ops.count(isHazard(h, _))).toMap)
  }

  /** The audit of each op over `sfDir`, in the order given, planned with
    * AQE off: the static plan, with exchange reuse decided at planning. */
  def audit(spark: SparkSession, sfDir: String, ops: Seq[Op]): Seq[(String, Entry)] =
    Pipeline.withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false")) {
      ops.map(op => op.key -> of(op.run(spark, sfDir)))
    }

  /** `key`'s line in `docs/PLAN_AUDIT.json`, without the separator. */
  def line(key: String, e: Entry): String = (Seq(s""""fingerprint": "${e.fingerprint}"""",
    s""""scans": ${e.scans}""", s""""exchanges": ${e.exchanges}""") ++
    Op.Hazards.map(h => s""""${h.name}": ${e.hazards(h)}""")).mkString(s""""$key": {""", ", ", "}")

  /** `docs/PLAN_AUDIT.json`: one JSON object, one line per key. */
  def render(entries: Seq[(String, Entry)]): String =
    entries.map { case (k, e) => line(k, e) }.mkString("{\n", ",\n", "\n}\n")

  /** Each hazard `audit` reports without a reason in `allowed`, each
    * reason for a hazard the key no longer has, and each allowlisted key
    * the audit does not know. */
  def violations(audit: Map[String, Entry], allowed: Map[String, Map[Op.Hazard, String]]): Seq[String] = {
    val unknown = allowed.keys.filterNot(audit.contains).toSeq.sorted
      .map(k => s"$k: allowlisted, but not a registered key")
    val perKey = audit.toSeq.sortBy(_._1).flatMap { case (k, e) =>
      val reasons = allowed.getOrElse(k, Map.empty)
      Op.Hazards.flatMap { h =>
        (e.hazards(h), reasons.contains(h)) match {
          case (n, false) if n > 0 => Some(s"$k: $n ${h.name} node(s) without an allowlist reason")
          case (0, true) => Some(s"$k: allowlists ${h.name}, but its plan has none")
          case _ => None
        }
      }
    }
    unknown ++ perKey
  }
}
