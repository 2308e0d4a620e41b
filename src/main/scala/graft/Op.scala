package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered op, declared once in its module's `ops`: the key, the
  * Spark query over an sf directory, the DuckDB-equivalent oracle SQL over
  * the same parquet tables (column names and values match exactly — see
  * [[Det]]), the op's bench roster class, and the plan hazards its
  * physical plan is allowed, each with the one-line reason it is safe
  * ([[PlanAudit]] fails on a hazard without a reason and on a reason
  * without its hazard). */
final case class Op(key: String, run: Op.Q, oracleSql: String, roster: Op.Roster = Op.Eval,
                    hazards: Map[Op.Hazard, String] = Map.empty)

object Op {
  /** A registered query: (session, sf dir) → its result. */
  type Q = (SparkSession, String) => DataFrame

  /** The scale-ladder placement policy, one tag per op. It lived in prose
    * through round 12 and was violated once at a five-hour cost;
    * RosterSpec now asserts it. The ladder derives its skips from these
    * tags (`SPARK_GRAFT_BENCH_SKIP_CLASS`). */
  sealed abstract class Roster(val name: String)
  /** One of the 10 BASELINE.md-comparable analytics queries ([[Bench.headline]]). */
  case object Headline extends Roster("headline")
  /** On the extension-operator bench roster ([[Bench.extOps]]), run at
    * every ladder rung. */
  case object Ext extends Roster("ext")
  /** On the roster, but its OUTPUT is ~quadratic in clone multiplicity
    * (~10–30 M rows × 7 bench passes at 300×): benched at small rungs,
    * class-skipped at the 300× rung. */
  case object Listing extends Roster("listing")
  /** Oracle scales only: a correctness surface, not a scale statement. Recall
    * rows re-run the brute-force exact baseline and capture rows are
    * Θ(n²) all-pairs evals, so they keep their oracle seats (Verify runs
    * every op) but never ride a bench rung: round 12's 300× rung overran
    * its round by hours because a capture row sat on the roster. */
  case object Eval extends Roster("eval")

  /** A physical-plan node that is a scale hazard unless its input is
    * bounded; `name` is its field in `docs/PLAN_AUDIT.json`. */
  sealed abstract class Hazard(val name: String)
  /** `ExpandExec`: multiplies its input rows (distinct aggregates,
    * grouping sets, unpivot). */
  case object Expand extends Hazard("expand")
  /** `SortAggregateExec`: sorts its whole input instead of hashing it. */
  case object SortAggregate extends Hazard("sort_aggregate")
  /** `CartesianProductExec`: every row of one side against every row of
    * the other. */
  case object CartesianProduct extends Hazard("cartesian_product")
  /** `WindowExec` with an empty `partitionSpec`: every row through one
    * task. */
  case object GlobalWindow extends Hazard("global_window")
  val Hazards: Seq[Hazard] = Seq(Expand, SortAggregate, CartesianProduct, GlobalWindow)

  /** Key → op; throws on a key declared twice, naming it. */
  def index(ops: Seq[Op]): Map[String, Op] = {
    val dups = ops.groupBy(_.key).collect { case (k, os) if os.size > 1 => k }
    require(dups.isEmpty, s"duplicate op key: ${dups.toSeq.sorted.mkString(", ")}")
    ops.map(o => o.key -> o).toMap
  }
}
