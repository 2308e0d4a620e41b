package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered op, declared once in its module's `ops`: the key, the
  * Spark query over an sf directory, the DuckDB-equivalent oracle SQL over
  * the same parquet tables (column names and values match exactly — see
  * [[Det]]), and the op's bench roster class. */
final case class Op(key: String, run: Op.Q, oracleSql: String, roster: Op.Roster = Op.Eval)

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

  /** Key → op; throws on a key declared twice, naming it. */
  def index(ops: Seq[Op]): Map[String, Op] = {
    val dups = ops.groupBy(_.key).collect { case (k, os) if os.size > 1 => k }
    require(dups.isEmpty, s"duplicate op key: ${dups.toSeq.sorted.mkString(", ")}")
    ops.map(o => o.key -> o).toMap
  }
}
