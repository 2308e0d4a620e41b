package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump (dev tool). Without a name list it writes the plan
  * audit of every registered op, sorted by key ([[PlanAudit]]; committed
  * as `docs/PLAN_AUDIT.json` and checked by PlanAuditSpec), so the
  * physical-plan properties claimed in SURVEY §8 (broadcast dims, single
  * order-key fact shuffle, no fact-wide Expand) hold for every key, not
  * for a hand-picked subset. With a name list (or `ALL`) it writes the
  * `explain("formatted")` text of those ops to a markdown file, for
  * reading a plan.
  *
  * Usage: runMain graft.ExplainDump [sfDir] [out] [q1,q2|ALL]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "docs/PLAN_AUDIT.json"
    // a name list dumps a handful of plans, e.g. against a LARGE corpus
    // (plan compilation is cheap, but the measured-size broadcast gate
    // counts its dim at plan-build time, so planning every op against a
    // 100x rung pays a count per gated op)
    val names = args.lift(2)
    val ops = names.filter(_ != "ALL") match {
      case Some(list) => SparkEntry.lookup(list.split(",").map(_.trim).distinct.sorted.toSeq)
      case None => SparkEntry.ops.sortBy(_.key)
    }
    // 4 partitions, AQE off: static plans are easier to review, and the
    // partition count is part of every dumped plan's text
    val spark = Sessions.local(cores = 4, shufflePartitions = 4)

    val text = if (names.isEmpty) PlanAudit.render(PlanAudit.audit(spark, sfDir, ops)) else {
      val sb = new StringBuilder
      sb.append("# Physical plans (generated by `runMain graft.ExplainDump`)\n\n")
      sb.append(s"Input: `$sfDir`, shuffle.partitions=4, AQE off (static plans are\n")
      sb.append("easier to review; AQE only re-optimizes at runtime).\n")
      ops.foreach { op =>
        val formatted = op.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## ${op.key}\n\n```\n$formatted```\n")
      }
      sb.toString
    }
    val p = Paths.get(out)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, text)
    println(s"wrote ${ops.length} ${if (names.isEmpty) "plan audits" else "plans"} to $out")
    spark.stop()
  }
}
