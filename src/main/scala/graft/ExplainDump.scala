package graft

import java.nio.file.{Files, Paths}

/** Plan-evidence dump (dev tool): writes `explain("formatted")` output
  * for registered ops to a markdown file, so the physical-plan properties
  * claimed in SURVEY §8 (broadcast dims, single order-key fact shuffle,
  * TakeOrderedAndProject top-k, partial aggregation, pushed filters,
  * pruned scans) are reviewable without running anything.
  *
  * Usage: runMain graft.ExplainDump [sfDir] [out.md] [q1,q2|ALL]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    // Optional 3rd arg: comma-separated names, sorted in the dump — used to
    // dump a handful of plans against a LARGE corpus (plan compilation is
    // cheap, but the measured-size broadcast gate counts its dim at
    // plan-build time, so a full dump against a 100x rung pays a count
    // per gated op). Without it (or with ALL) every registered op is
    // dumped, sorted by key: the wholesale audit surface (an audit of a
    // hand-picked subset missed the agg_* COUNT(DISTINCT) Expands).
    val ops = args.lift(2).filter(_ != "ALL") match {
      case Some(names) => SparkEntry.lookup(names.split(",").map(_.trim).distinct.sorted.toSeq)
      case None => SparkEntry.ops.sortBy(_.key)
    }
    // 4 partitions, AQE off: static plans are easier to review, and the
    // partition count is part of every dumped plan's text
    val spark = Sessions.local(cores = 4, shufflePartitions = 4)

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `runMain graft.ExplainDump`)\n\n")
    sb.append(s"Input: `$sfDir`, shuffle.partitions=4, AQE off (static plans are\n")
    sb.append("easier to review; AQE only re-optimizes at runtime).\n")
    ops.foreach { op =>
      val formatted = op.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## ${op.key}\n\n```\n$formatted```\n")
    }
    val p = Paths.get(out)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, sb.toString)
    println(s"wrote ${ops.length} plans to $out")
    spark.stop()
  }
}
