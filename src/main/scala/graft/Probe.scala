package graft

import graft.orchestrate.Orchestrator

/** Dev-tool main: time a single registered query (median over N runs)
  * at a given SF dir — the per-op triage step between "the full bench
  * ladder is slow" and knowing WHICH operator crossed a scale cliff.
  * Same session ([[Sessions.fromEnv]]) and timing routine
  * ([[Bench.measure]]) as Bench, so a probe number is a Bench number.
  * Prints the row count too, because at scale the interesting failures
  * are output-cardinality explosions, not slow scans, and the classes
  * Spark's code generator compiled in each call: after the first, a
  * call compiles none unless the op generates different code per call
  * or more classes than [[Sessions.CodegenCacheEntries]] holds.
  *
  * Usage: runMain graft.Probe <sfDir> <queryName> [runs]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val q = SparkEntry.lookup(Seq(name)).head.run
    val spark = Sessions.fromEnv()
    // noop sink (guide §1.4): count() lets the optimizer prune aggregate
    // expressions (a probed COUNT(DISTINCT) op would lose its Expand and
    // time the wrong plan); noop computes every column of every row
    val compiles = Seq.newBuilder[Long]
    val (med, spread, _) = Bench.measure(runs) {
      val c0 = Orchestrator.compiles()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      compiles += Orchestrator.compiles() - c0
    }
    println(f"[probe] $name median of $runs: $med%.2fs spread $spread%.3f")
    println(s"[probe] $name compiles per call: ${compiles.result().mkString(" ")}")
    println(s"[probe] $name rows=${q(spark, sfDir).count()}")
    spark.stop()
  }
}
