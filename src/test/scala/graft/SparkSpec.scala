package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites — one local session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread, counted under job group
    * `group` (the status tracker is fed asynchronously; poll until the
    * count is stable). */
  def jobsIn(group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    var prev = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    while (cur != prev) {
      prev = cur; Thread.sleep(200)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
    }
    cur
  }

  /** Classes Spark's code generator compiles while `body` runs. */
  def compilesIn(body: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // UTC and the production codegen cache capacity
      .config(Sessions.EngineConfs.toMap)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // mirror the production sessions (Sessions.local): queries
    // may reference graft SQL functions by name, e.g. nfc_normalize in
    // the canonical-dedup digest
    graft.functions.GraftExtensions.register(s)
    s
  }
}
