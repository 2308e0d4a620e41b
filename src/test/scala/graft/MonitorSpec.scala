package graft

import graft.monitor.Monitor

/** Health-rollup semantics (reference pipeline_monitor.py:84-91,200-266):
  * per-check statuses, alert counts, and the healthy/degraded/critical
  * verdict, including the >25h last-run-age critical branch.
  */
class MonitorSpec extends SparkSpec {

  test("registered monitor_health is one row with consistent verdict") {
    val r = Monitor.healthRollup(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    // Det.LastRunTs is 1.5h before as-of: the ok branch
    assert(row.getAs[Double]("hours_since_last_run") == 1.5)
    assert(row.getAs[String]("last_execution_status") == "ok")
    val crit = row.getAs[Long]("alerts_critical")
    val warn = row.getAs[Long]("alerts_warning")
    val health = row.getAs[String]("pipeline_health")
    assert(Set("healthy", "degraded", "critical")(health))
    if (crit > 0) assert(health == "critical")
    else if (warn > 0) assert(health == "degraded")
    else assert(health == "healthy")
    assert(row.getAs[Double]("overall_health_score") ==
      row.getAs[Double]("quality_score"))
  }

  test("last run older than 25h is critical and dominates the verdict") {
    val row = Monitor.healthRollupAt("2024-01-30 12:00:00")(spark, sf).head()
    assert(row.getAs[Double]("hours_since_last_run") == 36.0)
    assert(row.getAs[String]("last_execution_status") == "critical")
    assert(row.getAs[Long]("alerts_critical") == 1L)
    assert(row.getAs[String]("pipeline_health") == "critical")
  }

  test("per-check statuses agree with the underlying relations") {
    val row = Monitor.healthRollup(spark, sf).head()
    val anyStale = Monitor.freshnessLag(spark, sf)
      .filter(org.apache.spark.sql.functions.col("status") =!= "fresh")
      .count() > 0
    assert((row.getAs[String]("freshness_status") == "warning") == anyStale)
    val score = quality.Quality.qualityScore(spark, sf)
      .head().getAs[Double]("quality_score")
    assert(row.getAs[Double]("quality_score") == score)
    assert((row.getAs[String]("quality_status") == "degraded") == (score < 95.0))
  }

  test("monitoring report JSON carries the verdict and alerts consistently") {
    def report(lastRun: String) =
      Monitor.reportJsonOver(Monitor.healthRollupAt(lastRun)(spark, sf), lastRun, Det.AsOfTs)
    val json = report("2024-01-30 12:00:00")
    assert(json.contains(""""pipeline_health":"critical""""))
    assert(json.contains(""""check":"last_execution""""))
    assert(json.contains(""""threshold_hours":25"""))
    assert(json.contains(""""overall_health_score":"""))
    // healthy-side report has no critical alert
    val ok = report(Det.LastRunTs)
    assert(!ok.contains(""""severity":"critical""""))
  }

  test("seasonal anomaly flags agree with the cell-mean gates") {
    val rows = Monitor.seasonalAnomaly(spark, sf).collect()
    rows.foreach { r =>
      val ratio = r.getAs[Double]("ratio")
      val flag = r.getAs[String]("flag")
      // the integer gate and the reported ratio must tell one story
      assert(if (flag == "high") ratio > 2.0 else ratio < 0.5,
        s"flag $flag but ratio $ratio")
      val cnt = r.getAs[Long]("cnt")
      val expect = cnt * r.getAs[Long]("n_dates") > 2 * r.getAs[Long]("cell_total")
      assert((flag == "high") == expect)
    }
    // (date, hour) keys are unique in the report
    val keys = rows.map(r => (r.getAs[String]("event_date"), r.getAs[Int]("hod")))
    assert(keys.distinct.length == keys.length)
  }

  test("ScaleGen's planted seasonality surfaces as exactly the coin-selected high cells") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // uniform synthetic stream: 28 days x 24 hours x 3 events — no cell
    // can trip the ±2x gates before planting
    val uniform = (0 until 28).flatMap { d =>
      (0 until 24).flatMap { h =>
        (0 until 3).map(k =>
          ((d * 24L + h) * 3 + k, f"2024-01-${d + 1}%02d $h%02d:15:00"))
      }
    }.toDF("event_id", "s")
      .select(col("event_id"), to_timestamp(col("s")).as("ts"))
    assert(Monitor.seasonalAnomalyOver(uniform).count() == 0,
      "the uniform stream must be anomaly-free before planting")
    val planted = ScaleGen.withPlantedSeasonality(uniform)
    // expected spike set: the SAME md5 date coin the injector uses,
    // evaluated independently here
    val expected = (0 until 28).map(d => f"2024-01-${d + 1}%02d")
      .filter { ds =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"spike:$ds".getBytes("UTF-8"))
        val v = java.lang.Long.parseLong(
          h.take(4).map("%02x".format(_)).mkString, 16)
        v % 29 == 0
      }.map(ds => (ds, 13)).toSet
    assert(expected.nonEmpty, "the 28-day window should contain >= 1 coin date")
    val flagged = Monitor.seasonalAnomalyOver(planted).collect()
      .map(r => (r.getAs[String]("event_date"), r.getAs[Int]("hod"),
        r.getAs[String]("flag")))
    assert(flagged.forall(_._3 == "high"))
    assert(flagged.map(t => (t._1, t._2)).toSet == expected,
      s"flagged ${flagged.toSeq} vs planted $expected")
  }
}
