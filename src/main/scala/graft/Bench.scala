package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the 10 headline analytics queries (the set
  * BASELINE.md measures) plus the extension-operator roster at
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Every timed op goes
  * through [[measure]] after [[warmUp]] passes, like the baseline's warm
  * local DB.
  */
object Bench {
  val headline: Seq[String] = keys(Op.Headline)

  /** The extension-operator roster (dedup, ANN, text, curation, temporal):
    * timed in Bench's ext pass, in registry order. */
  val extOps: Seq[String] = keys(Op.Ext, Op.Listing)

  private def keys(classes: Op.Roster*): Seq[String] =
    SparkEntry.ops.filter(o => classes.contains(o.roster)).map(_.key)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Sessions.fromEnv: 8 shuffle partitions and AQE off (its extra stage
    // materializations cost ~0.2s/query at bench scale); SPARK_GRAFT_AQE=1
    // switches to the ladder profile. A cluster run at real scale flips
    // both (Sessions.clusterDefaults).
    val spark = Sessions.fromEnv()

    // Warm-up: materialize the star schema once (the reference times its
    // queries against a pre-loaded warehouse, generate_analytics.py:20-24)
    // and run each query so JIT/codegen is steady-state — the baseline's
    // numbers are from a warm local DB (BASELINE.md). 4 passes: C2 JIT of
    // the generated code needs several executions to reach steady state
    // (measured: pass 1 ≈ 2-3× pass 5).
    try {
      warehouse.Warehouse.fact(spark, sfDir).count()
      warehouse.Warehouse.dimDate(spark, sfDir).count()
      warehouse.Warehouse.dimCustomer(spark, sfDir).count()
      warehouse.Warehouse.dimPayment(spark, sfDir).count()
      warmUp(spark, sfDir, headline, passes = 4, label = "warm-up")
    } catch {
      case e: Throwable => // fact/dim materialization above
        System.err.println(s"[bench] warm-up failed: ${e.getClass.getName}: ${e.getMessage}")
    }

    // Timed pass: [[measure]]'s median of 5 runs per query with the
    // relative spread alongside. A failing query must not record a
    // near-zero time and silently improve the total: emit -1 for it,
    // count it, and exit nonzero.
    // Output row count rides along (free — the timed pass collects
    // anyway): at scale the interesting failures are output-cardinality
    // cliffs, not slow scans — e.g. a capped bucket join silently
    // truncating to 0 rows at an occupancy the cap can't hold reads as a
    // 14× "speed-up" unless the artifact shows the rows went to zero.
    def timed(name: String): (String, Double, Double, Long) =
      try {
        val (med, spread, rows) =
          measure(TimedRuns)(SparkEntry.queries(name)(spark, sfDir).collect().length.toLong)
        (name, med, spread, rows)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          (name, -1.0, 0.0, -1L)
      }
    val results = headline.map(timed)
    // Extension-operator pass: folded into the same artifact so a
    // regression in the native expressions (WordShingles/MinHashSig/
    // SimHashSig/SrpSig/QDot/TopKBy) is caught round-over-round. "value"
    // stays the headline total — the BASELINE.md-comparable number.
    // SPARK_GRAFT_BENCH_SKIP_CLASS: roster CLASSES to leave out (see
    // SparkEntry.rosterClass) — the ladder sets `listing` at the 300×
    // rung, so skips derive from the in-code tags; a skipped op's key is
    // absent from the artifact.
    val skipClasses = sys.env.get("SPARK_GRAFT_BENCH_SKIP_CLASS")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val extQs = extOps.filterNot(q => skipClasses.contains(SparkEntry.rosterClass(q)))
    warmUp(spark, sfDir, extQs, passes = 2, label = "ext warm-up")
    val extResults = extQs.map(timed)

    val failures = results.count(_._2 < 0) + extResults.count(_._2 < 0)
    def js(rs: Seq[(String, Double, Double, Long)]): String =
      rs.map { case (k, v, _, _) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    def sjs(rs: Seq[(String, Double, Double, Long)]): String =
      rs.map { case (k, _, s, _) => "\"" + k + "\":" + f"$s%.3f" }.mkString("{", ",", "}")
    def rjs(rs: Seq[(String, Double, Double, Long)]): String =
      rs.map { case (k, _, _, r) => "\"" + k + "\":" + r }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val extTotal = extResults.map(_._2).filter(_ >= 0).sum
    // Two artifacts from one measurement (round-9 driver artifact had
    // parsed:null — the full line with ~40 ext ops × 4 maps outgrew the
    // captured stdout tail window):
    //  - STDOUT gets ONE compact, always-parseable line: headline
    //    queries + totals + failure count (the BASELINE.md-comparable
    //    numbers), with a pointer to the detail file.
    //  - The FULL detail (ext per-op medians, spreads, row counts)
    //    goes to docs/BENCH_LAST.json (override: SPARK_GRAFT_BENCH_OUT),
    //    written BEFORE the stdout line so a tail capture can never
    //    race the file.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "docs/BENCH_LAST.json")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$TimedRuns,"stat":"median",""" +
      s""""queries":${js(results)},"spread":${sjs(results)},""" +
      s""""ext_total":$extTotal,"ext_queries":${js(extResults)},"ext_spread":${sjs(extResults)},""" +
      s""""ext_rows":${rjs(extResults)},""" +
      s""""failures":$failures,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$TimedRuns,"stat":"median",""" +
      s""""queries":${js(results)},"ext_total":$extTotal,""" +
      s""""failures":$failures,"sf":"$sfDir","detail":"$detailPath"}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private val TimedRuns = 5

  /** Runs every op in `qs` `passes` times to bring JIT/codegen to steady
    * state, then drains the warm-up garbage so GC pauses don't land in a
    * timed run. Per-op try: one failing op must not leave the REST of the
    * warm-up unrun (they'd be measured cold and read as regressions); its
    * failure surfaces as -1 in the timed pass, logged here too. */
  private def warmUp(spark: SparkSession, sfDir: String, qs: Seq[String],
                     passes: Int, label: String): Unit = {
    (1 to passes).foreach(_ =>
      qs.foreach(q =>
        try SparkEntry.queries(q)(spark, sfDir).collect()
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $label $q failed: ${e.getClass.getName}: ${e.getMessage}")
        }))
    System.gc()
  }

  /** The one timing routine: GC, then `runs` back-to-back calls of `f`.
    * Returns the MEDIAN seconds, the relative spread (max-min)/median and
    * the last call's result. Median, not best-of-N: best-of-3
    * systematically flatters and drifted 2-4× against the committed
    * median artifacts.
    *
    * The GC drains the PREVIOUS op's garbage before timing this one: a
    * pair-listing op that collects millions of rows (9.9M for
    * ann_lsh_dedup_pairs at the 100x rung) leaves the old gen full, and
    * without this the NEXT three ops in sequence measured 3-5x their
    * fresh-JVM cost — a sick-JVM artifact misattributed to the ops
    * (text_stats read as 10x superlinear; it is exactly linear). The
    * pause lands outside the timed window. */
  private[graft] def measure[A](runs: Int)(f: => A): (Double, Double, A) = {
    System.gc()
    val timedRuns = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val secs = timedRuns.map(_._1)
    val med = median(secs)
    (med, (secs.max - secs.min) / med, timedRuns.last._2)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
