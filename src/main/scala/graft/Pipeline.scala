package graft

import graft.orchestrate.Orchestrator
import graft.orchestrate.Orchestrator.{described, fanOut}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** End-to-end pipeline main — the runnable analogue of the reference's
  * orchestrator entry point (reference: scripts/pipeline_orchestrator.py
  * main(): generate → ingest → quality → production → warehouse →
  * analytics, each retried, fail-fast, JSON execution report).
  *
  * Stages here are in-process DataFrame jobs over one SparkSession; the
  * inter-stage medium is Parquet in `outDir` (the reference's is CSV +
  * Postgres tables). Steps run in sequence, in their declared order;
  * the independent outputs of a step (its tables and CSVs) run as
  * concurrent Spark jobs via [[Orchestrator.fanOut]]. Steps are not
  * overlapped: each would then run longer on shared cores, and the
  * report's per-step durations would stop measuring one step each.
  *
  * Each result is computed once. A step's report reads the outputs just
  * written, as the reference's stages hand their results on: the quality
  * report scores `quality/checks` once, the monitoring report rolls up
  * `monitoring/freshness`, `monitoring/volume_anomaly` and that score,
  * and the load report reads
  * `warehouse/warehouse_load_report`. Every Spark job a step starts
  * carries the description `<step>/<output>`, except the stream's
  * micro-batches, which keep Spark's streaming description.
  *
  * A small input runs interpreted: below [[InterpretedBelowBytes]] of
  * source tables, the DAG runs without code generation
  * ([[InterpretedConfs]]); at or above it, the session is left as it is.
  * Usage: `runMain graft.Pipeline <sfDir> <outDir>`.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val report = run(spark, sfDir, outDir)
    Orchestrator.writeReport(report, s"$outDir/pipeline_execution_report.json")
    println(Orchestrator.toJson(report))
    spark.stop()
    if (report.status != "success") sys.exit(1)
  }

  /** [[main]]'s session builder, unstarted, so a spec can read its
    * options. */
  private[graft] def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(Sessions.LocalConfs.toMap)

  /** The eight-stage DAG as orchestrated steps, under the evaluation
    * profile [[interpretedProfile]] picks from the source bytes. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Orchestrator.Report = {
    val profile = if (interpretedProfile(spark, sfDir)) InterpretedConfs else Nil
    // the results this run computed, keyed `<dir>/<name>`: handles on the
    // parquet outputs, read with the schema they were written with (no
    // inference job), and the quality score collected to the driver
    val written = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    def output(rel: String): DataFrame =
      Option(written.get(rel)).getOrElse(sys.error(s"$rel has not been written in this run"))
    // one job per query of a step: build it and overwrite
    // `<outDir>/<dir>/<name>` as Parquet
    def parquetJobs(dir: String, qs: Seq[(String, Op.Q)]): Seq[(String, () => Unit)] =
      qs.map { case (name, q) =>
        name -> { () =>
          val df = q(spark, sfDir)
          val path = s"$outDir/$dir/$name"
          sources.Sources.fullRefresh(df, path)
          written.put(s"$dir/$name", spark.read.schema(df.schema).parquet(path))
          ()
        }
      }
    val steps = Seq(
      // Streaming ingest FIRST — the events feed lands via the
      // AvailableNow incremental sink so a re-run (or a replayed
      // at-least-once upstream) appends only unseen event_ids: the
      // anti-join keyed sink makes the whole stage idempotent, which is
      // what lets the orchestrator retry it safely (PipelineSpec replays
      // it end-to-end and asserts the count is unchanged). Its
      // micro-batch jobs carry Spark's own streaming description.
      "stream_ingest_events" -> { () =>
        described(spark, "stream_ingest_events", "events") {
          streaming.Streams.streamToIncrementalParquet(
            spark, sfDir, s"$outDir/streaming/events").awaitTermination()
        }
      },
      "cleanse_production" -> { () =>
        fanOut(spark, "cleanse_production", parquetJobs("production", Seq(
          "customers" -> etl.Cleanse.cleanseCustomers _,
          "products" -> etl.Cleanse.cleanseProducts _,
          "lineitems" -> etl.Cleanse.cleanseLineitems _)))
      },
      "quality_checks" -> { () =>
        fanOut(spark, "quality_checks", parquetJobs("quality", Seq(
          "checks" -> quality.Quality.qualityChecks _)))
        // scored once, from the checks just written, and collected: the
        // report and the monitoring step read the one-row local relation
        described(spark, "quality_checks", "quality_report") {
          val score = quality.Quality.qualityScoreOver(spark, sfDir, output("quality/checks"))
          val local = spark.createDataFrame(
            java.util.Arrays.asList(score.collect(): _*), score.schema)
          written.put("quality/score", local)
          sources.Sources.writeJsonReport(quality.Quality.reportJson(local),
            s"$outDir/quality/quality_report.json")
        }
      },
      "load_warehouse" -> { () =>
        // the tables build concurrently: the store serialises each
        // asset's build on its own lock, so the fact waits for the dims
        // it joins and every asset is still built once
        fanOut(spark, "load_warehouse",
          parquetJobs("warehouse", warehouse.WarehouseQueries.ops.map(o => o.key -> o.run)))
        // loader-as-a-step: per-table row counts vs source expectation
        // into the execution flow (load_warehouse.py logs the same
        // reconciliation into its report; the reference fails the stage
        // on a mismatch — so do we, which also makes the retry honest).
        // Read back from the five rows just written, so the check
        // validates what was loaded and the counts run once; the five
        // rows are sorted after the collect, not by a Spark sort.
        described(spark, "load_warehouse", "load_report") {
          val rep = output("warehouse/warehouse_load_report").collect()
            .sortBy(_.getAs[String]("table_name"))
          def status(r: Row) = r.getAs[String]("status")
          sources.Sources.writeJsonReport(
            rep.map(r => s""""${r.getAs[String]("table_name")}":{"rows":${r.getAs[Long]("row_count")},""" +
                s""""source_rows":${r.getAs[Long]("source_rows")},"status":"${status(r)}"}""")
              .mkString("{", ",", "}"),
            s"$outDir/warehouse/load_report.json")
          require(rep.forall(status(_) == "loaded"),
            s"warehouse load mismatch: ${rep.filter(status(_) != "loaded").mkString(",")}")
        }
      },
      "analytics" -> { () =>
        fanOut(spark, "analytics", analytics.Analytics.ops.map { op =>
          op.key -> { () =>
            sources.Sources.writeCsv(op.run(spark, sfDir).repartition(1),
              s"$outDir/analytics/${op.key}")
          }
        })
      },
      "monitoring" -> { () =>
        fanOut(spark, "monitoring", parquetJobs("monitoring", Seq(
          "volume_anomaly" -> monitor.Monitor.volumeAnomaly _,
          "freshness" -> monitor.Monitor.freshnessLag _)))
        // Consolidated report (pipeline_monitor.py:213-266), rolled up from
        // the freshness and volume rows just written and the quality step's
        // score. The reference reads the PREVIOUS run's end time from its
        // execution report. With a prior report we pair its mtime with
        // wall-clock now; WITHOUT one (first run) both ends fall back to the
        // fixed Det pair — mixing the fixed 2024 LastRunTs with wall-clock
        // now would report a spurious 22,000-hour gap and a 'critical'
        // health on every fresh outDir.
        described(spark, "monitoring", "monitoring_report") {
          val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
            .withZone(java.time.ZoneOffset.UTC)
          val prev = java.nio.file.Paths.get(s"$outDir/pipeline_execution_report.json")
          val (lastRun, now) =
            if (java.nio.file.Files.exists(prev))
              (fmt.format(java.nio.file.Files.getLastModifiedTime(prev).toInstant),
                fmt.format(java.time.Instant.now()))
            else (Det.LastRunTs, Det.AsOfTs)
          val rollup = monitor.Monitor.healthRollupOver(lastRun, now)(spark,
            output("monitoring/freshness"), output("monitoring/volume_anomaly"),
            output("quality/score"))
          sources.Sources.writeJsonReport(
            monitor.Monitor.reportJsonOver(rollup, lastRun, now),
            s"$outDir/monitoring/monitoring_report.json")
        }
      },
      // The curated training corpus ships as a fixed number of
      // hash-stable shards (the layout dataloaders consume; membership
      // is a pure function of doc_id, so re-runs and different cluster
      // layouts produce identical shard contents). The benchmark slice
      // itself and benchmark-contaminated documents (passage-level
      // winnow flags) are anti-joined out first — Curation.publishedCorpus
      // — the decontamination gate every training pipeline runs before
      // publishing.
      "curate_corpus" -> { () =>
        described(spark, "curate_corpus", "corpus") {
          sources.Sources.writeSharded(
            text.Curation.publishedCorpus(spark, sfDir),
            s"$outDir/corpus", "doc_id", shards = CorpusShards)
        }
      },
      "retention_cleanup" -> { () =>
        orchestrate.Housekeeping.cleanupOldFiles(s"$outDir/tmp", retentionDays = 7)
        ()
      })
    withConfs(spark, profile)(Orchestrator.run(steps))
  }

  /** Every source table of a data directory (TESTDATA.md). */
  private val SourceTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Source bytes below which the DAG runs interpreted. A run-once DAG
    * in a fresh JVM executes every stage once, so on small inputs the
    * Janino compiles (533 classes per sf0.001 DAG) and the JIT's work on
    * the generated classes cost more than compiled evaluation saves.
    * Interpreted against compiled, DAG time on 4 cores, 2 alternating
    * pairs per input: 1.87 MB (sf0.01) −10%/−4%, 4.29 MB (sf0.01 ×3)
    * −7%/−18%, 6.84 MB (sf0.01 ×6) +27%/+8%, 17.5 MB (sf0.1)
    * +19%/+19% (docs/PERF_NOTES.md, "Interpreted evaluation for small
    * DAGs"). The constant sits just below 4.29 MB, the largest input
    * where interpreted evaluation still won. */
  val InterpretedBelowBytes: Long = 4L << 20

  /** Whether the DAG over `sfDir` runs interpreted: its source tables,
    * listed as [[graft.sim.IndexStore.vintage]] lists them, hold fewer
    * than [[InterpretedBelowBytes]]. */
  private[graft] def interpretedProfile(spark: SparkSession, sfDir: String): Boolean =
    sim.IndexStore.sourceBytes(spark, sfDir, SourceTables) < InterpretedBelowBytes

  /** The interpreted profile: no whole-stage code generation, and
    * expressions (projections, predicates) evaluated by Spark's
    * interpreted implementations instead of compiled ones.
    * `spark.sql.codegen.factoryMode` is an internal Spark conf (its
    * documented use is tests), but it is the only switch for expression
    * codegen: with whole-stage off alone, each operator compiles its own
    * projections, and an sf0.001 DAG compiled 564–575 classes instead of
    * 533–536, with no DAG-time change outside the noise (3 pairs).
    * PipelineSpec fails if Spark stops honouring it. */
  private[graft] val InterpretedConfs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Run `body` with `confs` set on the session, then put back what
    * was explicitly set before (or unset what was not). */
  private[graft] def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Shard count for the published corpus: sized so one shard ≈ one
    * dataloader worker's slice; at 100 TB you'd raise this to O(10k)
    * (it is the unit of read parallelism, not of write memory). */
  val CorpusShards = 8
}
