package graft

import graft.multimodal.Multimodal
import graft.orchestrate.Orchestrator
import graft.sources.Sources
import graft.warehouse.Scd2
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {

  /** Compiles a whole sf0.001 DAG ran under the interpreted profile: 55
    * in a fresh JVM (`runMain graft.Pipeline`), against 533 compiled. */
  private val InterpretedDagCompiles = 70

  test("the evaluation profile is picked from the source bytes") {
    val testdata = new java.io.File(sf).getParent
    Seq("sf0.001" -> true, "sf0.01" -> true, "sf0.1" -> false).foreach { case (d, interpreted) =>
      assert(Pipeline.interpretedProfile(spark, s"$testdata/$d") == interpreted, d)
    }
  }

  test("Spark honours the interpreted profile: a fresh query compiles no class") {
    // a literal no earlier query used, so the code generator's cache
    // cannot serve the compiled side
    val tag = System.nanoTime()
    def query() = spark.range(1000).selectExpr(s"id * $tag + 1 AS v")
      .filter(s"v % 7 = ${tag % 7}").collect()
    val interpreted = compilesIn(Pipeline.withConfs(spark, Pipeline.InterpretedConfs)(query()))
    assert(interpreted == 0, s"$interpreted classes compiled under ${Pipeline.InterpretedConfs}")
    assert(!spark.conf.getAll.contains("spark.sql.codegen.factoryMode"), "the profile was not put back")
    assert(compilesIn(query()) > 0, "the compiled profile compiled nothing")
  }

  test("orchestrator retries with backoff then succeeds") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val r = Orchestrator.run(
      Seq("flaky" -> (() => { calls += 1; if (calls < 3) sys.error("boom") })),
      sleeper = sleeps += _)
    assert(r.status == "success")
    assert(r.steps.head.attempts == 3)
    assert(sleeps.toSeq == Seq(1, 2))
  }

  test("orchestrator fails fast and skips downstream steps") {
    var ran = false
    val r = Orchestrator.run(
      Seq(
        "always_fails" -> (() => sys.error("nope")),
        "never_runs" -> (() => { ran = true })),
      sleeper = _ => ())
    assert(r.status == "failed" && !ran)
    assert(r.steps.map(_.status) == Seq("failed", "skipped"))
    val json = Orchestrator.toJson(r)
    assert(json.contains("\"status\":\"failed\"") && json.contains("never_runs"))
  }

  test("orchestrator propagates a fatal error on its first attempt") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val err = intercept[OutOfMemoryError](Orchestrator.run(
      Seq("oom" -> (() => { calls += 1; throw new OutOfMemoryError("heap") })),
      sleeper = sleeps += _))
    assert(err.getMessage == "heap")
    assert(calls == 1 && sleeps.isEmpty)
  }

  test("fan-out: a failed job surfaces after its slow sibling, then the step retries") {
    var attempt = 0
    val slowDone = new AtomicInteger
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val r = Orchestrator.run(
      Seq("step" -> { () =>
        attempt += 1
        Orchestrator.fanOut(spark, "step", Seq(
          "fails" -> { () => if (attempt < 3) sys.error("boom") },
          "slow" -> { () => Thread.sleep(300); slowDone.incrementAndGet(); () }))
      }),
      // the retry's backoff starts only once the failed attempt's slow
      // job has finished writing
      sleeper = { s => assert(slowDone.get == attempt); sleeps += s })
    assert(r.status == "success" && r.steps.head.attempts == 3)
    assert(sleeps.toSeq == Seq(1, 2) && slowDone.get == 3)
    // the first failure in job order is thrown as itself, the others
    // ride along as suppressed
    val err = intercept[IllegalStateException](Orchestrator.fanOut(spark, "step", Seq(
      "a" -> (() => throw new IllegalStateException("a")),
      "b" -> (() => throw new IllegalArgumentException("b")))))
    assert(err.getMessage == "a" && err.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
  }

  test("fan-out: a fatal error in a job propagates as itself on the first attempt") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Int]
    val err = intercept[OutOfMemoryError](Orchestrator.run(
      Seq("oom" -> { () =>
        calls += 1
        Orchestrator.fanOut(spark, "oom", Seq(
          "fails" -> (() => sys.error("boom")),
          "heap" -> (() => throw new OutOfMemoryError("heap"))))
      }),
      sleeper = sleeps += _))
    assert(err.getMessage == "heap" && err.getSuppressed.map(_.getMessage).toSeq == Seq("boom"))
    assert(calls == 1 && sleeps.isEmpty)
  }

  test("fan-out: jobs run concurrently, each under its <step>/<output> description") {
    val latch = new CountDownLatch(2)
    val seen = new ConcurrentLinkedQueue[String]
    Orchestrator.fanOut(spark, "meet", Seq("a", "b").map { n =>
      n -> { () =>
        latch.countDown()
        // a job run alone would wait out the timeout and fail the test
        assert(latch.await(60, TimeUnit.SECONDS), s"job $n never met its sibling")
        seen.add(spark.sparkContext.getLocalProperty("spark.job.description"))
        ()
      }
    })
    assert(seen.asScala.toSet == Set("meet/a", "meet/b"))
  }

  test("csv round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Tables.nation(spark, sf)
    Sources.writeCsv(df, s"$dir/nation_csv")
    val back = spark.read.option("header", "true").schema(df.schema).csv(s"$dir/nation_csv")
    assert(back.count() == df.count())
    assert(back.except(df).count() == 0)
  }

  test("incremental append loads only new keys") {
    val dir = Files.createTempDirectory("graft_inc").toString + "/t"
    val all = Tables.region(spark, sf)
    val first = all.filter(col("r_regionkey") < 3)
    assert(Sources.incrementalAppend(spark, first, dir, Seq("r_regionkey")) == 3)
    // re-loading the same rows inserts nothing
    assert(Sources.incrementalAppend(spark, first, dir, Seq("r_regionkey")) == 0)
    // the rest appends
    val n = all.count() - 3
    assert(Sources.incrementalAppend(spark, all, dir, Seq("r_regionkey")) == n)
    assert(spark.read.parquet(dir).count() == all.count())
  }

  test("scd2 from history assigns version ranges via lead") {
    import spark.implicits._
    val hist = Seq(
      (1L, "gold", "2020-01-01"), (1L, "silver", "2021-06-15"),
      (2L, "bronze", "2020-03-01")).toDF("id", "tier", "changed_on")
    val dim = Scd2.fromHistory(hist, "id", "changed_on").collect()
    assert(dim.length == 3)
    val v1 = dim.find(r => r.getLong(0) == 1L && r.getString(1) == "gold").get
    assert(v1.getAs[java.sql.Date]("end_date").toString == "2021-06-15")
    assert(!v1.getAs[Boolean]("is_current"))
    val v2 = dim.find(r => r.getLong(0) == 1L && r.getString(1) == "silver").get
    assert(v2.getAs[Boolean]("is_current"))
  }

  test("scd2 applyUpdates closes changed rows and opens new versions") {
    import spark.implicits._
    val current = Seq(
      (1L, "gold", "2020-01-01", "9999-12-31", true),
      (2L, "bronze", "2020-01-01", "9999-12-31", true))
      .toDF("id", "tier", "effective_date", "end_date", "is_current")
      .withColumn("effective_date", col("effective_date").cast("date"))
      .withColumn("end_date", col("end_date").cast("date"))
    val updates = Seq((1L, "platinum"), (2L, "bronze")).toDF("id", "tier")
    val out = Scd2.applyUpdates(current, updates, "id", Seq("tier"), "2024-06-01")
    assert(out.count() == 3)
    assert(out.filter(col("id") === 1 && col("is_current")).head().getAs[String]("tier") == "platinum")
    assert(out.filter(col("id") === 1 && !col("is_current")).head()
      .getAs[java.sql.Date]("end_date").toString == "2024-06-01")
    // unchanged key untouched
    assert(out.filter(col("id") === 2).count() == 1)
  }

  test("scd2 applyUpdates inserts brand-new keys as open versions") {
    import spark.implicits._
    val current = Seq(
      (1L, "gold", "2020-01-01", "9999-12-31", true))
      .toDF("id", "tier", "effective_date", "end_date", "is_current")
      .withColumn("effective_date", col("effective_date").cast("date"))
      .withColumn("end_date", col("end_date").cast("date"))
    // key 3 has never been seen before
    val updates = Seq((1L, "gold"), (3L, "silver")).toDF("id", "tier")
    val out = Scd2.applyUpdates(current, updates, "id", Seq("tier"), "2024-06-01")
    assert(out.count() == 2)
    val fresh = out.filter(col("id") === 3).head()
    assert(fresh.getAs[String]("tier") == "silver")
    assert(fresh.getAs[Boolean]("is_current"))
    assert(fresh.getAs[java.sql.Date]("effective_date").toString == "2024-06-01")
    assert(fresh.getAs[java.sql.Date]("end_date").toString == "9999-12-31")
    // existing unchanged key untouched
    assert(out.filter(col("id") === 1 && col("is_current")).count() == 1)
  }

  test("scd2 applyUpdates reactivates keys whose history was fully closed") {
    import spark.implicits._
    val current = Seq(
      // key 9's only version was closed in an earlier batch
      (9L, "gold", "2020-01-01", "2023-01-01", false))
      .toDF("id", "tier", "effective_date", "end_date", "is_current")
      .withColumn("effective_date", col("effective_date").cast("date"))
      .withColumn("end_date", col("end_date").cast("date"))
    val updates = Seq((9L, "silver")).toDF("id", "tier")
    val out = Scd2.applyUpdates(current, updates, "id", Seq("tier"), "2024-06-01")
    assert(out.count() == 2)
    val reopened = out.filter(col("is_current")).head()
    assert(reopened.getAs[String]("tier") == "silver")
    assert(reopened.getAs[java.sql.Date]("effective_date").toString == "2024-06-01")
    // the closed history row is untouched
    assert(out.filter(!col("is_current")).head().getAs[String]("tier") == "gold")
  }

  test("scd2 applyUpdates rejects duplicate keys in one batch") {
    import spark.implicits._
    val current = Seq((1L, "gold", "2020-01-01", "9999-12-31", true))
      .toDF("id", "tier", "effective_date", "end_date", "is_current")
      .withColumn("effective_date", col("effective_date").cast("date"))
      .withColumn("end_date", col("end_date").cast("date"))
    val updates = Seq((1L, "silver"), (1L, "bronze")).toDF("id", "tier")
    intercept[IllegalArgumentException] {
      Scd2.applyUpdates(current, updates, "id", Seq("tier"), "2024-06-01")
    }
  }

  test("multimodal decode pipeline produces sane features") {
    val feats = Multimodal.decodeFeatures(spark, sf).collect()
    assert(feats.length == Tables.documents(spark, sf).count())
    assert(feats.forall(f => f.n_bytes > 0 && f.checksum > 0 &&
      f.mean_byte > 0 && f.mean_byte < 256))
  }

  test("end-to-end pipeline produces all artifacts with a success report") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    // every job the DAG starts, by its description; micro-batch jobs carry
    // the stream's query id instead of a pipeline label
    val jobs = new ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("sql.streaming.queryId") != null))
    }
    spark.sparkContext.addSparkListener(listener)
    val report = try {
      val r = Pipeline.run(spark, sf, out)
      // events reach a listener in order: once this marker job is seen,
      // every job of the DAG has been recorded
      Orchestrator.described(spark, "drain", "marker")(spark.range(1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.asScala.exists(_._1 == "drain/marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(report.status == "success")
    // sf0.001 is below the gate: the DAG ran interpreted, and the report
    // counts each step's compiles
    val compiles = report.steps.map(_.codegenCompiles).sum
    assert(compiles <= InterpretedDagCompiles,
      s"$compiles classes compiled: ${report.steps.map(s => s.name -> s.codegenCompiles)}")
    assert(Orchestrator.toJson(report).contains("\"codegen_compiles\":"))
    assert(Pipeline.InterpretedConfs.forall { case (k, _) => !spark.conf.getAll.contains(k) },
      "the run did not put the session's codegen settings back")
    val steps = Seq("stream_ingest_events",
      "cleanse_production", "quality_checks", "load_warehouse", "analytics",
      "monitoring", "curate_corpus", "retention_cleanup")
    assert(report.steps.map(_.name) == steps)
    assert(jobs.asScala.exists(_._1 == "drain/marker"), "the marker job was never seen")
    val dagJobs = jobs.asScala.toSeq.filter(_._1 != "drain/marker")
    val unlabelled = dagJobs.collect {
      case (d, false) if d == null || !steps.exists(st => d.matches(s"$st/[a-z0-9_]+")) => d
    }
    assert(unlabelled.isEmpty, s"jobs without a <step>/<output> description: $unlabelled")
    assert(dagJobs.exists(_._2), "the stream's micro-batch jobs were not seen")

    // the reports read the outputs just written and say what the
    // registered queries say (a fresh outDir, so the fixed Det timestamps)
    def text(rel: String) =
      new String(Files.readAllBytes(java.nio.file.Paths.get(s"$out/$rel")), "UTF-8")
    assert(text("quality/quality_report.json") ==
      graft.quality.Quality.reportJson(graft.quality.Quality.qualityScore(spark, sf)))
    assert(text("monitoring/monitoring_report.json") ==
      graft.monitor.Monitor.reportJsonOver(
        graft.monitor.Monitor.healthRollupAt(Det.LastRunTs)(spark, sf), Det.LastRunTs, Det.AsOfTs))
    // every output the concurrent writes produce landed, with rows: a
    // silently dropped write fails here
    val outputs =
      graft.analytics.Analytics.ops.map(op => s"analytics/${op.key}" -> "csv") ++
        (graft.warehouse.WarehouseQueries.ops.map("warehouse/" + _.key) ++
          Seq("customers", "products", "lineitems").map("production/" + _) ++
          Seq("volume_anomaly", "freshness").map("monitoring/" + _) ++
          Seq("quality/checks", "streaming/events", "corpus")).map(_ -> "parquet")
    assert(outputs.size == 28)
    outputs.foreach { case (rel, format) =>
      assert(new java.io.File(s"$out/$rel").isDirectory, s"$rel missing")
      val rows = spark.read.format(format).option("header", "true").load(s"$out/$rel").count()
      assert(rows > 0, s"$rel is empty")
    }
    val loadStatus = "\"status\":\"(\\w+)\"".r.findAllMatchIn(new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$out/warehouse/load_report.json"))))
      .map(_.group(1)).toSeq
    assert(loadStatus.size == 5 && loadStatus.forall(_ == "loaded"), loadStatus)

    // every output equals, row for row, its query evaluated with code
    // generation on (the profile Verify holds to DuckDB), written by the
    // same writer
    def parquet(q: Op.Q): String => Unit = path => Sources.fullRefresh(q(spark, sf), path)
    val withCodegen: Map[String, String => Unit] = (
      graft.analytics.Analytics.ops.map(op => s"analytics/${op.key}" -> { (path: String) =>
        Sources.writeCsv(op.run(spark, sf).repartition(1), path) }) ++
        graft.warehouse.WarehouseQueries.ops.map(op => s"warehouse/${op.key}" -> parquet(op.run)) ++
        Seq(
          "production/customers" -> parquet(graft.etl.Cleanse.cleanseCustomers _),
          "production/products" -> parquet(graft.etl.Cleanse.cleanseProducts _),
          "production/lineitems" -> parquet(graft.etl.Cleanse.cleanseLineitems _),
          "quality/checks" -> parquet(graft.quality.Quality.qualityChecks _),
          "monitoring/volume_anomaly" -> parquet(graft.monitor.Monitor.volumeAnomaly _),
          "monitoring/freshness" -> parquet(graft.monitor.Monitor.freshnessLag _),
          "streaming/events" -> { (path: String) =>
            graft.streaming.Streams.streamToIncrementalParquet(spark, sf, path).awaitTermination() },
          "corpus" -> { (path: String) =>
            Sources.writeSharded(graft.text.Curation.publishedCorpus(spark, sf), path, "doc_id",
              Pipeline.CorpusShards) })).toMap
    assert(withCodegen.keySet == outputs.map(_._1).toSet)
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    def rows(dir: String, format: String): Seq[String] =
      if (format == "csv")
        new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).toSeq
          .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted
      else spark.read.parquet(dir).collect().map(render).toSeq.sorted
    val ref = Files.createTempDirectory("graft_pipe_codegen").toString
    outputs.foreach { case (rel, format) =>
      withCodegen(rel)(s"$ref/$rel")
      val (interpreted, compiled) = (rows(s"$out/$rel", format), rows(s"$ref/$rel", format))
      assert(interpreted == compiled, s"$rel: ${interpreted.diff(compiled).take(3)} vs " +
        s"${compiled.diff(interpreted).take(3)}")
    }

    // streaming stage landed every distinct event exactly once …
    val landed = spark.read.parquet(s"$out/streaming/events")
    val nDistinct = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(landed.count() == nDistinct)
    // … and an end-to-end REPLAY of the stage (same source, same sink —
    // an upstream redelivery or an orchestrator retry) appends nothing
    graft.streaming.Streams.streamToIncrementalParquet(spark, sf,
      s"$out/streaming/events").awaitTermination()
    assert(spark.read.parquet(s"$out/streaming/events").count() == nDistinct)

    // curated corpus shipped as the full hash-stable shard layout,
    // minus the benchmark slice and the passage-level decontamination
    // flags (the shared Curation.publishedCorpus definition)
    val shardDirs = new java.io.File(s"$out/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(shardDirs.length == Pipeline.CorpusShards,
      s"expected ${Pipeline.CorpusShards} shard dirs, got ${shardDirs.toSeq}")
    val corpus = spark.read.parquet(s"$out/corpus")
    val expected = graft.text.Curation.publishedCorpus(spark, sf)
    assert(corpus.count() == expected.count())
    assert(corpus.count() > 0, "decontamination gate must not empty the corpus")
    // the strongest contamination: the benchmark slice itself must not
    // ship in the training corpus
    val benchIds = Tables.documents(spark, sf)
      .filter(col("source") === graft.text.TextOps.BenchmarkSource).select("doc_id")
    assert(corpus.join(benchIds, "doc_id").count() == 0,
      "published corpus must not contain benchmark-source documents")
    assert(corpus.filter(col("shard") =!=
      pmod(hash(col("doc_id")), lit(Pipeline.CorpusShards))).count() == 0)
  }

  test("sharded writer produces exactly N hash-stable shards") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/docs"
    graft.sources.Sources.writeSharded(docs, dir, "doc_id", 8)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.length == 8, s"expected 8 shard dirs, got ${dirs.toSeq}")
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // membership is a pure function of the key — not of input layout
    val bad = back.filter(col("shard") =!= pmod(hash(col("doc_id")), lit(8))).count()
    assert(bad == 0)
    // one shard can be opened alone via partition pruning
    val one = spark.read.parquet(dir).filter(col("shard") === 3)
    assert(one.count() == back.filter(pmod(hash(col("doc_id")), lit(8)) === 3).count())
  }

  test("compaction bin-packs a fragmented table and preserves every row") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/docs"
    // simulate a micro-batch-fragmented table: 64 tiny files
    docs.repartition(64).write.parquet(dir)
    val charSum = docs.agg(sum("n_chars")).head().getLong(0)
    val bytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    val target = bytes / 4 + 1 // aim for ~4 output files
    val (before, after) = graft.sources.Sources.compactParquet(spark, dir, target)
    assert(before == 64)
    assert(after <= 5 && after >= 1, s"expected ~4 files, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).head().getLong(0) == charSum)
    assert(!new java.io.File(dir + "._compacting").exists())
    // the swap's parked copy of the old layout is deleted after commit
    assert(new java.io.File(dir).getParentFile.list().toSeq == Seq("docs"))
  }

  test("a failed compaction swap keeps the table whole and throws") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    val docs = Tables.documents(spark, sf)
    val parent = java.nio.file.Files.createTempDirectory("graft_compact_fail").toString
    val dir = s"$parent/docs"
    docs.repartition(8).write.parquet(dir)
    def layout = new java.io.File(dir).listFiles().map(f => f.getName -> f.length).toSet
    val before = layout
    // fail the staging -> table rename, then the table -> parked rename
    Seq[org.apache.hadoop.fs.Path => Boolean](
      _.getName == "docs._compacting", _.getName == "docs").foreach { fails =>
      FailingRenameFs.failing.set(fails)
      try intercept[java.io.IOException](
        graft.sources.Sources.compactParquet(spark, s"failrename://$dir", 1L << 30))
      finally FailingRenameFs.failing.set(_ => false)
      assert(layout == before, "the table's files changed")
      assert(new java.io.File(parent).list().forall(n => n == "docs" || n == "docs._compacting"),
        new java.io.File(parent).list().toSeq)
      assert(spark.read.parquet(dir).count() == docs.count())
    }
  }
}
