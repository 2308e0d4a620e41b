package graft

import org.apache.spark.sql.SparkSession

/** Session factories encoding the two deployment profiles this library
  * is tuned for. The settings differ because the bottlenecks differ:
  * locally, task-scheduling overhead dominates tiny shuffles; on a
  * cluster, data volume dominates and the adaptive machinery earns its
  * overhead. [[fromEnv]] documents the local measurements behind the
  * small-scale numbers.
  */
object Sessions {

  /** Local development/bench profile (single JVM, data ≤ a few GB):
    * shuffle partitions sized to data not cores, AQE off (its stage
    * re-materializations cost more than they save at this scale),
    * shuffle compression off (pure CPU overhead on in-memory blocks).
    *
    * `adaptive = true` is the SCALE-LADDER profile: one configuration
    * honest at every rung. A fixed partition count cannot be — 8 is
    * right at 1× and starves 300×, 32 is right at 300× and pays ~3.3 s
    * of task-scheduling overhead at 1× (measured, round 10) — so the
    * ladder lets AQE coalesce from a high initial count down to
    * whatever the RUNTIME shuffle bytes justify (`parallelismFirst`
    * off, or the coalescer would pin partitions ≈ cores and reproduce
    * exactly the small-rung overhead this profile removes; 16 MB
    * advisory size keeps a few partitions alive on compute-heavy
    * medium shuffles). Skew-join splitting rides along — the same
    * machinery a real cluster run enables ([[clusterDefaults]]).
    *
    * Under `adaptive = true` the `shufflePartitions` argument is the
    * FLOOR of the initial (pre-coalesce) partition count — AQE needs
    * headroom to coalesce DOWN from, so a small static value is raised
    * to 256, while a caller sizing for a bigger box can pass more and
    * be honored (previously the argument was silently ignored).
    *
    * The session starts at log level WARN with the bounded-window
    * WARN muted, so no caller has to order those two calls itself. */
  def local(cores: Int = 4, shufflePartitions: Int = 8,
            adaptive: Boolean = false): SparkSession = {
    val s = localBuilder(cores, shufflePartitions, adaptive).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    muteBoundedWindowWarning()
    s
  }

  /** The one env-driven session every timing/dump main starts from:
    * `SPARK_GRAFT_CPUS` cores (default 4), 8 shuffle partitions, and
    * the ladder profile when `SPARK_GRAFT_AQE=1`. Shuffle sizing is
    * per-DATA, not per-core: at bench scale (~600k fact rows) 8
    * partitions keep ~75k rows each, while 32 only multiplied
    * task-scheduling overhead (measured 0.71 s at 32 vs 0.34 s at 8 per
    * shuffle query); a bigger run takes the adaptive profile, which
    * coalesces down from 256. */
  def fromEnv(): SparkSession = local(
    cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
    shufflePartitions = 8,
    adaptive = sys.env.get("SPARK_GRAFT_AQE").contains("1"))

  /** [[local]]'s builder, unstarted, so a spec can read its options. */
  private[graft] def localBuilder(cores: Int, shufflePartitions: Int,
                                  adaptive: Boolean): SparkSession.Builder = {
    val initialPartitions = math.max(shufflePartitions, 256)
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.locality.wait", "0")
      .config(LocalConfs.toMap)
      // events.ts nanos vintage reads as long (Tables.normalizeTs);
      // set at construction so concurrent callers never mutate runtime
      // conf (Tables.events still sets it defensively for foreign
      // sessions — constant value, so the write is race-free)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tuned =
      if (adaptive) b
        .config("spark.sql.shuffle.partitions", initialPartitions.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initialPartitions.toString)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
      else b
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.sql.adaptive.enabled", "false")
    tuned.withExtensions(new functions.GraftExtensions)
  }

  /** Capacity of Spark's cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100): every
    * class the registered ops generate stays resident for the life of
    * the JVM, so a warm session compiles each once. The cache evicts
    * least-recently-used, so a rotation over more distinct classes than
    * it holds evicts each before it comes round again: the 10
    * `corpus_ops` benchmark ops generate 160 classes and recompiled
    * 119–138 of them on every warm pass. One pass over every registered key at
    * sf0.001 generates 2,254 classes (static profile) or 2,323
    * (`SPARK_GRAFT_AQE=1`), and at Spark's default its second pass
    * recompiled 3,009; at this capacity it compiles none, and Metaspace
    * holds under 200 MB (docs/PERF_NOTES.md, "One compile per generated
    * class"). Bounded, with room for the surface to grow about
    * threefold, so a long-lived session cannot grow without limit. A
    * static conf, read once when Spark's code generator is first used,
    * so it is set at session construction ([[EngineConfs]]). */
  val CodegenCacheEntries: Int = 8192

  /** The settings every graft session carries, local or cluster: UTC
    * (every date oracle depends on it) and the [[CodegenCacheEntries]]
    * capacity. */
  private[graft] val EngineConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString)

  /** [[EngineConfs]] and the single-JVM settings every local session
    * ([[localBuilder]], `graft.Pipeline`) carries: no web UI, and the
    * local filesystem through [[sources.NioLocalFileSystem]] for both
    * Hadoop filesystem APIs. A cluster keeps its UI and filesystems. */
  private[graft] val LocalConfs: Seq[(String, String)] = EngineConfs ++ Seq(
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[sources.NioLocalFileSystem.Fs].getName)

  /** Every unpartitioned window a registered query plans is listed in
    * its op's [[Op.hazards]] under [[Op.GlobalWindow]], with the reason
    * its frame is bounded or, for the one that is not
    * (`funnel_time_to_convert`), why not; PlanAuditSpec fails on one
    * that is not listed. Anything corpus-sized goes through [[Dist]]'s
    * range-partitioned cumsums instead. WindowExec cannot see those
    * bounds, so its per-instance "No Partition Defined" WARN says
    * nothing the allowlist does not, and dozens of them flooded the r15
    * bench tail, burying real plan warnings. Pin that ONE logger
    * package to ERROR.
    *
    * `sparkContext.setLogLevel` goes through log4j2's `setAllLevels`,
    * which rewrites EVERY existing logger config — including this one —
    * so [[local]] applies the mute right AFTER its own setLogLevel. */
  private def muteBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** Cluster profile (the 100 TB posture — values are the starting
    * point a deployment tunes from, applied via builder so a spark-submit
    * can still override):
    *  - AQE ON with skew-join splitting and partition coalescing: at
    *    real volume, runtime stats beat static planning (skewed keys
    *    get split without manual salting; small shuffles coalesce).
    *  - shuffle.partitions high (AQE coalesces down): target ~64-128 MB
    *    per post-AQE partition.
    *  - broadcast threshold raised to 64 MB: every dimension in this
    *    schema fits and must never sort-merge.
    *  - compression back ON (network/disk bound, not CPU bound).
    *  - [[EngineConfs]]: the UTC timezone is load-bearing for the date
    *    logic, and every generated class stays compiled; the
    *    GraftExtensions registration makes minhash_sig/qdot/topk_by
    *    available to plain SQL users.
    */
  def clusterDefaults(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
      .config("spark.sql.shuffle.partitions", "2000")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config(EngineConfs.toMap)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new functions.GraftExtensions)
}
