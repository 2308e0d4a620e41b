package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cluster and local profiles' load-bearing settings — asserted on
  * the BUILDER options (via reflection over the builder's internal option map, no
  * session is started: getOrCreate would collide with the suite's
  * shared session) so a refactor that drops the UTC timezone (every
  * date oracle depends on it), the nanos flag (the events vintage
  * path), or the AQE-skew posture fails here by name instead of as a
  * scattered oracle mismatch on a real cluster.
  */
class SessionsSpec extends AnyFunSuite {

  private def builderOptions(b: AnyRef): Map[String, String] = {
    var cls: Class[_] = b.getClass
    while (cls != null) {
      cls.getDeclaredFields.foreach { f =>
        f.setAccessible(true)
        f.get(b) match {
          case m: scala.collection.mutable.Map[_, _]
            if m.keys.forall(_.isInstanceOf[String]) =>
            return m.map { case (k, v) => k.toString -> v.toString }.toMap
          case _ =>
        }
      }
      cls = cls.getSuperclass
    }
    fail("no option map found on SparkSession.Builder — Spark internals moved")
  }

  test("cluster profile keeps the 100TB posture flags") {
    val opts = builderOptions(
      Sessions.clusterDefaults(org.apache.spark.sql.SparkSession.builder()))
    assert(opts("spark.sql.adaptive.enabled") == "true")
    assert(opts("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(opts("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(opts("spark.sql.shuffle.partitions") == "2000")
    assert(opts("spark.sql.session.timeZone") == "UTC")
    assert(opts("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(opts("spark.sql.autoBroadcastJoinThreshold").toLong == 64L * 1024 * 1024)
    assert(opts("spark.sql.files.maxPartitionBytes") == "256m")
    assert(opts("spark.sql.codegen.cache.maxEntries") == Sessions.CodegenCacheEntries.toString)
  }

  test("local profile: UTC, nanos-as-long, compression off, AQE off at the given partition count") {
    val opts = builderOptions(Sessions.localBuilder(cores = 4, shufflePartitions = 8, adaptive = false))
    assert(opts("spark.master") == "local[4]")
    assert(opts("spark.sql.session.timeZone") == "UTC")
    assert(opts("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(opts("spark.sql.adaptive.enabled") == "false")
    assert(opts("spark.sql.shuffle.partitions") == "8")
    assert(opts("spark.shuffle.compress") == "false")
    assert(opts("spark.shuffle.spill.compress") == "false")
    assert(opts("spark.sql.codegen.cache.maxEntries") == Sessions.CodegenCacheEntries.toString)
    assert(opts("spark.hadoop.fs.file.impl") == classOf[sources.NioLocalFileSystem].getName)
    assert(opts("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[sources.NioLocalFileSystem.Fs].getName)
  }

  test("pipeline session: UTC, cores as partitions, the NIO local filesystem") {
    val opts = builderOptions(Pipeline.builder("3"))
    assert(opts("spark.master") == "local[3]")
    assert(opts("spark.sql.shuffle.partitions") == "3")
    assert(opts("spark.sql.session.timeZone") == "UTC")
    assert(opts("spark.sql.codegen.cache.maxEntries") == Sessions.CodegenCacheEntries.toString)
    assert(opts("spark.hadoop.fs.file.impl") == classOf[sources.NioLocalFileSystem].getName)
    assert(opts("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[sources.NioLocalFileSystem.Fs].getName)
  }

  test("local adaptive profile: 256-partition floor, parallelismFirst off, a larger count honored") {
    val opts = builderOptions(Sessions.localBuilder(cores = 4, shufflePartitions = 8, adaptive = true))
    assert(opts("spark.sql.adaptive.enabled") == "true")
    assert(opts("spark.sql.shuffle.partitions") == "256")
    assert(opts("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "256")
    assert(opts("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(opts("spark.sql.session.timeZone") == "UTC")
    assert(opts("spark.shuffle.compress") == "false")
    assert(opts("spark.sql.codegen.cache.maxEntries") == Sessions.CodegenCacheEntries.toString)
    val big = builderOptions(Sessions.localBuilder(cores = 4, shufflePartitions = 512, adaptive = true))
    assert(big("spark.sql.shuffle.partitions") == "512")
    assert(big("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "512")
  }

  test("no main builds its own SparkSession outside Sessions") {
    // Pipeline keeps its own session: the local profile changes its
    // written output size (output_mb 0.960 -> 1.330 MB, AQE profile),
    // beyond what its benchmark bound allows
    val offenders = SessionsSpec.mainSourcesMatching("""SparkSession\s*\.\s*builder\s*\(""".r,
      allowed = Set("Sessions.scala", "Pipeline.scala"))
    assert(offenders.isEmpty,
      s"SparkSession.builder() outside Sessions (start through Sessions.local/fromEnv): $offenders")
  }
}

object SessionsSpec {

  /** Each `src/main/scala` source file with its text, in path order. */
  def mainSources(): Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).sortBy(_.getPath).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f -> src.mkString finally src.close()
    }
  }

  /** Paths of the `src/main/scala` sources, other than the `allowed`
    * file names, in which `pattern` occurs. */
  def mainSourcesMatching(pattern: scala.util.matching.Regex, allowed: Set[String]): Seq[String] =
    mainSources().collect {
      case (f, text) if !allowed(f.getName) && pattern.findFirstIn(text).isDefined => f.getPath
    }
}
