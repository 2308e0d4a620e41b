package graftbench

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One closed-loop client over a query mix, in one JVM.
  *
  *   Mix <opsFile> <dataDir> <seed> <warmPasses> <seconds> <trace 0|1> <outFile> [starOpsFile]
  *
  * `opsFile` has one op per line: `name<TAB>module<TAB>rows<TAB>hash`, the
  * expected output from the DuckDB oracle.  Set-up opens the session
  * through `graft.Sessions.local` and makes one pass over every op, which
  * builds the stores the mix serves in an empty `GRAFT_INDEX_DIR`.
  * `warmPasses` untimed passes then let the JIT settle; then whole
  * passes, each in a seeded random order, run until `seconds` have been
  * measured.  Every output is checked; checking is not timed.
  * With `trace` 1 each call is split into build (the registry call that
  * returns the DataFrame, including eager work), plan (physical planning)
  * and exec (collect).  `starOpsFile`, in the same format, adds two passes
  * after the timed ones: one that builds and warms what those ops serve
  * (phase `starsetup`), then one split into build/plan/exec (phase `star`).
  * Records go to `outFile` as tab-separated lines:
  *
  *   setup session_s warmup_s store_build_s readyEpochMs
  *   op phase pass name module startMs build_s plan_s exec_s total_s rows ok error
  *   builds n          (store vintages written during the timed passes)
  *   starbuilds n      (store vintages written during the `star` pass)
  */
object Mix {
  final case class Op(name: String, module: String, rows: Long, hash: String)

  def main(args: Array[String]): Unit = {
    val Array(opsFile, dataDir, seedS, warmS, secondsS, traceS, outFile) = args.take(7)
    def readOps(file: String) =
      scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
        val Array(n, m, r, h) = l.split("\t")
        Op(n, m, r.toLong, h)
      }.toVector
    val ops = readOps(opsFile)
    val star = args.lift(7).map(readOps).getOrElse(Vector.empty)
    val trace = traceS == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val indexDir = new File(sys.env("GRAFT_INDEX_DIR"))
    val registry = graft.SparkEntry.queries
    val missing = (ops ++ star).map(_.name).filterNot(registry.contains)
    require(missing.isEmpty, s"ops not registered: ${missing.mkString(",")}")

    val out = new PrintWriter(outFile, "UTF-8")
    def emit(fields: Any*): Unit = { out.println(fields.mkString("\t")); out.flush() }

    /** Run one op, check its output, and record it. Returns its wall time. */
    def call(spark: SparkSession, phase: String, pass: Int, op: Op, split: Boolean): Double = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      var t3 = t0
      var rows = -1L
      var ok = false
      var err = ""
      try {
        val df = registry(op.name)(spark, dataDir)
        t1 = System.nanoTime()
        if (split) df.queryExecution.executedPlan
        t2 = System.nanoTime()
        val res = df.collect()
        t3 = System.nanoTime()
        rows = res.length
        val h = Canon.hash(df.schema.fieldNames.toSeq, res)
        ok = rows == op.rows && h == op.hash
        if (!ok) err = s"expected ${op.rows} rows hash ${op.hash}, got $rows rows hash $h"
      } catch {
        case NonFatal(e) =>
          if (t3 == t0) t3 = System.nanoTime()
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      def s(a: Long, b: Long) = f"${math.max(0L, b - a) / 1e9}%.6f"
      emit("op", phase, pass, op.name, op.module, startMs, s(t0, t1), s(t1, t2),
        s(t2, t3), s(t0, t3), rows, if (ok) 1 else 0, err.replaceAll("[\t\n\r]", " "))
      (t3 - t0) / 1e9
    }

    // Set-up, as a user's process pays it: the session, then one pass that
    // builds every store the mix serves and fills the session's memos.
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cores = cores, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    var warm = 0.0
    var storeBuild = 0.0
    for (op <- ops) {
      val before = vintages(indexDir)
      val s = call(spark, "setup", 0, op, split = false)
      if (vintages(indexDir) != before) storeBuild += s else warm += s
    }
    emit("setup", f"$sessionS%.6f", f"$warm%.6f", f"$storeBuild%.6f", System.currentTimeMillis())

    val rng = new scala.util.Random(seedS.toLong)
    for (p <- 1 to warmS.toInt) rng.shuffle(ops).foreach(op => call(spark, "warm", p, op, trace))
    val before = vintages(indexDir)
    val budget = secondsS.toDouble
    var measured = 0.0
    var pass = 0
    while (measured < budget) {
      pass += 1
      rng.shuffle(ops).foreach(op => measured += call(spark, "timed", pass, op, trace))
    }
    emit("builds", (vintages(indexDir) -- before).size)

    if (star.nonEmpty) {
      star.foreach(op => call(spark, "starsetup", 0, op, split = false))
      val starBefore = vintages(indexDir)
      rng.shuffle(star).foreach(op => call(spark, "star", 1, op, split = true))
      emit("starbuilds", (vintages(indexDir) -- starBefore).size)
    }
    out.close()
    spark.stop()
  }

  /** Committed store vintages: every manifest under the index root, with
    * its modification time, so a rebuild in place counts as new. */
  private def vintages(root: File): Set[(String, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.startsWith("_manifest"))
      .map(f => (f.getPath, f.lastModified)).toSet
  }
}
