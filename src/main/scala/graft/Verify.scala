package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter, for local
    // iteration (the full correctness dump takes 2 args); an unknown name
    // fails here, before the session starts
    val only: Option[Set[String]] =
      args.lift(2).map(a => SparkEntry.lookup(a.split(",").toSeq).map(_.key).toSet)
    // the bench session (Sessions.fromEnv), whose GraftExtensions make
    // graft SQL functions (nfc_normalize in the canonical-dedup digest)
    // resolvable by name
    val spark = Sessions.fromEnv()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // repartition(1), not coalesce(1): coalesce removes the barrier and
      // computes the whole query on one core; repartition keeps upstream
      // parallelism and still writes a single file.
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        // A broken query must read as FAILED downstream, not as "not
        // registered": dump a one-row marker frame under the query's own
        // name so the driver's DuckDB compare reports a loud
        // schema/hash mismatch instead of silently skipping the key.
        failed += name -> String.valueOf(e.getMessage).take(500)
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(failed.last._2).toDF("_verify_error")
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Independent accounting (ADVICE r8): registered-vs-dumped counts come
    // from the registry itself, never back-computed from the dump, so a
    // silent failure cannot hide in the arithmetic.
    val failJson = failed.map { case (n, m) => s"${q(n)}: ${q(m)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      s"""{"registered": ${SparkEntry.queries.size}, "failed": $failJson}""")
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    spark.stop()
  }
}
