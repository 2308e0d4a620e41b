package graft.orchestrate

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Sequential pipeline orchestration — the reference's step runner
  * (reference: scripts/pipeline_orchestrator.py:46-161): ordered steps,
  * per-step retry x3 with [1,2,4]s backoff, fail-fast on exhaustion, and
  * a JSON execution report. Steps here are in-process functions over
  * DataFrames (the reference spawns subprocesses and hands state through
  * files/Postgres; Spark's driver keeps the whole DAG in one program —
  * SURVEY §3.1).
  */
object Orchestrator {

  final case class StepResult(name: String, status: String, attempts: Int,
                              durationMs: Long, error: Option[String])
  final case class Report(status: String, totalDurationMs: Long,
                          steps: Seq[StepResult])

  /** Backoff schedule (seconds), reference pipeline_orchestrator.py:55-56. */
  val Backoff: Seq[Int] = Seq(1, 2, 4)

  /** Run `steps` in order; each retried up to `maxAttempts` with
    * `sleeper` between attempts (injectable so tests don't sleep).
    * Fail-fast: the first exhausted step stops the pipeline. Only
    * non-fatal errors are retried: a fatal one (OutOfMemoryError,
    * InterruptedException, ...) propagates on its first attempt, since
    * backing off and re-running cannot help a JVM in that state. */
  def run(steps: Seq[(String, () => Unit)], maxAttempts: Int = 3,
          sleeper: Int => Unit = s => Thread.sleep(s * 1000L)): Report = {
    val t0 = System.nanoTime()
    val results = scala.collection.mutable.ArrayBuffer.empty[StepResult]
    var failed = false
    val it = steps.iterator
    while (!failed && it.hasNext) {
      val (name, fn) = it.next()
      val s0 = System.nanoTime()
      var attempt = 0
      var lastErr: Option[String] = None
      var ok = false
      while (!ok && attempt < maxAttempts) {
        attempt += 1
        try { fn(); ok = true; lastErr = None }
        catch {
          case NonFatal(e) =>
            lastErr = Some(e.toString)
            if (attempt < maxAttempts)
              sleeper(Backoff(math.min(attempt - 1, Backoff.size - 1)))
        }
      }
      val ms = (System.nanoTime() - s0) / 1000000
      results += StepResult(name, if (ok) "success" else "failed", attempt, ms, lastErr)
      if (!ok) failed = true
    }
    val skipped = steps.drop(results.size).map { case (n, _) =>
      StepResult(n, "skipped", 0, 0, None)
    }
    Report(if (failed) "failed" else "success",
      (System.nanoTime() - t0) / 1000000, results.toSeq ++ skipped)
  }

  /** Minimal JSON rendering (no dependencies), mirroring the reference's
    * execution-report shape (pipeline_orchestrator.py:149-161). */
  def toJson(r: Report): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val steps = r.steps.map { s =>
      val err = s.error.map(e => s""","error":"${esc(e)}"""").getOrElse("")
      s"""{"name":"${esc(s.name)}","status":"${s.status}","attempts":${s.attempts},"duration_ms":${s.durationMs}$err}"""
    }.mkString("[", ",", "]")
    s"""{"status":"${r.status}","total_duration_ms":${r.totalDurationMs},"steps":$steps}"""
  }

  def writeReport(r: Report, path: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, toJson(r))
  }
}
