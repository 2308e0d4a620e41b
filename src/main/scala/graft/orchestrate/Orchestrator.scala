package graft.orchestrate

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Pipeline orchestration — the reference's step runner (reference:
  * scripts/pipeline_orchestrator.py:46-161): ordered steps, per-step
  * retry x3 with [1,2,4]s backoff, fail-fast on exhaustion, and a JSON
  * execution report. Steps here are in-process functions over
  * DataFrames (the reference spawns subprocesses and hands state through
  * files/Postgres; Spark's driver keeps the whole DAG in one program —
  * SURVEY §3.1).
  *
  * Steps run in sequence; the independent outputs WITHIN a step run as
  * concurrent Spark jobs through [[fanOut]]. On a small input each job
  * is mostly per-job planning, codegen and file commit while the
  * executors idle, so overlapping a step's jobs fills the cores. Whole steps
  * are not overlapped: they share the cores, so each step would take
  * longer, and the report's per-step durations and order would stop
  * describing one step each.
  */
object Orchestrator {

  /** One step's outcome. `codegenCompiles` counts the classes Spark's
    * code generator compiled (Janino) while the step ran: the JVM-wide
    * `CodegenMetrics` count read before and after it, which splits
    * exactly by step because steps run one after another. */
  final case class StepResult(name: String, status: String, attempts: Int,
                              durationMs: Long, error: Option[String],
                              codegenCompiles: Long = 0)
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
      val c0 = compiles()
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
      results += StepResult(name, if (ok) "success" else "failed", attempt, ms, lastErr,
        compiles() - c0)
      if (!ok) failed = true
    }
    val skipped = steps.drop(results.size).map { case (n, _) =>
      StepResult(n, "skipped", 0, 0, None)
    }
    Report(if (failed) "failed" else "success",
      (System.nanoTime() - t0) / 1000000, results.toSeq ++ skipped)
  }

  /** Janino compiles so far in this JVM. */
  private[graft] def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Most threads one [[fanOut]] starts: one per output, and no step
    * has more than ten. */
  private val MaxFanOut = 10

  /** Run a step's independent `jobs` concurrently against the shared
    * session, one thread each (at most [[MaxFanOut]]), and return once
    * ALL have finished. A failure is rethrown as the job's own Throwable
    * — a fatal one first, else the first in `jobs` order — with any
    * other failures attached as suppressed, so [[run]]'s retry and its
    * fatal-on-first-attempt rule see exactly what a sequential step
    * would throw, and a retry never starts while a job of the failed
    * attempt is still writing. Each job's Spark jobs carry the
    * description `<step>/<name>` in listener and event-log records. */
  def fanOut(spark: SparkSession, step: String, jobs: Seq[(String, () => Unit)]): Unit = {
    val threads: ThreadFactory = { r =>
      val t = new Thread(r, s"fanout-$step")
      t.setDaemon(true)
      t
    }
    val pool = Executors.newFixedThreadPool(math.min(jobs.size, MaxFanOut), threads)
    val errors = try {
      val running = jobs.map { case (name, job) =>
        pool.submit[Unit] { () => described(spark, step, name)(job()) }
      }
      running.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
    } finally pool.shutdownNow()
    if (errors.nonEmpty) {
      val first = errors.find(e => !NonFatal(e)).getOrElse(errors.head)
      errors.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Run `body` on this thread under the Spark job description
    * `<step>/<name>`, so listener and event-log records of its jobs name
    * the output they produce; the thread's previous description is put
    * back afterwards. */
  def described[T](spark: SparkSession, step: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$step/$name")
    try body finally sc.setJobDescription(prev)
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
      s"""{"name":"${esc(s.name)}","status":"${s.status}","attempts":${s.attempts},"duration_ms":${s.durationMs},"codegen_compiles":${s.codegenCompiles}$err}"""
    }.mkString("[", ",", "]")
    s"""{"status":"${r.status}","total_duration_ms":${r.totalDurationMs},"steps":$steps}"""
  }

  def writeReport(r: Report, path: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, toJson(r))
  }
}
