package graftbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine counters read through Spark's public listener API, attached
  * from outside the program with `-Dspark.extraListeners=graftbench.EngineListener`.
  *
  * Every task, stage and job event is kept in memory with its wall-clock
  * timestamps (epoch ms) and written as tab-separated lines to the path in
  * the `graftbench.events` system property when the application ends.
  * The benchmark attributes them to its own spans (op calls, pipeline
  * steps) by time window afterwards, so the listener never needs to know
  * what the program is doing.
  *
  * Line formats:
  *   T launch finish runMs cpuNs gcMs deserMs resultSerMs gettingResultMs
  *     shuffleWriteB shuffleReadB diskSpillB memSpillB
  *   S submissionMs
  *   J startMs
  *   W executionId startMs outputPath   (a SQL execution that writes files)
  *   E executionId endMs                (any SQL execution's end)
  */
class EngineListener extends SparkListener {
  private val lines = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    lines.add(s"J\t${e.time}")

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lines.add(s"S\t${e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())}")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) lines.add(Seq("T", i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.resultSerializationTime,
      if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.memoryBytesSpilled).mkString("\t"))
  }

  /** The output path in the formatted plan's details of a file write. */
  private val WritePath =
    """Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n){0,3}?Arguments: ([a-z]+:/[^\s,]+)""".r.unanchored

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.physicalPlanDescription match {
        case WritePath(path) => lines.add(s"W\t${s.executionId}\t${s.time}\t$path")
        case _ =>
      }
    case x: SparkListenerSQLExecutionEnd => lines.add(s"E\t${x.executionId}\t${x.time}")
    case _ =>
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    sys.props.get("graftbench.events").foreach { path =>
      val w = new PrintWriter(path, "UTF-8")
      try lines.forEach(l => w.println(l)) finally w.close()
    }
}
