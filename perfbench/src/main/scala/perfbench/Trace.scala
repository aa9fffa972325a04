package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder: Spark's public listener APIs only.
  *
  * Every job carries the job tags of the thread that submitted it
  * (`SparkContext.addJobTag`); stages belong to the job that first lists
  * them. Folding stages by tag therefore attributes work to ops exactly,
  * with no time bucketing. Whole-run totals are accumulated separately
  * from task-end events, so the fold can be checked against them.
  *
  * A `QueryExecutionListener` callback carries no execution id. Spark
  * invokes it while dispatching the execution's `SQLExecutionEnd` event
  * on the shared listener queue, ahead of this listener (registered
  * later on the same queue), so the callback's record is paired with the
  * next `SQLExecutionEnd` this listener sees.
  *
  * Events arrive on the listener bus thread; everything is kept in memory
  * and read after `SparkSession.stop()` has drained the bus. */
final class Trace(lakePrefix: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageOwner = mutable.Map.empty[Int, Int]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val execTags = mutable.Map.empty[Long, Seq[String]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var pending: Option[Map[String, Any]] = None
  private val totals = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val tags = prop("spark.job.tags").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).sorted
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
    jobs += Map(
      "job" -> e.jobId, "tags" -> tags, "submit_ms" -> e.time,
      "exec" -> prop("spark.sql.execution.id").map(_.toLong),
      "compact" -> e.stageInfos.exists(_.details.contains("graft.lake.Lake.compact")))
    totals("jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += Map(
      "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
      "tasks" -> si.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "submit_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L))
    totals("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      totals("run_ms") += m.executorRunTime
      totals("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      totals("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
      totals("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execTags(s.executionId) = s.jobTags.toSeq.sorted
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      pending.foreach { q =>
        queries += q ++ Map("exec" -> end.executionId,
          "tags" -> execTags.getOrElse(end.executionId, Nil))
      }
      pending = None
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe, 0L, ok = false)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Unit = {
    val plan = qe.executedPlan
    val writes = collect(plan) { case w: DataWritingCommandExec => w }.flatMap { w =>
      w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
          Some(Map("path" -> i.outputPath.toString, "files" -> metric("numFiles"),
            "bytes" -> metric("numOutputBytes"), "rows" -> metric("numOutputRows")))
        case _ => None
      }
    }
    val lakeRead = collect(plan) { case s: FileSourceScanExec => s }
      .exists(_.relation.location.rootPaths.exists(_.toString.contains(lakePrefix)))
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
    synchronized {
      pending = Some(Map("func" -> funcName, "ok" -> ok,
        "duration_ms" -> durationNs / 1e6, "phases" -> phases,
        "writes" -> writes, "lake_read" -> lakeRead))
    }
  }

  /** All records, to be called after the listener bus has drained. */
  def records(): Seq[Map[String, Any]] = synchronized {
    jobs.map(j => j + ("end_ms" -> jobEnd.getOrElse(j("job").asInstanceOf[Int], 0L)))
      .map(j => Map("kind" -> "job") ++ j).toSeq ++
      stages.map { s =>
        Map("kind" -> "stage", "job" -> stageOwner.get(s("stage").asInstanceOf[Int])) ++ s
      } ++
      queries.map(q => Map("kind" -> "query") ++ q) ++
      Seq(Map("kind" -> "totals") ++ totals)
  }
}

/** Janino compile time, summed from the "Code generated in N ms" lines the
  * code generator logs at INFO. The count comes from Spark's
  * `CodegenMetrics` compilation histogram, which has no sum. */
object CompileLog {
  private val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  val microsTotal = new LongAdder

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Route the code generator's INFO lines to the counter only (not to the
    * console); idempotent across sessions. */
  def attach(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (cfg.getLoggers.containsKey(name)) return
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case pattern(ms) => microsTotal.add((ms.toDouble * 1000).toLong)
        case _ =>
      }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}
