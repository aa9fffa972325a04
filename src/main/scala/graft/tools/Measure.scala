package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The measurement core of Bench, ScaleBench and Explain: `run` times a
  * body and tags its Spark jobs; a [[Measure.Ledger]] folds task metrics by
  * tag exactly (a stage belongs to the job that first lists it). */
object Measure {
  /** One run's wall and process-CPU seconds, GC ms and non-fatal error. */
  final case class Sample(wallS: Double, cpuS: Double, gcMs: Long, failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
  }

  /** Executor run ms, memory/disk spill and shuffle-write bytes, jobs, stages. */
  final case class Tally(runMs: Long = 0, memSpill: Long = 0, diskSpill: Long = 0,
      shuffleWrite: Long = 0, jobs: Int = 0, stages: Int = 0) {
    def +(o: Tally): Tally = Tally(runMs + o.runMs, memSpill + o.memSpill,
      diskSpill + o.diskSpill, shuffleWrite + o.shuffleWrite, jobs + o.jobs, stages + o.stages)
  }

  /** Longest wait for the listener bus to deliver a settle marker. */
  val SettleTimeoutS = 30L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `body` under job tag `tag`, after a `System.gc()` outside the timed
    * section: late in a long run, allocation-heavy work would otherwise pay
    * earlier GC debt, and a GC lets Spark's ContextCleaner release state. */
  def run(spark: SparkSession, tag: String)(body: => Unit): Sample = {
    val sc = spark.sparkContext
    System.gc()
    val (t0, c0, g0) = (System.nanoTime(), osBean.getProcessCpuTime, gcMs)
    sc.addJobTag(tag)
    val failure = try { body; None } catch { case NonFatal(e) => Some(e) }
    finally sc.removeJobTag(tag)
    Sample((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9,
      gcMs - g0, failure)
  }

  /** Runs registry query `id` over `sfDir` in full, into the `noop` sink. */
  def noop(spark: SparkSession, sfDir: String, id: String): Unit =
    graft.SparkEntry.queries(id)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** Task metrics per job tag and in `total`, over jobs that start after the
    * ledger registers itself on `spark`'s bus; `settle()` before reading. */
  final class Ledger(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val marker = s"measure-settle-${java.util.UUID.randomUUID}"
    private val settled = new Semaphore(0)
    private val stageTags = mutable.Map.empty[Int, Seq[String]]
    private val byTag = mutable.Map.empty[String, Tally].withDefaultValue(Tally())
    private var whole = Tally()

    private def add(tags: Seq[String], t: Tally): Unit = {
      whole += t
      tags.foreach(k => byTag(k) += t)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      if (tags.contains(marker)) settled.release()
      else synchronized {
        val first = e.stageIds.filterNot(stageTags.contains)
        first.foreach(stageTags(_) = tags)
        add(tags, Tally(jobs = 1, stages = first.size))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      synchronized(stageTags.get(e.stageId).foreach(add(_, Tally(m.executorRunTime,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten))))
    }

    def tally(tag: String): Tally = synchronized(byTag(tag))
    def total: Tally = synchronized(whole)
    def close(): Unit = sc.removeSparkListener(this)

    /** Runs a one-task job under this ledger's (never counted) marker tag and
      * waits until the ledger has seen it start: the bus delivers events in
      * order, so every event of a job that finished earlier is folded in. */
    def settle(): Unit = {
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      if (!settled.tryAcquire(SettleTimeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(s"no settle marker within $SettleTimeoutS s")
    }

    sc.addSparkListener(this)
  }
}
