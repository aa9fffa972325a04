package graft.tools

import scala.util.control.NonFatal

import graft.SparkEntry

/** Scaling-cadence runner (VERDICT r7 #8): the sf1 re-measurement
  * discipline (ScaleUp ×10 fixture, warmup + min-of-reps, wall AND
  * process CPU) as ONE committed command, so scale claims in DESIGN.md §4
  * re-measure mechanically as operators evolve instead of by hand.
  *
  * `runMain graft.tools.ScaleBench <srcDir> <scaledDir> [ids... | all]`
  *
  * - Generates `<scaledDir>` with tools.ScaleUp (×10, decorrelated
  *   replicas) iff it does not already hold a lineitem.parquet.
  * - For each query id (default: the scale-audit set below — the
  *   heaviest registered designs plus every round's new operators), runs
  *   warmup + 3 reps at BOTH scale factors and reports the minimum wall
  *   with its CPU.
  * - Prints the DESIGN.md-style markdown row per query and appends a
  *   JSON line per run to SCALE_LOCAL.jsonl at the repo root (same
  *   committed-history rationale as BENCH_LOCAL.jsonl).
  *
  * Reading the numbers (DESIGN.md §4): a perfectly LINEAR operator costs
  * 10× total CPU at 10× rows; wall below 10× is parallelism; CPU far
  * above ~13× means a super-linear design term — find it before the
  * corpus does.
  */
object ScaleBench {
  private val DefaultIds = Seq(
    "q_dedup_semantic", "q_dedup_semantic_hier", "q_ann_ivf_trained",
    "q_ann_lsh_stacked", "q_dedup_cluster", "q_dedup_keep_best",
    "q_dedup_ngram_jaccard", "q_contamination",
    "q_text_entropy", "q_text_unigram_logprob")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    // `all` = the whole registry (sorted) — the full-suite scaling audit
    val ids =
      if (args.length > 2 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args.drop(2).toSeq
      else DefaultIds
    val reps = 3

    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      println(s"[scalebench] generating $dst = ScaleUp x10 of $src")
      ScaleUp.main(Array(src, dst, "10"))
    }

    val spark = graft.util.Sessions.local()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // Task-metrics capture (VERDICT r13 #4): scale claims that rest on a
    // "single-JVM shuffle spill" attribution must cite MEASURED spill.
    // A SparkListener sums memory/disk spill and shuffle-write bytes per
    // rep; the row keeps the min-wall rep's values. Listener delivery is
    // async, so each rep settles briefly before reading the counters.
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    final case class Rep(wall: Double, cpu: Double,
      spillMemMb: Long, spillDiskMb: Long, shufMb: Long)

    /** min-wall rep under the Bench/Explain protocol: untimed warmup,
      * System.gc outside the timed section. */
    def measure(id: String, dir: String): Rep = {
      val fn = SparkEntry.queries(id)
      fn(spark, dir).write.format("noop").mode("overwrite").save() // warmup
      val runs = (1 to reps).map { _ =>
        System.gc()
        metrics.reset()
        val t0 = System.nanoTime(); val c0 = osBean.getProcessCpuTime
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        Thread.sleep(300) // let the listener bus drain this rep's TaskEnds
        Rep(wall, cpu, metrics.memSpillMb, metrics.diskSpillMb, metrics.shufWriteMb)
      }
      runs.minBy(_.wall)
    }

    val rows = ids.map { id =>
      val a = measure(id, src)
      val b = measure(id, dst)
      println(f"| $id | ${a.wall}%.2f | ${b.wall}%.2f | ${b.wall / a.wall}%.1f× | " +
        f"${b.cpu / a.cpu}%.1f× (${a.cpu}%.1f→${b.cpu}%.1f s) | " +
        f"spill ${a.spillMemMb}→${b.spillMemMb} MB mem, ${a.spillDiskMb}→${b.spillDiskMb} MB disk, " +
        f"shuffle ${a.shufMb}→${b.shufMb} MB |")
      (id, a, b)
    }

    val stamp = java.time.Instant.now().toString
    val json = rows.map { case (id, a, b) =>
      f"""\"$id\":{"sf01_wall":${a.wall}%.3f,"sf01_cpu":${a.cpu}%.2f,""" +
        f""""sf1_wall":${b.wall}%.3f,"sf1_cpu":${b.cpu}%.2f,""" +
        f""""sf01_spill_mem_mb":${a.spillMemMb},"sf01_spill_disk_mb":${a.spillDiskMb},"sf01_shuffle_mb":${a.shufMb},""" +
        f""""sf1_spill_mem_mb":${b.spillMemMb},"sf1_spill_disk_mb":${b.spillDiskMb},"sf1_shuffle_mb":${b.shufMb}}"""
    }.mkString(s"""{"at":"$stamp","src":"$src","dst":"$dst","queries":{""", ",", "}}")
    try {
      val root = sys.props.getOrElse("graft.repo.root", ".")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/SCALE_LOCAL.jsonl"),
        (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case NonFatal(e) => System.err.println(s"[scalebench] tee failed: $e") }
    println(json)
    spark.stop()
  }
}

/** Sums spill/shuffle task metrics across all tasks since the last
  * reset() — public-API SparkListener, works with the UI disabled. */
final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
  private val memSpill = new java.util.concurrent.atomic.AtomicLong
  private val diskSpill = new java.util.concurrent.atomic.AtomicLong
  private val shufWrite = new java.util.concurrent.atomic.AtomicLong
  private val runTime = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = { memSpill.set(0); diskSpill.set(0); shufWrite.set(0); runTime.set(0) }
  def memSpillMb: Long = memSpill.get >> 20
  def diskSpillMb: Long = diskSpill.get >> 20
  def shufWriteMb: Long = shufWrite.get >> 20
  /** Summed executor task run time (ms) — the core-scaling signal Bench
    * publishes beside wall (r15, VERDICT r14 #2): wall can be flat across
    * core counts when a query is latency-bound, but task-time per wall
    * second IS the realized parallelism. */
  def runTimeMs: Long = runTime.get
  override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      runTime.addAndGet(m.executorRunTime)
    }
  }
}
