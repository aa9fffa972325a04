package graft.ingest

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Partitioned chunked-range ingestion (pipeline_helpers.py:221-244, the
  * deep-history OHLC backfill; SURVEY.md §4 rows 6/7).
  *
  * The reference walks 179-day windows in a driver-side while-loop — one
  * request at a time, one second of courtesy sleep each, so a 6-year
  * backfill serializes ~13 round-trips per asset on a single thread. The
  * Spark-native shape keeps the SAME chunk calendar and politeness
  * controls but runs each chunk as its own task: `parallelize(chunks,
  * nChunks).mapPartitions(fetch)` — one element per partition BY
  * CONSTRUCTION, so parallelism == nChunks (up to the scheduler), the
  * rate limit applies per upstream connection (per task) instead of
  * globally, and a failed chunk retries alone with exponential backoff
  * (the reference's 65 s/3-retry loop, universe_generation_pipeline.py:
  * 53-76) without re-fetching the rest.
  *
  * `fetch` is the connector boundary: a real deployment closes over an
  * HTTP client built INSIDE the task (never serialized from the driver);
  * tests and offline runs pass a deterministic stub. Results are
  * materialized eagerly inside the retry so a failure mid-payload retries
  * the whole chunk, not half of it.
  */
object ChunkedFetch {

  /** One fetch window [fromSec, toSec], inclusive bounds in epoch seconds. */
  final case class Chunk(idx: Int, fromSec: Long, toSec: Long)

  private val daySec = 24L * 60 * 60

  /** The reference's chunk calendar (pipeline_helpers.py:227-236): windows
    * of `chunkDays` days starting at `fromSec`, each next window starting
    * one day after the previous one's end, clipped to `toSec`. */
  def chunkCalendar(fromSec: Long, toSec: Long, chunkDays: Int = 179): Seq[Chunk] = {
    val span = chunkDays * daySec
    Iterator.iterate(fromSec)(f => math.min(f + span, toSec) + daySec)
      .takeWhile(_ < toSec)
      .zipWithIndex
      .map { case (f, i) => Chunk(i, f, math.min(f + span, toSec)) }
      .toSeq
  }

  /** Run `fetch` once per chunk, one chunk per task, each inside
    * [[withRetry]]. */
  def fetchPartitioned[T: Encoder: scala.reflect.ClassTag](spark: SparkSession, chunks: Seq[Chunk],
      fetch: Chunk => Iterator[T], throttleMs: Long = 0L,
      maxRetries: Int = 3, backoffMs: Long = 1000L): Dataset[T] = {
    val rdd = spark.sparkContext
      .parallelize(chunks, math.max(chunks.size, 1))
      .mapPartitions { it =>
        it.flatMap { ch =>
          withRetry(throttleMs, maxRetries, backoffMs)(fetch(ch))(attempts =>
            s"chunk ${ch.idx} [${ch.fromSec},${ch.toSec}] failed after $attempts attempts")
        }
      }
    spark.createDataset(rdd)
  }

  /** The retry/backoff/throttle contract every upstream fetch runs under
    * (this object's chunks and the `graft-rest` source's partitions).
    * Drains `fetch` eagerly, so a failure mid-payload retries the whole
    * payload. Retries up to `maxRetries` times with exponential backoff
    * starting at `backoffMs`; sleeps `throttleMs` after a successful fetch
    * (the reference's per-request courtesy sleep, applied per task). After
    * the last failed attempt it throws an IllegalStateException carrying
    * `failure(attempts)` and the last cause.
    *
    * Only `NonFatal` failures are retried: fatal errors (OutOfMemoryError
    * etc.) propagate immediately, and `InterruptedException` rethrows with
    * the interrupt flag restored so Spark task-kill / speculation
    * cancellation is never swallowed into a backoff sleep. */
  private[graft] def withRetry[T](throttleMs: Long, maxRetries: Int, backoffMs: Long)(
      fetch: => Iterator[T])(failure: Int => String): Vector[T] = {
    var attempt = 0
    var out: Option[Vector[T]] = None
    var last: Throwable = null
    while (out.isEmpty && attempt <= maxRetries) {
      if (attempt > 0) Thread.sleep(backoffMs << (attempt - 1))
      try out = Some(fetch.toVector)
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case scala.util.control.NonFatal(e) => last = e
      }
      attempt += 1
    }
    // courtesy throttle applies to successful fetches only — a fetch that
    // exhausted its retries should fail immediately, not sleep
    if (out.isDefined && throttleMs > 0) Thread.sleep(throttleMs)
    out.getOrElse(throw new IllegalStateException(failure(attempt), last))
  }

  /** The task id executing the current fetch — for tests/telemetry
    * asserting the one-chunk-per-task contract. */
  def currentPartition(): Int =
    Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
}
