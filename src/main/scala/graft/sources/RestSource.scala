package graft.sources

import graft.ingest.ChunkedFetch
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the reference's two REST-shaped ingest
  * loops (SURVEY.md §2.1 "REST source" rows), completing the
  * source-connector half of the north-star approach:
  *
  *  - `mode=markets` — the paginated markets endpoint
  *    (universe_generation_pipeline.py:106-115: `get_coins_markets(...,
  *    per_page, page)` in a driver-side page loop). Here each PAGE is one
  *    `InputPartition`, so the pagination that the reference serializes
  *    one-request-at-a-time fans out one-task-per-page.
  *  - `mode=range` — the 179-day chunked deep-history backfill
  *    (pipeline_helpers.py:221-244). Each calendar chunk (the SAME
  *    calendar as [[graft.ingest.ChunkedFetch.chunkCalendar]]) is one
  *    `InputPartition`; RestSourceParitySpec pins bit-identical assembly
  *    against ChunkedFetch's RDD path.
  *
  * `spark.read.format("graft-rest")` resolves through the standard
  * `DataSourceRegister` service file, so the source behaves like any
  * built-in format: schema inference from options, column pruning pushed
  * into the reader ([[SupportsPushDownRequiredColumns]] — a
  * `select(price)` never materializes the other fields), and
  * partition-level retry with exponential backoff inside the reader
  * (the reference's 65 s/3-retry loop, applied per task).
  *
  * The connector boundary is [[RestFixture]]: offline (this sandbox has
  * zero egress) it generates the deterministic payloads the tests and
  * ChunkedFetch share; a real deployment replaces exactly that object's
  * two functions with an HTTP client built INSIDE the reader (never
  * serialized from the driver) — partitioning, pruning, retry, and
  * row-encoding stay untouched.
  */
final class RestSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rest"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestSource.schemaFor(options.getOrDefault("mode", "markets"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // A user-supplied schema may prune/reorder the mode's fields but must
    // name only fields the mode actually serves: an unknown name would
    // otherwise resolve to ordinal -1 and surface as an opaque
    // ArrayIndexOutOfBoundsException at TASK runtime (ADVICE r13) — fail
    // at planning time with the field named instead.
    val mode = Option(properties.get("mode")).getOrElse("markets")
    val known = RestSource.schemaFor(mode).fieldNames.toSet
    val unknown = schema.fieldNames.filterNot(known)
    require(unknown.isEmpty,
      s"graft-rest($mode): unknown field(s) ${unknown.mkString(", ")} in " +
        s"user-supplied schema; this mode serves ${known.toSeq.sorted.mkString(", ")}")
    new RestTable(schema, properties)
  }
}

private[sources] object RestSource {
  val MarketsSchema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("symbol", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("mcap", DoubleType, nullable = false)))

  val RangeSchema: StructType = StructType(Seq(
    StructField("chunk", IntegerType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("close", DoubleType, nullable = false)))

  def schemaFor(mode: String): StructType = mode match {
    case "markets" => MarketsSchema
    case "range"   => RangeSchema
    case other => throw new IllegalArgumentException(
      s"graft-rest: unknown mode '$other' (expected markets|range)")
  }
}

/** Deterministic offline payloads — THE swap point for a real HTTP
  * client. `rangeRows` is the same generator ChunkedFetch's parity spec
  * feeds its RDD path, so the two ingestion shapes are comparable
  * row-for-row. */
object RestFixture {
  private val daySec = 24L * 60 * 60

  /** One markets page: `perPage` ranked assets; values derived from the
    * global rank so any (pages, perPage) split assembles identically. */
  def marketsRows(page: Int, perPage: Int): Iterator[(Int, Int, String, String, Double, Double)] =
    Iterator.range(0, perPage).map { i =>
      val rank = page * perPage + i + 1
      (page, rank, s"asset-$rank", s"A$rank",
        10000.0 / rank, 1.0e12 / (rank.toDouble * rank))
    }

  /** One OHLC-range chunk: one (ts, close) row per day, value a pure
    * function of the timestamp (same rule as ChunkedFetchSpec.stubRows). */
  def rangeRows(ch: ChunkedFetch.Chunk): Iterator[(Long, Double)] =
    Iterator.iterate(ch.fromSec)(_ + daySec).takeWhile(_ <= ch.toSec)
      .map(ts => (ts, (ts % 100000).toDouble / 7.0))
}

private[sources] final class RestTable(tableSchema: StructType,
    props: util.Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-rest(${props.getOrDefault("mode", "markets")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(tableSchema, options)
}

private[sources] final class RestScanBuilder(full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  // column pruning lands HERE (not post-scan): the reader materializes
  // only the pruned fields, the DSv2 contract a 100 TB scan relies on
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new RestScan(full, required, options)
}

private[sources] final class RestScan(full: StructType, required: StructType,
    options: CaseInsensitiveStringMap) extends Scan with Batch {
  private val mode = options.getOrDefault("mode", "markets")
  private val throttleMs = options.getOrDefault("throttleMs", "0").toLong
  private val maxRetries = options.getOrDefault("maxRetries", "3").toInt
  private val backoffMs = options.getOrDefault("backoffMs", "1000").toLong
  private val chaos = RestChaos.Config(
    failPage = options.getOrDefault("chaosFailPage", "-1").toInt,
    failCount = options.getOrDefault("chaosFailCount", "0").toInt,
    malformedEvery = options.getOrDefault("chaosMalformedEvery", "0").toInt,
    key = options.getOrDefault("chaosKey", ""))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-rest mode=$mode"

  override def planInputPartitions(): Array[InputPartition] = mode match {
    case "markets" =>
      val pages = options.getOrDefault("pages", "1").toInt
      val perPage = options.getOrDefault("perPage", "250").toInt
      Array.tabulate(pages)(p => RestPartition.Page(p, perPage))
    case "range" =>
      val from = Option(options.get("fromSec")).getOrElse(
        throw new IllegalArgumentException("graft-rest range: fromSec required")).toLong
      val to = Option(options.get("toSec")).getOrElse(
        throw new IllegalArgumentException("graft-rest range: toSec required")).toLong
      val chunkDays = options.getOrDefault("chunkDays", "179").toInt
      ChunkedFetch.chunkCalendar(from, to, chunkDays)
        .map(RestPartition.Range(_)).toArray
    case other => throw new IllegalArgumentException(s"graft-rest: unknown mode '$other'")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(required, throttleMs, maxRetries, backoffMs, chaos)

  // Accounting for rows the reader DROPPED as malformed (Spark-native
  // SQL-metric channel — shows up in the scan node's metrics): a
  // permissive REST reader that silently swallowed bad payload rows
  // would make row-count drift undiagnosable at 100 TB.
  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new CustomSumMetric {
      override def name(): String = RestChaos.SkipMetric
      override def description(): String = "malformed payload rows skipped"
    })

  /** Micro-batch form — the reference's LIVE polling loop
    * (live_data_pipeline.py:103-107 re-fetches the markets pages each
    * cycle): the stream's OFFSET is the page number. `pages` models how
    * many pages upstream exposes RIGHT NOW, so a trigger processes
    * exactly the pages that appeared since the checkpointed offset —
    * re-running with a grown `pages` appends only the new pages
    * (exactly-once across restarts, the snapshotIngest contract); with
    * Trigger.AvailableNow one run drains to the current latest and
    * stops. Only `mode=markets` streams (the range backfill is a batch
    * concept). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(mode == "markets",
      s"graft-rest: only mode=markets supports streaming (got '$mode')")
    val pages = options.getOrDefault("pages", "1").toInt
    val perPage = options.getOrDefault("perPage", "250").toInt
    new RestMicroBatchStream(pages, perPage,
      new RestReaderFactory(required, throttleMs, maxRetries, backoffMs, chaos))
  }
}

/** Page-offset micro-batch stream over the markets fixture. */
private[sources] final case class RestPageOffset(page: Long) extends Offset {
  override def json(): String = s"""{"page":$page}"""
}

private[sources] final class RestMicroBatchStream(pages: Int, perPage: Int,
    factory: PartitionReaderFactory) extends MicroBatchStream {
  override def initialOffset(): Offset = RestPageOffset(0L)
  override def latestOffset(): Offset = RestPageOffset(pages.toLong)
  override def deserializeOffset(json: String): Offset = {
    // {"page":N} — extracted without a JSON lib (the only field we write)
    val n = json.replaceAll("[^0-9]", "")
    RestPageOffset(if (n.isEmpty) 0L else n.toLong)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RestPageOffset].page
    val e = end.asInstanceOf[RestPageOffset].page
    (s until e).map(p => RestPartition.Page(p.toInt, perPage): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object RestPartition {
  final case class Page(page: Int, perPage: Int) extends InputPartition
  final case class Range(chunk: ChunkedFetch.Chunk) extends InputPartition
}

/** Deterministic fault injection for the connector's failure-path specs
  * (VERDICT r13 #6): a real deployment's transient HTTP failures and
  * malformed payload rows are modeled by options —
  *
  *   - `chaosFailPage` + `chaosFailCount`: the fetch for that page THROWS
  *     on its first N attempts (then succeeds), exercising the per-task
  *     retry/backoff loop and, when N exceeds `maxRetries`, the
  *     exhaustion error.
  *   - `chaosMalformedEvery=k`: every k-th payload row arrives with a
  *     null id — the reader must skip it and account for it in the
  *     [[RestChaos.SkipMetric]] scan metric.
  *   - `chaosKey`: namespaces the attempt counters so concurrent specs
  *     don't share state (local-mode executors share this JVM).
  *
  * Production reads leave all of these at their defaults and take the
  * zero-overhead path. */
object RestChaos {
  val SkipMetric = "skippedMalformedRows"
  final case class Config(failPage: Int, failCount: Int,
      malformedEvery: Int, key: String) {
    def enabled: Boolean = failCount > 0 || malformedEvery > 0
  }
  private val attempts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private[sources] def counter(key: String): java.util.concurrent.atomic.AtomicInteger =
    attempts.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicInteger)
  /** Spec hook: attempts recorded under `chaosKey:page`. */
  def attemptsFor(key: String, page: Int): Int =
    Option(attempts.get(s"$key:$page")).map(_.get()).getOrElse(0)
  def reset(): Unit = attempts.clear()
}

private[sources] final class RestReaderFactory(required: StructType,
    throttleMs: Long, maxRetries: Int, backoffMs: Long,
    chaos: RestChaos.Config)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // field-name → full-row ordinal projection, computed once per task
    def reader(full: StructType, rows: () => Iterator[Seq[Any]]) = {
      val fullNames = full.fieldNames.toSeq
      val ordinals = required.fields.map(f => fullNames.indexOf(f.name))
      // malformed = wrong arity, or null in a non-nullable source field:
      // skipped (never surfaced as a task error) and counted in the scan's
      // skippedMalformedRows metric. Nullability comes from the SOURCE
      // schema, not the pruned one — a malformed row is malformed even if
      // the broken field was pruned away... except we can only see fields
      // the fetch materialized; arity covers truncated payloads.
      val nonNullable = full.fields.zipWithIndex
        .collect { case (f, i) if !f.nullable => i }
      def malformed(r: Seq[Any]): Boolean =
        r == null || r.length != fullNames.length ||
          nonNullable.exists(i => r(i) == null)
      new PartitionReader[InternalRow] {
        // the fetch runs ONCE, under ChunkedFetch's retry/backoff contract:
        // a partition that fails retries alone; a partition that succeeds
        // pays the courtesy throttle
        private lazy val it: Iterator[Seq[Any]] =
          ChunkedFetch.withRetry(throttleMs, maxRetries, backoffMs)(rows())(attempts =>
            s"graft-rest partition failed after $attempts attempts").iterator
        private var current: Seq[Any] = _
        private var skipped = 0L
        override def next(): Boolean = {
          while (it.hasNext) {
            val r = it.next()
            if (!malformed(r)) { current = r; return true }
            skipped += 1
          }
          false
        }
        override def get(): InternalRow =
          InternalRow.fromSeq(ordinals.map { o =>
            current(o) match {
              case s: String => UTF8String.fromString(s)
              case v => v
            }
          }.toIndexedSeq)
        override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
          new CustomTaskMetric {
            override def name(): String = RestChaos.SkipMetric
            override def value(): Long = skipped
          })
        override def close(): Unit = ()
      }
    }
    def withChaos(page: Int, base: () => Iterator[Seq[Any]]): () => Iterator[Seq[Any]] =
      if (!chaos.enabled) base
      else () => {
        if (page == chaos.failPage && chaos.failCount > 0) {
          val n = RestChaos.counter(s"${chaos.key}:$page").getAndIncrement()
          if (n < chaos.failCount) throw new java.io.IOException(
            s"graft-rest chaos: injected transient failure ${n + 1}/${chaos.failCount} for page $page")
        }
        val rows = base()
        if (chaos.malformedEvery > 0)
          rows.map(r => if (r(1).asInstanceOf[Int] % chaos.malformedEvery == 0)
            r.updated(2, null) else r)
        else rows
      }
    partition match {
      case RestPartition.Page(page, perPage) =>
        reader(RestSource.MarketsSchema,
          withChaos(page, () => RestFixture.marketsRows(page, perPage)
            .map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5, t._6))))
      case RestPartition.Range(ch) =>
        reader(RestSource.RangeSchema,
          () => RestFixture.rangeRows(ch).map(t => Seq[Any](ch.idx, t._1, t._2)))
      case other =>
        throw new IllegalArgumentException(s"graft-rest: unexpected partition $other")
    }
  }
}
