package graft

import graft.lake.Lake
import graft.model.Schemas
import graft.ops.{Canonical, Cleanse, Features, Universe}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The platform entry point: the reference's orchestrated pipeline chain
  * (docker-automation/run_pipelines.sh:27-50) as one fail-fast Spark main
  * over Lake layers.
  *
  *   1. Universe generation        → lake universe/monthly
  *   2. Historical ETL (Bronze)    → lake bronze/historical
  *   3. Canonical merge (Silver-in) + quality gate (circuit breaker LIVE,
  *      data_quality_gate.py:101-110) → lake silver/historical
  *   4. Feature engineering (Gold) → lake gold/features
  *   5. Derivatives daily snapshot (idempotent partition append)
  *      → lake derivatives/daily
  *
  * Fail-fast: stages run sequentially in one linear method; any stage's
  * exception (schema validation, circuit breaker, write failure) aborts
  * the chain before later layers are touched — the `set -e` of the
  * reference. Each stage reads the previous stage's LAKE artifact (not an
  * in-memory handoff): layers stay independently restartable and
  * inspectable, exactly how a 100 TB run recovers mid-chain. Each layer
  * boundary costs one Spark job: counters are observed on the write
  * (`Lake.write`), and readbacks reuse the written schema (`Lake.read`).
  */
object Pipelines {

  final case class Summary(universeRows: Long, bronzeRows: Long,
    silverRows: Long, goldRows: Long, removedByGate: Long,
    derivativesWritten: Boolean)

  private def log(msg: String): Unit =
    println(s"[pipelines] $msg")

  /** The full chain over a caller-supplied raw fact frame.
    *
    * `raw` must carry (id, date, open, high, low, close, volume,
    * market_cap) — the Bronze contract. `mapping` is the wrapper→canonical
    * id table (may be empty = identity). Returns per-layer row counts. */
  def run(spark: SparkSession, raw: DataFrame, mapping: DataFrame,
      lakeRoot: String, universeN: Int = 10, maxLossPct: Double = 5.0): Summary = {
    val lake = new Lake(spark, lakeRoot)

    // 1. Universe — must run first: defines the asset list downstream
    //    backfills are allowed to touch (run_pipelines.sh:29-31).
    //    Every layer below is one write job; its row count is observed on
    //    that job, never re-counted from the lake.
    log("step 1/5: universe generation")
    val universe = Universe.universeTable(raw, "date", "coin_id", "close", universeN)
    val universeRows = lake.write(universe, "universe", "monthly").rows

    // 2. Bronze layer: the raw history, persisted as-is (historical_data_etl).
    log("step 2/5: historical ETL -> bronze")
    val bronzeRows = lake.write(raw, "bronze", "historical").rows

    // 3. Canonical merge + quality gate -> silver. The breaker is LIVE:
    //    the gate's pre-write aggregate trips it on a poisoned batch, so
    //    the chain aborts here and silver and gold are never touched. The
    //    silver write also observes the latest day the snapshot needs.
    log("step 3/5: canonical merge + quality gate -> silver")
    val bronze = lake.read("bronze", "historical")
    val canon = Canonical.canonicalize(bronze, mapping, "coin_id", "from_id", "to_id")
    val merged = Canonical.aggregate(canon, "canonical_id", "date", "coin_id",
      "market_cap", "volume", backfillCols = Seq("market_cap"),
      tiebreak = col("coin_id"))
    val gate = Cleanse.gate(merged, Schemas.requiredBronze, maxLossPct = maxLossPct)
    val wRet = Window.partitionBy("canonical_id").orderBy(col("date"), col("coin_id"))
    val silver = gate.cleaned
      .withColumn("returns_1d", (col("close") / lag("close", 1).over(wRet)) - 1.0)
    val silverOut = lake.write(silver, "silver", "historical",
      observe = Seq(max(date_format(col("date"), "yyyy-MM-dd")).as("latest")))
    log(f"quality gate: removed ${gate.removed}/${gate.initial} (${gate.lossPct}%.2f%%)")

    // 4. Gold features (feature_engineering_pipeline; two shuffle
    //    boundaries total — see ops.Features).
    log("step 4/5: feature engineering -> gold")
    val gold = Features.goldFeatures(lake.read("silver", "historical"),
      key = "canonical_id", date = "date", close = "close",
      volume = "volume", mcap = "market_cap", tiebreak = col("coin_id"))
    val goldRows = lake.write(gold, "gold", "features").rows

    // 5. Derivatives-style daily snapshot: idempotent partition append of
    //    the latest day (derivatives_snapshot_etl.py:48-56), cut from the
    //    silver artifact rather than a recomputed silver lineage. An empty
    //    silver has no latest day and writes no snapshot.
    log("step 5/5: daily snapshot -> derivatives")
    val wrote = Option(silverOut[String]("latest")).exists { latest =>
      val snap = lake.read("silver", "historical")
        .withColumn("snap_date", date_format(col("date"), "yyyy-MM-dd"))
        .filter(col("snap_date") === latest)
      lake.writeSnapshotIfAbsent(snap, "derivatives", "daily", "snap_date", latest)
    }

    log("all pipelines completed successfully")
    Summary(universeRows, bronzeRows, silverOut.rows, goldRows, gate.removed, wrote)
  }

  /** Bronze contract from the `events` testdata table: per-(user, day)
    * OHLCV — open/close by first/last event timestamp, high/low extremes,
    * volume = event count, market cap = day's value sum. (The smoke
    * stand-in for the reference's market feed; `run` itself is
    * source-agnostic.) */
  def bronzeFromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.util.Tables.events(spark, sfDir)
    ev.groupBy(concat(lit("u"), col("user_id")).as("coin_id"),
        date_trunc("day", col("ts")).as("date"))
      .agg(min_by(col("value"), col("ts")).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).cast("double").as("volume"),
        sum("value").as("market_cap"))
  }

  /** One Bronze fact row as a chunked source yields it — `dateSec` in
    * epoch seconds (day-aligned), converted to the lake's timestamp on
    * assembly. */
  final case class BronzeRow(coin_id: String, dateSec: Long, open: Double,
    high: Double, low: Double, close: Double, volume: Double, market_cap: Double)

  /** Bronze ingestion through the partitioned chunked-range fetcher
    * (ingest.ChunkedFetch — the reference's 179-day OHLC backfill loop,
    * pipeline_helpers.py:221-244, one chunk per Spark task instead of a
    * serial driver loop). `fetch` is the connector boundary: a real
    * deployment closes over an HTTP client built inside the task; tests
    * pass a deterministic stub. The assembled frame carries the exact
    * Bronze contract `run` expects, so
    * `run(spark, bronzeChunked(...), ...)` is the end-to-end deep-history
    * backfill chain. */
  def bronzeChunked(spark: SparkSession, fromSec: Long, toSec: Long,
      fetch: graft.ingest.ChunkedFetch.Chunk => Iterator[BronzeRow],
      chunkDays: Int = 179, throttleMs: Long = 0L,
      maxRetries: Int = 3): DataFrame = {
    import spark.implicits._
    val chunks = graft.ingest.ChunkedFetch.chunkCalendar(fromSec, toSec, chunkDays)
    graft.ingest.ChunkedFetch
      .fetchPartitioned(spark, chunks, fetch, throttleMs, maxRetries)
      .toDF()
      .withColumn("date", col("dateSec").cast("timestamp"))
      .select("coin_id", "date", "open", "high", "low", "close",
        "volume", "market_cap")
  }

  /** `runMain graft.Pipelines <sfDir> <lakeRoot>` — the `run_pipelines.sh`
    * analog against driver testdata. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val lakeRoot = if (args.length > 1) args(1) else
      java.nio.file.Files.createTempDirectory("graft_lake").toString
    val spark = graft.util.Sessions.local()
    val mapping = {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("from_id", "to_id")
    }
    val s = run(spark, bronzeFromEvents(spark, sfDir), mapping, lakeRoot)
    log(s"summary: $s (lake at $lakeRoot)")
    spark.stop()
  }
}
