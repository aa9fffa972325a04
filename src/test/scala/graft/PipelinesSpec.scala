package graft

import graft.ingest.Ingest
import graft.ops.Cleanse
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end orchestration (run_pipelines.sh analog) + ingest normalizer
  * (pipeline_helpers.py:107-156). */
class PipelinesSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_pipe").toString

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  /** 2 assets × 20 days of well-formed OHLC; one wrapper id mapping to a1. */
  private def cleanBronze(poisonRows: Int = 0): DataFrame = {
    import spark.implicits._
    val rows = for {
      asset <- Seq("a1", "w1", "a2")
      day <- 1 to 20
    } yield {
      val base = 100.0 + day + (if (asset == "a2") 50 else 0)
      val poisoned = asset == "a1" && day <= poisonRows
      (asset, ts(f"2024-01-$day%02d"), base, base + 2.0, base - 2.0,
        if (poisoned) base + 1000.0 else base + 1.0, // close way above high
        10.0, if (asset == "w1") 1.0 else 1000.0 * day)
    }
    rows.toDF("coin_id", "date", "open", "high", "low", "close", "volume", "market_cap")
  }

  private def mapping: DataFrame = {
    import spark.implicits._
    Seq(("w1", "a1")).toDF("from_id", "to_id")
  }

  test("bronze assembled via fetchPartitioned equals the direct frame and feeds the chain") {
    // the stub source: the direct events-derived bronze, collected once
    // and served back one chunk window at a time (a real deployment's
    // fetch closes over an HTTP client built inside the task instead)
    val direct = Pipelines.bronzeFromEvents(spark, sf)
    val served = direct.collect().map { r =>
      Pipelines.BronzeRow(r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7))
    }
    val fromSec = served.map(_.dateSec).min
    val toSec = served.map(_.dateSec).max
    // small windows so the calendar genuinely partitions the range
    val chunkDays = 7
    assert(graft.ingest.ChunkedFetch.chunkCalendar(fromSec, toSec, chunkDays).size > 1)
    val assembled = Pipelines.bronzeChunked(spark, fromSec, toSec,
      ch => served.iterator.filter(r => r.dateSec >= ch.fromSec && r.dateSec <= ch.toSec),
      chunkDays = chunkDays)
    // chunk windows are disjoint and cover the range: the assembly is the
    // direct frame, row for row
    assert(assembled.count() == direct.count())
    assert(assembled.exceptAll(direct).count() == 0 &&
      direct.exceptAll(assembled).count() == 0)
    // and it satisfies the Bronze contract end-to-end: the full chain runs
    // off the chunked assembly with the same layer counts as a direct run
    val (rootA, rootB) = (tmp(), tmp())
    val sA = Pipelines.run(spark, assembled, mapping, rootA, universeN = 2)
    val sB = Pipelines.run(spark, direct, mapping, rootB, universeN = 2)
    assert(sA == sB)
  }

  test("Pipelines.run materializes every layer with fail-fast ordering") {
    val root = tmp()
    val s = Pipelines.run(spark, cleanBronze(), mapping, root, universeN = 2)
    // every layer artifact exists on the lake
    for ((layer, name) <- Seq("universe" -> "monthly", "bronze" -> "historical",
        "silver" -> "historical", "gold" -> "features", "derivatives" -> "daily"))
      assert(new java.io.File(s"$root/$layer/$name").exists(), s"$layer/$name missing")
    assert(s.universeRows == 2)        // 1 month × top-2 assets
    assert(s.bronzeRows == 60)         // 3 ids × 20 days
    assert(s.silverRows == 40)         // w1 merged into a1: 2 canonical ids × 20
    assert(s.goldRows == 40)
    assert(s.removedByGate == 0)
    assert(s.derivativesWritten)
    // canonical merge: w1's volume folded into a1's (10 + 10 per day)
    val silver = spark.read.parquet(s"$root/silver/historical")
    val a1 = silver.filter(col("canonical_id") === "a1" && col("volume") =!= 20.0).count()
    assert(a1 == 0, "w1 volume not merged into canonical a1")
    // gold layer carries derived features, including the recursive
    // momentum indicators joined from ops.Recursive.momentum
    // (create_momentum_features / create_volatility_features parity)
    val gold = spark.read.parquet(s"$root/gold/features")
    assert(Seq("ret_1d", "volatility_30d", "bb_upper", "mcap_rank_daily",
      "dominance_pct", "rsi_14", "macd", "macd_sig", "macd_hist",
      "atr_14").forall(gold.columns.contains))
    // spot values: a2's close rises exactly +1/day ⇒ no down days ⇒ RSI
    // is exactly 100 after the seed row; high-low = 4 and |high-prev_close|
    // = |low-prev_close| = 2 ⇒ TR = 4 every day ⇒ Wilder ATR stays 4.0
    val a2 = gold.filter(col("canonical_id") === "a2")
      .orderBy("date").select("rsi_14", "atr_14", "macd", "macd_sig", "macd_hist")
      .collect()
    assert(a2.length == 20)
    assert(a2.head.isNullAt(0), "seed row must have null RSI")
    assert(a2.tail.forall(_.getDouble(0) == 100.0), "monotone ramp must pin RSI at 100")
    assert(a2.forall(_.getDouble(1) == 4.0), "constant TR must pin ATR at 4.0")
    assert(a2.forall(r => r.getDouble(4) == r.getDouble(2) - r.getDouble(3)),
      "macd_hist must equal macd - macd_sig")
    // snapshot idempotency: second run of the same day appends nothing
    val before = spark.read.parquet(s"$root/derivatives/daily").count()
    val s2 = Pipelines.run(spark, cleanBronze(), mapping, root, universeN = 2)
    assert(!s2.derivativesWritten)
    assert(spark.read.parquet(s"$root/derivatives/daily").count() == before)
  }

  test("Pipelines.run on an empty raw frame counts 0 everywhere and cuts no snapshot") {
    val root = tmp()
    val s = Pipelines.run(spark, cleanBronze().limit(0), mapping, root, universeN = 2)
    assert(s == Pipelines.Summary(0, 0, 0, 0, 0, derivativesWritten = false))
    // an empty silver has no latest day: no snap_date=null partition
    assert(!new java.io.File(s"$root/derivatives/daily/snap_date=null").exists())
    assert(!new java.io.File(s"$root/derivatives").exists())
  }

  test("Pipelines.run trips the circuit breaker on poisoned input and never writes gold") {
    val root = tmp()
    // 5 poisoned days out of 60 rows ≈ 8.3% > 5% threshold
    intercept[Cleanse.CircuitBreakerTripped] {
      Pipelines.run(spark, cleanBronze(poisonRows = 5), mapping, root, universeN = 2)
    }
    // fail-fast: layers BEFORE the gate exist, layers after do not
    assert(new java.io.File(s"$root/bronze/historical").exists())
    assert(!new java.io.File(s"$root/gold/features").exists(), "gold written after breaker trip")
    assert(!new java.io.File(s"$root/silver/historical").exists(), "silver written after breaker trip")
  }

  test("Ingest.parseAssetMetadata flattens a nested payload like the reference parser") {
    import spark.implicits._
    val payload =
      """{"id": "bitcoin", "last_updated": "2024-03-05T17:34:00Z",
        | "market_cap_rank": 1, "genesis_date": "2009-01-03",
        | "sentiment_votes_up_percentage": 84.5,
        | "categories": ["Layer 1 (L1)", "Proof of Work"],
        | "developer_data": {"forks": 36000, "stars": 73000, "subscribers": 3900,
        |   "total_issues": 7700, "closed_issues": 7600,
        |   "pull_request_contributors": 850, "commit_count_4_weeks": 300},
        | "market_data": {"total_value_locked": null, "mcap_to_tvl_ratio": null,
        |   "fdv_to_tvl_ratio": null, "ath_change_percentage": {"usd": -8.5},
        |   "circulating_supply": 19600000.0,
        |   "price_change_percentage_7d": 2.5, "price_change_percentage_30d": 10.0,
        |   "price_change_percentage_1y": 120.0},
        | "links": {"homepage": ["https://bitcoin.org", "", ""]}}""".stripMargin
    val row = Ingest.parseAssetMetadata(Seq(payload).toDF("raw"), "raw").head()
    assert(row.getAs[String]("coin_id") == "bitcoin")
    assert(row.getAs[Timestamp]("last_updated") == ts("2024-03-05")) // normalized to day
    assert(row.getAs[Int]("rank") == 1)
    assert(row.getAs[Timestamp]("genesis_date") == ts("2009-01-03"))
    assert(row.getAs[Double]("sentiment_up_pct") == 84.5)
    assert(row.getAs[scala.collection.Seq[String]]("categories").toSeq
      == Seq("Layer 1 (L1)", "Proof of Work"))
    assert(row.getAs[Long]("pr_contributors") == 850L)     // renamed key
    assert(row.getAs[Long]("commit_count_4w") == 300L)     // renamed key
    assert(row.isNullAt(row.fieldIndex("tvl")))            // null passthrough
    assert(row.getAs[Double]("ath_change_pct") == -8.5)    // nested .get chain
    assert(row.getAs[String]("homepage") == "https://bitcoin.org") // homepage[0]
  }

  test("Ingest.parseAssetMetadata coerces missing sub-documents and bad JSON to nulls") {
    import spark.implicits._
    val sparsePayload = """{"id": "newcoin", "market_cap_rank": 500}"""
    val rows = Ingest.parseAssetMetadata(
      Seq(sparsePayload, "not json at all").toDF("raw"), "raw").collect()
    val sparse = rows(0)
    assert(sparse.getAs[String]("coin_id") == "newcoin")
    assert(sparse.isNullAt(sparse.fieldIndex("forks")))     // developer_data absent
    assert(sparse.isNullAt(sparse.fieldIndex("homepage")))  // links absent
    assert(sparse.isNullAt(sparse.fieldIndex("genesis_date")))
    val bad = rows(1)
    assert(bad.isNullAt(bad.fieldIndex("coin_id")))         // parse failure → null row
  }
}
