package graft

import graft.ops._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hand-computed semantics for the pipeline modules (quality gate,
  * canonical merge, taxonomy, integrity stats, recursive kernels), the
  * FanOut guard and the session's pinned engine values. */
class OpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def ohlcDf(rows: Seq[(String, Double, Double, Double)]) = {
    val schema = StructType(Seq(
      StructField("canonical_id", StringType), StructField("low", DoubleType),
      StructField("high", DoubleType), StructField("close", DoubleType)))
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3, r._4)).asJava, schema)
      .withColumn("date", lit("2024-01-01").cast("timestamp"))
      .withColumn("open", col("close"))
  }

  test("Cleanse.filterOhlc removes out-of-band rows and counts them") {
    val df = ohlcDf(Seq(("a", 1.0, 2.0, 1.5), ("b", 1.0, 2.0, 2.5), ("c", 1.0, 2.0, 0.5)))
    val r = Cleanse.filterOhlc(df)
    assert(r.initial == 3 && r.removed == 2)
    assert(r.cleaned.select("canonical_id").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("Cleanse.filterOhlc keeps rows with null OHLC fields (pandas NaN semantics)") {
    val schema = StructType(Seq(
      StructField("canonical_id", StringType), StructField("low", DoubleType),
      StructField("high", DoubleType), StructField("close", DoubleType)))
    val df = spark.createDataFrame(Seq(
      Row("ok", 1.0, 2.0, 1.5),
      Row("null_close", 1.0, 2.0, null),   // comparisons vs NaN are False in pandas
      Row("null_low", null, 2.0, 1.5),
      Row("bad", 1.0, 2.0, 9.9)).asJava, schema)
    val r = Cleanse.filterOhlc(df)
    assert(r.initial == 4 && r.removed == 1)
    assert(r.cleaned.select("canonical_id").collect().map(_.getString(0)).toSet
      == Set("ok", "null_close", "null_low"))
  }

  test("Cleanse.circuitBreaker trips above the loss threshold") {
    val df = ohlcDf(Seq(("a", 1.0, 2.0, 1.5), ("b", 1.0, 2.0, 9.9)))
    intercept[Cleanse.CircuitBreakerTripped] {
      Cleanse.gate(df, Schemas2.required)
    }
  }
  private object Schemas2 { val required = Set("canonical_id", "date", "open", "high", "low", "close") }

  test("Cleanse.validateSchema reports missing required columns") {
    val df = ohlcDf(Seq(("a", 1.0, 2.0, 1.5))).drop("open")
    assert(Cleanse.validateSchema(df, Schemas2.required) == Set("open"))
  }

  test("Canonical.aggregate picks native row, sums volume, backfills nulls") {
    import spark.implicits._
    val df = Seq(
      // (canonical, date, id, mcap, volume, tvl)
      ("btc", "2024-01-01", "wbtc", 100.0, 10.0, Some(7.0)),
      ("btc", "2024-01-01", "btc", 50.0, 5.0, None),
      ("eth", "2024-01-01", "weth", 30.0, 3.0, None)
    ).toDF("canonical_id", "date", "coin_id", "market_cap", "volume", "tvl")
    val out = Canonical.aggregate(df, "canonical_id", "date", "coin_id",
      "market_cap", "volume", Seq("tvl"), col("coin_id"))
      .orderBy("canonical_id").collect()
    val btc = out(0)
    assert(btc.getAs[String]("coin_id") == "btc")      // native beats higher mcap
    assert(btc.getAs[Double]("volume") == 15.0)        // group sum
    assert(btc.getAs[Double]("tvl") == 7.0)            // backfilled from wrapper
    val eth = out(1)
    assert(eth.getAs[String]("coin_id") == "weth")     // no native -> highest mcap
  }

  test("Taxonomy precedence, overrides, and fallback") {
    import spark.implicits._
    val df = Seq(
      ("bitcoin", Seq("Layer 1 (L1)", "Store of Value")),
      ("tether", Seq("Stablecoin", "DeFi")),
      ("uni", Seq("Decentralized Finance (DeFi)")),
      ("obscure", Seq("Something Else"))
    ).toDF("coin_id", "categories")
    val cls = Taxonomy.classifyArray(col("categories"), Taxonomy.referenceTiers,
      overrides = Seq((col("coin_id") === "bitcoin") -> "Bitcoin"))
    val got = df.select(col("coin_id"), cls.as("c")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("bitcoin") == "Bitcoin")          // override wins over tiers
    assert(got("tether") == "Stablecoin")        // first tier wins over DeFi
    assert(got("uni") == "DeFi")
    assert(got("obscure") == "Uncategorized")
  }

  test("Integrity.welch matches a known two-sample result") {
    // populations: (0,1,2,3,4) vs (2,3,4,5,6): t = -2, df = 8, p ~ 0.0805
    val r = Integrity.welch(5, 2.0, 2.5, 5, 4.0, 2.5)
    assert(math.abs(r.t - (-2.0)) < 1e-12)
    assert(math.abs(r.df - 8.0) < 1e-12)
    assert(math.abs(r.p - 0.08051623) < 1e-6)
  }

  test("Integrity.backfillBias flags histories that grew backwards") {
    import spark.implicits._
    val prev = Seq(("a", "2024-01-05"), ("b", "2024-01-05")).toDF("canonical_id", "date")
    val cur = Seq(("a", "2024-01-01"), ("b", "2024-01-05")).toDF("canonical_id", "date")
    val bad = Integrity.backfillBias(prev, cur).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("a"))
  }

  test("Integrity.repaintedCells flags drifted common cells only") {
    import spark.implicits._
    val prev = Seq(("a", "d1", 1.0), ("b", "d1", 2.0)).toDF("canonical_id", "date", "close")
    val cur = Seq(("a", "d1", 1.0), ("b", "d1", 2.5), ("c", "d1", 9.0))
      .toDF("canonical_id", "date", "close")
    val bad = Integrity.repaintedCells(prev, cur, "close").collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("b"))
  }

  test("Integrity.ohlcViolations counts out-of-band rows only") {
    val df = ohlcDf(Seq(("a", 1.0, 2.0, 1.5), ("b", 1.0, 2.0, 2.5), ("c", 1.0, 2.0, 0.999999999)))
    assert(Integrity.ohlcViolations(df) == 1L) // c is inside tolerance
  }

  test("Integrity.precisionBreaks flags a mid-series decimal-length regime change") {
    import spark.implicits._
    // broken asset: first half 2dp, second half 8dp; stable asset: all 2dp
    val rows =
      (1 to 30).map(i => ("broken", f"2024-01-$i%02d", 1.12)) ++
      (1 to 30).map(i => ("broken", f"2024-02-$i%02d", 1.12345678 + i * 1e-8)) ++
      (1 to 60).map(i => ("stable", f"2024-01-$i%02d", 2.34))
    val df = rows.toDF("canonical_id", "date", "close")
    val flagged = Integrity.precisionBreaks(df, "canonical_id", "date", col("close"),
      alpha = 0.001, minSamples = 50).collect()
    assert(flagged.map(_.getString(0)).toSeq == Seq("broken"))
    // parity: the executor-evaluated t/dof/p must equal the driver-side
    // scalar path (welch) fed the same moments, recomputed independently
    val dl = Integrity.decimalLen(col("close"))
    val halves = df.filter(col("canonical_id") === "broken")
      .withColumn("dl", dl)
      .withColumn("second", col("date") >= "2024-02-01")
      .groupBy("second").agg(count(lit(1)).as("n"), avg("dl").as("m"),
        var_samp("dl").as("v"))
      .collect().map(r => r.getBoolean(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (n1, m1, v1) = halves(false); val (n2, m2, v2) = halves(true)
    val expect = Integrity.welch(n1, m1, v1, n2, m2, v2)
    val got = flagged.head
    // near-equality: this recomputation aggregates moments in a different
    // partition order, so the inputs to welch differ by final-ulp FP noise
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    assert(close(got.getDouble(1), expect.t) && close(got.getDouble(2), expect.df),
      s"t/dof mismatch: got ${got.getDouble(1)}/${got.getDouble(2)}, expect ${expect.t}/${expect.df}")
    assert(got.getDouble(3) < 0.001 && close(got.getDouble(3), expect.p) || expect.p == 0.0 && got.getDouble(3) == 0.0)
  }

  test("Integrity.publicationLagViolations returns only drifted dates") {
    import spark.implicits._
    val stored = Seq(("d1", 1.0), ("d2", 2.0)).toDF("date", "stored_factor")
    val recomputed = Seq(("d1", 1.0), ("d2", 2.1)).toDF("date", "pit_factor")
    val bad = Integrity.publicationLagViolations(stored, recomputed,
      "date", "stored_factor", "pit_factor").collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("d2"))
  }

  test("Integrity.errorPredictability matches welch on hand-fed moments; guards degenerate input") {
    import spark.implicits._
    // flagged forward returns {1,3}: n=2 mean=2 var=2; unflagged {0,2,4}: n=3 mean=2 var=4
    val df = Seq((true, 1.0), (true, 3.0), (false, 0.0), (false, 2.0), (false, 4.0))
      .toDF("flag", "fwd")
    val got = Integrity.errorPredictability(df, col("flag"), col("fwd"))
    assert(got.isDefined)
    val expect = Integrity.welch(2, 2.0, 2.0, 3, 2.0, 4.0)
    assert(got.get._1 == expect) // distributed moments == direct computation
    // sharpe = mean/std * sqrt(365) = 2/sqrt(2) * sqrt(365)
    assert(math.abs(got.get._2 - 2.0 / math.sqrt(2.0) * math.sqrt(365.0)) < 1e-12)
    // guards: single flagged row; both-zero variance — each must yield None, not throw
    val tiny = Seq((true, 1.0), (false, 0.0), (false, 2.0)).toDF("flag", "fwd")
    assert(Integrity.errorPredictability(tiny, col("flag"), col("fwd")).isEmpty)
    val flat = Seq((true, 1.0), (true, 1.0), (false, 2.0), (false, 2.0)).toDF("flag", "fwd")
    assert(Integrity.errorPredictability(flat, col("flag"), col("fwd")).isEmpty)
  }

  test("Recursive.rsi: all-gains series converges to 100, warmup null") {
    val rs = Recursive.rsi(spark, sf)
    import spark.implicits._
    val first = rs.filter(r => r.rn == 1).limit(5).collect()
    assert(first.forall(_.rsi.isEmpty))
    val any = rs.filter(r => r.rn > 1).limit(100).collect()
    assert(any.forall(r => r.rsi.exists(v => v >= 0.0 && v <= 100.0)))
  }

  test("Universe.topNPerMonth honors N and rank order") {
    val u = ops.Universe.topNPerMonth(
      graft.util.Tables.orders(spark, sf), "o_orderdate", "o_custkey", "o_totalprice", 5)
    val perMonth = u.groupBy("month").count().agg(max("count")).head().getLong(0)
    assert(perMonth <= 5)
  }

  test("Multimodal pipeline: features + frame sampling shapes") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media)
    val f = feats.limit(3).collect()
    assert(f.forall(x => x.n_bytes > 0 && x.width >= 16 && x.n_frames >= 1))
    val frames = Multimodal.sampleFrames(feats, stride = 2)
    assert(frames.columns.toSeq == Seq("media_id", "kind", "frame_idx"))
    assert(frames.count() >= feats.count())
  }

  test("Multimodal.resize bounds geometry and shrinks payloads; byte-budget repartition") {
    val media = Multimodal.mediaTable(spark, sf)
    val resized = Multimodal.resize(media, maxW = 32, maxH = 32).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(r => r.width <= 32 && r.height <= 32
      && r.width >= 1 && r.height >= 1))
    assert(resized.forall(r => r.payload.length <= r.width * r.height))
    // aspect preserved within integer truncation: never upscaled
    val orig = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> (f.width, f.height)).toMap
    assert(resized.forall(r => r.width <= orig(r.media_id)._1
      && r.height <= orig(r.media_id)._2))
    // tiny byte budget forces many partitions; huge budget collapses to 1
    assert(Multimodal.repartitionByByteBudget(media, 10L << 10)
      .rdd.getNumPartitions > 1)
    assert(Multimodal.repartitionByByteBudget(media, 1L << 40)
      .rdd.getNumPartitions == 1)
  }

  test("Multimodal.resize handles an empty payload without the modulo-zero crash") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, Array.emptyByteArray, "image"),
      Multimodal.MediaRow(2L, "abc".getBytes("UTF-8"), "audio")).toDS()
    val rs = Multimodal.resize(media, maxW = 32, maxH = 32).collect()
      .map(r => r.media_id -> r).toMap
    assert(rs(1L).payload.isEmpty && rs(1L).width == 16 && rs(1L).height == 16)
    assert(rs(2L).payload.nonEmpty)
  }

  test("NormalizeAscii equals the regex normalization on adversarial unicode and edge shapes") {
    import spark.implicits._
    val adversarial = Seq(
      "", " ", "   ", "a", " a ", "A  B", "a.b", "a . b", "a  .  b",
      "Hello, World!  42", "tabs\tand\nnewlines", "...", "  ..a..  ",
      "İstanbul", "STRASSE ß ẞ", "Σίσυφος ΣΊΣΥΦΟΣ", "KELVIN K SIGN",
      "Å ANGSTROM Å", "ǅungla ǄUNGLA ǆ", "ﬁ ligature", "ĲSSELMEER ĳs",
      "étude naïve café", "日本語 text 中文", "emoji 🎉 party 🎊",
      " nbsp run ", "null byte", "a" * 5000,
      ("word " * 2000).trim, "MIXED case 123 DIGITS 456")
    // the randomized tail: seeded, covers surrogate pairs and combining marks
    val rnd = new scala.util.Random(42)
    val rand = (1 to 200).map { _ =>
      (1 to rnd.nextInt(80)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => (' ' + rnd.nextInt(95)).toChar.toString           // ascii
          case 1 => " "
          case 2 => (0xc0 + rnd.nextInt(0x250)).toChar.toString       // latin/greek
          case 3 => new String(Character.toChars(0x10000 + rnd.nextInt(0x800)))
          case 4 => "́"                                          // combining
          case _ => ('A' + rnd.nextInt(26)).toChar.toString
        }
      }.mkString
    }
    val df = (adversarial ++ rand).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = df.select(col("id"),
        graft.ops.TextOps.normalizeText(col("text")).as("fused"),
        graft.ops.TextOps.normalizeTextRegex(col("text")).as("regex"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"id=${r.getLong(0)}: fused='${r.getString(1)}' regex='${r.getString(2)}'")
    }
    // null propagates
    val nr = Seq((0L, null: String)).toDF("id", "text")
      .select(graft.ops.TextOps.normalizeText(col("text"))).collect().head
    assert(nr.isNullAt(0))
  }

  test("FanOut widens a narrow frame by hash on the key, to defaultParallelism") {
    val slots = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert(narrow.rdd.getNumPartitions * 2 <= slots)
    val out = graft.util.FanOut(narrow, col("id"))
    assert(out.rdd.getNumPartitions == slots)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(id#"), plan)
    assert(!plan.contains("RoundRobinPartitioning"), plan)
    assert(out.count() == 100)
  }

  test("FanOut returns an already-wide frame unchanged") {
    val slots = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, slots).toDF("id")
    assert(graft.util.FanOut(wide, col("id")) eq wide)
  }

  test("Sessions.local pins shuffle width at 2x cores and the codegen cache at 8192") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }
}
