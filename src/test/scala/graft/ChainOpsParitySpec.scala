package graft

import java.nio.file.Files

import graft.ops.{Corpus, Features, Recursive, TextOps}
import graft.util.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Bit-identity pins for the lake-chain operators that were rewritten for
  * fewer stages: each compares the operator with its earlier formulation,
  * kept here (and only here) as [[ChainOpsParitySpec.Before]], on the sf0.01
  * fixture and on planted inputs with the edge cases the rewrite could
  * get wrong. Doubles compare by their bits. */
class ChainOpsParitySpec extends SparkSpec {
  import ChainOpsParitySpec._

  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  /** Rows as comparable values, doubles by their bits, sorted. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
      case null => "null"
      case v => v.toString
    }.mkString("|")).sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (canon(got), canon(want))
    assert(g.size == w.size)
    val diff = g.zip(w).filter { case (a, b) => a != b }.take(3)
    assert(diff.isEmpty, diff.mkString("\n"))
    assert(g.nonEmpty)
  }

  /** Planted corpus: one-token, empty and null texts, repeated tokens and
    * bigrams, benchmark copies (src0) and repeated shingles. */
  private def plantedDocs: DataFrame = {
    import spark.implicits._
    Seq[(Long, String, String)](
      (1L, "src1", "a"),
      (2L, "src1", ""),
      (3L, "src1", null),
      (4L, "src1", "a a a a a a"),
      (5L, "src1", "the cat sat on the mat the cat sat on the mat"),
      (6L, "src0", "the cat sat on the mat"),
      (7L, "src2", "x the cat sat on the mat y"),
      (8L, "src2", "a b"),
      (9L, "src2", "p q r p q r p q r"),
      (10L, "src0", "one two three four"),
      (11L, "src1", "one two three four five six seven eight"),
      (12L, "src2", "alpha beta gamma delta epsilon zeta eta theta iota"),
      (13L, "src1", "b b c b b c b b c b b c")
    ).toDF("doc_id", "source", "text")
  }

  private def corpora: Seq[(String, DataFrame)] =
    Seq("sf0.01" -> Tables.documents(spark, sf01), "planted" -> plantedDocs)

  test("contaminationScan rows equal the two-join formulation") {
    for ((name, docs) <- corpora; frac <- Seq(0.2, 0.5)) withClue(s"$name/$frac: ") {
      assertSame(Corpus.contaminationScan(docs, "src0", frac),
        Before.contaminationScan(docs, "src0", frac))
    }
  }

  test("qualityFilter keeps the same frame and removes the same count") {
    for ((name, docs) <- corpora; h <- Seq(None, Some(0.5), Some(1.5)))
      withClue(s"$name/$h: ") {
        val (kept, removed) = Corpus.qualityFilter(docs, 0.7, 0.18, h)
        val (keptB, removedB) = Before.qualityFilter(docs, 0.7, 0.18, h)
        assert(removed == removedB)
        assertSame(kept, keptB)
      }
  }

  test("repetitionSignals and tokenEntropy rows equal the separate aggregates") {
    for ((name, docs) <- corpora) withClue(s"$name: ") {
      assertSame(Corpus.repetitionSignals(docs), Before.repetitionSignals(docs))
      assertSame(Corpus.tokenEntropy(docs), Before.tokenEntropy(docs))
    }
  }

  test("minhashBands row set equals the four-way union") {
    for ((name, docs) <- corpora) withClue(s"$name: ") {
      val sig = TextOps.minhashSig(docs)
      assertSame(TextOps.minhashBands(sig), Before.minhashBands(sig))
    }
  }

  test("goldFeatures columns equal the sliding-frame formulation") {
    val root = Files.createTempDirectory("graft_gold_pin").toString
    import spark.implicits._
    Pipelines.run(spark, Pipelines.bronzeFromEvents(spark, sf01),
      Seq.empty[(String, String)].toDF("from_id", "to_id"), root)
    val silver = spark.read.parquet(s"$root/silver/historical")
    for ((name, df) <- Seq("sf0.01" -> silver, "planted" -> plantedSeries)) withClue(s"$name: ") {
      def gold(f: (DataFrame, String, String, String, String, String, Column) => DataFrame) =
        f(df, "canonical_id", "date", "close", "volume", "market_cap", col("coin_id"))
      val got = gold(Features.goldFeatures(_, _, _, _, _, _, _))
      val want = gold(Before.goldFeatures)
      assertSame(got, want)
    }
    // most sf0.01 histories are shorter than 30 rows; the planted series
    // fills every rolling column
    val planted = Features.goldFeatures(plantedSeries, "canonical_id", "date", "close",
      "volume", "market_cap", col("coin_id"))
    for (c <- Seq("ret_3d_z", "ret_7d_z", "vol_z30", "volatility_30d", "bb_width"))
      assert(planted.filter(col(c).isNotNull).count() > 0, c)
  }

  /** Planted silver: one asset with 45 days and a volume gap, one with
    * fewer than 30 rows, one with volumes past 1e12 (sums past 10^10 and
    * squares past 10^24), and two rows of one asset on the same day. */
  private def plantedSeries: DataFrame = {
    import spark.implicits._
    val rows = for {
      (asset, days) <- Seq("a1" -> 45, "a2" -> 12, "a3" -> 40)
      day <- 1 to days
    } yield {
      val close = 100.0 + day * 0.37 + (if (day % 5 == 0) -3.1 else 1.3) * (asset.last - '0')
      val vol: Option[Double] = asset match {
        case "a1" if day % 7 == 3 => None
        case "a3" => Some(3.7e12 + day * 1.1e11 + (if (day % 3 == 0) 9.9e11 else 0.0))
        case _ => Some(1000.0 * day + 0.125)
      }
      val mcap: Option[Double] = if (asset == "a2" && day == 4) None else Some(close * 1e6)
      (asset, asset, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(day)),
        close, close + 2.0, close - 2.0, vol, mcap)
    }
    val dupDay = (("a1", "a1w", java.sql.Date.valueOf("2024-01-10"), 104.0, 106.0, 102.0,
      Some(5.0): Option[Double], Some(1.04e8): Option[Double]))
    (rows :+ dupDay).toDF("canonical_id", "coin_id", "date", "close", "high", "low", "volume",
      "market_cap")
  }
}

object ChainOpsParitySpec {

  /** The formulations the chains used before the stage-count rewrite. */
  object Before {
    def tokenEntropy(docs: DataFrame): DataFrame = {
      val tf = TextOps.explodeTokens(docs).groupBy("doc_id", "word")
        .agg(count(lit(1)).as("tf"))
      val perDoc = graft.util.Portable.pln(tf, col("tf").cast("double"), "lntf")
        .groupBy("doc_id")
        .agg(Exact.portableSum(col("tf").cast("double") * col("lntf")).as("s"),
          sum("tf").as("dl"))
      graft.util.Portable.pln(perDoc, col("dl").cast("double"), "lndl")
        .select(col("doc_id"), col("dl"),
          Exact.pinScore(col("lndl") - (col("s") / col("dl").cast("double"))).as("entropy"))
    }

    def repetitionSignals(docs: DataFrame): DataFrame = {
      val ts = TextOps.explodeTokens(docs).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("word").as("n_distinct"))
      val bgs = TextOps.bigrams(docs).groupBy("doc_id", "bigram")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_bigrams"), max("c").as("top_bigram_n"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("long").as("dup_bigram_n"))
      ts.join(bgs, "doc_id").select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup_bigram_n").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
    }

    def qualityFilter(docs: DataFrame, maxDupTokenFrac: Double,
        maxTopBigramFrac: Double, minEntropy: Option[Double]): (DataFrame, Long) = {
      val repBad = repetitionSignals(docs)
        .filter(col("dup_token_frac") > maxDupTokenFrac
          || col("top_bigram_frac") > maxTopBigramFrac)
        .select("doc_id")
      val bad = minEntropy.fold(repBad) { h =>
        repBad.union(tokenEntropy(docs).filter(col("entropy") < h).select("doc_id"))
          .distinct()
      }
      (docs.join(bad, Seq("doc_id"), "left_anti"), bad.count())
    }

    def contaminationScan(docs: DataFrame, benchSource: String,
        flagFrac: Double): DataFrame = {
      val bench = TextOps.shingles3(docs.filter(col("source") === benchSource))
        .select("shingle").distinct()
      val train = TextOps.shingles3(docs.filter(col("source") =!= benchSource)).distinct()
      val st = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val ov = train.withColumn("h", xxhash64(col("shingle")))
        .join(bench.withColumn("h", xxhash64(col("shingle"))), Seq("h", "shingle"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlap"))
      val frac = coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_shingles")
      st.join(ov, Seq("doc_id"), "left").select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        frac.as("contam_frac"), (frac >= flagFrac).as("flagged"))
    }

    def minhashBands(sig: DataFrame): DataFrame =
      (0 to 3).map { b =>
        sig.select(col("doc_id"), lit(b).as("band"),
          col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
      }.reduce(_ unionByName _)

    private def rollingZscore(c: Column, w: WindowSpec, n: Int): Column = {
      val f = w.rowsBetween(-(n - 1), 0)
      val std = Exact.winStddevSamp(c, f)
      when(count(c).over(f) >= n, when(std > 0, (c - Exact.winAvg(c, f)) / std))
    }

    private def rollingVol(retCol: Column, w: WindowSpec, n: Int): Column = {
      val f = w.rowsBetween(-(n - 1), 0)
      when(count(retCol).over(f) >= n, Exact.winStddevSamp(retCol, f))
    }

    private def bbands(close: Column, w: WindowSpec, n: Int): (Column, Column, Column) = {
      val f = w.rowsBetween(-(n - 1), 0)
      val sma = Exact.winAvg(close, f)
      val std = Exact.winStddevPop(close, f)
      val full = count(close).over(f) >= n
      val upper = when(full, sma + (lit(2.0) * std))
      val lower = when(full, sma - (lit(2.0) * std))
      (upper, lower, when(full, (sma + (lit(2.0) * std) - (sma - (lit(2.0) * std))) / sma))
    }

    def goldFeatures(silver: DataFrame, key: String, date: String,
        close: String, volume: String, mcap: String, tiebreak: Column): DataFrame = {
      val w = Features.assetWindow(key, date, tiebreak)
      val c = col(close)
      val (bbU, bbL, bbW) = bbands(c, w, 20)
      val withAsset = silver
        .withColumn("ret_1d", Features.ret(c, 1, w))
        .withColumn("ret_3d", Features.ret(c, 3, w))
        .withColumn("ret_7d", Features.ret(c, 7, w))
        .withColumn("ret_14d", Features.ret(c, 14, w))
        .withColumn("ret_30d", Features.ret(c, 30, w))
        .withColumn("ret_3d_z", rollingZscore(col("ret_3d"), w, 30))
        .withColumn("ret_7d_z", rollingZscore(col("ret_7d"), w, 30))
        .withColumn("vol_z30", rollingZscore(col(volume), w, 30))
        .withColumn("volatility_30d", rollingVol(col("ret_1d"), w, 30))
        .withColumn("bb_upper", bbU).withColumn("bb_lower", bbL).withColumn("bb_width", bbW)
      val mom = Recursive.momentum(silver, key, date, close, "high", "low", tiebreak)
      withAsset
        .withColumn("_k", col(key).cast("string"))
        .withColumn("_secs", col(date).cast("timestamp").cast("long"))
        .join(mom, Seq("_k", "_secs"), "left")
        .drop("_k", "_secs")
        .withColumn("mcap_rank_daily", Features.dailyRank(col(mcap), date))
        .withColumn("dominance_pct", Features.dominance(col(mcap), date))
    }
  }
}
