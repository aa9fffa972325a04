package graft.ops

import graft.util.Exact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The Silver→Gold feature-engineering layer
  * (feature_engineering_pipeline.py + feature_calculation_functions.py)
  * as composable Column builders. A pipeline applies per-asset windows
  * first, then per-date cross-sections — exactly two shuffle boundaries
  * regardless of how many features are derived (SURVEY.md §3.3): Catalyst
  * collapses all same-window expressions into one WindowExec.
  */
object Features {

  /** Per-asset time window, deterministically ordered. */
  def assetWindow(key: String, date: String, tiebreak: Column): WindowSpec =
    Window.partitionBy(key).orderBy(col(date), tiebreak)

  /** k-period return (`pct_change(k)`, feature_calculation_functions.py:31-34). */
  def ret(close: Column, k: Int, w: WindowSpec): Column =
    (close / lag(close, k).over(w)) - lit(1.0)

  /** Rolling z-score with min_periods-null and zero-std guards
    * (feature_calculation_functions.py:16-21) of `c` over its n-row
    * trailing moments `tag` ([[Exact.withTrailingMoments]]). */
  def rollingZscore(c: Column, tag: String, n: Int): Column = {
    val std = Exact.momentsStddevSamp(tag)
    when(col(s"${tag}_n") >= n, when(std > 0, (c - Exact.momentsAvg(tag)) / std))
  }

  /** Rolling volatility (feature_calculation_functions.py:82-84) from the
    * return column's n-row trailing moments `tag`. */
  def rollingVol(tag: String, n: Int): Column =
    when(col(s"${tag}_n") >= n, Exact.momentsStddevSamp(tag))

  /** Bollinger bands (population std, TA-Lib convention;
    * feature_calculation_functions.py:63-70) from the close's n-row
    * trailing moments `tag`. */
  def bbands(tag: String, n: Int): (Column, Column, Column) = {
    val sma = Exact.momentsAvg(tag)
    val std = Exact.momentsStddevPop(tag)
    val full = col(s"${tag}_n") >= n
    val upper = when(full, sma + (lit(2.0) * std))
    val lower = when(full, sma - (lit(2.0) * std))
    (upper, lower, when(full, (sma + (lit(2.0) * std) - (sma - (lit(2.0) * std))) / sma))
  }

  /** Daily cross-sectional average-rank (pandas `rank(method='average')`,
    * feature_calculation_functions.py:120). */
  def dailyRank(value: Column, date: String): Column = {
    val wRank = Window.partitionBy(date).orderBy(value.desc)
    val wTies = Window.partitionBy(col(date), value)
    rank().over(wRank) + (count(lit(1)).over(wTies) - 1) / lit(2.0)
  }

  /** Market dominance: share of the daily total
    * (feature_calculation_functions.py:122-124). */
  def dominance(value: Column, date: String): Column =
    value / Exact.winSum(value, Window.partitionBy(date))

  /** Full Gold derivation over a Silver frame: per-asset windows (one
    * window shuffle), the recursive indicators (RSI/MACD/ATR from
    * ops.Recursive.momentum — create_momentum_features /
    * create_volatility_features) joined back on (key, date), then
    * cross-sectional features (one more shuffle). Silver is one row per
    * (key, date) — the canonical-aggregation output — so the momentum
    * join is a key-preserving equi-join; both sides shuffle on the same
    * asset key the windows already used. */
  def goldFeatures(silver: DataFrame, key: String, date: String,
      close: String, volume: String, mcap: String, tiebreak: Column,
      high: String = "high", low: String = "low"): DataFrame = {
    val w = assetWindow(key, date, tiebreak)
    val c = col(close)
    val withRets = silver
      .withColumn("ret_1d", ret(c, 1, w))
      .withColumn("ret_3d", ret(c, 3, w))
      .withColumn("ret_7d", ret(c, 7, w))
      .withColumn("ret_14d", ret(c, 14, w))
      .withColumn("ret_30d", ret(c, 30, w))
    // trailing moments as prefix-sum differences: O(rows) on the asset
    // window's one shuffle, where sliding frames re-aggregate per row
    val moments = Seq((c, 20, "_bb"), (col("ret_3d"), 30, "_r3"),
      (col("ret_7d"), 30, "_r7"), (col(volume), 30, "_vz"), (col("ret_1d"), 30, "_r1"))
    val (bbU, bbL, bbW) = bbands("_bb", 20)
    val withAsset = Exact.withTrailingMoments(withRets, w, moments)
      .withColumn("ret_3d_z", rollingZscore(col("ret_3d"), "_r3", 30))
      .withColumn("ret_7d_z", rollingZscore(col("ret_7d"), "_r7", 30))
      .withColumn("vol_z30", rollingZscore(col(volume), "_vz", 30))
      .withColumn("volatility_30d", rollingVol("_r1", 30))
      .withColumn("bb_upper", bbU).withColumn("bb_lower", bbL).withColumn("bb_width", bbW)
      .drop(moments.flatMap { case (_, _, tag) => Seq("_n", "_s", "_q").map(tag + _) }: _*)
    val mom = Recursive.momentum(silver, key, date, close, high, low, tiebreak)
    val withMomentum = withAsset
      .withColumn("_k", col(key).cast("string"))
      .withColumn("_secs", col(date).cast("timestamp").cast("long"))
      .join(mom, Seq("_k", "_secs"), "left")
      .drop("_k", "_secs")
    withMomentum
      .withColumn("mcap_rank_daily", dailyRank(col(mcap), date))
      .withColumn("dominance_pct", dominance(col(mcap), date))
  }
}
