package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-insensitive, bit-reproducible floating aggregates.
  *
  * A plain `sum(double)` accumulates in partition order, so a Spark result
  * and a single-threaded oracle (DuckDB) differ in the last ulps — and any
  * hash-based comparison fails. Casting each addend to a fixed-scale
  * decimal makes the sum EXACT (associative, order-free); casting the exact
  * decimal back to double is correctly rounded, so every engine that
  * follows the same recipe produces the identical 64-bit value.
  *
  * This also matters at 100 TB: decimal partial aggregation keeps map-side
  * combine (partial sums are exact, merge order irrelevant), so results are
  * stable across retries, speculative tasks and AQE re-plans — pandas-level
  * reproducibility (reference sums single-threaded, e.g.
  * historical_data_etl.py:76) without giving up distributed aggregation.
  *
  * Scale 8 with precision 38 leaves 30 integer digits — a sum of 1e18
  * values of magnitude 1e12 still fits, so no overflow at any target scale.
  *
  * DOMAIN LIMIT (r13): the decimal-cast recipe is only portable for RAW
  * data columns and their exact products (2-decimal prices, integer-ish
  * quantities — values whose decimal expansion terminates well above the
  * cast scale). A DERIVED double (a division result such as a return or
  * a ratio) carries noise in its trailing digits; when such a value lands
  * within its noise of a decimal rounding boundary, Spark and DuckDB
  * round it differently (~1e-4 of rows at scale 8 — observed in
  * q_agg_beta_market). For noisy doubles use a DYADIC grid instead:
  * floor(x · 2^k) — the power-of-two multiply and the floor are both
  * exact, so the resulting BIGINT is engine-identical ALWAYS; keep the
  * integer moments in int64 and re-scale at the end (see
  * AggQueries.aggBetaMarket). pinScore/pinScoreInt below are the
  * publish-side instances of the same idea.
  */
object Exact {
  private val D = DecimalType(38, 8)

  /** Squared values are ~10⁶× larger; at scale 8 their sums exceed 2⁵³
    * after scaling and DuckDB's decimal→double (int128→double, then ÷10⁸:
    * two roundings) drifts 1 ulp from Spark's correctly-rounded BigDecimal
    * path. Scale 4 keeps the scaled integer exactly representable, so both
    * engines round exactly once — and per-row double→decimal(·,4) ties are
    * impossible for non-dyadic products. */
  private val DSq = DecimalType(38, 4)

  /** Exact sum of a double column, returned as double. */
  def exactSum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Exact sum on an explicit decimal scale — 8 for value-domain terms,
    * 4 for squared/product terms (the DSq rationale above). One shared
    * recipe so a precision fix lands everywhere at once. */
  def exactSum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** Exact mean: exact sum / count, one correctly-rounded division. */
  def exactAvg(c: Column): Column = exactSum(c) / count(c)

  /** Sample standard deviation (ddof=1, pandas `.std()` default) from
    * exact moments. All double ops after the exact sums are single
    * correctly-rounded IEEE operations → bit-stable across engines.
    * Returns null for n<2 (DuckDB semantics; Spark's builtin gives NaN).
    */
  def exactStddevSamp(c: Column): Column = {
    val n  = count(c).cast("double")
    val s  = exactSum(c)
    val sq = sum((c * c).cast(DSq)).cast("double")
    when(n > 1, sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - lit(1.0)))))
  }

  /** Population standard deviation (ddof=0; TA-Lib BBANDS semantics). */
  def exactStddevPop(c: Column): Column = {
    val n  = count(c).cast("double")
    val s  = exactSum(c)
    val sq = sum((c * c).cast(DSq)).cast("double")
    when(n > 0, sqrt(greatest(lit(0.0), (sq - s * s / n) / n)))
  }

  /** Sample variance from exact moments. */
  def exactVarSamp(c: Column): Column = {
    val n  = count(c).cast("double")
    val s  = exactSum(c)
    val sq = sum((c * c).cast(DSq)).cast("double")
    when(n > 1, greatest(lit(0.0), (sq - s * s / n) / (n - lit(1.0))))
  }

  /** Windowed (frame) variants — same exactness argument: the frame sum
    * over decimals is order/association-free, so rolling statistics are
    * bit-identical across engines and across Spark's own runs (Spark
    * evaluates frames incrementally; DuckDB uses segment trees — only the
    * decimal detour makes them agree). */
  def winSum(c: Column, w: WindowSpec): Column = sum(c.cast(D)).over(w).cast("double")
  def winSum(c: Column, w: WindowSpec, scale: Int): Column =
    sum(c.cast(DecimalType(38, scale))).over(w).cast("double")
  def winAvg(c: Column, w: WindowSpec): Column = winSum(c, w) / count(c).over(w)
  def winStddevSamp(c: Column, w: WindowSpec): Column = {
    val n  = count(c).over(w).cast("double")
    val s  = winSum(c, w)
    val sq = sum((c * c).cast(DSq)).over(w).cast("double")
    when(n > 1, sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - lit(1.0)))))
  }
  def winStddevPop(c: Column, w: WindowSpec): Column = {
    val n  = count(c).over(w).cast("double")
    val s  = winSum(c, w)
    val sq = sum((c * c).cast(DSq)).over(w).cast("double")
    when(n > 0, sqrt(greatest(lit(0.0), (sq - s * s / n) / n)))
  }

  /** Rolling moments via prefix-sum differences — the O(rows) form of the
    * frame variants above (Spark recomputes sliding-frame aggregates from
    * scratch per row: O(rows × frame)). Because decimal sums are exact,
    * `cum_t - cum_{t-n}` IS the frame sum bit-for-bit, so results match
    * the frame-based oracle unchanged.
    *
    * Cumulative columns are precision 18 ON PURPOSE: precision ≤ 18 is
    * long-backed in UnsafeRow (stored inline, zero allocation per access),
    * while precision > 18 stores a BigDecimal byte array — every window
    * row then allocates across 3 cumulative columns + their lags, and the
    * operator's cost becomes hostage to JVM heap history (observed 1.8 s →
    * 87 s across reps in one JVM). Long-backed decimals keep the window
    * pass allocation-free and GC-flat at any heap state.
    *
    * PRECONDITION (caller-checked by construction): per-partition
    * cumulative |sum(x)| < 10^10 at scale 8 and |sum(x²)| < 10^14 at
    * scale 4. A per-asset daily history of 10^4 rows at magnitude 10^5
    * sums to 10^9 (squares 10^14-ε) — within range for the testdata and
    * any realistic per-key series; overflow surfaces as nulls (nullable
    * overflow cast), never as silent wrong values, so the correctness gate
    * catches a violated precondition. The subtraction result is
    * DECIMAL(19,8)/(19,4) — still exact, no precision-38 scale cap.
    *
    * Adds columns `{tag}_n`, `{tag}_s`, `{tag}_q` (double count / sum /
    * sum-of-squares over the trailing n-row frame). `w` must be the
    * ordered, frame-less window spec.
    */
  private val DCum = DecimalType(18, 8)
  private val DCumSq = DecimalType(18, 4)
  def withRollingMoments(df: org.apache.spark.sql.DataFrame, c: Column,
      w: WindowSpec, n: Int, tag: String): org.apache.spark.sql.DataFrame = {
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = s"__cs_$tag"; val cq = s"__cq_$tag"; val cn = s"__cn_$tag"
    // sum() widens +10 digits; cast back to precision 18 (lossless under
    // the precondition) so the stored column stays long-backed in UnsafeRow
    val stage = df
      .withColumn(cs, sum(c.cast(DCum)).over(wCum).cast(DCum))
      .withColumn(cq, sum((c * c).cast(DCumSq)).over(wCum).cast(DCumSq))
      .withColumn(cn, count(c).over(wCum))
    stage
      .withColumn(s"${tag}_s",
        (col(cs) - coalesce(lag(col(cs), n).over(w), lit(0).cast(DCum))).cast("double"))
      .withColumn(s"${tag}_q",
        (col(cq) - coalesce(lag(col(cq), n).over(w), lit(0).cast(DCumSq))).cast("double"))
      .withColumn(s"${tag}_n",
        (col(cn) - coalesce(lag(col(cn), n).over(w), lit(0L))).cast("double"))
      .drop(cs, cq, cn)
  }

  /** Rolling CROSS moment Σxy over the trailing n-row frame, via the same
    * prefix-difference trick (and the same precision-18 long-backed
    * cumulative + overflow-to-null precondition) as [[withRollingMoments]].
    * Adds column `{tag}_xy` (double). */
  def withRollingCross(df: org.apache.spark.sql.DataFrame, x: Column, y: Column,
      w: WindowSpec, n: Int, tag: String): org.apache.spark.sql.DataFrame = {
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cc = s"__cc_$tag"
    df.withColumn(cc, sum((x * y).cast(DCumSq)).over(wCum).cast(DCumSq))
      .withColumn(s"${tag}_xy",
        (col(cc) - coalesce(lag(col(cc), n).over(w), lit(0).cast(DCumSq))).cast("double"))
      .drop(cc)
  }

  /** Trailing n-row moments at FULL decimal precision: the O(rows)
    * prefix-difference layout of [[withRollingMoments]], with values
    * equal bit for bit to the frame forms [[winSum]], the DSq sum of
    * squares and the count over `w.rowsBetween(-(n - 1), 0)` — so
    * [[momentsAvg]]/[[momentsStddevSamp]]/[[momentsStddevPop]] over them
    * equal [[winAvg]]/[[winStddevSamp]]/[[winStddevPop]].
    *
    * The cumulative sums are DECIMAL(37,8)/(37,4), one digit under the
    * cap: a (37,s) − (37,s) difference types as (38,s), while a
    * (38,s) − (38,s) one is re-typed to (38,s−1) and loses a digit.
    * Domain: per-partition cumulative |Σx| < 10^29 and Σx² < 10^33
    * (past it the cast overflows to null); the precision-18
    * [[withRollingMoments]] nulls out past 10^10. The price is a
    * BigDecimal-backed row field per cumulative column.
    *
    * Takes every moment at once, `(column, n, tag)`, so the cumulative
    * sums of all of them are one window pass and their trailing
    * differences a second (one per moment would chain two passes each).
    * Adds `{tag}_n`, `{tag}_s`, `{tag}_q` (doubles) per moment; `w` must
    * be the ordered, frame-less window spec. */
  def withTrailingMoments(df: org.apache.spark.sql.DataFrame, w: WindowSpec,
      moments: Seq[(Column, Int, String)]): org.apache.spark.sql.DataFrame = {
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = moments.flatMap { case (c, _, tag) => Seq(
      sum(c.cast(D)).over(wCum).cast(DTrail).as(s"__ts_$tag"),
      sum((c * c).cast(DSq)).over(wCum).cast(DTrailSq).as(s"__tq_$tag"),
      count(c).over(wCum).as(s"__tn_$tag"))
    }
    def trailing(cum: String, n: Int, zero: Column, out: String): Column =
      (col(cum) - coalesce(lag(col(cum), n).over(w), zero)).cast("double").as(out)
    val trailingCols = moments.flatMap { case (_, n, tag) => Seq(
      trailing(s"__ts_$tag", n, lit(0).cast(DTrail), s"${tag}_s"),
      trailing(s"__tq_$tag", n, lit(0).cast(DTrailSq), s"${tag}_q"),
      trailing(s"__tn_$tag", n, lit(0L), s"${tag}_n"))
    }
    df.select(col("*") +: running: _*).select(col("*") +: trailingCols: _*)
      .drop(moments.flatMap { case (_, _, tag) => Seq("ts", "tq", "tn").map(k => s"__${k}_$tag") }: _*)
  }
  private val DTrail = DecimalType(37, 8)
  private val DTrailSq = DecimalType(37, 4)

  /** Binary-grid quantization and summation for TRANSCENDENTAL-derived
    * scores — the engine-portable alternative to the decimal detour.
    *
    * Why not decimals here: a double→decimal cast is NOT exactly rounded
    * in every engine. DuckDB (measured on 1.0.0, and the implementation
    * is version-dependent) computes `fl(x · 10^scale)` in DOUBLE and then
    * rounds — two roundings, ties-to-even — while Spark rounds the
    * double's decimal expansion HALF_UP. On 200k adversarial values near
    * .5·10⁻¹² boundaries the two disagreed on 11%; on values uniformly
    * distributed mod the grid (any log-derived score) they disagree with
    * probability ~ulp(x·10^scale)/1 per cast, ACCUMULATING over addends.
    * That is precisely why q_text_entropy / q_text_unigram_logprob — the
    * only queries feeding transcendental addends through a decimal cast —
    * were the only driver-gate hash-reds for two rounds while every
    * near-integer-addend Exact user (prices, quantities) stayed green:
    * "nice" values sit far from rounding boundaries, log values don't.
    *
    * The binary grid uses ONLY IEEE-exact operations: ×2³⁰ (exponent
    * shift, never rounds), floor (exact), integer sum (associative,
    * order-free), ÷2³⁰ (exponent shift). Any two IEEE-754 engines agree
    * bit-for-bit, with no dependence on decimal-cast implementation, libm,
    * or rounding-mode conventions — verified 0/200k disagreements vs
    * DuckDB on the same adversarial set.
    *
    * Grid 2⁻³⁰ ≈ 9.3·10⁻¹⁰: far below any ranking-relevant resolution for
    * a quality score, far above ulp-scale engine drift. Precondition
    * |x| < 2²³ per pinned value (floor result must stay exactly castable;
    * score domains here are ≤ ~10³). Sums stay exact in 64-bit integers
    * to Σ|x| < 2⁶³/2³⁰ ≈ 8.6·10⁹ per group — a 10⁶-token document sums
    * tf·ln(tf) to ~10⁷. */
  private val PinGrid = 1073741824.0 // 2^30, exactly representable

  /** Quantize a published score to the 2⁻³⁰ grid (round toward −∞ on both
    * engines). Apply to EVERY transcendental-derived double that leaves a
    * query — the last projection before the result — so sub-grid engine
    * drift can never flip the driver's hash. Null in, null out. */
  def pinScore(c: Column): Column = floor(c * PinGrid) / PinGrid

  /** PUBLISH-side integer pin: the 2⁻³⁰ grid CELL INDEX itself, as a
    * BIGINT — `floor(score·2³⁰)`. Same exact-op pipeline as [[pinScore]]
    * minus the final rescale, so the published schema contains NO double
    * at all: the driver's gate then hashes integers, and no DuckDB
    * version bump, float-serialization convention (−0.0, NaN payloads),
    * or hash-procedure detail over doubles can ever red a query whose
    * engine-side recipe agrees (r7–r9 lesson: q_text_entropy /
    * q_text_unigram_logprob were float-bit-identical against local
    * DuckDB for three rounds and still gate-red — the divergence lives
    * in the gate's double handling, which integers bypass entirely).
    * Resolution is unchanged (2⁻³⁰ grid); a consumer recovers the score
    * as `cell / 2³⁰`. Null in, null out. */
  def pinScoreInt(c: Column): Column = floor(c * PinGrid).cast("long")

  /** Order-free exact sum of transcendental-derived addends: each addend
    * is floored onto the 2⁻³⁰ grid (exact ops only), summed as integers,
    * and rescaled by an exact power-of-two divide. Unlike [[exactSum]],
    * no double→decimal cast is involved, so the result is reproducible on
    * any IEEE engine regardless of its decimal implementation. */
  def portableSum(c: Column): Column =
    sum(floor(c * PinGrid)).cast("double") / PinGrid

  /** [[portableSum]] on an explicit power-of-two grid `gf` (= 2^k as an
    * exact double). The fixed 2⁻³⁰ grid's int64 domain is
    * Σ|addend| < 2³³ per group — Spark's floor() yields LONG and
    * sum(long) WRAPS silently past 2⁶³ while DuckDB's sum(BIGINT)
    * widens to HUGEINT, the engine fork the ×100 probe caught live in
    * q_agg_beta_market's market mean (DESIGN §4o). Callers whose
    * group magnitude grows with the corpus pick k corpus-adaptively
    * (k = min(30, 62 − bits(max|addend|) − bits(max group count)), the
    * bloomM bitlength pattern) so the grid coarsens only when the data
    * actually outgrows 2⁻³⁰ — below that scale k = 30 and results are
    * bit-identical to [[portableSum]]. */
  def portableSumAt(c: Column, gf: Double): Column =
    sum(floor(c * gf)).cast("double") / gf

  /** Windowed [[portableSum]] — frame sums of transcendental-derived
    * addends. Spark accumulates window sums in frame order while DuckDB
    * uses segment trees, so a double frame sum is NOT engine-stable; the
    * grid-floored BIGINT sum is order-free and therefore is. Addend
    * domain: |addend| · 2³⁰ must fit int64 per row and per frame
    * (|addend| ≲ 8.6e9 / frame length). */
  def winPortableSum(c: Column, w: WindowSpec): Column =
    sum(floor(c * PinGrid).cast("long")).over(w).cast("double") / PinGrid

  /** Windowed portable MEAN of division-derived addends: grid frame sum ÷
    * exact count. The count is integer-exact and the final division is one
    * correctly-rounded IEEE op, so the result is engine-stable end to end
    * — the drop-in replacement for [[winAvg]] when the addends are NOT
    * near-integer (winAvg's decimal cast of a division-derived double is
    * the r13-rule non-portable class; see the [[portableSum]] scaladoc). */
  def winPortableAvg(c: Column, w: WindowSpec): Column =
    winPortableSum(c, w) / count(c).over(w)

  /** Rolling moments of DIVISION-DERIVED addends (returns, ratios) —
    * the portable-grid twin of [[withRollingMoments]], for inputs whose
    * decimal cast is NOT engine-portable (r13 rule, [[portableSum]]
    * scaladoc: a division result is uniformly distributed mod the decimal
    * grid, so fl(x·10⁸) lands in the two-rounding disagreement band with
    * probability ~ulp — at %K-scale magnitudes that is ~4e-6 per cast,
    * i.e. an expected driver-gate red within ~10⁶ rows).
    *
    * Layout is the same O(rows) prefix-difference as withRollingMoments,
    * but the cumulative columns are plain BIGINTs of grid-floored addends
    * (floor(x·2³⁰), floor(x²·2³⁰)) — every op exact and order-free, so
    * `cum_t − cum_{t−n}` IS the frame sum of grid addends bit-for-bit on
    * any IEEE engine, with zero dependence on decimal-cast behavior.
    * LongType is long-backed in UnsafeRow like the precision-18 decimals,
    * so the window pass stays allocation-free.
    *
    * The moments are therefore moments of the grid-QUANTIZED addends
    * (resolution 2⁻³⁰ ≈ 1e-9 per addend — for a return series the
    * derived stddev moves in the ~6th significant digit vs the raw-double
    * moments; both engines move identically). Domain: |x| and x² must
    * stay ≲ 8.6e9/frame for the frame sum (caller-checked: returns and
    * percent scores are ≤ ~10²) and the PARTITION-cumulative grid sum
    * must fit int64 (a 10⁶-row history of |x| ≤ 10² sums to 10⁸·2³⁰ ≈
    * 1.1e17 < 2⁶³; Spark's non-ANSI long sum would in any case wrap mod
    * 2⁶⁴, which the frame DIFFERENCE recovers exactly so long as the
    * frame sum itself fits).
    *
    * Adds `{tag}_n`, `{tag}_s`, `{tag}_q` (doubles) compatible with
    * [[momentsAvg]]/[[momentsStddevSamp]]/[[momentsStddevPop]]; the
    * oracle twin is [[Sql.winGridStddevSamp]]/[[Sql.winPortableSum]]
    * over the explicit frame. */
  def withRollingMomentsGrid(df: org.apache.spark.sql.DataFrame, c: Column,
      w: WindowSpec, n: Int, tag: String): org.apache.spark.sql.DataFrame = {
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = s"__gs_$tag"; val cq = s"__gq_$tag"; val cn = s"__gn_$tag"
    val stage = df
      .withColumn(cs, sum(floor(c * PinGrid).cast("long")).over(wCum))
      .withColumn(cq, sum(floor((c * c) * PinGrid).cast("long")).over(wCum))
      .withColumn(cn, count(c).over(wCum))
    stage
      .withColumn(s"${tag}_s",
        (col(cs) - coalesce(lag(col(cs), n).over(w), lit(0L))).cast("double") / PinGrid)
      .withColumn(s"${tag}_q",
        (col(cq) - coalesce(lag(col(cq), n).over(w), lit(0L))).cast("double") / PinGrid)
      .withColumn(s"${tag}_n",
        (col(cn) - coalesce(lag(col(cn), n).over(w), lit(0L))).cast("double"))
      .drop(cs, cq, cn)
  }

  /** Statistics over withRollingMoments output columns. */
  def momentsAvg(tag: String): Column = col(s"${tag}_s") / col(s"${tag}_n")
  def momentsStddevSamp(tag: String): Column = {
    val n = col(s"${tag}_n"); val s = col(s"${tag}_s"); val sq = col(s"${tag}_q")
    when(n > 1, sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - lit(1.0)))))
  }
  def momentsStddevPop(tag: String): Column = {
    val n = col(s"${tag}_n"); val s = col(s"${tag}_s"); val sq = col(s"${tag}_q")
    when(n > 0, sqrt(greatest(lit(0.0), (sq - s * s / n) / n)))
  }

  /** DuckDB SQL fragments implementing the identical recipes, for the
    * oracle side of the driver's correctness gate.
    */
  object Sql {
    /** Windowed fragments; `w` is a named-window reference (DuckDB
      * `WINDOW w AS (...)`). */
    def winSum(c: String, w: String): String = winSum(c, w, 8)
    def winSum(c: String, w: String, scale: Int): String =
      s"CAST(SUM(CAST(($c) AS DECIMAL(38,$scale))) OVER $w AS DOUBLE)"
    def winAvg(c: String, w: String): String =
      s"(${winSum(c, w)} / COUNT($c) OVER $w)"
    private def winMom(c: String, w: String) =
      (s"CAST(COUNT($c) OVER $w AS DOUBLE)", winSum(c, w),
        s"CAST(SUM(CAST((($c)*($c)) AS DECIMAL(38,4))) OVER $w AS DOUBLE)")
    def winStddevSamp(c: String, w: String): String = {
      val (n, s, sq) = winMom(c, w)
      s"(CASE WHEN $n > 1 THEN sqrt(greatest(0.0, ($sq - $s*$s/$n) / ($n - 1.0))) END)"
    }
    def winStddevPop(c: String, w: String): String = {
      val (n, s, sq) = winMom(c, w)
      s"(CASE WHEN $n > 0 THEN sqrt(greatest(0.0, ($sq - $s*$s/$n) / $n)) END)"
    }
    def sum(c: String): String = sum(c, 8)
    def sum(c: String, scale: Int): String =
      s"CAST(SUM(CAST(($c) AS DECIMAL(38,$scale))) AS DOUBLE)"
    def avg(c: String): String = s"(${sum(c)} / COUNT($c))"
    private def mom(c: String) =
      (s"COUNT($c)", sum(c), s"CAST(SUM(CAST((($c)*($c)) AS DECIMAL(38,4))) AS DOUBLE)")
    def stddevSamp(c: String): String = {
      val (n, s, sq) = mom(c)
      s"(CASE WHEN $n > 1 THEN sqrt(greatest(0.0, ($sq - $s*$s/$n) / ($n - 1.0))) END)"
    }
    def stddevPop(c: String): String = {
      val (n, s, sq) = mom(c)
      s"(CASE WHEN $n > 0 THEN sqrt(greatest(0.0, ($sq - $s*$s/$n) / $n)) END)"
    }
    def varSamp(c: String): String = {
      val (n, s, sq) = mom(c)
      s"(CASE WHEN $n > 1 THEN greatest(0.0, ($sq - $s*$s/$n) / ($n - 1.0)) END)"
    }

    /** DuckDB twin of [[Exact.pinScore]] — identical exact-op sequence
      * (floor returns DOUBLE in DuckDB, LONG in Spark; both hold the same
      * integer exactly below 2⁵³, and the power-of-two divide is exact,
      * so the final doubles are bit-identical). */
    def pinScore(c: String): String =
      s"(floor(($c) * 1073741824.0) / 1073741824.0)"

    /** DuckDB twin of [[Exact.pinScoreInt]]: DuckDB's floor returns
      * DOUBLE — exact for the grid index (|score| < 2²³ ⟹ index < 2⁵³)
      * — and the BIGINT cast of an integral double is exact, so both
      * engines publish the identical 64-bit integer. */
    def pinScoreInt(c: String): String =
      s"CAST(floor(($c) * 1073741824.0) AS BIGINT)"

    /** DuckDB twin of [[Exact.portableSum]]: BIGINT-grid sum (DuckDB sums
      * BIGINT into INT128; the final int→double cast is one correct
      * rounding — exact below 2⁵³ — and ÷2³⁰ is exact). */
    def portableSum(c: String): String =
      s"(CAST(SUM(CAST(floor(($c) * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0)"

    /** DuckDB twin of [[Exact.portableSumAt]]; `gf` is a SQL expression
      * evaluating to the same exact power-of-two double. */
    def portableSumAt(c: String, gf: String): String =
      s"(CAST(SUM(CAST(floor(($c) * $gf) AS BIGINT)) AS DOUBLE) / $gf)"

    /** DuckDB twin of [[Exact.winPortableSum]]. */
    def winPortableSum(c: String, w: String): String =
      s"(CAST(SUM(CAST(floor(($c) * 1073741824.0) AS BIGINT)) OVER $w AS DOUBLE) / 1073741824.0)"

    /** DuckDB twin of [[Exact.winPortableAvg]]. */
    def winPortableAvg(c: String, w: String): String =
      s"(${winPortableSum(c, w)} / COUNT($c) OVER $w)"

    /** Grid-moment windowed sample stddev — the oracle twin of
      * [[Exact.withRollingMomentsGrid]] + [[Exact.momentsStddevSamp]]:
      * DuckDB sums the grid-floored BIGINT addends directly over the
      * frame (its segment-tree order is irrelevant — integer addition is
      * associative), which equals Spark's prefix-difference bit-for-bit. */
    def winGridStddevSamp(c: String, w: String): String = {
      val n = s"CAST(COUNT($c) OVER $w AS DOUBLE)"
      val s = winPortableSum(c, w)
      val sq = winPortableSum(s"($c)*($c)", w)
      s"(CASE WHEN $n > 1 THEN sqrt(greatest(0.0, ($sq - $s*$s/$n) / ($n - 1.0))) END)"
    }
  }
}
