package graft.queries

import graft.Q
import graft.util.Exact
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event sessionization (round-3 north-star): the batch form of the
  * classic clickstream operator — a session is a maximal run of one
  * user's events with inter-event gaps ≤ 12 h.
  *
  * Shape: lag → boundary flag → running sum (session index) → per-session
  * aggregate. Everything keys on user_id: one shuffle feeds the two window
  * passes (same partition+order ⇒ one Exchange + one Sort) AND the final
  * groupBy (partial aggregation map-side). At 100 TB this is the standard
  * sessionize plan — per-user data colocated once, no driver state; the
  * streaming twin (session_window + watermark) lives in
  * streaming/Streams.scala.
  */
object SessionQueries {


  /** 12 h in microseconds — calibrated so the testdata's sparse event
    * stream (≈ 2 events/user/day) forms real multi-event sessions. */
  private val GapUs = 12L * 3600 * 1000000L

  val sessionize = Q("q_sessionize", "gap-based event sessionization")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events), " +
      s"g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > $GapUs " +
      "THEN 1 ELSE 0 END AS is_new FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
      "s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g) " +
      "SELECT user_id, session_id, count(*) AS n_events, " +
      "min(ts_us) AS start_us, max(ts_us) AS end_us, " +
      "max(ts_us) - min(ts_us) AS duration_us, " +
      Exact.Sql.sum("value") + " AS total_value " +
      "FROM s GROUP BY 1, 2") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val lagTs = lag(col("ts_us"), 1).over(w)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("is_new",
          when(lagTs.isNull || col("ts_us") - lagTs > GapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          (max("ts_us") - min("ts_us")).as("duration_us"),
          Exact.exactSum(col("value")).as("total_value"))
  }

  /** The shared oracle prologue of the two funnel queries: the staged
    * per-(user, day) times via the textbook three-self-join form,
    * ending in `g3(user_id, day, vt, ct, pt)`. (Declared BEFORE the two
    * Q vals that splice it — object vals initialize in order.) */
  private val funnelStagesSql =
    "WITH e AS (SELECT user_id, date_trunc('day', ts) AS day, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "g1 AS (SELECT user_id, day, min(CASE WHEN event_type = 'view' THEN ts_us END) AS vt " +
      "FROM e GROUP BY 1, 2), " +
      "g2 AS (SELECT e.user_id, e.day, min(g1.vt) AS vt, " +
      "min(CASE WHEN e.event_type = 'click' AND e.ts_us > g1.vt THEN e.ts_us END) AS ct " +
      "FROM e JOIN g1 ON g1.user_id = e.user_id AND g1.day = e.day GROUP BY 1, 2), " +
      "g3 AS (SELECT e.user_id, e.day, min(g2.vt) AS vt, min(g2.ct) AS ct, " +
      "min(CASE WHEN e.event_type = 'purchase' AND e.ts_us > g2.ct THEN e.ts_us END) AS pt " +
      "FROM e JOIN g2 ON g2.user_id = e.user_id AND g2.day = e.day GROUP BY 1, 2) "

  /** Ordered funnel conversion per user-day: first 'view', then the first
    * 'click' strictly after it, then the first 'purchase' strictly after
    * that — the order-aware variant of a naive exists-count funnel.
    *
    * The oracle writes the textbook three-self-join form; the Spark plan
    * computes the same stages as three chained window aggregates over ONE
    * (user_id, day) partitioning — a single Exchange feeds all three
    * stages and the per-user-day rollup, with only the final day-level
    * aggregate shuffling again (verified: 2 Exchanges total vs 4 for the
    * join form, and the events scan runs once, not three times).
    * Timestamps are compared in integer microseconds — no float anywhere. */
  val eventFunnel = Q("q_event_funnel", "ordered view→click→purchase funnel")(
    funnelStagesSql +
      "SELECT day, count(*) AS n_users, count(vt) AS n_view, " +
      "count(ct) AS n_click_after_view, count(pt) AS n_purchase_after_click " +
      "FROM g3 GROUP BY 1") {
    (s, d) =>
      funnelStaged(s, d)
        .groupBy("day")
        .agg(count(lit(1)).as("n_users"), count("vt").as("n_view"),
          count("ct").as("n_click_after_view"), count("pt").as("n_purchase_after_click"))
  }

  /** The per-(user, day) staged funnel times (vt, ct, pt) — ONE
    * definition shared by q_event_funnel and q_event_funnel_time so the
    * conversion rule and its latency profile can never disagree on what
    * "converted" means. Single (user_id, day) Exchange feeds all three
    * chained stage windows and the rollup. */
  private def funnelStaged(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val wUD = Window.partitionBy("user_id", "day")
    val e = events(s, d).select(col("user_id"), date_trunc("day", col("ts")).as("day"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"))
      // null-key parity with the oracle's join form: an inner join on
      // (user_id, day) drops null keys, a window partition would keep
      // them as a real group — filter to keep the two forms identical
      .filter(col("user_id").isNotNull && col("day").isNotNull)
    e.withColumn("vt",
        min(when(col("event_type") === "view", col("ts_us"))).over(wUD))
      .withColumn("ct",
        min(when(col("event_type") === "click" && col("ts_us") > col("vt"),
          col("ts_us"))).over(wUD))
      .withColumn("pt",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("ct"),
          col("ts_us"))).over(wUD))
      .groupBy("user_id", "day")
      .agg(min("vt").as("vt"), min("ct").as("ct"), min("pt").as("pt"))
  }

  /** Funnel stage LATENCY profile (r12) — the companion the conversion
    * counts need to be actionable: per day and stage (view→click,
    * click→purchase), the converter count and the exact p50/p90 of the
    * stage duration in integer microseconds. Durations come from the
    * SAME staged frame as q_event_funnel (shared code object, shared
    * oracle CTEs), so "median time to purchase" can never disagree with
    * "how many purchased". Quantiles ride ops.Quantiles.groupQuantilesDisc
    * — the per-(day) value-histogram layout, no per-group data sort —
    * and everything is integer until publication (no floats at all). */
  val eventFunnelTime = Q("q_event_funnel_time",
    "per-day funnel stage latency: exact p50/p90 of view→click and click→purchase")(
    funnelStagesSql +
      ", u AS (SELECT day, 'view_to_click' AS stage, ct - vt AS dur_us FROM g3 WHERE ct IS NOT NULL " +
      "UNION ALL SELECT day, 'click_to_purchase' AS stage, pt - ct AS dur_us FROM g3 WHERE pt IS NOT NULL), " +
      "h AS (SELECT day, stage, dur_us, count(*) AS c FROM u GROUP BY 1, 2, 3), " +
      "cm AS (SELECT *, sum(c) OVER (PARTITION BY day, stage ORDER BY dur_us) AS cum, " +
      "sum(c) OVER (PARTITION BY day, stage) AS n FROM h) " +
      "SELECT day, stage, CAST(max(n) AS BIGINT) AS n_pairs, " +
      "CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN dur_us END) AS BIGINT) AS p50_us, " +
      "CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN dur_us END) AS BIGINT) AS p90_us " +
      "FROM cm GROUP BY 1, 2") {
    (s, d) =>
      val g3 = funnelStaged(s, d).localCheckpoint() // both stage slices read it
      val ps = Seq(0.5 -> "p50_us", 0.9 -> "p90_us")
      def stage(name: String, dur: Column, conv: Column): DataFrame =
        graft.ops.Quantiles.groupQuantilesDisc(
          g3.filter(conv.isNotNull).select(col("day"), dur.as("dur_us")),
          "day", "dur_us", ps)
          .select(col("day"), lit(name).as("stage"), col("n").as("n_pairs"),
            col("p50_us"), col("p90_us"))
      stage("view_to_click", col("ct") - col("vt"), col("ct"))
        .unionByName(stage("click_to_purchase", col("pt") - col("ct"), col("pt")))
  }

  /** Session-size histogram (r12) — the engagement-distribution report
    * over the REGISTERED sessionizer (oracle inlines q_sessionize's text
    * as a derived table; the Spark side calls the same fn — the mutualSql
    * discipline, so "session" can never fork between the builder and its
    * rollup): sessions bucketed by event count (1, 2, 3–4, 5–8, 9–16,
    * 17+) with the session share and the mean duration per bucket — the
    * single-event-bounce vs long-session shape a product team reads
    * first. Buckets merge by addition; the mean duration publishes as an
    * exact BIGINT integer division (durations in µs would overflow the
    * 2⁻³⁰ pin's exact domain); share is one pinned division. Cost: the
    * sessionizer's, plus one buckets-sized aggregate. */
  val eventSessionHist = Q("q_event_session_hist",
    "session-size histogram with shares and mean durations")(
    "WITH sess AS (SELECT * FROM (" + sessionize.oracle.get + ")), " +
      "b AS (SELECT CASE WHEN n_events <= 1 THEN 1 WHEN n_events <= 2 THEN 2 " +
      "WHEN n_events <= 4 THEN 3 WHEN n_events <= 8 THEN 5 " +
      "WHEN n_events <= 16 THEN 9 ELSE 17 END AS bucket_lo, " +
      "n_events, duration_us FROM sess), " +
      "g AS (SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_sessions, " +
      "CAST(sum(duration_us) AS BIGINT) AS sdur FROM b GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS tot FROM g) " +
      "SELECT g.bucket_lo, g.n_sessions, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(g.n_sessions AS DOUBLE) / CAST(t.tot AS DOUBLE)") + " AS share, " +
      "CAST(g.sdur // g.n_sessions AS BIGINT) AS mean_dur_us " +
      "FROM g CROSS JOIN t") {
    (s, d) =>
      import graft.util.Exact
      val bucket = when(col("n_events") <= 1, 1L).when(col("n_events") <= 2, 2L)
        .when(col("n_events") <= 4, 3L).when(col("n_events") <= 8, 5L)
        .when(col("n_events") <= 16, 9L).otherwise(17L)
      val g = sessionize.fn(s, d)
        .select(bucket.as("bucket_lo"), col("duration_us"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_sessions"), sum("duration_us").as("sdur"))
        .localCheckpoint() // the total AND the output rows read it
      val t = g.agg(sum("n_sessions").cast("long").as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("bucket_lo"), col("n_sessions"),
          Exact.pinScoreInt(col("n_sessions").cast("double") /
            col("tot").cast("double")).as("share"),
          expr("CAST(sdur div n_sessions AS BIGINT)").as("mean_dur_us"))
  }

  /** Wilson 95% interval on the daily view→click conversion (r12) — the
    * statistical layer over q_event_funnel's counts: a day with 3/5
    * converting and a day with 300/500 print the same rate, but only one
    * supports a decision; the Wilson score interval (the
    * recommended-over-Wald form for small n and extreme p) bounds what
    * the data actually supports, per day. Shares the staged frame and
    * oracle CTEs with the funnel, so "conversion" here can never drift
    * from the funnel's definition. Arithmetic: counts are integers; the
    * interval is ONE fixed-order IEEE expression per bound (+, −, ×, ÷,
    * √ — all correctly rounded, identical text both engines) over those
    * integers, published as pinned grid cells; NULL bounds when a day
    * has no views (no rate to bound). One day-keyed aggregate. */
  val eventConversionCi = Q("q_event_conversion_ci",
    "Wilson 95% bounds on the daily view-to-click conversion")({
    val z2 = "(1.96 * 1.96)"
    val p = "(nc / nv)"
    val den = s"(1.0 + $z2 / nv)"
    val ctr = s"(($p + $z2 / (2.0 * nv)) / $den)"
    val hf = s"(1.96 * sqrt($p * (1.0 - $p) / nv + $z2 / (4.0 * nv * nv)) / $den)"
    funnelStagesSql +
      ", c AS (SELECT day, CAST(count(vt) AS DOUBLE) AS nv, " +
      "CAST(count(ct) AS DOUBLE) AS nc FROM g3 GROUP BY 1) " +
      "SELECT day, CAST(nv AS BIGINT) AS n_view, CAST(nc AS BIGINT) AS n_click, " +
      "CASE WHEN nv > 0 THEN " + graft.util.Exact.Sql.pinScoreInt(p) + " END AS p_hat, " +
      "CASE WHEN nv > 0 THEN " + graft.util.Exact.Sql.pinScoreInt(s"$ctr - $hf") +
      " END AS wilson_lo, " +
      "CASE WHEN nv > 0 THEN " + graft.util.Exact.Sql.pinScoreInt(s"$ctr + $hf") +
      " END AS wilson_hi FROM c"
  }) {
    (s, d) =>
      import graft.util.Exact
      val c = funnelStaged(s, d).groupBy("day")
        .agg(count("vt").cast("double").as("nv"), count("ct").cast("double").as("nc"))
      val z2 = lit(1.96) * lit(1.96)
      val p = col("nc") / col("nv")
      val den = lit(1.0) + z2 / col("nv")
      val ctr = (p + z2 / (lit(2.0) * col("nv"))) / den
      val hf = lit(1.96) * sqrt(p * (lit(1.0) - p) / col("nv") +
        z2 / (lit(4.0) * col("nv") * col("nv"))) / den
      c.select(col("day"), col("nv").cast("long").as("n_view"),
        col("nc").cast("long").as("n_click"),
        when(col("nv") > 0, Exact.pinScoreInt(p)).as("p_hat"),
        when(col("nv") > 0, Exact.pinScoreInt(ctr - hf)).as("wilson_lo"),
        when(col("nv") > 0, Exact.pinScoreInt(ctr + hf)).as("wilson_hi"))
  }

  /** Cohort retention (r8): cohort = a user's first active day; for each
    * (cohort, day-offset ≤ 7) the count of distinct users still active —
    * the standard product-analytics retention triangle. Two grouped
    * aggregates and one user_id-keyed join, all shuffling on user_id (the
    * cohort side is corpus-sized — one row per user — so it is NOT
    * broadcast); day arithmetic is integer, nothing floats. */
  val eventRetention = Q("q_event_retention", "daily-cohort retention triangle")(
    "WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), " +
      "c AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY 1) " +
      "SELECT c.cohort, CAST(date_diff('day', c.cohort, ud.day) AS BIGINT) AS offset_days, " +
      "count(DISTINCT ud.user_id) AS n_users " +
      "FROM ud JOIN c ON c.user_id = ud.user_id " +
      "WHERE date_diff('day', c.cohort, ud.day) <= 7 GROUP BY 1, 2") {
    (s, d) =>
      val ud = events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
      val c = ud.groupBy("user_id").agg(min("day").as("cohort"))
      ud.join(c, "user_id")
        .withColumn("offset_days", datediff(col("day"), col("cohort")).cast("long"))
        .filter(col("offset_days") <= 7)
        .groupBy("cohort", "offset_days")
        .agg(countDistinct("user_id").as("n_users"))
  }

  /** 7-day = 604800 s in microseconds — the attribution lookback. */
  private val AttrWindowUs = 7L * 24 * 3600 * 1000000L

  /** Last-touch attribution (r8): each purchase credits the user's most
    * recent PRECEDING click within a 7-day lookback — the canonical
    * marketing-attribution join, solved with one per-user ordered window
    * (carry the last click timestamp via `last(..., ignoreNulls)` over
    * rows ≺ current) instead of a purchases×clicks range self-join. One
    * Exchange on user_id; timestamps compared in integer microseconds.
    * Purchases with no in-window click keep NULL credit — they must stay
    * visible (unattributed spend is the metric's denominator). */
  val eventAttribution = Q("q_event_attribution", "last-touch click attribution for purchases")(
    "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "a AS (SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS) " +
      "OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us FROM e) " +
      "SELECT event_id, user_id, ts_us, " +
      s"CASE WHEN ts_us - click_us <= $AttrWindowUs THEN click_us END AS attr_click_us, " +
      s"CASE WHEN ts_us - click_us <= $AttrWindowUs THEN ts_us - click_us END AS gap_us " +
      "FROM a WHERE event_type = 'purchase'") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val inWin = col("ts_us") - col("click_us") <= AttrWindowUs
      events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("click_us",
          last(when(col("event_type") === "click", col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(inWin, col("click_us")).as("attr_click_us"),
          when(inWin, col("ts_us") - col("click_us")).as("gap_us"))
  }

  /** Event-rate anomaly detection (r8): daily count per event type,
    * z-scored against that type's own daily history (exact decimal
    * moments — counts are integers, so the decimal path is the right
    * exactness tool, no transcendental grid needed), |z| ≥ 2 flagged.
    * The monitoring op a pipeline runs over its own telemetry. Shape:
    * one (type, day) hash aggregate, a 5-row per-type stats frame
    * broadcast back — nothing corpus-sized crosses the network twice.
    * z/flag are NULL when a type has no usable baseline — < 2 days of
    * history (sd NULL) OR a perfectly constant history (sd = 0) —
    * identical CASE semantics in the oracle; engines disagree on double
    * x/0, so the sd > 0 guard is part of the contract. */
  /** Per-(type, day) event counts — the anomaly unit, shared by the batch
    * query and the streaming monitor (Streams.anomalyMonitor) so both
    * score the same integers. */
  private[graft] def dailyCounts(ev: org.apache.spark.sql.DataFrame) =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** Exact per-type history moments over dailyCounts output — THE trained
    * reference-stats artifact; the streaming monitor broadcasts this
    * frame and must use the identical recipe or stream and batch flags
    * diverge. */
  private[graft] def anomalyStats(dc: org.apache.spark.sql.DataFrame) =
    dc.groupBy("event_type")
      .agg(Exact.exactAvg(col("n").cast("double")).as("mean_n"),
        Exact.exactStddevSamp(col("n").cast("double")).as("sd_n"))

  /** z-score + flag a counts frame against a stats frame — the scoring
    * tail shared verbatim by batch and stream. */
  private[graft] def anomalyScore(dc: org.apache.spark.sql.DataFrame,
      st: org.apache.spark.sql.DataFrame) = {
    // z is DEFINED only for sd > 0: a <2-day history gives sd NULL, a
    // CONSTANT history gives sd = 0 — both are "no usable baseline", and
    // engines disagree on double x/0 (Spark NULL, IEEE engines ±inf), so
    // the guard is part of the cross-engine contract, not cosmetics
    // (found by the streaming twin's flat-rate fixture)
    val z = when(col("sd_n") > 0, (col("n") - col("mean_n")) / col("sd_n"))
    dc.join(broadcast(st), "event_type")
      .select(col("event_type"), col("day"), col("n"),
        z.as("z"), (abs(z) >= 2.0).as("is_anomaly"))
  }

  val eventAnomaly = Q("q_event_anomaly", "daily event-rate z-score anomalies")(
    "WITH dc AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n " +
      "FROM events GROUP BY 1, 2), " +
      "st AS (SELECT event_type, count(*) AS n_days, " +
      Exact.Sql.avg("CAST(n AS DOUBLE)") + " AS mean_n, " +
      Exact.Sql.stddevSamp("CAST(n AS DOUBLE)") + " AS sd_n FROM dc GROUP BY 1) " +
      "SELECT dc.event_type, dc.day, dc.n, " +
      "CASE WHEN st.sd_n > 0 THEN (dc.n - st.mean_n) / st.sd_n END AS z, " +
      "abs(CASE WHEN st.sd_n > 0 THEN (dc.n - st.mean_n) / st.sd_n END) >= 2.0 AS is_anomaly " +
      "FROM dc JOIN st ON st.event_type = dc.event_type") {
    (s, d) =>
      val dc = dailyCounts(events(s, d))
      anomalyScore(dc, anomalyStats(dc))
  }

  /** SCD type-2 dimension build (r9): treat each user's event stream as a
    * change log of a single attribute (event_type = the user's "current
    * state") and emit the slowly-changing-dimension history — one row per
    * state RUN with [valid_from, valid_to) validity and an is_current
    * flag on the open row. This is the lakehouse dimension-table pattern
    * (reference analogue: the daily snapshot tables in
    * market_data_snapshots — see historical_data_etl.py:120-140 — which
    * keep only the latest row; SCD2 is the history-preserving upgrade).
    *
    * Shape: one per-user ordered window feeds BOTH the change-detection
    * lag and the run numbering (same partition+order ⇒ one Exchange + one
    * Sort), then a second window (lead) over the change rows — which are
    * strictly fewer — closes each validity interval. No self-join, no
    * driver state; at 100 TB this is change-log-sized work shuffled once
    * on the natural key. Timestamps compare in integer microseconds
    * (engines agree on int64; see q_event_attribution). */
  val scd2 = Q("q_scd2", "SCD type-2 validity intervals from a change log")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL " +
      "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
      "r AS (SELECT user_id, event_id, event_type, ts_us FROM c WHERE chg = 1) " +
      "SELECT user_id, event_type, " +
      "CAST(row_number() OVER w AS BIGINT) AS version, " +
      "ts_us AS valid_from_us, lead(ts_us) OVER w AS valid_to_us, " +
      "lead(ts_us) OVER w IS NULL AS is_current FROM r " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val changes = events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        // run starts: first event, or state differs from the previous one
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      scd2FromChanges(changes)
  }

  /** Close SCD2 validity intervals over a CHANGE-ROW frame
    * (user_id, event_id, ts_us, event_type — one row per state-run
    * start). Shared code object between the batch q_scd2 (which derives
    * the change rows with a lag filter) and the streaming twin's
    * read-side rollup (Streams.scd2Rollup, whose change rows come from
    * the stateful ingest) — the two can never drift. */
  private[graft] def scd2FromChanges(changes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes.select(col("user_id"), col("event_type"),
      row_number().over(w).cast("long").as("version"),
      col("ts_us").as("valid_from_us"),
      lead("ts_us", 1).over(w).as("valid_to_us"),
      lead("ts_us", 1).over(w).isNull.as("is_current"))
  }

  /** First-order Markov transition matrix (r9): per user, each ordered
    * (state → next-state) step counted corpus-wide, with the row-
    * normalized transition probability — the sequence-model summary of an
    * event stream (what follows a view? how absorbing is purchase?).
    *
    * Shape: one per-user ordered lead (single Exchange on user_id), one
    * (from,to) hash aggregate with map-side partials, and one per-from
    * total joined back — a states²-sized frame (≤ 25 rows here), safely
    * broadcast. Probability is ONE integer division per output row
    * (IEEE-exact both engines, house fraction recipe). */
  val eventTransition = Q("q_event_transition", "Markov event-type transition matrix")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "p AS (SELECT event_type AS from_type, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type FROM e), " +
      "tc AS (SELECT from_type, to_type, count(*) AS n FROM p " +
      "WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
      "tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tc GROUP BY 1) " +
      "SELECT tc.from_type, tc.to_type, tc.n, " +
      "CAST(tc.n AS DOUBLE) / tot.n_from AS p " +
      "FROM tc JOIN tot ON tot.from_type = tc.from_type") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tc = events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy("from_type").agg(sum("n").cast("long").as("n_from"))
      tc.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from")).as("p"))
  }

  /** Next-event prediction accuracy (r12) — closes the loop on
    * q_event_transition: does the one-step Markov matrix actually
    * PREDICT? Time-split evaluation with no leakage: the transition
    * counts train on the first half of the stream (events before the
    * global min/max-midpoint timestamp — a deterministic integer), the
    * per-from argmax (ties → lexicographically first to-type) becomes
    * the predictor, and accuracy is measured on consecutive pairs drawn
    * ENTIRELY from the second half. Published per from-type (predicted
    * type, pairs, hits, pinned accuracy — NULL prediction when the type
    * never appeared as a train source counts its pairs at 0 hits) + a
    * TOTAL row; the baseline to beat is the test-half majority class.
    *
    * Scale: two pair extractions over one user-keyed window each, two
    * |types|²-bounded aggregates, one broadcast argmax join. */
  val eventNextPred = Q("q_event_next_pred",
    "next-event-type prediction accuracy of the time-split transition argmax")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "sp AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS cut FROM e), " +
      "tr AS (SELECT event_type AS ft, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS tt " +
      "FROM e CROSS JOIN sp WHERE ts_us < sp.cut), " +
      "tc AS (SELECT ft, tt, CAST(count(*) AS BIGINT) AS n FROM tr " +
      "WHERE tt IS NOT NULL GROUP BY 1, 2), " +
      "pr AS (SELECT ft, tt AS pred FROM (SELECT tc.*, row_number() OVER " +
      "(PARTITION BY ft ORDER BY n DESC, tt) AS rn FROM tc) WHERE rn = 1), " +
      "te AS (SELECT event_type AS ft, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS tt " +
      "FROM e CROSS JOIN sp WHERE ts_us >= sp.cut), " +
      "pairs AS (SELECT ft, tt FROM te WHERE tt IS NOT NULL), " +
      "acc AS (SELECT p.ft, CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(sum(CASE WHEN p.tt = pr.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit " +
      "FROM pairs p LEFT JOIN pr ON pr.ft = p.ft GROUP BY 1) " +
      "SELECT a.ft AS from_type, pr.pred AS pred_type, a.n_pairs, a.n_hit, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(a.n_hit AS DOUBLE) / CAST(a.n_pairs AS DOUBLE)") + " AS accuracy " +
      "FROM acc a LEFT JOIN pr ON pr.ft = a.ft " +
      "UNION ALL " +
      "SELECT 'TOTAL' AS from_type, CAST(NULL AS VARCHAR) AS pred_type, " +
      "CAST(sum(n_pairs) AS BIGINT) AS n_pairs, CAST(sum(n_hit) AS BIGINT) AS n_hit, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(sum(n_hit) AS DOUBLE) / CAST(sum(n_pairs) AS DOUBLE)") +
      " AS accuracy FROM acc") {
    (s, d) =>
      val e = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .localCheckpoint(eager = false) // the split scalar AND both halves
      val sp = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("cut"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      def pairsOf(half: DataFrame): DataFrame = half
        .select(col("event_type").as("ft"), lead("event_type", 1).over(w).as("tt"))
        .filter(col("tt").isNotNull)
      val withCut = e.crossJoin(broadcast(sp))
      val tc = pairsOf(withCut.filter(col("ts_us") < col("cut")))
        .groupBy("ft", "tt").agg(count(lit(1)).as("n"))
      val wArg = Window.partitionBy("ft").orderBy(col("n").desc, col("tt"))
      val pr = tc.withColumn("rn", row_number().over(wArg)).filter(col("rn") === 1)
        .select(col("ft"), col("tt").as("pred"))
      val pairs = pairsOf(withCut.filter(col("ts_us") >= col("cut")))
      val acc = pairs.join(broadcast(pr), Seq("ft"), "left")
        .groupBy("ft").agg(count(lit(1)).as("n_pairs"),
          sum(when(col("tt") === col("pred"), 1).otherwise(0)).cast("long").as("n_hit"))
        .localCheckpoint(eager = false) // per-type rows AND the TOTAL fold
      val perType = acc.join(broadcast(pr), Seq("ft"), "left")
        .select(col("ft").as("from_type"), col("pred").as("pred_type"),
          col("n_pairs"), col("n_hit"),
          graft.util.Exact.pinScoreInt(
            col("n_hit").cast("double") / col("n_pairs").cast("double")).as("accuracy"))
      val total = acc.agg(sum("n_pairs").cast("long").as("n_pairs"),
          sum("n_hit").cast("long").as("n_hit"))
        .select(lit("TOTAL").as("from_type"), lit(null).cast("string").as("pred_type"),
          col("n_pairs"), col("n_hit"),
          graft.util.Exact.pinScoreInt(
            col("n_hit").cast("double") / col("n_pairs").cast("double")).as("accuracy"))
      perType.unionByName(total)
  }

  /** A/B sample-ratio-mismatch check (r12) — the experiment-governance
    * gate that runs BEFORE any lift/CUPED read-out is trusted: under the
    * registered 50/50 arm assignment (user_id % 2, the q_event_ab_lift
    * convention), is the realized user split consistent with 50/50? χ²
    * with 1 df on the two arm counts — χ² > 3.84 (p < .05) means the
    * assignment or logging is broken and every downstream effect size is
    * suspect. One distinct-user aggregate; the statistic is one
    * fixed-order IEEE expression over two exact integers, pinned. */
  val eventAbSrm = Q("q_event_ab_srm",
    "sample-ratio-mismatch chi2 of the 50/50 arm assignment (1 df, pinned)")(
    "WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL), " +
      "a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      "CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM u) " +
      "SELECT n0, n1, " +
      Exact.Sql.pinScoreInt(
        "CAST(n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))") +
      " AS arm0_share, " +
      Exact.Sql.pinScoreInt(
        "((CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) * " +
          "(CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)) / " +
          "((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) + " +
          "((CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) * " +
          "(CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)) / " +
          "((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)") +
      " AS chi2, " +
      "CASE WHEN " +
      "((CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) * " +
      "(CAST(n0 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)) / " +
      "((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) + " +
      "((CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) * " +
      "(CAST(n1 AS DOUBLE) - (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0)) / " +
      "((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) / 2.0) > 3.84 " +
      "THEN 1 ELSE 0 END AS srm_flag FROM a") {
    (s, d) =>
      val u = events(s, d).filter(col("user_id").isNotNull)
        .select("user_id").distinct()
      val a = u.agg(
        sum(when(col("user_id") % 2 === 0, 1).otherwise(0)).cast("long").as("n0"),
        sum(when(col("user_id") % 2 === 1, 1).otherwise(0)).cast("long").as("n1"))
      val n0D = col("n0").cast("double"); val n1D = col("n1").cast("double")
      val e = (n0D + n1D) / 2.0
      val chi2 = ((n0D - e) * (n0D - e)) / e + ((n1D - e) * (n1D - e)) / e
      a.select(col("n0"), col("n1"),
        Exact.pinScoreInt(n0D / (n0D + n1D)).as("arm0_share"),
        Exact.pinScoreInt(chi2).as("chi2"),
        when(chi2 > 3.84, 1).otherwise(0).as("srm_flag"))
  }

  /** Attribution-window sensitivity sweep (r12) — the SAME staged funnel
    * frame (funnelStagesSql / funnelStaged, the convention cannot fork)
    * read at three conversion windows: how many view→click conversions
    * survive if a click must land within 1 h / 6 h / 24 h of the first
    * view? The window choice silently decides every conversion metric
    * downstream; this publishes the whole sensitivity curve so the
    * choice is a read, not a re-run. Spine LEFT-join zero-row
    * convention; gaps are exact integer µs, the only double is each
    * pinned rate. Costs the staged frame + a 3-row broadcast spine. */
  val eventConvWindows = Q("q_event_conv_windows",
    "view-to-click conversions within 1h/6h/24h over the shared funnel frame")(
    funnelStagesSql +
      ", w AS (SELECT unnest([3600000000, 21600000000, 86400000000]) AS win_us), " +
      "b AS (SELECT CAST(count(vt) AS BIGINT) AS n_views FROM g3), " +
      "cv AS (SELECT w.win_us, CAST(count(*) AS BIGINT) AS n_conv FROM g3 " +
      "CROSS JOIN w WHERE g3.ct IS NOT NULL AND g3.ct - g3.vt <= w.win_us " +
      "GROUP BY 1) " +
      "SELECT CAST(w.win_us AS BIGINT) AS win_us, b.n_views, " +
      "COALESCE(cv.n_conv, 0) AS n_conv, " +
      "CASE WHEN b.n_views > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "CAST(COALESCE(cv.n_conv, 0) AS DOUBLE) / CAST(b.n_views AS DOUBLE)") +
      " END AS conv_rate FROM w LEFT JOIN cv ON cv.win_us = w.win_us CROSS JOIN b") {
    (s, d) =>
      import s.implicits._
      val g3 = funnelStaged(s, d).localCheckpoint(eager = false) // base AND sweep
      val w = Seq(3600000000L, 21600000000L, 86400000000L).toDF("win_us")
      val b = g3.agg(count("vt").as("n_views"))
      val cv = g3.filter(col("ct").isNotNull).crossJoin(broadcast(w))
        .filter(col("ct") - col("vt") <= col("win_us"))
        .groupBy("win_us").agg(count(lit(1)).as("n_conv"))
      w.join(cv, Seq("win_us"), "left").crossJoin(broadcast(b))
        .select(col("win_us"), col("n_views"),
          coalesce(col("n_conv"), lit(0L)).as("n_conv"),
          when(col("n_views") > 0, Exact.pinScoreInt(
            coalesce(col("n_conv"), lit(0L)).cast("double") /
              col("n_views").cast("double"))).as("conv_rate"))
  }

  /** Hour-of-day activity profile (r12) — the within-day seasonality
    * companion of q_event_dow_profile (weekly): per (hour, event_type)
    * cell, count + pinned share of the hour's events and of the day
    * cycle overall. The capacity-planning and bot-detection read (human
    * traffic has a diurnal curve; scripted traffic is flat). One
    * bounded-key hash aggregate; shares from exact integers. */
  val eventHourProfile = Q("q_event_hour_profile",
    "hour-of-day x event-type activity profile with shares")(
    "WITH e AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr, event_type " +
      "FROM events WHERE ts IS NOT NULL), " +
      "c AS (SELECT hr, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2), " +
      "h AS (SELECT hr, CAST(sum(n) AS BIGINT) AS hn FROM c GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c) " +
      "SELECT c.hr, c.event_type, c.n, " +
      Exact.Sql.pinScoreInt("CAST(c.n AS DOUBLE) / CAST(h.hn AS DOUBLE)") +
      " AS hour_share, " +
      Exact.Sql.pinScoreInt("CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)") +
      " AS total_share FROM c JOIN h ON h.hr = c.hr CROSS JOIN t") {
    (s, d) =>
      val c = events(s, d).filter(col("ts").isNotNull)
        .select(hour(col("ts")).cast("long").as("hr"), col("event_type"))
        .groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false) // hour totals AND the global total
      val h = c.groupBy("hr").agg(sum("n").cast("long").as("hn"))
      val t = c.agg(sum("n").cast("long").as("tot"))
      c.join(broadcast(h), "hr").crossJoin(broadcast(t))
        .select(col("hr"), col("event_type"), col("n"),
          Exact.pinScoreInt(col("n").cast("double") / col("hn").cast("double"))
            .as("hour_share"),
          Exact.pinScoreInt(col("n").cast("double") / col("tot").cast("double"))
            .as("total_share"))
  }

  /** Top onboarding paths (r9): each user's FIRST THREE event types in
    * arrival order, concatenated into a path string and counted — the
    * path-analysis staple ("what do users actually do first?") that
    * complements q_event_transition's one-step matrix with short ordered
    * sequences. Users with fewer than 3 events keep their shorter path
    * (concat_ws skips the missing slots on both engines).
    *
    * Shape: one per-user ordered window (rn ≤ 3 — the frame never holds
    * more than the prefix), a 3-slot conditional pivot per user, then a
    * path hash aggregate. Everything shuffles once on user_id; the path
    * domain is ≤ |types|³, so the final count is a bounded-key
    * aggregate. */
  val eventPath = Q("q_event_path", "top first-3-event paths per user")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "p AS (SELECT user_id, event_type, row_number() OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS rn FROM e), " +
      "s AS (SELECT user_id, max(CASE WHEN rn = 1 THEN event_type END) AS e1, " +
      "max(CASE WHEN rn = 2 THEN event_type END) AS e2, " +
      "max(CASE WHEN rn = 3 THEN event_type END) AS e3 " +
      "FROM p WHERE rn <= 3 GROUP BY 1) " +
      "SELECT concat_ws('>', e1, e2, e3) AS path, count(*) AS n_users " +
      "FROM s GROUP BY 1") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n_users"))
  }

  /** RFM user segmentation (r9): recency (days since last event, against
    * the corpus's own horizon), frequency (event count), monetary
    * (decimal-exact value sum), plus the monetary QUINTILE through the
    * same two-phase exact-ntile plan q_win_ntile certifies (no global
    * sort of users — the histogram/boundary-bucket layout holds at any
    * user count). The classic marketing-segmentation frame, one grouped
    * aggregate + the bounded ntile machinery; the corpus horizon rides a
    * broadcast 1-row frame. */
  val eventRfm = Q("q_event_rfm", "RFM user segmentation with exact monetary quintile")(
    "WITH u AS (SELECT user_id, count(*) AS frequency, " +
      "max(date_trunc('day', ts)) AS last_day, " +
      Exact.Sql.sum("value") + " AS monetary FROM events GROUP BY 1), " +
      "hz AS (SELECT max(last_day) AS horizon FROM u) " +
      "SELECT u.user_id, " +
      "CAST(date_diff('day', u.last_day, hz.horizon) AS BIGINT) AS recency_days, " +
      "u.frequency, u.monetary, " +
      "CAST(ntile(5) OVER (ORDER BY u.monetary, u.user_id) AS BIGINT) AS m_quintile " +
      "FROM u, hz") {
    (s, d) =>
      val u = events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("frequency"),
          max(date_trunc("day", col("ts"))).as("last_day"),
          Exact.exactSum(col("value")).as("monetary"))
        .localCheckpoint() // exactNtile reads its input 3x, hz a 4th time
      val hz = u.agg(max("last_day").as("horizon"))
      val scored = graft.ops.Quantiles.exactNtile(
        u.withColumn("_g", lit(1)), part = "_g", value = "monetary",
        ord = col("user_id"), tiles = 5, outCol = "m_quintile")
      scored.crossJoin(broadcast(hz))
        .select(col("user_id"),
          datediff(col("horizon"), col("last_day")).cast("long").as("recency_days"),
          col("frequency"), col("monetary"), col("m_quintile"))
  }

  /** Weekly-cohort LTV triangle (r10): users grouped by the ISO week of
    * their FIRST event; per (cohort, age-in-weeks) cell, the active
    * distinct-user count and the decimal-exact purchase revenue — the
    * lifetime-value curve marketing/product reads next to
    * q_event_retention's daily triangle (retention says WHO comes back,
    * LTV says what the returners are WORTH). Week age is day arithmetic
    * only — floor(datediff/7), IEEE-exact on small integers, identical
    * on both engines (never engine week-boundary-crossing counters,
    * whose conventions differ). Cells with activity but no purchase
    * keep a NULL revenue (visible denominators, the eventAttribution
    * convention). Shape: one per-user min, one user-keyed join, one
    * (cohort, age) hash aggregate — the retention plan with an exact
    * money sum riding along. */
  val eventCohortLtv = Q("q_event_cohort_ltv", "weekly-cohort LTV triangle (active users + exact revenue)")(
    "WITH e AS (SELECT user_id, ts, event_type, value FROM events), " +
      "c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM e GROUP BY 1), " +
      "j AS (SELECT c.cohort, " +
      "CAST(floor(date_diff('day', c.cohort, date_trunc('day', e.ts)) / 7.0) AS BIGINT) AS age_w, " +
      "e.user_id, e.event_type, e.value FROM e JOIN c ON c.user_id = e.user_id) " +
      "SELECT cohort, age_w, count(DISTINCT user_id) AS n_active, " +
      Exact.Sql.sum("CASE WHEN event_type = 'purchase' THEN value END") +
      " AS revenue FROM j GROUP BY 1, 2") {
    (s, d) =>
      val e = events(s, d).select("user_id", "ts", "event_type", "value")
      val c = e.groupBy("user_id").agg(date_trunc("week", min("ts")).as("cohort"))
      e.join(c, "user_id")
        .withColumn("age_w",
          floor(datediff(date_trunc("day", col("ts")), col("cohort")) / 7.0).cast("long"))
        .groupBy("cohort", "age_w")
        .agg(countDistinct("user_id").as("n_active"),
          Exact.exactSum(when(col("event_type") === "purchase", col("value")))
            .as("revenue"))
  }

  /** Frequent 3-event sequence n-grams (r10) — sequence-mining lite: every
    * SLIDING window of three consecutive event types in each user's
    * time-ordered stream, counted across the corpus with a support floor
    * (≥ 5 occurrences). This is the whole-stream generalization of
    * q_event_path (first-3 prefix only) and the 3-step extension of
    * q_event_transition's one-step matrix — the support-counted patterns
    * a funnel designer mines BEFORE hand-declaring a funnel. Occurrence
    * count and distinct-user support publish together (a pattern one bot
    * loops 1000× vs one 1000 users each hit once are different facts).
    *
    * Scale: one user-keyed window shuffle (two leads over the same
    * frame), then a bounded-key aggregate — the n-gram domain is
    * ≤ |event types|³, so the final count/countDistinct shuffle is
    * tiny regardless of corpus; integer-µs ordering ties broken by
    * event_id exactly as the attribution/path ops do. */
  val eventSeqNgram = Q("q_event_seq_ngram", "frequent 3-event sequence n-grams (support >= 5)")(
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "s AS (SELECT user_id, event_type AS e1, " +
      "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS e2, " +
      "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS e3 " +
      "FROM e) " +
      "SELECT e1, e2, e3, count(*) AS n_occur, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
      "FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3 HAVING count(*) >= 5") {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .select(col("user_id"), col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e3").isNotNull)
        .groupBy("e1", "e2", "e3")
        .agg(count(lit(1)).as("n_occur"), countDistinct("user_id").as("n_users"))
        .filter(col("n_occur") >= 5)
  }

  /** Per-type inter-arrival profile + burstiness (r11) — the
    * event-stream texture gauge beside q_event_anomaly's daily z-scores:
    * gaps are measured within each user's per-type stream (the
    * q_sessionize ordering contract: ts µs, event_id tiebreak), then
    * folded per event type into count/sum/min/max plus exact-moment mean
    * and population σ, and Goh–Barabási burstiness B = (σ−μ)/(σ+μ) —
    * B → −1 for a periodic stream, 0 for Poisson, → 1 for bursty; the
    * number that says whether a session-gap threshold or a rate alarm is
    * even well-posed for this type.
    *
    * Scale: one (user_id)-keyed window pass (same Exchange the rest of
    * the session family rides) and one bounded-key hash aggregate; the
    * moments are decimal-exact sums of integer-µs gaps, the three
    * published scores ride the pin grid, guarded NULL when a type has
    * < 2 gaps (no σ) or σ+μ = 0. */
  val eventInterarrival = Q("q_event_interarrival",
    "per-type inter-arrival profile + burstiness")(
    "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events), " +
      "g AS (SELECT event_type, ts_us - lag(ts_us) OVER " +
      "(PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS gap FROM e), " +
      "gg AS (SELECT event_type, CAST(gap AS DOUBLE) AS gd, gap FROM g WHERE gap IS NOT NULL), " +
      "st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, " +
      "CAST(sum(gap) AS BIGINT) AS sum_gap_us, " +
      "CAST(min(gap) AS BIGINT) AS min_gap_us, CAST(max(gap) AS BIGINT) AS max_gap_us, " +
      Exact.Sql.avg("gd") + " AS mu, " + Exact.Sql.stddevPop("gd") + " AS sd " +
      "FROM gg GROUP BY 1) " +
      // pinned scores publish in SECONDS: a µs-scale mean gap (~2e11 here)
      // times the 2^30 grid would overflow BIGINT — loudly in DuckDB,
      // silently (ANSI off) in Spark; /1e6 is one correct IEEE rounding on
      // both engines, and the integer columns keep full µs resolution
      "SELECT event_type, n_gaps, sum_gap_us, min_gap_us, max_gap_us, " +
      Exact.Sql.pinScoreInt("mu / 1000000.0") + " AS mean_s, " +
      "CASE WHEN n_gaps >= 2 THEN " +
      Exact.Sql.pinScoreInt("sd / 1000000.0") + " END AS sd_s, " +
      "CASE WHEN n_gaps >= 2 AND sd + mu > 0 THEN " +
      Exact.Sql.pinScoreInt("(sd - mu) / (sd + mu)") + " END AS burstiness " +
      "FROM st") {
    (s, d) =>
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      val g = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap").isNotNull)
      interarrivalStats(g)
  }

  /** The published fold of q_event_interarrival over a (event_type, gap)
    * frame — shared verbatim by the batch operator and the streaming
    * gap-ingest rollup (Streams.gapRollup), so stream and batch profiles
    * cannot drift. */
  private[graft] def interarrivalStats(g: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val st = g.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum("gap").as("sum_gap_us"),
      min("gap").as("min_gap_us"), max("gap").as("max_gap_us"),
      Exact.exactAvg(col("gap").cast("double")).as("mu"),
      Exact.exactStddevPop(col("gap").cast("double")).as("sd"))
    st.select(col("event_type"), col("n_gaps"), col("sum_gap_us"),
      col("min_gap_us"), col("max_gap_us"),
      Exact.pinScoreInt(col("mu") / 1000000.0).as("mean_s"),
      when(col("n_gaps") >= 2,
        Exact.pinScoreInt(col("sd") / 1000000.0)).as("sd_s"),
      when(col("n_gaps") >= 2 && col("sd") + col("mu") > 0,
        Exact.pinScoreInt((col("sd") - col("mu")) / (col("sd") + col("mu"))))
        .as("burstiness"))
  }

  /** Per-user modal event type (r11) — the pandas `groupby().agg(mode)`
    * idiom done the deterministic way: the most frequent event type per
    * user, ties broken to the lexicographically smallest type (pandas
    * mode() returns ALL tied values; a pipeline needs ONE, and the tie
    * rule must be engine-portable, so it is part of the contract), plus
    * the count and the modal share of the user's events as a grid cell.
    * The categorical companion of q_event_rfm's numeric profile —
    * "what does this user mostly do".
    *
    * Scale: one (user, type) hash aggregate (partial map-side combine),
    * then a per-user window over ≤ |event types| rows — the window
    * partition is bounded by the type vocabulary, never by a user's
    * event count. */
  val aggModeUser = Q("q_agg_mode", "per-user modal event type with deterministic ties")(
    "WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
      "t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_total FROM c GROUP BY 1), " +
      "r AS (SELECT user_id, event_type, n, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c) " +
      "SELECT r.user_id, r.event_type AS mode_event_type, CAST(r.n AS BIGINT) AS n_mode, " +
      "t.n_total, " +
      Exact.Sql.pinScoreInt("CAST(r.n AS DOUBLE) / CAST(t.n_total AS DOUBLE)") +
      " AS mode_share FROM r JOIN t ON t.user_id = r.user_id WHERE r.rn = 1") {
    (s, d) =>
      val c = events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false) // feeds the total AND the ranked pick
      val t = c.groupBy("user_id").agg(sum("n").as("n_total"))
      val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))
      c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(t, "user_id")
        .select(col("user_id"), col("event_type").as("mode_event_type"),
          col("n").as("n_mode"), col("n_total"),
          Exact.pinScoreInt(
            col("n").cast("double") / col("n_total").cast("double")).as("mode_share"))
  }

  /** DAU/WAU engagement stickiness (r11) — per active day: distinct
    * daily actives, distinct TRAILING-7-day actives, and their ratio
    * (the industry stickiness number, 1/7 = every user once a week,
    * 1 = everyone daily). Days are integer epoch-day indices (µs //
    * 86400e6) so the window arithmetic is integer-pure on both engines.
    *
    * Scale: the trailing distinct-count trap — COUNT(DISTINCT) OVER a
    * 7-row window re-scans per day — is dodged by the contribution
    * explode: each (user, active-day) pair contributes to the 7 window
    * days it is visible in (a fixed ×7 row factor), then ONE distinct +
    * ONE hash aggregate. Corpus-linear, mergeable across shards, the
    * same layout at any window length. */
  val eventDauWau = Q("q_event_dau_wau", "daily actives, trailing-7-day actives, stickiness")(
    "WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dnum FROM events), " +
      "dau AS (SELECT dnum, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1), " +
      "x AS (SELECT DISTINCT user_id, dnum + o AS wnum FROM ud, " +
      "(SELECT unnest(range(0, 7)) AS o) t), " +
      "wau AS (SELECT wnum, CAST(count(*) AS BIGINT) AS wau FROM x GROUP BY 1) " +
      "SELECT d.dnum AS day_num, d.dau, w.wau, " +
      Exact.Sql.pinScoreInt("CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)") +
      " AS stickiness FROM dau d JOIN wau w ON w.wnum = d.dnum") {
    (s, d) =>
      dauWauFromPairs(events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dnum"))
        .distinct())
  }

  /** The DAU/WAU/stickiness rollup over DISTINCT (user_id, dnum) pairs —
    * shared code object between the batch q_event_dau_wau and the
    * streaming twin's read-side fold (Streams.dauRollup), so the two
    * can never drift. The pair set is the state algebra: set union is
    * idempotent, which is what makes the streaming store replay-proof. */
  private[graft] def dauWauFromPairs(ud0: DataFrame): DataFrame = {
    val ud = ud0.localCheckpoint(eager = false) // feeds DAU and the window explode
    val dau = ud.groupBy("dnum").agg(count(lit(1)).as("dau"))
    val wau = ud.select(col("user_id"), col("dnum"),
        explode(sequence(lit(0L), lit(6L))).as("o"))
      .select(col("user_id"), (col("dnum") + col("o")).as("wnum"))
      .distinct()
      .groupBy("wnum").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("wnum") === col("dnum"))
      .select(col("dnum").as("day_num"), col("dau"), col("wau"),
        Exact.pinScoreInt(
          col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** Stationary behavior mix of the event-type Markov chain (r11) — 3
    * unrolled power iterations of q_event_transition's row-normalized
    * matrix from the uniform start: where does user behavior SETTLE if
    * today's transition structure persists? The long-run companion of
    * the one-step matrix (the same read PageRank gives the kNN graph —
    * q_graph_pagerank's recipe applied to the behavioral chain), and
    * the drift gauge to diff across snapshots: a stationary mass shift
    * toward 'error' is a product regression no single-day count shows.
    *
    * Exactness: P entries are exact integer ratios; each iteration's
    * fold is a portable-grid sum over ≤ |types| addends; published mass
    * is a pinned cell, universe-complete via a left join (a type with
    * no INBOUND transitions publishes 0, never a dropped row). Dangling
    * mass (a type with no outbound edges) drops — the sub-stochastic
    * convention, documented rather than teleported, because behavior
    * chains on real event data are dense. Cost: the one per-user window
    * pass the transition matrix already pays + 3 joins over a
    * |types|²-row broadcast frame. */
  val eventMarkovStationary = Q("q_event_markov_stationary",
    "3-iteration stationary distribution of the event-type chain")({
    def step(prev: String, out: String): String =
      s"$out AS (SELECT m.to_type AS t, " +
        Exact.Sql.portableSum(s"$prev.pi * m.p") + " AS pi " +
        s"FROM pm m JOIN $prev ON $prev.t = m.from_type GROUP BY 1)"
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "p AS (SELECT event_type AS from_type, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type FROM e), " +
      "tc AS (SELECT from_type, to_type, count(*) AS n FROM p " +
      "WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
      "tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tc GROUP BY 1), " +
      "pm AS (SELECT tc.from_type, tc.to_type, CAST(tc.n AS DOUBLE) / tot.n_from AS p " +
      "FROM tc JOIN tot ON tot.from_type = tc.from_type), " +
      "types AS (SELECT DISTINCT event_type AS t FROM events), " +
      "nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types), " +
      "pi0 AS (SELECT t, 1.0 / (SELECT k FROM nt) AS pi FROM types), " +
      step("pi0", "pi1") + ", " + step("pi1", "pi2") + ", " + step("pi2", "pi3") + " " +
      "SELECT types.t AS event_type, " +
      Exact.Sql.pinScoreInt("COALESCE(pi3.pi, 0.0)") + " AS pi " +
      "FROM types LEFT JOIN pi3 ON pi3.t = types.t"
  }) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tc = events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy("from_type").agg(sum("n").cast("long").as("n_from"))
      val pm = tc.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"),
          (col("n").cast("double") / col("n_from")).as("p"))
        .localCheckpoint() // three iterations read the same matrix
      val types = events(s, d).select(col("event_type").as("t")).distinct()
        .localCheckpoint(eager = false)
      val k = types.agg(count(lit(1)).as("k"))
      var pi = types.crossJoin(broadcast(k))
        .select(col("t"), (lit(1.0) / col("k")).as("pi"))
      for (_ <- 1 to 3)
        pi = pm.join(broadcast(pi), col("t") === col("from_type"))
          .groupBy(col("to_type").as("tn"))
          .agg(Exact.portableSum(col("pi") * col("p")).as("pi"))
          .withColumnRenamed("tn", "t")
      types.join(pi, Seq("t"), "left")
        .select(col("t").as("event_type"),
          Exact.pinScoreInt(coalesce(col("pi"), lit(0.0))).as("pi"))
  }

  /** Day-of-week seasonality profile + uniformity chi² (r11) — the
    * weekly-rhythm gauge beside q_event_anomaly's daily z-scores: event
    * counts per weekday (integer epoch-day arithmetic, (d+4) mod 7 with
    * Monday = 0 — 1970-01-01 was a Thursday; no timezone/locale
    * dependence), each day's share, and Pearson's χ² against the
    * uniform-week null published on a TOTAL row (the q_agg_kmv_merge
    * summary-row pattern). A χ² near zero on human-driven events is
    * itself an anomaly — it usually means the table is machine
    * replay/synthetic, which is worth knowing about training data.
    *
    * Scale: one map-only day projection + a 7-key hash aggregate;
    * χ² is a 7-addend portable-grid fold of integer-derived terms. */
  val eventDowProfile = Q("q_event_dow_profile",
    "day-of-week activity profile + uniformity chi-square")(
    "WITH e AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS dow FROM events), " +
      "g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g), " +
      "c AS (SELECT " + Exact.Sql.portableSum(
        "((CAST(n AS DOUBLE) - CAST(t.total AS DOUBLE) / 7.0) * " +
          "(CAST(n AS DOUBLE) - CAST(t.total AS DOUBLE) / 7.0)) / " +
          "(CAST(t.total AS DOUBLE) / 7.0)") + " AS chi2 " +
      "FROM g CROSS JOIN t) " +
      "SELECT g.dow, g.n, " +
      Exact.Sql.pinScoreInt("CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE)") +
      " AS share, CAST(NULL AS BIGINT) AS chi2 FROM g CROSS JOIN t " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS dow, t.total AS n, " +
      Exact.Sql.pinScoreInt("1.0") + " AS share, " +
      Exact.Sql.pinScoreInt("c.chi2") + " AS chi2 FROM t CROSS JOIN c") {
    (s, d) =>
      val g = events(s, d)
        .select(expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
        .groupBy("dow").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false) // shares, the total, and the chi2 fold
      val t = g.agg(sum("n").cast("long").as("total"))
      val exp7 = col("total").cast("double") / 7.0
      val c = g.crossJoin(broadcast(t))
        .agg(Exact.portableSum(
          (col("n").cast("double") - exp7) * (col("n").cast("double") - exp7) / exp7)
          .as("chi2"))
      val perDow = g.crossJoin(broadcast(t))
        .select(col("dow"), col("n"),
          Exact.pinScoreInt(col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          lit(null).cast("long").as("chi2"))
      val totalRow = t.crossJoin(c)
        .select(lit(-1L).as("dow"), col("total").as("n"),
          Exact.pinScoreInt(lit(1.0)).as("share"),
          Exact.pinScoreInt(col("chi2")).as("chi2"))
      perDow.unionByName(totalRow)
  }

  /** Peak concurrent sessions per day (r13) — the capacity-planning
    * number over the REGISTERED sessionizer: for each calendar day, how
    * many sessions were simultaneously open at the worst instant, plus
    * how many sessions touched the day at all. The classic interval
    * sweep-line, made distributed: each session [start, end] (closed, in
    * µs) EXPLODES one boundary pair per day it touches, clipped to that
    * day — a multi-day session contributes a +1 at the day boundary it
    * enters through, so carry-in needs no cross-partition state. Ends
    * convert to −1 at end+1µs (closed→half-open), so a session ending
    * and another starting in the same µs DO count as concurrent.
    *
    * Determinism: the running sum is windowed by (ts, delta) — within a
    * tie group all deltas are equal-signed after the (+1 before −1 at
    * identical ts is impossible: −1s sit at end+1) ordering, so the
    * day's MAX is order-independent even where individual prefix values
    * are not. Everything is integer.
    *
    * Scale: sessions-linear explode (bounded by days-per-session), one
    * day-keyed shuffle, a per-day window over that day's boundaries —
    * the partition key is the day, so no global sort ever exists. */
  val eventConcurrency = Q("q_event_concurrency",
    "peak concurrent sessions per day (sweep line over the sessionizer)")({
    val dayUs = 86400000000L
    "WITH sess AS (SELECT * FROM (" + sessionize.oracle.get + ")), " +
      s"sd AS (SELECT user_id, session_id, start_us, end_us, " +
      s"unnest(range(start_us // $dayUs, end_us // $dayUs + 1)) AS day FROM sess), " +
      s"b AS (SELECT day, greatest(start_us, day * $dayUs) AS ts, 1 AS delta FROM sd " +
      "UNION ALL " +
      s"SELECT day, least(end_us, (day + 1) * $dayUs - 1) + 1 AS ts, -1 AS delta FROM sd), " +
      "r AS (SELECT day, ts, delta, CAST(sum(delta) OVER " +
      "(PARTITION BY day ORDER BY ts, delta ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run " +
      "FROM b) " +
      "SELECT day AS epoch_day, " +
      "CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_active, " +
      "CAST(max(run) AS BIGINT) AS max_concurrent FROM r GROUP BY 1"
  }) {
    (s, d) =>
      val dayUs = 86400000000L
      val sd = sessionize.fn(s, d)
        .select(col("start_us"), col("end_us"),
          explode(sequence(expr(s"start_us div $dayUs"), expr(s"end_us div $dayUs")))
            .as("day"))
      val b = sd.select(col("day"),
          greatest(col("start_us"), col("day") * dayUs).as("ts"), lit(1).as("delta"))
        .unionAll(sd.select(col("day"),
          (least(col("end_us"), (col("day") + 1) * dayUs - 1) + 1).as("ts"),
          lit(-1).as("delta")))
      val w = Window.partitionBy("day").orderBy(col("ts"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.withColumn("run", sum("delta").over(w).cast("long"))
        .groupBy(col("day").as("epoch_day"))
        .agg(sum(when(col("delta") === 1, 1).otherwise(0)).cast("long").as("n_active"),
          max("run").cast("long").as("max_concurrent"))
  }

  /** Activity-concentration (Pareto) deciles over users (r13) — rank
    * users by event count, cut into ten VALUE-COHORT deciles (every user
    * with the same activity count lands in the same decile — ties are
    * never split, so the cut is deterministic and engine-identical), and
    * publish each decile's user count, event mass, share, and cumulative
    * share. The "do 10% of users generate 80% of events?" report — the
    * behavioral twin of q_agg_gini_source's token-mass gauge, and the
    * number that decides whether per-user sampling caps are needed
    * before events feed training data (a corpus owned by its top decile
    * memorizes those users' behavior).
    *
    * Scale: per-user counts (one hash aggregate), then everything runs
    * on the DISTINCT-count histogram — the strictly-greater cumulative
    * rides ops.Quantiles' two-phase bit-prefix (no unpartitioned window
    * over users), decile keys are integer floor-division, and the final
    * cumulative share is a window over ≤ 10 decile rows. */
  val eventPowerUsers = Q("q_event_power_users",
    "activity-concentration deciles: user/event shares by activity rank")(
    "WITH uc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events " +
      "WHERE user_id IS NOT NULL GROUP BY 1), " +
      "h AS (SELECT n, CAST(count(*) AS BIGINT) AS nu, " +
      "CAST(n * count(*) AS BIGINT) AS ne FROM uc GROUP BY 1), " +
      "c AS (SELECT n, nu, ne, CAST(COALESCE(sum(nu) OVER " +
      "(ORDER BY n DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "AS BIGINT) AS ugt FROM h), " +
      "t AS (SELECT CAST(sum(nu) AS BIGINT) AS tu, CAST(sum(ne) AS BIGINT) AS te FROM h), " +
      "dd AS (SELECT least(9, (c.ugt * 10) // t.tu) AS decile, " +
      "CAST(sum(c.nu) AS BIGINT) AS n_users, CAST(sum(c.ne) AS BIGINT) AS n_events " +
      "FROM c CROSS JOIN t GROUP BY 1) " +
      "SELECT dd.decile, dd.n_users, dd.n_events, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(dd.n_events AS DOUBLE) / CAST(t.te AS DOUBLE)") + " AS event_share, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(sum(dd.n_events) OVER (ORDER BY dd.decile ROWS UNBOUNDED PRECEDING) " +
          "AS DOUBLE) / CAST(t.te AS DOUBLE)") + " AS cum_event_share " +
      "FROM dd CROSS JOIN t") {
    (s, d) =>
      import graft.util.Exact
      val uc = events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val h = uc.groupBy("n").agg(count(lit(1)).as("nu"),
          (col("n") * count(lit(1))).cast("long").as("ne"))
        .localCheckpoint(eager = false) // the prefix, the totals, and the cut
      // strictly-greater mass = total − (exclusive-below + self)
      val c = graft.ops.Quantiles.exclusivePrefixSum(h, "n", "nu", "u_lt")
      val t = h.agg(sum("nu").cast("long").as("tu"), sum("ne").cast("long").as("te"))
      val dd = c.crossJoin(broadcast(t))
        .withColumn("ugt", col("tu") - col("u_lt").cast("long") - col("nu"))
        .groupBy(least(lit(9L), expr("(ugt * 10) div tu")).cast("long").as("decile"))
        .agg(sum("nu").cast("long").as("n_users"), sum("ne").cast("long").as("n_events"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dd.crossJoin(broadcast(t))
        .select(col("decile"), col("n_users"), col("n_events"),
          Exact.pinScoreInt(col("n_events").cast("double") / col("te").cast("double"))
            .as("event_share"),
          Exact.pinScoreInt(sum("n_events").over(wCum).cast("double") /
            col("te").cast("double")).as("cum_event_share"))
  }

  /** Point-in-time read of the SCD2 dimension (r13) — the contract that
    * makes q_scd2's history worth storing: reconstruct the dimension AS
    * OF an instant by slicing validity intervals
    * (valid_from ≤ t < valid_to, open row included). The slice runs over
    * THE SAME code object as q_scd2 (scd2.fn — not a copy), so the PIT
    * read can never drift from the build; the spec asserts the
    * equivalent direct definition (each user's latest event at or before
    * t). Users whose history starts after t are absent — the dimension
    * didn't exist yet.
    *
    * Scale: the SCD2 build's one change-log-sized shuffle plus a
    * map-only interval filter — and on a lake the filter becomes a
    * partition prune when the dimension is stored partitioned by
    * valid_from month. */
  val scd2Pit = Q("q_scd2_pit",
    "point-in-time dimension snapshot from the SCD2 validity intervals")(
    "WITH scd AS (" + scd2.oracle.get + "), " +
      "t0 AS (SELECT epoch_us(TIMESTAMP '2024-01-15') AS t) " +
      "SELECT s.user_id, s.event_type AS state_at, s.version, s.valid_from_us " +
      "FROM scd s CROSS JOIN t0 " +
      "WHERE s.valid_from_us <= t0.t AND (s.valid_to_us IS NULL OR s.valid_to_us > t0.t)") {
    (s, d) =>
      val t = unix_micros(lit("2024-01-15 00:00:00").cast("timestamp"))
      scd2.fn(s, d)
        .filter(col("valid_from_us") <= t &&
          (col("valid_to_us").isNull || col("valid_to_us") > t))
        .select(col("user_id"), col("event_type").as("state_at"),
          col("version"), col("valid_from_us"))
  }

  /** Two-arm A/B conversion read-out (r13) — the experimentation layer
    * the funnel/CI family feeds: users split into arms by user_id parity
    * (stand-in for the assignment column a real experiment logs),
    * conversion = any purchase event. Publishes per-arm counts, pinned
    * rates, the relative lift, and the pooled two-proportion z statistic
    * — all fixed-order IEEE over four exact integers, so every cell is a
    * portable grid value (the q_event_conversion_ci discipline applied
    * to BETWEEN-arm inference). One user-keyed aggregate → one 2-row
    * fold → a single-row broadcastable result. */
  val eventAbLift = Q("q_event_ab_lift",
    "two-arm A/B conversion lift + pooled z from user-parity arms")(
    "WITH u AS (SELECT user_id % 2 AS arm, " +
      "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv " +
      "FROM events WHERE user_id IS NOT NULL GROUP BY user_id), " +
      "a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users, " +
      "CAST(sum(conv) AS BIGINT) AS n_conv FROM u GROUP BY 1), " +
      "p AS (SELECT " +
      "max(CASE WHEN arm = 0 THEN n_users END) AS n0, " +
      "max(CASE WHEN arm = 0 THEN n_conv END) AS c0, " +
      "max(CASE WHEN arm = 1 THEN n_users END) AS n1, " +
      "max(CASE WHEN arm = 1 THEN n_conv END) AS c1 FROM a) " +
      "SELECT n0, c0, n1, c1, " +
      graft.util.Exact.Sql.pinScoreInt("CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)") +
      " AS rate0, " +
      graft.util.Exact.Sql.pinScoreInt("CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)") +
      " AS rate1, " +
      "CASE WHEN c0 > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(c1 AS DOUBLE) * CAST(n0 AS DOUBLE)) / " +
          "(CAST(n1 AS DOUBLE) * CAST(c0 AS DOUBLE))") + " END AS lift, " +
      "CASE WHEN (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1) THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / " +
          "sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) * " +
          "(1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) * " +
          "(1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))") +
      " END AS z FROM p") {
    (s, d) =>
      import graft.util.Exact
      // conv per user first, then per arm — two aggregates, like the CTE
      val conv = events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
        .groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum("conv").cast("long").as("n_conv"))
      val p = conv.agg(
        max(when(col("arm") === 0, col("n_users"))).as("n0"),
        max(when(col("arm") === 0, col("n_conv"))).as("c0"),
        max(when(col("arm") === 1, col("n_users"))).as("n1"),
        max(when(col("arm") === 1, col("n_conv"))).as("c1"))
      val (n0, c0, n1, c1) = (col("n0").cast("double"), col("c0").cast("double"),
        col("n1").cast("double"), col("c1").cast("double"))
      val pb = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1")).cast("double")
      p.select(col("n0"), col("c0"), col("n1"), col("c1"),
        Exact.pinScoreInt(c0 / n0).as("rate0"),
        Exact.pinScoreInt(c1 / n1).as("rate1"),
        when(col("c0") > 0,
          Exact.pinScoreInt((c1 * n0) / (n1 * c0))).as("lift"),
        when(col("c0") + col("c1") > 0 && col("c0") + col("c1") < col("n0") + col("n1"),
          Exact.pinScoreInt((c1 / n1 - c0 / n0) /
            sqrt(pb * (lit(1.0) - pb) * (lit(1.0) / n0 + lit(1.0) / n1)))).as("z"))
  }

  /** Daily new-vs-returning split (r13) — growth accounting over the
    * same distinct (user, day) pair set as q_event_dau_wau: a user's
    * FIRST-ever active day counts as new, every later active day as
    * returning; pinned share_new per day. A product whose DAU is flat
    * but share_new is high is churning through its user base — the
    * decomposition DAU alone hides. Two hash aggregates (user-day
    * distinct, per-user min) + one day-keyed fold; the per-user first
    * day is a corpus-bounded broadcast-able dimension. */
  val eventNewReturning = Q("q_event_new_returning",
    "daily DAU split into first-ever-day (new) vs returning users")(
    "WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dnum " +
      "FROM events WHERE user_id IS NOT NULL), " +
      "f AS (SELECT user_id, min(dnum) AS first_day FROM e GROUP BY 1) " +
      "SELECT e.dnum AS day_num, CAST(count(*) AS BIGINT) AS dau, " +
      "CAST(sum(CASE WHEN e.dnum = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
      "CAST(count(*) - sum(CASE WHEN e.dnum = f.first_day THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_returning, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(sum(CASE WHEN e.dnum = f.first_day THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(count(*) AS DOUBLE)") + " AS share_new " +
      "FROM e JOIN f ON f.user_id = e.user_id GROUP BY 1") {
    (s, d) =>
      import graft.util.Exact
      val e = events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dnum"))
        .distinct()
        .localCheckpoint(eager = false) // the first-day dimension AND the fold
      val f = e.groupBy("user_id").agg(min("dnum").as("first_day"))
      val isNew = when(col("dnum") === col("first_day"), 1).otherwise(0)
      e.join(f, "user_id")
        .groupBy(col("dnum").as("day_num"))
        .agg(count(lit(1)).as("dau"),
          sum(isNew).cast("long").as("n_new"),
          (count(lit(1)) - sum(isNew)).cast("long").as("n_returning"),
          Exact.pinScoreInt(
            sum(isNew).cast("double") / count(lit(1)).cast("double")).as("share_new"))
  }

  /** Week-over-week churn (r12) — the consecutive-period complement of
    * q_event_retention's since-first-seen cohort triangle: for each
    * epoch-week, how many active users are still active the NEXT week
    * (retained) vs gone (churned), plus the pinned churn rate. Weeks are
    * integer epoch-week indices (µs // 86400e6 // 7 — the same integer
    * day arithmetic as q_event_dau_wau), so the +1 join key needs no
    * calendar math; at a longer-horizon deployment the identical layout
    * runs at month granularity by swapping the period index. Layout: one
    * DISTINCT (week, user) reduction — the same idempotent pair-set
    * algebra as q_event_dau_wau — then a self equi-join on (user,
    * week+1) and two tiny week-keyed aggregates. The self-join is
    * user-keyed and shuffle-partitioned, never broadcast: at 100 TB the
    * pair set is millions×periods of rows. The final week (no next-week
    * data yet) is excluded rather than published as 100 % churn. */
  val eventChurn = Q("q_event_churn",
    "week-over-week active/retained/churned counts + pinned churn rate")(
    "WITH mu AS (SELECT DISTINCT epoch_us(ts) // 86400000000 // 7 AS wnum, " +
      "user_id FROM events), " +
      "act AS (SELECT wnum, count(*) AS n_active FROM mu GROUP BY 1), " +
      "ret AS (SELECT a.wnum, count(*) AS n_retained FROM mu a " +
      "JOIN mu b ON b.user_id = a.user_id AND b.wnum = a.wnum + 1 GROUP BY 1), " +
      "mx AS (SELECT max(wnum) AS maxw FROM mu) " +
      "SELECT a.wnum AS week_num, CAST(a.n_active AS BIGINT) AS n_active, " +
      "CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_retained, " +
      "CAST(a.n_active - coalesce(r.n_retained, 0) AS BIGINT) AS n_churned, " +
      Exact.Sql.pinScoreInt(
        "CAST(a.n_active - coalesce(r.n_retained, 0) AS DOUBLE) / CAST(a.n_active AS DOUBLE)") +
      " AS churn_rate FROM act a LEFT JOIN ret r ON r.wnum = a.wnum " +
      "CROSS JOIN mx WHERE a.wnum < mx.maxw") {
    (s, d) =>
      churnFromDayPairs(events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dnum"))
        .distinct())
  }

  /** The week-over-week churn rollup over DISTINCT (user_id, dnum) pairs
    * — the SAME idempotent pair-set state algebra as
    * [[dauWauFromPairs]], and the shared code object between the batch
    * q_event_churn and the streaming twin's read side
    * (Streams.churnRollup), so the two can never drift. Weeks derive as
    * dnum div 7 (floor-division composition: µs div 86400e6 div 7). */
  private[graft] def churnFromDayPairs(ud: DataFrame): DataFrame = {
    val mu = ud.select(expr("dnum div 7").as("wnum"), col("user_id"))
      .distinct()
      .localCheckpoint(eager = false) // feeds actives, the shifted join AND the max
    val act = mu.groupBy("wnum").agg(count(lit(1)).as("n_active"))
    val nxt = mu.select((col("wnum") - 1).as("wnum"), col("user_id"))
    val ret = mu.join(nxt, Seq("wnum", "user_id"))
      .groupBy("wnum").agg(count(lit(1)).as("n_retained"))
    val mx = mu.agg(max("wnum").as("maxw"))
    act.join(ret, Seq("wnum"), "left")
      .crossJoin(broadcast(mx))
      .filter(col("wnum") < col("maxw"))
      .select(col("wnum").as("week_num"),
        col("n_active").cast("long").as("n_active"),
        coalesce(col("n_retained"), lit(0L)).cast("long").as("n_retained"),
        (col("n_active") - coalesce(col("n_retained"), lit(0L))).cast("long")
          .as("n_churned"),
        Exact.pinScoreInt(
          (col("n_active") - coalesce(col("n_retained"), lit(0L))).cast("double") /
            col("n_active").cast("double")).as("churn_rate"))
  }

  /** CUPED variance-reduced A/B read-out (r12) — the experimentation
    * upgrade over q_event_ab_lift's raw rates: per user, x = pre-period
    * activity (events in the first half of the observation window, the
    * covariate) and y = post-period activity (the metric); CUPED adjusts
    * y by θ·(x − x̄) with θ = cov(x,y)/var(x) POOLED across arms, which
    * removes the between-user variance x explains (reduction = pooled
    * ρ²(x,y)) without biasing the arm contrast — the standard trick that
    * makes small lifts resolvable. Exactness: per-user counts are
    * integers, the five pooled moments accumulate in DECIMAL(38,0)/
    * HUGEINT per arm and combine exactly before ONE double cast each, θ
    * and the adjusted means evaluate in one written IEEE order, pinned;
    * NULL adjustment when var(x) = 0 (no covariate signal). Layout: one
    * per-user aggregate (the ab_lift shape) + arm-keyed folds; the
    * window split point derives from the data's min/max day (broadcast
    * scalars). */
  val eventAbCuped = Q("q_event_ab_cuped",
    "CUPED-adjusted per-arm activity means + pooled theta and variance reduction")(
    "WITH b AS (SELECT min(epoch_us(ts) // 86400000000) AS mind, " +
      "max(epoch_us(ts) // 86400000000) AS maxd FROM events), " +
      "u AS (SELECT user_id % 2 AS arm, " +
      "CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 < (b.mind + b.maxd + 1) // 2 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS x, " +
      "CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 >= (b.mind + b.maxd + 1) // 2 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS y " +
      "FROM events CROSS JOIN b WHERE user_id IS NOT NULL GROUP BY user_id, arm), " +
      "a AS (SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
      "sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy, " +
      "sum(CAST(y AS HUGEINT) * y) AS syy FROM u GROUP BY 1), " +
      "p AS (SELECT CAST(sum(n) AS DOUBLE) AS n, CAST(sum(sx) AS DOUBLE) AS sx, " +
      "CAST(sum(sy) AS DOUBLE) AS sy, CAST(sum(sxx) AS DOUBLE) AS sxx, " +
      "CAST(sum(sxy) AS DOUBLE) AS sxy, CAST(sum(syy) AS DOUBLE) AS syy FROM a), " +
      "t AS (SELECT n, sx, sy, sxx, sxy, syy, " +
      "n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy, " +
      "n * sxy - sx * sy AS cxy FROM p) " +
      "SELECT a.arm, CAST(a.n AS BIGINT) AS n_users, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE)") + " AS mean_post, " +
      "CASE WHEN t.vx > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE) - (t.cxy / t.vx) * " +
          "(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) - t.sx / t.n)") +
      " END AS mean_adj, " +
      "CASE WHEN t.vx > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt("t.cxy / t.vx") + " END AS theta, " +
      "CASE WHEN t.vx > 0 AND t.vy > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt("(t.cxy * t.cxy) / (t.vx * t.vy)") +
      " END AS var_reduction FROM a CROSS JOIN t") {
    (s, d) =>
      val dnum = expr("unix_micros(ts) div 86400000000")
      val b = events(s, d).agg(min(dnum).as("mind"), max(dnum).as("maxd"))
      val mid = expr("(mind + maxd + 1) div 2")
      val u = events(s, d).filter(col("user_id").isNotNull)
        .crossJoin(broadcast(b))
        .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
        .agg(sum(when(dnum < mid, 1).otherwise(0)).cast("long").as("x"),
          sum(when(dnum >= mid, 1).otherwise(0)).cast("long").as("y"))
      val xD = col("x").cast("decimal(38,0)"); val yD = col("y").cast("decimal(38,0)")
      val a = u.groupBy("arm").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(xD * col("x")).as("sxx"), sum(xD * col("y")).as("sxy"),
        sum(yD * col("y")).as("syy"))
        .localCheckpoint(eager = false) // the pooled fold AND the per-arm rows
      val p = a.agg(sum("n").cast("double").as("pn"), sum("sx").cast("double").as("psx"),
        sum("sy").cast("double").as("psy"), sum("sxx").cast("double").as("psxx"),
        sum("sxy").cast("double").as("psxy"), sum("syy").cast("double").as("psyy"))
      val vx = col("pn") * col("psxx") - col("psx") * col("psx")
      val vy = col("pn") * col("psyy") - col("psy") * col("psy")
      val cxy = col("pn") * col("psxy") - col("psx") * col("psy")
      val meanPost = col("sy").cast("double") / col("n").cast("double")
      val meanAdj = meanPost - (cxy / vx) *
        (col("sx").cast("double") / col("n").cast("double") - col("psx") / col("pn"))
      a.crossJoin(broadcast(p))
        .select(col("arm"), col("n").cast("long").as("n_users"),
          Exact.pinScoreInt(meanPost).as("mean_post"),
          when(vx > 0, Exact.pinScoreInt(meanAdj)).as("mean_adj"),
          when(vx > 0, Exact.pinScoreInt(cxy / vx)).as("theta"),
          when(vx > 0 && vy > 0,
            Exact.pinScoreInt((cxy * cxy) / (vx * vy))).as("var_reduction"))
  }

  /** Per-day behavioral-mix entropy (r12) — Shannon entropy of the
    * event-TYPE distribution each day, the one-number drift gauge read
    * beside q_event_transition's matrix: a collapsing entropy says user
    * behavior is concentrating (a feature eating the product, or a bot
    * flood); the identity H = ln n − (Σ c·ln c)/n keeps every log on a
    * COUNT (the q_text_entropy recipe — portable ln over the per-day
    * type cells, grid-pinned publish). Two tiny pln projections over
    * day×type cells; one hash aggregate over the scan. */
  val eventTypeEntropy = Q("q_event_type_entropy",
    "per-day Shannon entropy of the event-type mix (portable ln, pinned)")(
    "WITH c AS (SELECT date_trunc('day', ts) AS day, event_type, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
      "cx AS (SELECT day, c, CAST(c AS DOUBLE) AS _lnx FROM c), " +
      graft.util.Portable.plnSqlCtes("cx", "lc") + ", " +
      "s AS (SELECT day, " +
      Exact.Sql.portableSum("CAST(c AS DOUBLE) * _pln") + " AS s, " +
      "CAST(sum(c) AS BIGINT) AS n FROM lc GROUP BY 1), " +
      "sx AS (SELECT day, n, s, CAST(n AS DOUBLE) AS _lnx FROM s), " +
      graft.util.Portable.plnSqlCtes("sx", "lnn") + " " +
      "SELECT day, n AS n_events, " +
      Exact.Sql.pinScoreInt("_pln - (s / CAST(n AS DOUBLE))") +
      " AS type_entropy FROM lnn") {
    (s, d) =>
      val c = events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val lc = graft.util.Portable.pln(c, col("c").cast("double"), "lc")
      val sFrame = lc.groupBy("day")
        .agg(Exact.portableSum(col("c").cast("double") * col("lc")).as("s"),
          sum("c").cast("long").as("n"))
      graft.util.Portable.pln(sFrame, col("n").cast("double"), "lnn")
        .select(col("day"), col("n").as("n_events"),
          Exact.pinScoreInt(col("lnn") - (col("s") / col("n").cast("double")))
            .as("type_entropy"))
  }

  /** Gini coefficient of per-user activity (r12) — the inequality
    * one-number beside q_event_power_users' decile table. UNLIKE
    * q_agg_gini_source (rank window over ~20 sources), the user universe
    * is corpus-scale, so the rank formula is re-derived from the
    * activity-VALUE histogram: users tying at activity x occupy a
    * contiguous rank run, and Σ i·xᵢ over the run collapses to
    * x·(m·below + m(m+1)/2) — exact integers off a distinct-value
    * prefix, no per-user sort at any scale (the q_agg_trimmed_mean
    * layout applied to the Gini rank sum). HUGEINT/DECIMAL(38,0)
    * accumulation, two final pinned divisions. */
  val eventGiniUser = Q("q_event_gini_user",
    "Gini coefficient of per-user event counts (histogram rank-sum, pinned)")(
    "WITH uc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events " +
      "WHERE user_id IS NOT NULL GROUP BY 1), " +
      "h AS (SELECT x, CAST(count(*) AS BIGINT) AS m FROM uc GROUP BY 1), " +
      "p AS (SELECT x, m, CAST(coalesce(sum(m) OVER (ORDER BY x " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below FROM h), " +
      "s AS (SELECT CAST(sum(m) AS BIGINT) AS k, sum(CAST(x AS HUGEINT) * m) AS sx, " +
      "sum(CAST(x AS HUGEINT) * (CAST(m AS HUGEINT) * below + (m * (m + 1)) // 2)) " +
      "AS six FROM p) " +
      "SELECT k AS n_users, CAST(sx AS BIGINT) AS total_events, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(2 * six AS DOUBLE) / CAST(k * sx AS DOUBLE)) - " +
          "(CAST(k + 1 AS DOUBLE) / CAST(k AS DOUBLE))") + " AS gini FROM s") {
    (s, d) =>
      val uc = events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("x"))
      val h = uc.groupBy("x").agg(count(lit(1)).as("m"))
      val wPre = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
      val p = h.withColumn("below", coalesce(sum("m").over(wPre), lit(0L)))
      val xD = col("x").cast("decimal(38,0)"); val mD = col("m").cast("decimal(38,0)")
      val tri = expr("(m * (m + 1)) div 2").cast("decimal(38,0)")
      val st = p.agg(sum("m").cast("long").as("k"),
        sum(xD * col("m")).as("sx"),
        sum(xD * (mD * col("below") + tri)).as("six"))
      st.select(col("k").as("n_users"), col("sx").cast("long").as("total_events"),
        graft.util.Exact.pinScoreInt(
          (lit(2) * col("six")).cast("double") / (col("k") * col("sx")).cast("double") -
            (col("k") + 1).cast("double") / col("k").cast("double")).as("gini"))
  }

  /** Entropy RATE of the event-type Markov chain (r12) — the one-number
    * "how predictable is the next event given the current one":
    * H = −Σᵢ πᵢ Σⱼ Pᵢⱼ ln Pᵢⱼ over q_event_transition's row-normalized
    * matrix and q_event_markov_stationary's 3-iteration π (both recipes
    * reproduced cell for cell so the three chain gauges stay one
    * consistent family). Compare against q_event_type_entropy's marginal
    * H: rate ≪ marginal ⇒ strong sequential structure worth a
    * sequence-model; rate ≈ marginal ⇒ events are i.i.d.-ish. All
    * transcendental work on the |types|² cell frame (pln), folds on the
    * portable grid, one pinned publish. */
  val eventMarkovEntropyRate = Q("q_event_markov_entropy_rate",
    "entropy rate of the event-type chain (pi-weighted row entropies, pinned)")({
    def step(prev: String, out: String): String =
      s"$out AS (SELECT m.to_type AS t, " +
        Exact.Sql.portableSum(s"$prev.pi * m.p") + " AS pi " +
        s"FROM pm m JOIN $prev ON $prev.t = m.from_type GROUP BY 1)"
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events), " +
      "p AS (SELECT event_type AS from_type, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type FROM e), " +
      "tc AS (SELECT from_type, to_type, count(*) AS n FROM p " +
      "WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
      "tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tc GROUP BY 1), " +
      "pm AS (SELECT tc.from_type, tc.to_type, CAST(tc.n AS DOUBLE) / tot.n_from AS p " +
      "FROM tc JOIN tot ON tot.from_type = tc.from_type), " +
      "types AS (SELECT DISTINCT event_type AS t FROM events), " +
      "nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types), " +
      "pi0 AS (SELECT t, 1.0 / (SELECT k FROM nt) AS pi FROM types), " +
      step("pi0", "pi1") + ", " + step("pi1", "pi2") + ", " + step("pi2", "pi3") + ", " +
      "pmx AS (SELECT from_type, p, p AS _lnx FROM pm), " +
      graft.util.Portable.plnSqlCtes("pmx", "pml") + ", " +
      "h AS (SELECT from_type, " + Exact.Sql.portableSum("p * _pln") + " AS hrow " +
      "FROM pml GROUP BY 1), " +
      "r AS (SELECT " + Exact.Sql.portableSum("pi3.pi * h.hrow") + " AS s, " +
      "CAST(count(*) AS BIGINT) AS k_active FROM h JOIN pi3 ON pi3.t = h.from_type) " +
      "SELECT (SELECT k FROM nt) AS n_types, k_active, " +
      Exact.Sql.pinScoreInt("-s") + " AS entropy_rate FROM r"
  }) {
    (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tc = events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy("from_type").agg(sum("n").cast("long").as("n_from"))
      val pm = tc.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"),
          (col("n").cast("double") / col("n_from")).as("p"))
        .localCheckpoint() // three iterations AND the entropy fold read it
      val types = events(s, d).select(col("event_type").as("t")).distinct()
        .localCheckpoint(eager = false)
      val k = types.agg(count(lit(1)).as("k"))
      var pi = types.crossJoin(broadcast(k))
        .select(col("t"), (lit(1.0) / col("k")).as("pi"))
      for (_ <- 1 to 3)
        pi = pm.join(broadcast(pi), col("t") === col("from_type"))
          .groupBy(col("to_type").as("tn"))
          .agg(Exact.portableSum(col("pi") * col("p")).as("pi"))
          .withColumnRenamed("tn", "t")
      val h = graft.util.Portable.pln(pm, col("p"), "lp")
        .groupBy("from_type")
        .agg(Exact.portableSum(col("p") * col("lp")).as("hrow"))
      val r = h.join(pi, col("t") === col("from_type"))
        .agg(Exact.portableSum(col("pi") * col("hrow")).as("s"),
          count(lit(1)).as("k_active"))
      r.crossJoin(broadcast(k))
        .select(col("k").as("n_types"), col("k_active"),
          Exact.pinScoreInt(-col("s")).as("entropy_rate"))
  }

  /** Daily bounce rate (r12) — the engagement-quality read on TOP of the
    * registered sessionizer (composed, not re-derived: the session frame
    * is q_sessionize's own output, so the gap convention can never
    * fork): per session-start day, sessions / single-event (bounce)
    * sessions / pinned bounce share. Integer counts + one division. */
  val eventBounceRate = Q("q_event_bounce_rate",
    "per-day session count, bounce count, pinned bounce rate (over q_sessionize)")(
    "SELECT start_us // 86400000000 AS day_num, " +
      "CAST(count(*) AS BIGINT) AS n_sessions, " +
      "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce, " +
      Exact.Sql.pinScoreInt(
        "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(count(*) AS DOUBLE)") + " AS bounce_rate " +
      "FROM (" + sessionize.oracle.get + ") s GROUP BY 1") {
    (s, d) =>
      sessionize.fn(s, d)
        .groupBy(expr("start_us div 86400000000").as("day_num"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1).otherwise(0)).cast("long").as("n_bounce"))
        .select(col("day_num"), col("n_sessions"), col("n_bounce"),
          Exact.pinScoreInt(
            col("n_bounce").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"))
  }

  /** Cohen's d of per-user activity between the two A/B arms (r12) — the
    * EFFECT-SIZE companion to q_event_ab_lift's significance z (a tiny d
    * with a huge z just means a huge sample): pooled-SD standardized
    * mean difference over per-user event counts, from exact integer
    * moments per arm (counts, Σx, Σx² in DECIMAL/HUGEINT), one
    * fixed-order expression, pinned. NULL when the pooled variance is 0.
    */
  val eventCohensD = Q("q_event_cohens_d",
    "Cohen's d of per-user event counts between arms (pooled SD, pinned)")(
    "WITH u AS (SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS x FROM events " +
      "WHERE user_id IS NOT NULL GROUP BY user_id), " +
      "a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, " +
      "sum(CAST(x AS HUGEINT) * x) AS sxx FROM u GROUP BY 1), " +
      "p AS (SELECT " +
      "max(CASE WHEN arm = 0 THEN n END) AS n0, " +
      "max(CASE WHEN arm = 0 THEN sx END) AS s0, " +
      "max(CASE WHEN arm = 0 THEN CAST(sxx AS DOUBLE) END) AS q0, " +
      "max(CASE WHEN arm = 1 THEN n END) AS n1, " +
      "max(CASE WHEN arm = 1 THEN sx END) AS s1, " +
      "max(CASE WHEN arm = 1 THEN CAST(sxx AS DOUBLE) END) AS q1 FROM a), " +
      "v AS (SELECT n0, n1, " +
      "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0, " +
      "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1, " +
      "((q0 - (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) / CAST(n0 AS DOUBLE)) + " +
      "(q1 - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n1 AS DOUBLE))) / " +
      "CAST(n0 + n1 - 2 AS DOUBLE) AS pooled_var FROM p) " +
      "SELECT n0, n1, " + Exact.Sql.pinScoreInt("m0") + " AS mean0, " +
      Exact.Sql.pinScoreInt("m1") + " AS mean1, " +
      "CASE WHEN pooled_var > 0 THEN " +
      Exact.Sql.pinScoreInt("(m1 - m0) / sqrt(pooled_var)") +
      " END AS cohens_d FROM v") {
    (s, d) =>
      val u = events(s, d).filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("x"))
        .select((col("user_id") % 2).as("arm"), col("x"))
      val a = u.groupBy("arm").agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      val p = a.agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 0, col("sx"))).as("s0"),
        max(when(col("arm") === 0, col("sxx").cast("double"))).as("q0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 1, col("sx"))).as("s1"),
        max(when(col("arm") === 1, col("sxx").cast("double"))).as("q1"))
      val m0 = col("s0").cast("double") / col("n0").cast("double")
      val m1 = col("s1").cast("double") / col("n1").cast("double")
      val pooledVar = ((col("q0") -
        (col("s0").cast("double") * col("s0").cast("double")) / col("n0").cast("double")) +
        (col("q1") -
          (col("s1").cast("double") * col("s1").cast("double")) / col("n1").cast("double"))) /
        (col("n0") + col("n1") - 2).cast("double")
      p.select(col("n0").cast("long").as("n0"), col("n1").cast("long").as("n1"),
        Exact.pinScoreInt(m0).as("mean0"), Exact.pinScoreInt(m1).as("mean1"),
        when(pooledVar > 0,
          Exact.pinScoreInt((m1 - m0) / sqrt(pooledVar))).as("cohens_d"))
  }

  /** Kaplan–Meier survival of session duration (r12) — the censoring-aware
    * answer to "how long do sessions last?", which a plain duration
    * histogram gets WRONG near the end of the observation window: a
    * session whose last event falls within one gap (12 h) of the stream's
    * maximum timestamp may still be open, so treating it as ended biases
    * durations short. Such sessions are right-CENSORED: they count in the
    * at-risk denominator up to their observed length but never as a
    * death. Per distinct observed duration t (minutes): at-risk n(t)
    * (suffix sum over the duration histogram), deaths d(t), censored
    * count, and the KM log-survival ln S(t) = Σ_{t'≤t} ln(1 − d/n) —
    * each term a portable ln of one exact integer ratio, grid-floored to
    * a BIGINT cell so the running sum is order-free and engine-exact
    * (the windowed portableSum layout); S(t) = exp(cell/2³⁰). NULL once
    * n = d (survival exactly 0 — only possible at the last event time).
    *
    * Scale: everything after the sessionizer lives on the DURATION
    * domain (distinct minute values, bounded by the 12 h gap × stream
    * span, never corpus-sized); the global-order windows are over that
    * domain frame. Composes over q_sessionize's own output — the gap
    * convention cannot fork. */
  val eventSurvivalKm = Q("q_event_survival_km",
    "Kaplan-Meier session-duration survival (censored, log-surv grid cells)")(
    "WITH sz AS (" + sessionize.oracle.get + "), " +
      "mxe AS (SELECT max(end_us) AS mend FROM sz), " +
      s"dd AS (SELECT duration_us // 60000000 AS t, " +
      s"CASE WHEN sz.end_us + $GapUs > mxe.mend THEN 1 ELSE 0 END AS cens " +
      "FROM sz CROSS JOIN mxe), " +
      "h AS (SELECT t, CAST(sum(1 - cens) AS BIGINT) AS d_obs, " +
      "CAST(sum(cens) AS BIGINT) AS d_cens FROM dd GROUP BY 1), " +
      "r AS (SELECT *, CAST(sum(d_obs + d_cens) OVER (ORDER BY t DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM h), " +
      "ev AS (SELECT t, d_obs, d_cens, n_risk, " +
      "CASE WHEN n_risk > d_obs THEN CAST(n_risk - d_obs AS DOUBLE) / " +
      "CAST(n_risk AS DOUBLE) END AS _lnx, " +
      "CASE WHEN n_risk = d_obs THEN 1 ELSE 0 END AS zf FROM r WHERE d_obs > 0), " +
      graft.util.Portable.plnSqlCtes("ev", "pl") + ", " +
      "cells AS (SELECT t, d_obs, d_cens, n_risk, zf, " +
      Exact.Sql.pinScoreInt("_pln") + " AS cell FROM pl), " +
      "cum AS (SELECT t, d_obs, d_cens, n_risk, " +
      "CAST(sum(cell) OVER wa AS BIGINT) AS cum_cell, " +
      "CAST(sum(zf) OVER wa AS BIGINT) AS cum_zero FROM cells " +
      "WINDOW wa AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT t AS dur_min, n_risk, d_obs AS n_events, d_cens AS n_censored, " +
      "CASE WHEN cum_zero = 0 THEN cum_cell END AS log_surv_cell FROM cum") {
    (s, d) => survivalFromSessions(sessionize.fn(s, d))
  }

  /** The KM survival fold over a session frame (end_us, duration_us) —
    * shared code object between the batch q_event_survival_km and the
    * streaming read-side rollup (Streams.survivalRollup), so the censor
    * rule and the grid-cell log-survival convention cannot fork. */
  private[graft] def survivalFromSessions(sz: DataFrame,
      gapUs: Long = GapUs): DataFrame = {
      val mxe = sz.agg(max("end_us").as("mend"))
      val dd = sz.crossJoin(broadcast(mxe))
        .select(expr("duration_us div 60000000").as("t"),
          when(col("end_us") + gapUs > col("mend"), 1).otherwise(0).as("cens"))
      val h = dd.groupBy("t").agg(
        sum(lit(1) - col("cens")).cast("long").as("d_obs"),
        sum("cens").cast("long").as("d_cens"))
      // duration-domain frames: bounded distinct minute values, so the
      // unpartitioned windows never see corpus-sized input
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val r = h.withColumn("n_risk",
        sum(col("d_obs") + col("d_cens")).over(wDesc).cast("long"))
      val ev = r.filter(col("d_obs") > 0)
        .withColumn("zf", when(col("n_risk") === col("d_obs"), 1).otherwise(0))
      val pl = graft.util.Portable.pln(ev,
        when(col("n_risk") > col("d_obs"),
          (col("n_risk") - col("d_obs")).cast("double") / col("n_risk").cast("double")),
        "lp")
      val cells = pl.withColumn("cell", Exact.pinScoreInt(col("lp")))
      val wAsc = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cells
        .withColumn("cum_cell", sum("cell").over(wAsc).cast("long"))
        .withColumn("cum_zero", sum("zf").over(wAsc).cast("long"))
        .select(col("t").as("dur_min"), col("n_risk"),
          col("d_obs").as("n_events"), col("d_cens").as("n_censored"),
          when(col("cum_zero") === 0, col("cum_cell")).as("log_surv_cell"))
  }

  val all: Seq[Q] = Seq(sessionize, eventFunnel, eventRetention, eventAttribution,
    eventAnomaly, scd2, eventTransition, eventPath, eventRfm, eventCohortLtv,
    eventSeqNgram, eventInterarrival, aggModeUser, eventDauWau, eventMarkovStationary,
    eventDowProfile, eventFunnelTime, eventConversionCi, eventSessionHist,
    eventConcurrency, eventPowerUsers, scd2Pit, eventAbLift, eventNewReturning, eventChurn,
    eventAbCuped, eventTypeEntropy, eventGiniUser, eventMarkovEntropyRate,
    eventBounceRate, eventCohensD, eventSurvivalKm, eventNextPred, eventAbSrm,
    eventConvWindows, eventHourProfile)
}
