package graft.queries

import graft.Q
import graft.util.Exact
import graft.util.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 — the aggregation surface, including the reference's one
  * genuinely custom group-wise aggregation (canonical wrapper merge) as a
  * window rewrite, the Welch t-test from exact moments, and the HML
  * long-short factor.
  *
  * Scale notes: everything is hash aggregation with map-side partials or a
  * single window shuffle on the group key. The Welch test reduces each
  * population to 3 moments before any driver math — at 100 TB that is a
  * full-scan + tiny shuffle, never a collect of raw rows.
  */
object AggQueries {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** r15 measured reversal of the r14 MODULE-WIDE fact-scan fan-out.
    * Per-id A/B against the bare scan (3 reps each, this JVM)
    * split the module's 43 carriers cleanly in two:
    *   - WINNERS (fan-out kept, via [[lineitemWide]] below): the
    *     heavy-per-row decimal-moment aggregates — corr 0.85 vs 1.8 s,
    *     corr_matrix 1.2 vs 3.8, cov_matrix 1.2 vs 3.7, partial_corr
    *     1.2 vs 3.9, bootstrap_means 1.2 vs 4.0, brown_forsythe 1.9 vs
    *     2.4, iqr_outliers 2.2 vs 3.4, herfindahl 1.8 vs 2.8. Their
    *     map-side partials run 15 decimal sums per row: the widened
    *     stage's per-task overhead is repaid many times over.
    *   - LOSERS (reverted to the bare scan): everything whose first
    *     aggregate is a cheap cell-collapse (histograms, midranks,
    *     counts) — the widened scan costs ~30-50 ms CPU per added task
    *     across every downstream stage with nothing to amortize it
    *     (q_agg_histogram 0.24 vs 0.90 s, pivot_wide 0.26 vs 0.75,
    *     kendall 0.49 vs 1.15, mad 2.7 vs 3.7, quantile_sketch 1.15 vs
    *     2.3, spearman/mannwhitney/kruskal/median_test/bowley/
    *     hodges_lehmann all 1.4-2.8× slower fanned).
    * The guard itself is unchanged (fires only when the scan yields
    * fewer than half the slots — a provable no-op on a 100 TB
    * multi-row-group lake); what changed is WHERE it applies: at sites
    * whose per-row work is measured to repay it, never module-wide. */
  private def lineitem(s: SparkSession, d: String): DataFrame =
    graft.util.Tables.lineitem(s, d)
  private def lineitemWide(s: SparkSession, d: String): DataFrame =
    graft.util.FanOut(graft.util.Tables.lineitem(s, d),
      col("l_orderkey") * 8 + col("l_linenumber"))
  private def events(s: SparkSession, d: String): DataFrame =
    graft.util.Tables.events(s, d)
  private def orders(s: SparkSession, d: String): DataFrame =
    graft.util.Tables.orders(s, d)
  private def documents(s: SparkSession, d: String): DataFrame =
    graft.util.Tables.documents(s, d)

  /** Unique per-line ordinal — gives pandas' position-based `last`/`iloc`
    * semantics a deterministic, distributed meaning (SURVEY §2.4 caveat:
    * pandas `last` is order-dependent; we define order = (orderkey,
    * linenumber) and use max_by/min_by, which Spark evaluates without an
    * extra sort). l_linenumber < 8, so *8 keeps it collision-free. */
  private val ord: Column = col("l_orderkey") * 8 + col("l_linenumber")
  private val ordSql = "(l_orderkey * 8 + l_linenumber)"

  /** Multi-column dict-agg `{volume: sum, open/.../ticker: last}`
    * (coinbase_universe_pipeline.py:149-159). */
  val aggMultiRules = Q("q_agg_multi_rules",
    "per-group sum + deterministic first/last")(
    "SELECT l_partkey, date_trunc('month', l_shipdate) AS month, " +
      "sum(l_quantity) AS volume, " +
      s"max_by(l_extendedprice, $ordSql) AS last_price, " +
      s"max_by(l_returnflag, $ordSql) AS last_flag, " +
      s"min_by(l_extendedprice, $ordSql) AS first_price " +
      "FROM lineitem GROUP BY 1, 2") {
    (s, d) => lineitem(s, d)
      // pre-project the ordinal once: three aggregates order by it, and an
      // aggregate's ordering expression is otherwise re-evaluated per
      // aggregate per row
      .withColumn("__ord", ord)
      .groupBy(col("l_partkey"), date_trunc("month", col("l_shipdate")).as("month"))
      .agg(sum("l_quantity").as("volume"),
        max_by(col("l_extendedprice"), col("__ord")).as("last_price"),
        max_by(col("l_returnflag"), col("__ord")).as("last_flag"),
        min_by(col("l_extendedprice"), col("__ord")).as("first_price"))
  }

  /** The canonical wrapper-merge aggregation (historical_data_etl.py:59-87):
    * per (canonical_id, date) pick the native row (else highest-mcap row)
    * as base, overwrite volume with the group sum, backfill the base row's
    * nulls from any non-null group member. Window rewrite — one shuffle,
    * no UDAF, codegen-friendly. Backfill uses group max (deterministic;
    * the reference's "first non-null" is row-order dependent). */
  val aggCanonical = Q("q_agg_canonical",
    "canonical group merge via priority window")(
    "SELECT l_partkey, month, l_orderkey, l_linenumber, base_price, base_flag, vol_sum, " +
      "COALESCE(tax_nullable, tax_backfill) AS tax_filled FROM (" +
      "SELECT l_partkey, date_trunc('month', l_shipdate) AS month, l_orderkey, l_linenumber, " +
      "l_extendedprice AS base_price, l_returnflag AS base_flag, " +
      "nullif(l_tax, 0.0) AS tax_nullable, " +
      "row_number() OVER (PARTITION BY l_partkey, date_trunc('month', l_shipdate) " +
      "ORDER BY (CASE WHEN l_returnflag = 'N' THEN 0 ELSE 1 END), " +
      s"l_extendedprice DESC, $ordSql) AS rn, " +
      "sum(l_quantity) OVER (PARTITION BY l_partkey, date_trunc('month', l_shipdate)) AS vol_sum, " +
      "max(nullif(l_tax, 0.0)) OVER (PARTITION BY l_partkey, date_trunc('month', l_shipdate)) AS tax_backfill " +
      "FROM lineitem) t WHERE rn = 1") {
    (s, d) =>
      val li = lineitem(s, d)
        .withColumn("month", date_trunc("month", col("l_shipdate")))
        .withColumn("tax_nullable", expr("nullif(l_tax, 0.0)"))
      val priority = when(col("l_returnflag") === "N", 0).otherwise(1)
      val wOrd = Window.partitionBy("l_partkey", "month")
        .orderBy(priority.asc, col("l_extendedprice").desc, ord.asc)
      // whole-partition aggregates on the SAME ordered spec, and all three
      // window expressions in ONE select: Catalyst extracts them into a
      // single WindowExec (a withColumn chain would yield one per Project)
      val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      li.select(col("*"),
          row_number().over(wOrd).as("rn"),
          sum("l_quantity").over(wFull).as("vol_sum"),
          max("tax_nullable").over(wFull).as("tax_backfill"))
        .filter(col("rn") === 1)
        .select(col("l_partkey"), col("month"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("base_price"), col("l_returnflag").as("base_flag"),
          col("vol_sum"),
          coalesce(col("tax_nullable"), col("tax_backfill")).as("tax_filled"))
  }

  /** Frequency table (`value_counts()`,
    * coingecko_asset_attributes_pipeline.py:155). */
  val aggValueCounts = Q("q_agg_value_counts",
    "category frequency table")(
    "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand") {
    (s, d) => part(s, d).groupBy("p_brand").agg(count(lit(1)).as("n"))
  }

  /** Mean/stddev + annualized Sharpe with zero-std guard
    * (test_data_integrity.py:256-259). */
  val aggMeanStd = Q("q_agg_mean_std",
    "per-asset mean/std/Sharpe")(
    "SELECT l_partkey, mean_ret, std_ret, " +
      "(CASE WHEN std_ret > 0 THEN (mean_ret / std_ret) * sqrt(365.0) ELSE 0.0 END) AS sharpe " +
      "FROM (SELECT l_partkey, " +
      s"${Exact.Sql.avg("l_discount")} AS mean_ret, " +
      s"${Exact.Sql.stddevSamp("l_discount")} AS std_ret " +
      "FROM lineitem GROUP BY 1) t") {
    (s, d) => lineitem(s, d).groupBy("l_partkey")
      .agg(Exact.exactAvg(col("l_discount")).as("mean_ret"),
        Exact.exactStddevSamp(col("l_discount")).as("std_ret"))
      .withColumn("sharpe",
        when(col("std_ret") > 0, (col("mean_ret") / col("std_ret")) * sqrt(lit(365.0)))
          .otherwise(0.0))
  }

  /** Welch t-statistic (equal_var=False) between pre/post populations per
    * group (test_data_integrity.py:94,253), entirely from exact moments —
    * the p-value CDF lives driver-side in ops.Integrity. */
  val aggWelchTtest = Q("q_agg_welch_ttest",
    "Welch t-test from aggregated moments")({
    val pre  = "(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN value END)"
    val post = "(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value END)"
    "SELECT event_type, n1, n2, m1, m2, v1, v2, " +
      "((m1 - m2) / sqrt(se1 + se2)) AS t_stat, " +
      "(((se1 + se2) * (se1 + se2)) / " +
      "(((se1 * se1) / (n1 - 1.0)) + ((se2 * se2) / (n2 - 1.0)))) AS welch_df " +
      "FROM (SELECT event_type, n1, n2, m1, m2, v1, v2, " +
      "(v1 / CAST(n1 AS DOUBLE)) AS se1, (v2 / CAST(n2 AS DOUBLE)) AS se2 FROM (" +
      s"SELECT event_type, COUNT($pre) AS n1, COUNT($post) AS n2, " +
      s"${Exact.Sql.avg(pre)} AS m1, ${Exact.Sql.avg(post)} AS m2, " +
      s"${Exact.Sql.varSamp(pre)} AS v1, ${Exact.Sql.varSamp(post)} AS v2 " +
      "FROM events GROUP BY 1) a) b"
  }) {
    (s, d) =>
      val cutoff = lit("2024-01-15").cast("timestamp")
      val pre  = when(col("ts") < cutoff, col("value"))
      val post = when(col("ts") >= cutoff, col("value"))
      events(s, d).groupBy("event_type")
        .agg(count(pre).as("n1"), count(post).as("n2"),
          Exact.exactAvg(pre).as("m1"), Exact.exactAvg(post).as("m2"),
          Exact.exactVarSamp(pre).as("v1"), Exact.exactVarSamp(post).as("v2"))
        .withColumn("se1", col("v1") / col("n1").cast("double"))
        .withColumn("se2", col("v2") / col("n2").cast("double"))
        .select(col("event_type"), col("n1"), col("n2"), col("m1"), col("m2"),
          col("v1"), col("v2"),
          ((col("m1") - col("m2")) / sqrt(col("se1") + col("se2"))).as("t_stat"),
          (((col("se1") + col("se2")) * (col("se1") + col("se2"))) /
            (((col("se1") * col("se1")) / (col("n1") - lit(1.0))) +
             ((col("se2") * col("se2")) / (col("n2") - lit(1.0))))).as("welch_df"))
  }

  /** Daily long-short (HML) factor: mean return of top-30% minus
    * bottom-30% by score per date; <10 members → null
    * (test_data_integrity.py:117-123; nlargest(int(len*0.3))). */
  val aggHml = Q("q_agg_hml",
    "daily top30%-minus-bottom30% factor")({
    val topAvg = "(CAST(SUM(CAST((CASE WHEN rn_top <= k THEN l_discount END) AS DECIMAL(38,8))) AS DOUBLE) " +
      "/ COUNT((CASE WHEN rn_top <= k THEN l_discount END)))"
    val botAvg = "(CAST(SUM(CAST((CASE WHEN rn_bot <= k THEN l_discount END) AS DECIMAL(38,8))) AS DOUBLE) " +
      "/ COUNT((CASE WHEN rn_bot <= k THEN l_discount END)))"
    "SELECT date, (CASE WHEN min(cnt) >= 10 THEN " + topAvg + " - " + botAvg + " END) AS hml " +
      "FROM (SELECT date_trunc('day', l_shipdate) AS date, l_discount, " +
      "count(*) OVER (PARTITION BY date_trunc('day', l_shipdate)) AS cnt, " +
      "floor(count(*) OVER (PARTITION BY date_trunc('day', l_shipdate)) * 0.3) AS k, " +
      "row_number() OVER (PARTITION BY date_trunc('day', l_shipdate) " +
      s"ORDER BY l_extendedprice DESC, $ordSql) AS rn_top, " +
      // total order (unique tiebreak) => ascending row_number is derivable:
      // rn_bot = cnt + 1 - rn_top, saving a second window sort
      "(count(*) OVER (PARTITION BY date_trunc('day', l_shipdate)) + 1) " +
      "- row_number() OVER (PARTITION BY date_trunc('day', l_shipdate) " +
      s"ORDER BY l_extendedprice DESC, $ordSql) AS rn_bot " +
      "FROM lineitem) t GROUP BY date"
  }) {
    (s, d) =>
      val li = lineitem(s, d).withColumn("date", date_trunc("day", col("l_shipdate")))
      val w = Window.partitionBy("date")
      val withFlags = li
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("k", floor(count(lit(1)).over(w) * 0.3))
        .withColumn("rn_top",
          row_number().over(w.orderBy(col("l_extendedprice").desc, ord.asc)))
        .withColumn("rn_bot", (col("cnt") + 1) - col("rn_top"))
      val topRet = when(col("rn_top") <= col("k"), col("l_discount"))
      val botRet = when(col("rn_bot") <= col("k"), col("l_discount"))
      withFlags.groupBy("date")
        .agg(min("cnt").as("cnt"),
          Exact.exactAvg(topRet).as("top_avg"), Exact.exactAvg(botRet).as("bot_avg"))
        .select(col("date"),
          when(col("cnt") >= 10, col("top_avg") - col("bot_avg")).as("hml"))
  }

  /** Ordered per-month universe list serialized to one row per month
    * (universe_generation_pipeline.py:168-171) — collect_list made
    * deterministic by sorting on the rank inside the array. */
  val aggGroupConcatUniverse = Q("q_agg_group_concat_universe",
    "per-month ranked id list")(
    "WITH m AS (SELECT date_trunc('month', o_orderdate) AS month, o_custkey, " +
      s"${Exact.Sql.avg("o_totalprice")} AS avg_mcap FROM orders GROUP BY 1, 2), " +
      "r AS (SELECT month, o_custkey, row_number() OVER (PARTITION BY month " +
      "ORDER BY avg_mcap DESC, o_custkey) AS rn FROM m) " +
      "SELECT month, string_agg(CAST(o_custkey AS VARCHAR), ',' ORDER BY rn) AS universe " +
      "FROM r WHERE rn <= 10 GROUP BY month") {
    (s, d) =>
      val m = orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"), col("o_custkey"))
        .agg(Exact.exactAvg(col("o_totalprice")).as("avg_mcap"))
      val w = Window.partitionBy("month").orderBy(col("avg_mcap").desc, col("o_custkey"))
      m.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .groupBy("month")
        .agg(collect_list(struct(col("rn"), col("o_custkey"))).as("pairs"))
        .select(col("month"),
          array_join(transform(array_sort(col("pairs")),
            x => x.getField("o_custkey").cast("string")), ",").as("universe"))
  }

  /** Wide pivot (`pd.pivot_table`): day × event-type count matrix via
    * Spark's pivot API with the value set PINNED — an unpinned pivot runs
    * an extra distinct-scan job to discover columns and makes the output
    * schema data-dependent, both wrong at scale. Absent cells are
    * coalesced to 0 to match the conditional-aggregation oracle. */
  val aggPivotWide = Q("q_agg_pivot_wide", "day × event-type pivot matrix")(
    "SELECT date_trunc('day', ts) AS day, " +
      "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_n, " +
      "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_n, " +
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_n, " +
      "CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_n, " +
      "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_n " +
      "FROM events GROUP BY 1") {
    (s, d) =>
      val types = Seq("click", "view", "purchase", "signup", "error")
      events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(s"${t}_n")): _*)
  }

  /** Long unpivot (`pd.melt`): the measure columns → (measure, value)
    * rows via Dataset.unpivot — a per-row generator, no shuffle at all. */
  val aggUnpivotLong = Q("q_agg_unpivot_long", "melt price measures to long form")(
    "SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure, l_extendedprice AS value FROM lineitem " +
      "UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem " +
      "UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem") {
    (s, d) => lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("extendedprice"),
        col("l_discount").as("discount"), col("l_tax").as("tax"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("extendedprice"), col("discount"), col("tax")),
        "measure", "value")
  }

  /** Hierarchical subtotals (r8): ROLLUP over (source, lang) — per-cell,
    * per-source and grand-total document/token counts in ONE pass, with
    * `grouping_id` disambiguating real NULLs from rolled-up levels (both
    * engines use the same bitmask convention: first rollup column = most
    * significant bit). Spark plans rollup as a single Expand + one hash
    * aggregate — the subtotal levels cost one extra row per input row per
    * level, not one extra scan per level, which is the whole point at
    * 100 TB (the naive form is L separate groupBys = L scans). */
  val aggRollup = Q("q_agg_rollup", "ROLLUP(source, lang) subtotal hierarchy")(
    "SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid, " +
      "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY ROLLUP(source, lang)") {
    (s, d) =>
      documents(s, d).rollup("source", "lang")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select("source", "lang", "gid", "n_docs", "sum_chars")
  }

  /** Full grouping lattice (r8): CUBE over (source, lang) — the rollup's
    * hierarchy PLUS the lang-only marginal (gid = 2), i.e. all four
    * grouping sets in the same single Expand + one hash aggregate. The
    * mixture dashboards read exactly this lattice: per-cell, per-source,
    * per-language, and grand totals from one scan. */
  val aggCube = Q("q_agg_cube", "CUBE(source, lang) full grouping lattice")(
    "SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid, " +
      "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY CUBE(source, lang)") {
    (s, d) =>
      documents(s, d).cube("source", "lang")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select("source", "lang", "gid", "n_docs", "sum_chars")
  }

  /** Explicit GROUPING SETS (r9): the marginals-ONLY lattice —
    * per-source and per-language subtotals with NO finest-grain cells
    * and NO grand total, the two sets rollup/cube cannot select
    * individually. Completes the §2.4 grouping-lattice API surface
    * (groupBy / rollup / cube / groupingSets) with the same one-Expand,
    * one-hash-aggregate plan: Expand emits exactly |sets| copies of each
    * row, so the explicit form is CHEAPER than cube whenever only some
    * marginals are consumed — the common dashboard case. */
  val aggGroupingSets = Q("q_agg_grouping_sets", "GROUPING SETS ((source),(lang)) marginals")(
    "SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid, " +
      "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY GROUPING SETS ((source), (lang))") {
    (s, d) =>
      documents(s, d)
        .groupingSets(Seq(Seq(col("source")), Seq(col("lang"))),
          col("source"), col("lang"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select("source", "lang", "gid", "n_docs", "sum_chars")
  }

  /** KMV sketch size. 64 gives expected relative error ≈ 1/√(k−2) ≈ 13% —
    * the sketch-vs-exactness trade a COUNT(DISTINCT) at 100 TB buys. */
  private val KmvK = 64

  /** KMV (k-minimum-values) distinct-count sketch (r9): the ONE-PASS,
    * MERGEABLE alternative to exact COUNT(DISTINCT) — hash every key with
    * the portable md5-derived 32-bit hash, keep the k smallest distinct
    * hash values, estimate D ≈ (k−1)/u_k with u_k the kth smallest hash
    * normalized to [0,1) (Bar-Yossef et al. 2002; the estimator DuckDB/
    * Spark approx sketches descend from, here with a deterministic hash
    * so both engines build the SAME sketch bit-for-bit).
    *
    * Scale story — why a sketch at all when q_sort_distinct is exact:
    * exact distinct shuffles every distinct key; the KMV plan is a
    * map-side distinct + per-partition top-k folded by TakeOrdered — the
    * driver receives k longs per partition, nothing corpus-sized crosses
    * the network, and two sketches union by keeping the k smallest of
    * their merged values (the property that lets 1000 executors — or 30
    * daily increments — combine in O(k)). Estimate = one integer-derived
    * division (IEEE-exact); exact count published alongside so the
    * error is visible in the result itself. */
  val aggDistinctKmv = Q("q_agg_distinct_kmv", "KMV k-minimum-values distinct-count sketch")(
    "WITH dh AS (SELECT DISTINCT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h " +
      "FROM lineitem), " +
      s"topk AS (SELECT h FROM dh ORDER BY h LIMIT $KmvK), " +
      "sk AS (SELECT CAST(count(*) AS BIGINT) AS k_filled, max(h) AS kth_hash FROM topk), " +
      "ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM dh) " +
      s"SELECT sk.k_filled, sk.kth_hash, ex.exact_distinct, " +
      s"CASE WHEN sk.k_filled < $KmvK THEN CAST(sk.k_filled AS DOUBLE) " +
      s"ELSE ($KmvK - 1) * 4294967296.0 / sk.kth_hash END AS est_distinct " +
      "FROM sk, ex") {
    (s, d) =>
      val dh = lineitem(s, d)
        .select(graft.ops.TextOps.hash32(col("l_partkey").cast("string")).as("h"))
        .distinct()
        .localCheckpoint() // feeds BOTH the sketch top-k and the exact count
      // per-partition top-k + driver merge of k longs: TakeOrderedAndProject
      val sk = dh.orderBy("h").limit(KmvK)
        .agg(count(lit(1)).cast("long").as("k_filled"), max("h").as("kth_hash"))
      val ex = dh.agg(count(lit(1)).cast("long").as("exact_distinct"))
      sk.crossJoin(ex)
        .select(col("k_filled"), col("kth_hash"), col("exact_distinct"),
          when(col("k_filled") < KmvK, col("k_filled").cast("double"))
            .otherwise(lit(KmvK - 1) * 4294967296.0 / col("kth_hash"))
            .as("est_distinct"))
  }

  /** KMV MERGEABILITY certification (r11) — the property that makes a
    * sketch a 100 TB tool at all: top-k(top-k(A) ∪ top-k(B)) =
    * top-k(A ∪ B), so per-shard KMV sketches union into the corpus
    * sketch with NO raw re-scan — across 1000 executors or 30 daily
    * increments. This operator proves it on live data: per-returnflag
    * sketches of the part-key hash space, then a merged row derived
    * ONLY from the ≤ 3k sketch hashes, published beside the exact
    * global distinct so the union estimate's error is visible (the
    * q_agg_distinct_kmv contract, one level up). Groups overlap in
    * part keys — exactly the case where naively summing per-group
    * estimates would double-count and the hash-space union does not.
    *
    * Scale: per-group top-k is a window over the distinct-hash frame
    * (rank bounded at k per group); the merge ranks ≤ groups·k rows.
    * Everything integer/hash arithmetic; estimates are single IEEE
    * expressions over integers. */
  val aggKmvMerge = Q("q_agg_kmv_merge", "KMV sketch union: merged estimate from per-group sketches")(
    "WITH dh AS (SELECT DISTINCT l_returnflag AS grp, " +
      "('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS h FROM lineitem), " +
      s"pg AS (SELECT grp, h FROM (SELECT dh.*, row_number() OVER " +
      s"(PARTITION BY grp ORDER BY h) AS rn FROM dh) WHERE rn <= $KmvK), " +
      s"sk AS (SELECT grp, CAST(count(*) AS BIGINT) AS k_filled, max(h) AS kth_hash FROM pg GROUP BY 1), " +
      "mg AS (SELECT h FROM (SELECT DISTINCT h FROM pg) u " +
      s"ORDER BY h LIMIT $KmvK), " +
      "ms AS (SELECT CAST(count(*) AS BIGINT) AS k_filled, max(h) AS kth_hash FROM mg), " +
      "ex AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_global FROM dh) " +
      s"SELECT sk.grp, sk.k_filled, sk.kth_hash, " +
      s"CASE WHEN sk.k_filled < $KmvK THEN CAST(sk.k_filled AS DOUBLE) " +
      s"ELSE ($KmvK - 1) * 4294967296.0 / sk.kth_hash END AS est_distinct, " +
      "CAST(NULL AS BIGINT) AS exact_global FROM sk " +
      "UNION ALL " +
      s"SELECT 'MERGED' AS grp, ms.k_filled, ms.kth_hash, " +
      s"CASE WHEN ms.k_filled < $KmvK THEN CAST(ms.k_filled AS DOUBLE) " +
      s"ELSE ($KmvK - 1) * 4294967296.0 / ms.kth_hash END AS est_distinct, " +
      "ex.exact_global FROM ms CROSS JOIN ex") {
    (s, d) =>
      val dh = lineitem(s, d)
        .select(col("l_returnflag").as("grp"),
          graft.ops.TextOps.hash32(col("l_partkey").cast("string")).as("h"))
        .distinct()
        .localCheckpoint() // sketches AND the exact global count read it
      val w = Window.partitionBy("grp").orderBy("h")
      val pg = dh.withColumn("rn", row_number().over(w)).filter(col("rn") <= KmvK)
        .select("grp", "h")
        .localCheckpoint(eager = false) // per-group rows AND the merge
      def est(kf: Column, kth: Column) =
        when(kf < KmvK, kf.cast("double"))
          .otherwise(lit(KmvK - 1) * 4294967296.0 / kth)
      val sk = pg.groupBy("grp")
        .agg(count(lit(1)).cast("long").as("k_filled"), max("h").as("kth_hash"))
        .select(col("grp"), col("k_filled"), col("kth_hash"),
          est(col("k_filled"), col("kth_hash")).as("est_distinct"),
          lit(null).cast("long").as("exact_global"))
      val ms = pg.select("h").distinct().orderBy("h").limit(KmvK)
        .agg(count(lit(1)).cast("long").as("k_filled"), max("h").as("kth_hash"))
      val ex = dh.agg(countDistinct("h").as("exact_global"))
      val merged = ms.crossJoin(ex)
        .select(lit("MERGED").as("grp"), col("k_filled"), col("kth_hash"),
          est(col("k_filled"), col("kth_hash")).as("est_distinct"),
          col("exact_global"))
      sk.unionByName(merged)
  }

  /** Histogram bin width for l_extendedprice (fixture range ~900–105k →
    * ~21 occupied bins). */
  private val HistW = 5000.0

  /** Fixed-width numeric histogram (r9): bin counts + corpus share for
    * the price column — the distribution companion of
    * q_profile_columns' scalar summary (the "shape" a data-quality
    * dashboard actually plots). Bin = ⌊v / w⌋: one map-only integer-
    * izing projection, one bins-sized hash aggregate, one broadcast
    * total — at 100 TB the histogram IS the standard first-pass profile
    * because its output is bins-sized, not data-sized. Bin assignment is
    * a single IEEE divide + floor (identical both engines); share is one
    * division per output row. */
  val aggHistogram = Q("q_agg_histogram", "fixed-width price histogram with shares")(
    s"WITH b AS (SELECT CAST(floor(l_extendedprice / $HistW) AS BIGINT) AS bin, " +
      "count(*) AS n FROM lineitem GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b) " +
      s"SELECT b.bin, b.bin * $HistW AS bin_lo, b.n, " +
      "CAST(b.n AS DOUBLE) / t.total AS share FROM b, t") {
    (s, d) =>
      val b = lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / HistW).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // bins-sized; feeds the total AND the output rows
      val t = b.agg(sum("n").cast("long").as("total"))
      b.crossJoin(broadcast(t))
        .select(col("bin"), (col("bin") * HistW).as("bin_lo"), col("n"),
          (col("n").cast("double") / col("total")).as("share"))
  }

  /** Exact Pearson correlation per group (r9): quantity↔price correlation
    * per returnflag — the factor-analysis primitive (the reference's HML/
    * momentum features are correlation-style cross-sectional statistics).
    * Five decimal-exact sums (x, y, xy, x², y² — the addends are
    * near-integer-domain products that fit the scale-4/8 decimal grids
    * exactly) reduce each group to one row; r = (nΣxy − ΣxΣy) /
    * (√(nΣxx − Σx²)·√(nΣyy − Σy²)) is then a fixed-order IEEE expression
    * over those sums. Guarded NULL when either variance term is 0 — the
    * same no-usable-baseline contract as q_event_anomaly. At 100 TB this
    * is one hash aggregate with map-side partials; nothing else. */
  val aggCorr = Q("q_agg_corr", "exact per-group Pearson correlation")({
    def dsum(c: String, scale: Int) = graft.util.Exact.Sql.sum(c, scale)
    "WITH s AS (SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n, " +
      dsum("l_quantity", 8) + " AS sx, " + dsum("l_extendedprice", 8) + " AS sy, " +
      dsum("l_quantity * l_extendedprice", 4) + " AS sxy, " +
      dsum("l_quantity * l_quantity", 4) + " AS sxx, " +
      dsum("l_extendedprice * l_extendedprice", 4) + " AS syy " +
      "FROM lineitem GROUP BY 1) " +
      "SELECT l_returnflag, CAST(n AS BIGINT) AS n, " +
      "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN " +
      "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) " +
      "END AS corr FROM s"
  }) {
    (s, d) =>
      def dsum(c: Column, scale: Int) = graft.util.Exact.exactSum(c, scale)
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val st = lineitemWide(s, d).groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(x, 8).as("sx"), dsum(y, 8).as("sy"),
        dsum(x * y, 4).as("sxy"), dsum(x * x, 4).as("sxx"), dsum(y * y, 4).as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      st.select(col("l_returnflag"), col("n").cast("long").as("n"),
        when(vx > 0 && vy > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(vx) * sqrt(vy))).as("corr"))
  }

  /** Histogram quantile sketch (r9): approximate p50/p95 of the price
    * from the SAME fixed-width histogram q_agg_histogram publishes —
    * the mergeable quantile summary completing the sketch family (KMV =
    * cardinality, count-min = frequency, binned histogram = quantiles).
    * Estimate = bin lower edge + linear interpolation by rank within the
    * bin; the error is bounded by the BIN WIDTH by construction, and the
    * exact two-phase order statistic is published alongside so the
    * realized error is visible in the result (the q_agg_distinct_kmv
    * contract). At 100 TB the histogram is the practical quantile plan:
    * bins-sized additive state merges across 1000 executors or 30 daily
    * increments, answers ANY quantile after the fact, and never
    * re-scans — the exact path re-aggregates per quantile request.
    * Interpolation is a fixed-order IEEE expression over integer-derived
    * doubles; the exact side is order statistics — both bit-identical
    * across engines. */
  val aggQuantileSketch = Q("q_agg_quantile_sketch", "binned-histogram quantile estimates vs exact")({
    def pick(p: Double, tag: String) =
      s"e$tag AS (SELECT bin, c, cum, n FROM ct " +
        s"WHERE cum >= ceil(CAST($p AS DOUBLE) * n) ORDER BY bin LIMIT 1), " +
        s"x$tag AS (SELECT min(v) AS v FROM cvg " +
        s"WHERE cum >= ceil(CAST($p AS DOUBLE) * n))"
    def est(p: Double, tag: String) =
      s"(e$tag.bin * CAST($HistW AS DOUBLE) + (CAST(ceil(CAST($p AS DOUBLE) * e$tag.n) AS DOUBLE) " +
        s"- (e$tag.cum - e$tag.c)) / e$tag.c * CAST($HistW AS DOUBLE))"
    s"WITH h AS (SELECT CAST(floor(l_extendedprice / $HistW) AS BIGINT) AS bin, " +
      "count(*) AS c FROM lineitem GROUP BY 1), " +
      "ct AS (SELECT bin, c, sum(c) OVER (ORDER BY bin) AS cum, " +
      "sum(c) OVER () AS n FROM h), " +
      // the exact side is BIN-PARTITIONED: per-bin value prefixes plus
      // the bins-sized offsets from ct — global cum without a global sort
      s"hv AS (SELECT CAST(floor(l_extendedprice / $HistW) AS BIGINT) AS bin, " +
      "l_extendedprice AS v, count(*) AS c FROM lineitem GROUP BY 1, 2), " +
      "cvb AS (SELECT bin, v, c, sum(c) OVER (PARTITION BY bin ORDER BY v) AS cumb FROM hv), " +
      "cvg AS (SELECT cb.v, (ct2.cum - ct2.c) + cb.cumb AS cum, ct2.n " +
      "FROM cvb cb JOIN ct ct2 ON ct2.bin = cb.bin), " +
      pick(0.5, "50") + ", " + pick(0.95, "95") + " " +
      "SELECT CAST(e50.n AS BIGINT) AS n, " +
      est(0.5, "50") + " AS p50_est, x50.v AS p50_exact, " +
      s"abs(${est(0.5, "50")} - x50.v) AS p50_err, " +
      est(0.95, "95") + " AS p95_est, x95.v AS p95_exact, " +
      s"abs(${est(0.95, "95")} - x95.v) AS p95_err, " +
      s"CAST($HistW AS DOUBLE) AS err_bound " +
      "FROM e50, x50, e95, x95"
  }) {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val one = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      val ct = lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / HistW).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(one))
        .withColumn("n", sum("c").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        // r15: lazy — the picks and the exact side's offsets all live in
        // ONE action now; an eager checkpoint was a blocking extra job
        .localCheckpoint(eager = false)
      // exact side: per-BIN prefix (partitioned window, parallel and
      // bounded by bin occupancy) + broadcast bins-sized offsets = the
      // global cumulative rank with no data-sized single-partition pass.
      // r15 (guide §5): BOTH exact picks fold in one conditional
      // aggregation over the ranked frame — the r14 form localCheckpointed
      // this distinct-values-sized frame (594k rows at sf0.1, data-sized
      // at 100 TB) only to take two filtered mins from it; min(CASE WHEN)
      // ≡ filter+min (min skips nulls), so the checkpoint, its blocking
      // job, and one full re-read disappear with bit-identical output.
      val onevb = Window.partitionBy("bin").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val xq = lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / HistW).cast("long").as("bin"),
          col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cumb", sum("c").over(onevb))
        .join(broadcast(ct.select(col("bin"),
          (col("cum") - col("c")).as("below"), col("n"))), "bin")
        .select(col("v"), (col("below") + col("cumb")).as("cum"), col("n"))
        .agg(
          min(when(col("cum") >= ceil(lit(0.5) * col("n")), col("v"))).as("p50_exact"),
          min(when(col("cum") >= ceil(lit(0.95) * col("n")), col("v"))).as("p95_exact"))
      def pick(p: Double) = ct
        .filter(col("cum") >= ceil(lit(p) * col("n")))
        .orderBy("bin").limit(1)
      def est(p: Double) =
        col("bin") * HistW +
          (ceil(lit(p) * col("n")).cast("double") - (col("cum") - col("c"))) /
            col("c") * HistW
      val e50 = pick(0.5).select(col("n"), est(0.5).as("p50_est"))
      val e95 = pick(0.95).select(est(0.95).as("p95_est"))
      e50.crossJoin(e95).crossJoin(xq)
        .select(col("n").cast("long").as("n"),
          col("p50_est"), col("p50_exact"),
          abs(col("p50_est") - col("p50_exact")).as("p50_err"),
          col("p95_est"), col("p95_exact"),
          abs(col("p95_est") - col("p95_exact")).as("p95_err"),
          lit(HistW).as("err_bound"))
  }

  /** Per-group winsorization (r9): clip l_extendedprice to its group's
    * exact [p05, p95] order statistics — the robust-scaling
    * preprocessing step (outlier capping before z-scores/regressions;
    * pandas `clip(lower=q05, upper=q95)`), published per row with the
    * clip flags so the treatment is auditable. Boundaries come from the
    * same two-phase value-histogram layout q_quantile_group certifies
    * (ops.Quantiles.groupQuantilesDisc — no per-group data sort at any
    * scale); clipping is least/greatest over order statistics, so
    * cross-engine exactness is free (no arithmetic on the values at
    * all). The bounds frame is groups-sized → broadcast; the clip pass
    * is map-only over the fact table. */
  val aggWinsorize = Q("q_agg_winsorize", "per-group p05/p95 winsorized prices")(
    "WITH h AS (SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c " +
      "FROM lineitem GROUP BY 1, 2), " +
      "ct AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum, " +
      "sum(c) OVER (PARTITION BY g) AS n FROM h), " +
      "b AS (SELECT g, min(CASE WHEN cum >= ceil(CAST(0.05 AS DOUBLE) * n) THEN v END) AS p05, " +
      "min(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE) * n) THEN v END) AS p95 " +
      "FROM ct GROUP BY 1) " +
      "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice, " +
      "least(greatest(l.l_extendedprice, b.p05), b.p95) AS price_w, " +
      "l.l_extendedprice < b.p05 AS clipped_lo, " +
      "l.l_extendedprice > b.p95 AS clipped_hi " +
      "FROM lineitem l JOIN b ON b.g = l.l_returnflag") {
    (s, d) =>
      // r15: quantile bounds from the (group, value, count) histogram —
      // one scan builds it, the weighted quantile never re-reads data
      // (the row-level form scanned lineitem twice before the clip pass)
      val bounds = graft.ops.Quantiles.groupQuantilesDiscW(
        lineitem(s, d).select("l_returnflag", "l_extendedprice")
          .groupBy("l_returnflag", "l_extendedprice").agg(count(lit(1)).as("_c")),
        "l_returnflag", "l_extendedprice", "_c", Seq(0.05 -> "p05", 0.95 -> "p95"))
        .select(col("l_returnflag"), col("p05"), col("p95"))
      lineitem(s, d).join(broadcast(bounds), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"),
          least(greatest(col("l_extendedprice"), col("p05")), col("p95")).as("price_w"),
          (col("l_extendedprice") < col("p05")).as("clipped_lo"),
          (col("l_extendedprice") > col("p95")).as("clipped_hi"))
  }

  /** Exact skewness and excess kurtosis per event type — the 3rd/4th
    * distribution-shape profiling moments beside q_agg_mean_std. TWO-PASS
    * central form on purpose: raw Σx³/Σx⁴ of magnitude-500 values scale
    * past the 2⁵³ window where DuckDB's int128 decimal→double two-rounds
    * (the Exact.DSq caveat), while standardized z = (x−μ)/σ is O(1), so
    * z³/z⁴ sums stay exact at scale 4 up to ~10¹⁵ per group. μ and σ come
    * from the exact one-pass moments (groups-sized, broadcast back); z is
    * a fixed chain of correctly-rounded IEEE ops, so both engines feed
    * identical addends into the identical decimal-exact sums. Scale: one
    * hash agg + one broadcast-join map pass + one hash agg — no window,
    * no sort. */
  val aggSkewKurt = Q("q_agg_skew_kurt", "exact standardized skewness + excess kurtosis per event type")(
    "WITH st AS (SELECT event_type, COUNT(value) AS n, " +
      Exact.Sql.avg("value") + " AS mu, " + Exact.Sql.stddevPop("value") + " AS sd " +
      "FROM events GROUP BY 1), " +
      "z AS (SELECT e.event_type, (e.value - st.mu) / st.sd AS z FROM events e " +
      "JOIN st ON st.event_type = e.event_type WHERE st.sd > 0) " +
      // z is DIVISION-DERIVED (uniform mod any decimal grid), so the z³/z⁴
      // sums ride the 2⁻³⁰ portable grid, not a decimal cast (r13 rule,
      // Exact.portableSum scaladoc). Domain: Σ|z⁴| < 8.6e9 per group —
      // Σz⁴ ≈ kurtosis·n ≈ 3n, i.e. fine to ~10⁹ rows per group.
      "SELECT st.event_type, st.n, st.mu, st.sd, " +
      Exact.Sql.portableSum("z.z*z.z*z.z") + " / st.n AS skew, " +
      Exact.Sql.portableSum("z.z*z.z*z.z*z.z") + " / st.n - 3.0 AS kurt_ex " +
      "FROM z JOIN st ON st.event_type = z.event_type GROUP BY 1, 2, 3, 4") {
    (s, d) =>
      val st = events(s, d).groupBy("event_type")
        .agg(count("value").as("n"), Exact.exactAvg(col("value")).as("mu"),
          Exact.exactStddevPop(col("value")).as("sd"))
      events(s, d).join(broadcast(st), "event_type")
        .filter(col("sd") > 0)
        .withColumn("z", (col("value") - col("mu")) / col("sd"))
        .groupBy("event_type", "n", "mu", "sd")
        .agg(
          (Exact.portableSum(col("z") * col("z") * col("z")) / col("n")).as("skew"),
          (Exact.portableSum(col("z") * col("z") * col("z") * col("z")) / col("n")
            - lit(3.0)).as("kurt_ex"))
  }

  /** Median absolute deviation per group (r13) — the robust dispersion
    * pair to q_agg_mean_std: per return-flag, the exact lower-median
    * price, the exact median of |price − median| (MAD), and the normal-
    * consistent σ estimate 1.4826·MAD. This is the outlier-proof spread
    * a spike can't poison (one bad tick moves a stddev arbitrarily, a
    * MAD not at all) — the robust z-score denominator a cleaning pass
    * wants BEFORE deciding which points are spikes (q_agg_winsorize's
    * bounds suffer the same contamination this avoids).
    *
    * Exactness: both medians are ORDER STATISTICS via ops.Quantiles'
    * value-histogram layout (position ⌈n/2⌉ — DuckDB quantile_disc
    * semantics), so no arithmetic touches the data until |x − med| (one
    * IEEE subtract+abs on identical inputs) and the final 1.4826 scale
    * (one IEEE multiply, both engines evaluate the identical expression
    * text). Scale: two chained histogram passes — each a (group, value)
    * hash aggregate + a distinct-values-sized window, never a per-group
    * row sort. */
  val aggMad = Q("q_agg_mad", "per-group median absolute deviation + robust sigma")(
    "WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
      "quantile_disc(l_extendedprice, 0.5) AS med FROM lineitem GROUP BY 1), " +
      "d AS (SELECT l.l_returnflag, abs(l.l_extendedprice - m.med) AS dev " +
      "FROM lineitem l JOIN m ON m.l_returnflag = l.l_returnflag), " +
      "s AS (SELECT l_returnflag, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY 1) " +
      "SELECT m.l_returnflag, m.n, m.med, s.mad, 1.4826 * s.mad AS sigma_est " +
      "FROM m JOIN s ON s.l_returnflag = m.l_returnflag") {
    (s, d) =>
      // r15 (guide §1.2 step 1, VERDICT r14 #3): ONE corpus scan total.
      // The (group, value, count) histogram is built once; the median
      // rides the weighted bucket quantile over it, and the deviation
      // multiset |price − med| is DERIVED from the same histogram
      // (|v − med| with v's count — the expanded multisets are identical),
      // so the MAD never touches data rows again. The r14 form re-scanned
      // lineitem four times across its two chained quantile calls.
      val h = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // feeds the median AND the dev histogram
      val m = graft.ops.Quantiles.groupQuantilesDiscW(
          h, "l_returnflag", "l_extendedprice", "c", Seq((0.5, "med")))
        .select(col("l_returnflag"), col("n"), col("med"))
      val devH = h.join(broadcast(m.select("l_returnflag", "med")), "l_returnflag")
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("med")).as("dev"), col("c"))
        .groupBy("l_returnflag", "dev").agg(sum("c").as("c"))
      val mad = graft.ops.Quantiles.groupQuantilesDiscW(
          devH, "l_returnflag", "dev", "c", Seq((0.5, "mad")))
        .select(col("l_returnflag"), col("mad"))
      m.join(broadcast(mad), "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("med"), col("mad"),
          (lit(1.4826) * col("mad")).as("sigma_est"))
  }

  /** Daily VWAP per asset (r13) — the execution-quality benchmark price:
    * Σ(price × size) / Σ(size) per (asset, day). Both sums are exact
    * decimals (scale 4 for the product term, 8 for the size term — the
    * DSq rationale), so the published value is ONE correctly-rounded IEEE
    * division of two bit-identical operands on any engine. Scale: a
    * single hash aggregate with map-side partials on (asset, day) — the
    * same shuffle shape as q_agg_mean_month at any corpus size. */
  val aggVwap = Q("q_agg_vwap", "daily volume-weighted average price per asset")(
    "SELECT l_partkey, date_trunc('day', l_shipdate) AS date, " +
      "CAST(count(*) AS BIGINT) AS n_fills, " +
      Exact.Sql.sum("l_quantity") + " AS volume, " +
      "(" + Exact.Sql.sum("l_extendedprice * l_quantity", 4) + " / " +
      Exact.Sql.sum("l_quantity") + ") AS vwap " +
      "FROM lineitem GROUP BY 1, 2") {
    (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_partkey"), date_trunc("day", col("l_shipdate")).as("date"))
        .agg(count(lit(1)).as("n_fills"),
          Exact.exactSum(col("l_quantity")).as("volume"),
          (Exact.exactSum(col("l_extendedprice") * col("l_quantity"), 4) /
            Exact.exactSum(col("l_quantity"))).as("vwap"))
  }

  /** Market beta per asset (r13) — CAPM slope of the asset's monthly
    * returns on the equal-weight market's: β = cov(r_a, r_m)/var(r_m)
    * from exact moment sums, the factor-model counterpart of q_agg_hml.
    * The monthly closes are q_agg_mean_month's exact means; the market
    * series is their exact cross-asset mean; both return series are
    * single fixed-order IEEE expressions over exact inputs, so every
    * engine reproduces them bit-for-bit (the q_agg_corr argument).
    * Return-domain moments CANNOT ride the decimal-cast recipe: a return
    * is a division result, so its bits carry noise in the trailing
    * digits, and a double→decimal cast of such a value near a rounding
    * boundary is engine-convention-dependent (observed: scale 4 bends β
    * by 0.1% outright; scales 8/12 drift single quanta on the ~1e-4 of
    * rows that straddle a boundary). The decimal recipe is only safe for
    * RAW data columns and their exact products. Noisy doubles instead
    * quantize on a DYADIC grid: floor(r · 2²⁴) — the multiply is exact
    * (power of two), floor is exact, so both engines produce the
    * identical BIGINT always; β is invariant to the common scaling.
    * Integer moments then stay in int64: with the assert_true-guarded
    * domain |r_asset| < 2⁹, |r_mkt| < 2³ and grid 2²⁰, Σx·y over a
    * calendar-bounded ≤2¹⁰ months is ≤ 2⁶², and the final β is one
    * fixed-order IEEE expression over int64-exact casts. Grid
    * granularity 2⁻²⁰ ≈ 1e-6 puts β within ~1e-4 of the unquantized
    * value (spec-checked against a naive replay); the market series is
    * the one that needs the fine grid — its variance is the
    * denominator — and it is an equal-weight mean, so |r_mkt| stays
    * small by construction while the asset series tolerates coarseness
    * in proportion to its own variance.
    *
    * Scale: two hash aggregates (asset-month, then month), one window
    * per asset-month frame, one broadcast join of the MONTH-level market
    * series (cardinality = calendar months — bounded by time, not
    * corpus), then a per-asset moment fold. The only unpartitioned
    * window orders the month-level frame: bounded by the calendar. */
  val aggBetaMarket = Q("q_agg_beta_market",
    "per-asset CAPM beta vs the equal-weight market (monthly returns)")(
    "WITH p AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS m, " +
      Exact.Sql.avg("l_extendedprice") + " AS p FROM lineitem GROUP BY 1, 2), " +
      // p is a per-group MEAN — division-derived, uniform mod the decimal
      // grid — so its cross-asset resum rides the portable grid (r13
      // rule): at p ≈ 10⁵ the decimal(38,8) cast sits in the widest
      // two-rounding band in the repo (~1e-3 per cast on a two-rounding
      // DuckDB). The grid exponent is CORPUS-ADAPTIVE (r14): the fixed
      // 2⁻³⁰ grid's Σ|p| < 2³³ month domain is real — the ×100 probe
      // measured Spark's sum(long) wrapping at sf10's ~600k assets/month
      // (DuckDB widens to HUGEINT; the guard caught the fork live) — so
      // k = min(30, 62 − bits(⌊max p⌋+1) − bits(max month count)),
      // integer-pure and engine-identical; every gate-scale fixture keeps
      // k = 30 ⇒ bit-unchanged results below the old domain.
      "kg AS (SELECT CAST(1::BIGINT << least(30, greatest(0, " +
      "62 - length(bin(CAST(floor(max(mp)) AS BIGINT) + 1)) " +
      "- length(bin(greatest(1, CAST(max(cnt) AS BIGINT)))))) AS DOUBLE) AS gf " +
      "FROM (SELECT m, count(*) AS cnt, max(p) AS mp FROM p GROUP BY 1) ms), " +
      "mkt AS (SELECT m, (" +
      Exact.Sql.portableSumAt("p", "(SELECT gf FROM kg)") +
      " / count(*)) AS pm FROM p GROUP BY 1), " +
      "ra AS (SELECT l_partkey, m, p / lag(p) OVER " +
      "(PARTITION BY l_partkey ORDER BY m) - 1.0 AS r FROM p), " +
      "rm AS (SELECT m, pm / lag(pm) OVER (ORDER BY m) - 1.0 AS rm FROM mkt), " +
      "j AS (SELECT a.l_partkey, " +
      "CAST(floor(a.r * 1048576.0) AS BIGINT) AS y, " +
      "CAST(floor(b.rm * 1048576.0) AS BIGINT) AS x " +
      "FROM ra a JOIN rm b ON b.m = a.m " +
      "WHERE a.r IS NOT NULL AND b.rm IS NOT NULL), " +
      "s AS (SELECT l_partkey, CAST(count(*) AS DOUBLE) AS n, " +
      "CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx, " +
      "CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy, " +
      "CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy, " +
      "CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx " +
      "FROM j GROUP BY 1) " +
      "SELECT l_partkey, CAST(n AS BIGINT) AS n_months, " +
      "CASE WHEN (n * sxx - sx * sx) > 0 THEN " +
      "(n * sxy - sx * sy) / (n * sxx - sx * sx) END AS beta FROM s") {
    (s, d) =>
      val p = lineitem(s, d)
        .groupBy(col("l_partkey"), date_trunc("month", col("l_shipdate")).as("m"))
        .agg(Exact.exactAvg(col("l_extendedprice")).as("p"))
        .localCheckpoint(eager = false) // feeds the market mean AND the returns
      // driver-side scalars parameterize the grid exponent (the
      // bloomM/seedSamp pattern); one extra corpus-linear job over the
      // materialized p frame
      val ms = p.groupBy("m")
        .agg(count(lit(1)).as("cnt"), max(col("p")).cast("double").as("mp"))
        .agg(max("cnt").cast("long"), max("mp")).head()
      def bits(x: Long): Int =
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, x))
      val k = math.min(30, math.max(0,
        62 - bits(math.floor(ms.getDouble(1)).toLong + 1) -
          bits(math.max(1L, ms.getLong(0)))))
      val gf = math.pow(2.0, k) // exact power of two
      val mkt = p.groupBy("m")
        .agg((Exact.portableSumAt(col("p"), gf) / count(lit(1))).as("pm"))
      val ra = p.select(col("l_partkey"), col("m"),
        (col("p") / lag("p", 1).over(
          Window.partitionBy("l_partkey").orderBy("m")) - 1.0).as("r"))
      val rm = mkt.select(col("m"),
        (col("pm") / lag("pm", 1).over(Window.orderBy("m")) - 1.0).as("rm"))
      val guard = assert_true(abs(col("r")) < 512.0 && abs(col("rm")) < 8.0,
        lit("q_agg_beta_market: monthly return outside the guarded domain " +
          "(|asset| < 2^9, |market| < 2^3) breaks the int64 moment bound " +
          "(rework the grid design, not the limit)"))
      val j = ra.join(broadcast(rm), "m")
        .filter(col("r").isNotNull && col("rm").isNotNull)
        .select(col("l_partkey"),
          when(guard.isNull,
            floor(col("r") * 1048576.0).cast("long")).as("y"),
          floor(col("rm") * 1048576.0).cast("long").as("x"))
      val st = j.groupBy("l_partkey").agg(
        count(lit(1)).cast("double").as("n"),
        sum("x").cast("long").cast("double").as("sx"),
        sum("y").cast("long").cast("double").as("sy"),
        sum(col("x") * col("y")).cast("long").cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("long").cast("double").as("sxx"))
      st.select(col("l_partkey"), col("n").cast("long").as("n_months"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("beta"))
  }

  /** Lag-1 autocorrelation of each asset's price series (r13) — the
    * mean-reversion/trending diagnostic: Pearson corr of (xₜ, xₜ₋₁) over
    * the (shipdate, ordinal)-ordered series, exact moments per the
    * q_agg_corr recipe. One window shuffle on the asset key + one hash
    * aggregate — no self-join of the series against its shift. */
  val aggAutocorr = Q("q_agg_autocorr", "per-asset lag-1 price autocorrelation")(
    "WITH l AS (SELECT l_partkey, l_extendedprice AS x, " +
      s"lag(l_extendedprice) OVER (PARTITION BY l_partkey ORDER BY l_shipdate, $ordSql) " +
      "AS y FROM lineitem), " +
      "j AS (SELECT l_partkey, x, y FROM l WHERE y IS NOT NULL), " +
      "s AS (SELECT l_partkey, CAST(count(*) AS DOUBLE) AS n, " +
      Exact.Sql.sum("x") + " AS sx, " + Exact.Sql.sum("y") + " AS sy, " +
      Exact.Sql.sum("x * y", 4) + " AS sxy, " + Exact.Sql.sum("x * x", 4) + " AS sxx, " +
      Exact.Sql.sum("y * y", 4) + " AS syy FROM j GROUP BY 1) " +
      "SELECT l_partkey, CAST(n AS BIGINT) AS n_pairs, " +
      "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN " +
      "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) " +
      "END AS autocorr FROM s") {
    (s, d) =>
      val w = Window.partitionBy("l_partkey").orderBy(col("l_shipdate"), ord)
      val j = lineitem(s, d)
        .select(col("l_partkey"), col("l_extendedprice").as("x"),
          lag("l_extendedprice", 1).over(w).as("y"))
        .filter(col("y").isNotNull)
      val st = j.groupBy("l_partkey").agg(
        count(lit(1)).cast("double").as("n"),
        Exact.exactSum(col("x")).as("sx"), Exact.exactSum(col("y")).as("sy"),
        Exact.exactSum(col("x") * col("y"), 4).as("sxy"),
        Exact.exactSum(col("x") * col("x"), 4).as("sxx"),
        Exact.exactSum(col("y") * col("y"), 4).as("syy"))
      val den = (col("n") * col("sxx") - col("sx") * col("sx"),
        col("n") * col("syy") - col("sy") * col("sy"))
      st.select(col("l_partkey"), col("n").cast("long").as("n_pairs"),
        when(den._1 > 0 && den._2 > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(den._1) * sqrt(den._2))).as("autocorr"))
  }

  /** Daily Herfindahl–Hirschman concentration of volume across assets
    * (r13) — the market-structure gauge beside q_win_dominance (which
    * publishes each asset's share; HHI folds the whole cross-section to
    * one number per day): HHI = Σᵢ shareᵢ², share = exact per-asset
    * volume / exact daily total. The squared-share sum rides the 2⁻³⁰
    * portable grid (order-free integer sum — shares are division
    * results, so the decimal recipe is out by the r13 Exact domain
    * rule); top_share is a max (order-free). Two hash aggregates + one
    * broadcast of the day-level totals. */
  val aggHerfindahl = Q("q_agg_herfindahl",
    "daily Herfindahl concentration of volume across assets")(
    "WITH v AS (SELECT date_trunc('day', l_shipdate) AS date, l_partkey, " +
      Exact.Sql.sum("l_quantity") + " AS vol FROM lineitem GROUP BY 1, 2), " +
      "t AS (SELECT date, " + Exact.Sql.sum("vol") + " AS tot, " +
      "CAST(count(*) AS BIGINT) AS n_assets FROM v GROUP BY 1) " +
      "SELECT v.date, max(t.n_assets) AS n_assets, " +
      Exact.Sql.portableSum("(v.vol / t.tot) * (v.vol / t.tot)") + " AS hhi, " +
      Exact.Sql.pinScoreInt("max(v.vol / t.tot)") + " AS top_share " +
      "FROM v JOIN t ON t.date = v.date GROUP BY 1") {
    (s, d) =>
      val v = lineitemWide(s, d)
        .groupBy(date_trunc("day", col("l_shipdate")).as("date"), col("l_partkey"))
        .agg(Exact.exactSum(col("l_quantity")).as("vol"))
        .localCheckpoint(eager = false) // feeds the totals AND the fold
      val t = v.groupBy("date")
        .agg(Exact.exactSum(col("vol")).as("tot"), count(lit(1)).as("n_assets"))
      val share = col("vol") / col("tot")
      v.join(broadcast(t), "date")
        .groupBy("date")
        .agg(max("n_assets").as("n_assets"),
          Exact.portableSum(share * share).as("hhi"),
          Exact.pinScoreInt(max(share)).as("top_share"))
  }

  /** Bootstrap replica means (r13) — the distributed uncertainty
    * harness: B = 16 deterministic half-samples per group (row ∈ replica
    * b iff BIT b of the row's md5 leading 32-bit word is 0 — ONE hash
    * per row, not per row×replica, from the portable md5 family the
    * minhash oracle already certifies; distinct bits are independent
    * fair coins), each
    * replica's row count and exact mean published long-form next to the
    * full-sample row (replica = -1). The spread of the 16 means IS the
    * bootstrap standard error of the group mean — derived by the reader
    * (spec-folded) so every published cell stays a count or an
    * exact-decimal mean, nothing needs a noisy-double cast. ONE scan,
    * ZERO row amplification (r12 rewrite): the ×(B+1) explode the first
    * version paid (17× the corpus through the shuffle) is replaced by
    * 2(B+1) conditional aggregates over the original rows — membership
    * of row r in replica b is a per-column `when(bit b of h = 0)` guard
    * inside the same hash aggregate, and the wide (n_b, mean_b) row is
    * exploded to the published long form only AFTER aggregation, at
    * group granularity. Map-side partials do all the work; B is the
    * cost/precision knob and now prices as agg columns, not rows. */
  val aggBootstrapMeans = Q("q_agg_bootstrap_means",
    "16 deterministic half-sample replica means per group + the full-sample row")(
    "WITH r AS (SELECT l_returnflag, l_extendedprice, " +
      s"('0x' || substr(md5(CAST($ordSql AS VARCHAR)), 1, 8))::BIGINT AS h, " +
      "unnest(range(-1, 16)) AS replica FROM lineitem), " +
      "kept AS (SELECT l_returnflag, replica, l_extendedprice FROM r " +
      "WHERE replica = -1 OR ((h >> replica) & 1) = 0) " +
      "SELECT l_returnflag, CAST(replica AS BIGINT) AS replica, " +
      "CAST(count(*) AS BIGINT) AS n_rows, " +
      Exact.Sql.avg("l_extendedprice") + " AS mean_px " +
      "FROM kept GROUP BY 1, 2") {
    (s, d) => {
      val reps = -1 to 15
      val aggs = reps.flatMap { b =>
        val kept =
          if (b == -1) lit(true)
          else shiftright(col("h"), b).bitwiseAND(lit(1L)) === 0L
        val keptPx = when(kept, col("l_extendedprice"))
        Seq(count(keptPx).as(s"n_${b + 1}"),
          (Exact.exactSum(keptPx) / count(keptPx)).as(s"m_${b + 1}"))
      }
      val wide = lineitemWide(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
          expr(s"CAST(conv(substr(md5(CAST($ordSql AS STRING)), 1, 8), 16, 10) AS BIGINT)")
            .as("h"))
        .groupBy("l_returnflag")
        .agg(aggs.head, aggs.tail: _*)
      val longRows = reps.map { b =>
        struct(lit(b.toLong).as("replica"),
          col(s"n_${b + 1}").as("n_rows"), col(s"m_${b + 1}").as("mean_px"))
      }
      wide
        .select(col("l_returnflag"), explode(array(longRows: _*)).as("r"))
        .filter(col("r.n_rows") > 0) // oracle GROUP BY emits no row for an empty replica
        .select(col("l_returnflag"), col("r.replica").as("replica"),
          col("r.n_rows").as("n_rows"), col("r.mean_px").as("mean_px"))
    }
  }

  /** Sortino ratio per asset (r13) — q_agg_mean_std's Sharpe with the
    * denominator that practitioners actually want: downside deviation
    * vs a minimum-acceptable-return threshold (MAR = 0.05 here — the
    * discount column's midpoint, standing in for the target an
    * experiment configures). excess = l_discount − 0.05 stays a RAW
    * 2-decimal value (constant subtraction is exact), so its squares
    * are decimal-safe at scale 4 — no dyadic grid needed. downside_dev
    * = √(Σ min(excess,0)² / n) (full-n convention); NULL Sortino when
    * no downside exists. One hash aggregate, map-side partials. */
  val aggSortino = Q("q_agg_sortino",
    "per-asset Sortino ratio (downside deviation vs MAR) from exact moments")(
    "SELECT l_partkey, n, mean_ex, dd, " +
      "CASE WHEN dd > 0 THEN (mean_ex / dd) * sqrt(365.0) END AS sortino " +
      "FROM (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n, " +
      Exact.Sql.avg("(l_discount - 0.05)") + " AS mean_ex, " +
      "sqrt(" + Exact.Sql.sum(
        "(CASE WHEN l_discount < 0.05 THEN (l_discount - 0.05) * (l_discount - 0.05) " +
          "ELSE 0.0 END)", 4) + " / count(*)) AS dd " +
      "FROM lineitem GROUP BY 1) t") {
    (s, d) =>
      val ex = col("l_discount") - 0.05
      val down = when(col("l_discount") < 0.05, ex * ex).otherwise(0.0)
      lineitem(s, d).groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          Exact.exactAvg(ex).as("mean_ex"),
          sqrt(Exact.exactSum(down, 4) / count(lit(1))).as("dd"))
        .select(col("l_partkey"), col("n"), col("mean_ex"), col("dd"),
          when(col("dd") > 0,
            (col("mean_ex") / col("dd")) * sqrt(lit(365.0))).as("sortino"))
  }

  /** Expected shortfall (CVaR₅) per asset (r13) — the tail-risk gauge
    * beside q_win_drawdown: the mean of the worst ceil(5% · n) daily
    * returns, order-statistic definition (deterministic under ties via
    * the row ordinal). Returns are DIVISION-derived, so they ride the
    * dyadic 2⁻²⁰ grid (the r13 Exact rule): floor(r · 2²⁰) BIGINTs, an
    * int64-exact tail sum, one fixed-order division pair publishes the
    * pinned ES. |r| < 512 is assert_true-guarded (grid values < 2²⁹,
    * per-asset tail sums ≪ 2⁶³ at any calendar-bounded history).
    * One asset-keyed window (rank by grid return) + one fold. */
  val aggCvar = Q("q_agg_cvar",
    "per-asset expected shortfall: pinned mean of the worst 5% grid returns")(
    "WITH r AS (SELECT l_partkey, " +
      "CAST(floor((l_extendedprice / lag(l_extendedprice) OVER w - 1.0) * 1048576.0) " +
      "AS BIGINT) AS rg " +
      s"FROM lineitem WINDOW w AS (PARTITION BY l_partkey ORDER BY l_shipdate, $ordSql)), " +
      "rr AS (SELECT l_partkey, rg, row_number() OVER " +
      "(PARTITION BY l_partkey ORDER BY rg) AS rn, " +
      "count(*) OVER (PARTITION BY l_partkey) AS n FROM r WHERE rg IS NOT NULL) " +
      "SELECT l_partkey, CAST(max(n) AS BIGINT) AS n_rets, " +
      "CAST(count(*) AS BIGINT) AS k_tail, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(CAST(sum(rg) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1048576.0") +
      " AS es FROM rr WHERE rn <= greatest(1, CAST(ceil(0.05 * n) AS BIGINT)) GROUP BY 1") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy("l_partkey").orderBy(col("l_shipdate"), ord)
      val ret = col("l_extendedprice") / lag("l_extendedprice", 1).over(wo) - 1.0
      val guard = assert_true(ret.isNull || abs(ret) < 512.0,
        lit("q_agg_cvar: |return| >= 512 breaks the grid's int64 bound"))
      val r = lineitem(s, d)
        .select(col("l_partkey"),
          when(guard.isNull, floor(ret * 1048576.0).cast("long")).as("rg"))
        .filter(col("rg").isNotNull)
      val wRank = Window.partitionBy("l_partkey").orderBy("rg")
      val wAll = Window.partitionBy("l_partkey")
      r.withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") <= greatest(lit(1L), ceil(lit(0.05) * col("n")).cast("long")))
        .groupBy("l_partkey")
        .agg(max("n").cast("long").as("n_rets"),
          count(lit(1)).as("k_tail"),
          graft.util.Exact.pinScoreInt(
            (sum("rg").cast("long").cast("double") / count(lit(1)).cast("double")) /
              lit(1048576.0)).as("es"))
  }

  /** Two-sided trimmed mean per group (r12) — the robust-location sibling
    * of q_agg_winsorize: DROP (don't clamp) the k = n div 20 lowest and
    * highest observations, then exact-decimal mean over the kept middle.
    * Rank positions are value-determined (rows tied on the value are
    * interchangeable — the kept price MULTISET, and hence the mean, is
    * identical whichever tied rows the boundary cuts), so the published
    * result needs no row-level tiebreak at all.
    *
    * Scale layout (r12 two-phase rewrite — the first version's
    * per-group corpus sort measured 12× CPU at ×10 on 3 group keys):
    * a (group, value) count histogram — a distributed hash aggregate —
    * then an exclusive prefix window over the DISTINCT-value rows only,
    * and each value contributes overlap([below+1, below+c], [lo+1, hi])
    * rows to the kept interval. No data-row sort anywhere; the window
    * input is bounded by the value domain, not the corpus (the
    * q_quantile_group layout applied to a rank FILTER). The weighted
    * decimal sum Σ px·kc equals the kept rows' decimal sum term for
    * term, so the published mean is bit-identical to the sort form. */
  val aggTrimmedMean = Q("q_agg_trimmed_mean",
    "per-group 5% two-sided trimmed mean (order-statistic trim, exact decimal mean)")(
    "WITH h AS (SELECT l_returnflag, l_extendedprice AS px, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), " +
      "t AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1), " +
      "p AS (SELECT h.l_returnflag, h.px, h.c, t.n, " +
      "CAST(coalesce(sum(h.c) OVER (PARTITION BY h.l_returnflag ORDER BY h.px " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below " +
      "FROM h JOIN t ON t.l_returnflag = h.l_returnflag), " +
      "k AS (SELECT l_returnflag, px, n, " +
      "greatest(0, least(below + c, n - n // 20) - greatest(below, n // 20)) AS kc " +
      "FROM p) " +
      "SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows, " +
      "CAST(sum(kc) AS BIGINT) AS n_kept, " +
      "CAST(SUM(CAST(px AS DECIMAL(38,8)) * kc) AS DOUBLE) / sum(kc) AS trimmed_mean " +
      "FROM k WHERE kc > 0 GROUP BY 1") {
    (s, d) =>
      val h = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice").as("px"))
        .agg(count(lit(1)).as("c"))
      val t = h.groupBy("l_returnflag").agg(sum("c").as("n"))
      val wPre = Window.partitionBy("l_returnflag").orderBy("px")
        .rowsBetween(Window.unboundedPreceding, -1)
      val lo = expr("n div 20")
      h.join(t, "l_returnflag")
        .withColumn("below", coalesce(sum("c").over(wPre), lit(0L)))
        .select(col("l_returnflag"), col("px"), col("n"),
          greatest(lit(0L), least(col("below") + col("c"), col("n") - lo) -
            greatest(col("below"), lo)).as("kc"))
        .filter(col("kc") > 0)
        .groupBy("l_returnflag")
        .agg(max("n").cast("long").as("n_rows"), sum("kc").cast("long").as("n_kept"),
          (sum(col("px").cast("decimal(38,8)") * col("kc")).cast("double") /
            sum("kc")).as("trimmed_mean"))
  }

  /** Spearman rank correlation per group (r12) — the monotone-association
    * gauge beside q_agg_corr's Pearson, in the STANDARD tie-aware form:
    * each value gets its average (midrank) rank — a pure function of the
    * VALUE, never of an arbitrary row tiebreak — and ρ is Pearson over
    * the two midrank vectors. (A first draft used permutation ranks with
    * a full-row tiebreak: deterministic, but it needed a per-group
    * corpus SORT — 10× CPU at ×10 on 3 group keys — and its ρ depended
    * on tiebreak column order. Midranks fix both.)
    *
    * Scale layout: one (group, x, y) cell aggregate (hash, corpus-linear)
    * feeds two DISTINCT-VALUE histograms; the midrank prefix windows run
    * over value-domain-sized frames only — no data-row sort anywhere
    * (the q_quantile_group layout). Exactness: scaled integer midranks
    * R = 2·below + c + 1 (doubling clears the ½), all five moment sums
    * accumulate c·R products in DECIMAL(38,0)/HUGEINT (they reach 4n³ —
    * past int64 near n = 1.3M), then ONE fixed-order double evaluation
    * of the Pearson quotient publishes the pinned ρ; NULL when either
    * margin is constant (zero rank variance — no ranking to correlate,
    * the q_agg_corr contract). */
  val aggSpearman = Q("q_agg_spearman",
    "per-group tie-aware Spearman rho of quantity vs price (midranks, pinned)")(
    "WITH cells AS (SELECT l_returnflag AS f, l_quantity AS x, l_extendedprice AS y, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2, 3), " +
      "xv AS (SELECT f, x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1, 2), " +
      "xr AS (SELECT f, x, 2 * CAST(coalesce(sum(cx) OVER (PARTITION BY f ORDER BY x " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + cx + 1 AS rx " +
      "FROM xv), " +
      "yv AS (SELECT f, y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1, 2), " +
      "yr AS (SELECT f, y, 2 * CAST(coalesce(sum(cy) OVER (PARTITION BY f ORDER BY y " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + cy + 1 AS ry " +
      "FROM yv), " +
      "j AS (SELECT cells.f, cells.c, xr.rx, yr.ry FROM cells " +
      "JOIN xr ON xr.f = cells.f AND xr.x = cells.x " +
      "JOIN yr ON yr.f = cells.f AND yr.y = cells.y), " +
      "m AS (SELECT f, CAST(sum(c) AS BIGINT) AS n, " +
      "CAST(sum(CAST(c AS HUGEINT) * rx) AS DOUBLE) AS sx, " +
      "CAST(sum(CAST(c AS HUGEINT) * ry) AS DOUBLE) AS sy, " +
      "CAST(sum(CAST(c AS HUGEINT) * rx * rx) AS DOUBLE) AS sxx, " +
      "CAST(sum(CAST(c AS HUGEINT) * ry * ry) AS DOUBLE) AS syy, " +
      "CAST(sum(CAST(c AS HUGEINT) * rx * ry) AS DOUBLE) AS sxy FROM j GROUP BY 1) " +
      "SELECT f AS l_returnflag, n AS n_rows, " +
      "CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0 " +
      "AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
          "(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * " +
          "sqrt(CAST(n AS DOUBLE) * syy - sy * sy))") + " END AS rho " +
      "FROM m") {
    (s, d) =>
      val cells = lineitem(s, d)
        .groupBy(col("l_returnflag").as("f"), col("l_quantity").as("x"),
          col("l_extendedprice").as("y"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // both value histograms AND the join read it
      def midranks(vCol: String, out: String): org.apache.spark.sql.DataFrame = {
        val cnt = s"c$out"
        val w = Window.partitionBy("f").orderBy(vCol)
          .rowsBetween(Window.unboundedPreceding, -1)
        cells.groupBy(col("f"), col(vCol)).agg(sum("c").as(cnt))
          .select(col("f"), col(vCol),
            (lit(2L) * coalesce(sum(cnt).over(w), lit(0L)) + col(cnt) + 1L).as(out))
      }
      val j = cells
        .join(midranks("x", "rx"), Seq("f", "x"))
        .join(midranks("y", "ry"), Seq("f", "y"))
      val cD = col("c").cast("decimal(38,0)")
      val m = j.groupBy("f").agg(
        sum("c").cast("long").as("n"),
        sum(cD * col("rx")).cast("double").as("sx"),
        sum(cD * col("ry")).cast("double").as("sy"),
        sum(cD * col("rx") * col("rx")).cast("double").as("sxx"),
        sum(cD * col("ry") * col("ry")).cast("double").as("syy"),
        sum(cD * col("rx") * col("ry")).cast("double").as("sxy"))
      val nD = col("n").cast("double")
      val vx = nD * col("sxx") - col("sx") * col("sx")
      val vy = nD * col("syy") - col("sy") * col("sy")
      m.select(col("f").as("l_returnflag"), col("n").as("n_rows"),
        when(vx > 0 && vy > 0, Exact.pinScoreInt(
          (nD * col("sxy") - col("sx") * col("sy")) / (sqrt(vx) * sqrt(vy)))).as("rho"))
  }

  /** Cramér's V between the two lineitem categoricals (r12) — the
    * association audit a feature pipeline runs before one-hot-ing a
    * column pair: χ² over the returnflag × linestatus contingency table
    * (expected cell = rowtot·coltot/n) and V = √(χ²/(n·min(R−1,C−1))).
    * The contingency table is ONE hash aggregate over the scan; row/col
    * margins and the χ² fold run over the handful of cells (≤ |flags|·
    * |statuses|) — corpus-size-independent after the first aggregate, so
    * the 100 TB cost is exactly one map-side-combined count. Every
    * arithmetic step is +,−,×,÷,√ in one written order (all IEEE
    * correctly-rounded), published on the 2⁻³⁰ grid. */
  val aggCramersV = Q("q_agg_cramers_v",
    "Cramér's V association of returnflag × linestatus from one contingency pass")(
    "WITH c AS (SELECT l_returnflag AS rf, l_linestatus AS ls, " +
      "CAST(count(*) AS DOUBLE) AS o FROM lineitem GROUP BY 1, 2), " +
      "m AS (SELECT rf, sum(o) AS rt FROM c GROUP BY 1), " +
      "l AS (SELECT ls, sum(o) AS ct FROM c GROUP BY 1), " +
      "t AS (SELECT sum(o) AS n, count(DISTINCT rf) AS nr, " +
      "count(DISTINCT ls) AS nc FROM c), " +
      "x AS (SELECT " + Exact.Sql.portableSum(
        "((c.o - (m.rt * l.ct) / t.n) * (c.o - (m.rt * l.ct) / t.n)) / ((m.rt * l.ct) / t.n)") +
      " AS chi2, max(t.n) AS n, max(t.nr) AS nr, max(t.nc) AS nc " +
      "FROM c JOIN m ON m.rf = c.rf JOIN l ON l.ls = c.ls CROSS JOIN t) " +
      "SELECT CAST(n AS BIGINT) AS n_rows, CAST(nr AS BIGINT) AS r_levels, " +
      "CAST(nc AS BIGINT) AS c_levels, " +
      Exact.Sql.pinScoreInt("chi2") + " AS chi2, " +
      Exact.Sql.pinScoreInt(
        "sqrt(chi2 / (n * CAST(least(nr - 1, nc - 1) AS DOUBLE)))") + " AS cramers_v " +
      "FROM x") {
    (s, d) =>
      val c = lineitem(s, d)
        .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .agg(count(lit(1)).cast("double").as("o"))
        .localCheckpoint(eager = false) // feeds margins AND the chi2 fold
      val m = c.groupBy("rf").agg(sum("o").as("rt"))
      val lm = c.groupBy("ls").agg(sum("o").as("ct"))
      val t = c.agg(sum("o").as("n"), countDistinct("rf").as("nr"),
        countDistinct("ls").as("nc"))
      val e = (col("rt") * col("ct")) / col("n")
      val x = c.join(broadcast(m), "rf").join(broadcast(lm), "ls")
        .crossJoin(broadcast(t))
        .agg(Exact.portableSum(((col("o") - e) * (col("o") - e)) / e).as("chi2"),
          max("n").as("n"), max("nr").as("nr"), max("nc").as("nc"))
      x.select(col("n").cast("long").as("n_rows"),
        col("nr").cast("long").as("r_levels"), col("nc").cast("long").as("c_levels"),
        Exact.pinScoreInt(col("chi2")).as("chi2"),
        Exact.pinScoreInt(sqrt(col("chi2") /
          (col("n") * least(col("nr") - 1, col("nc") - 1).cast("double")))).as("cramers_v"))
  }

  /** Tukey-fence outlier audit per group (r12) — the box-plot rule the
    * robust trio (winsorize/MAD/trimmed-mean) still lacked: Q1/Q3 by the
    * registered two-phase discrete-quantile machinery
    * (ops.Quantiles.groupQuantilesDisc — histogram + distinct-value
    * prefix, NO per-group data sort), fences at Q1 ∓/± 1.5·IQR, and the
    * below/above counts folded from the SAME (group, value) histogram —
    * the whole audit never sorts or re-scans data rows. Fence arithmetic
    * is a fixed IEEE order on raw 2-decimal values; counts are integers;
    * the outlier share leaves pinned. */
  val aggIqrOutliers = Q("q_agg_iqr_outliers",
    "per-group Tukey-fence outlier counts + pinned share (two-phase Q1/Q3)")(
    "WITH h AS (SELECT l_returnflag, l_extendedprice AS px, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), " +
      "w AS (SELECT l_returnflag, px, c, " +
      "sum(c) OVER (PARTITION BY l_returnflag ORDER BY px) AS cum, " +
      "sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h), " +
      "q AS (SELECT l_returnflag, max(n) AS n, " +
      "min(CASE WHEN cum >= ceil(0.25 * n) THEN px END) AS q1, " +
      "min(CASE WHEN cum >= ceil(0.75 * n) THEN px END) AS q3 FROM w GROUP BY 1), " +
      "f AS (SELECT l_returnflag, n, q1, q3, " +
      "q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q) " +
      "SELECT f.l_returnflag, CAST(f.n AS BIGINT) AS n_rows, f.q1, f.q3, " +
      "CAST(sum(CASE WHEN h.px < f.lo THEN h.c ELSE 0 END) AS BIGINT) AS n_low, " +
      "CAST(sum(CASE WHEN h.px > f.hi THEN h.c ELSE 0 END) AS BIGINT) AS n_high, " +
      Exact.Sql.pinScoreInt(
        "CAST(sum(CASE WHEN h.px < f.lo OR h.px > f.hi THEN h.c ELSE 0 END) AS DOUBLE) " +
          "/ CAST(f.n AS DOUBLE)") + " AS outlier_share " +
      "FROM h JOIN f ON f.l_returnflag = h.l_returnflag " +
      "GROUP BY f.l_returnflag, f.n, f.q1, f.q3, f.lo, f.hi") {
    (s, d) =>
      // r15 (guide §1.2 step 1): ONE corpus scan — the (group, value,
      // count) histogram already built for the fence fold now also feeds
      // the weighted bucket quantile, instead of a second and third scan
      // inside the row-level quantile call.
      val h = lineitemWide(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("px"))
        .groupBy("l_returnflag", "px").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // feeds Q1/Q3 AND the fence fold
      val iqr = col("q3") - col("q1")
      val fences = graft.ops.Quantiles
        .groupQuantilesDiscW(h, "l_returnflag", "px", "c", Seq(0.25 -> "q1", 0.75 -> "q3"))
        .select(col("l_returnflag"), col("n"), col("q1"), col("q3"),
          (col("q1") - lit(1.5) * iqr).as("lo"), (col("q3") + lit(1.5) * iqr).as("hi"))
      h.join(broadcast(fences), "l_returnflag")
        .groupBy(col("l_returnflag"), col("n"), col("q1"), col("q3"))
        .agg(sum(when(col("px") < col("lo"), col("c")).otherwise(0L)).cast("long")
            .as("n_low"),
          sum(when(col("px") > col("hi"), col("c")).otherwise(0L)).cast("long")
            .as("n_high"),
          Exact.pinScoreInt(
            sum(when(col("px") < col("lo") || col("px") > col("hi"), col("c"))
              .otherwise(0L)).cast("double") / col("n").cast("double"))
            .as("outlier_share"))
        .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          col("q1"), col("q3"), col("n_low"), col("n_high"), col("outlier_share"))
  }

  /** Mann–Whitney U rank-sum test (r12) — the DISTRIBUTION-free sibling
    * of q_agg_welch_ttest (which assumes means matter): does returned
    * stock ('R') price stochastically dominate the rest? Tie-aware via
    * the same scaled-midrank machinery as q_agg_spearman: the value
    * histogram (split by group membership) yields midranks as value
    * functions, U₁ = ΣR₁/2 − n₁(n₁+1)/2 from exact integer sums, and the
    * normal approximation's tie-corrected variance folds Σ(t³−t) over
    * distinct values — every term integer until the final pinned z. No
    * data-row sort at any scale (value-domain prefix only). */
  val aggMannWhitney = Q("q_agg_mannwhitney",
    "tie-aware Mann-Whitney U of price, 'R' vs rest (midranks, pinned z)")(
    "WITH v AS (SELECT l_extendedprice AS px, " +
      "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1), " +
      "r AS (SELECT px, c1, c, 2 * CAST(coalesce(sum(c) OVER (ORDER BY px " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c + 1 AS rr " +
      "FROM v), " +
      "m AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c) AS BIGINT) AS n, " +
      "CAST(sum(CAST(c1 AS HUGEINT) * rr) AS DOUBLE) AS sr1, " +
      "CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS ties FROM r) " +
      "SELECT n1, n - n1 AS n2, " +
      "(sr1 / 2.0) - (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0 AS u1, " +
      "CASE WHEN n1 > 0 AND n1 < n AND n > 1 AND " +
      "(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0) * " +
      "((CAST(n AS DOUBLE) + 1.0) - ties / (CAST(n AS DOUBLE) * " +
      "(CAST(n AS DOUBLE) - 1.0))) > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "((sr1 / 2.0) - (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0 - " +
          "(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)) / 2.0) / " +
          "sqrt((CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0) * " +
          "((CAST(n AS DOUBLE) + 1.0) - ties / (CAST(n AS DOUBLE) * " +
          "(CAST(n AS DOUBLE) - 1.0))))") + " END AS z FROM m") {
    (s, d) =>
      val v = lineitem(s, d)
        .groupBy(col("l_extendedprice").as("px"))
        .agg(sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long").as("c1"),
          count(lit(1)).as("c"))
      val wPre = Window.orderBy("px").rowsBetween(Window.unboundedPreceding, -1)
      val r = v.withColumn("rr",
        lit(2L) * coalesce(sum("c").over(wPre), lit(0L)) + col("c") + 1L)
      val cD = (cc: String) => col(cc).cast("decimal(38,0)")
      val m = r.agg(sum("c1").cast("long").as("n1"), sum("c").cast("long").as("n"),
        sum(cD("c1") * col("rr")).cast("double").as("sr1"),
        sum(cD("c") * col("c") * col("c") - col("c")).cast("double").as("ties"))
      val n1D = col("n1").cast("double"); val nD = col("n").cast("double")
      val n2D = (col("n") - col("n1")).cast("double")
      val u1 = (col("sr1") / 2.0) - (n1D * (n1D + 1.0)) / 2.0
      val varU = (n1D * n2D / 12.0) *
        ((nD + 1.0) - col("ties") / (nD * (nD - 1.0)))
      m.select(col("n1"), (col("n") - col("n1")).as("n2"), u1.as("u1"),
        when(col("n1") > 0 && col("n1") < col("n") && col("n") > 1 && varU > 0,
          Exact.pinScoreInt((u1 - (n1D * n2D) / 2.0) / sqrt(varU))).as("z"))
  }

  /** Benford first-digit audit (r12) — the fabricated-data screen every
    * data-quality suite ships: first significant digit of the
    * exact-integer cents (string head of a BIGINT — no float formatting,
    * no log10, so both engines agree symbol for symbol) against
    * Benford's log₁₀(1+1/d) expectation, with the χ² statistic folded
    * over the 9 digit cells. One hash aggregate; digit-domain everything
    * after. The Benford probabilities are nine double LITERALS written
    * identically into both plans — no engine evaluates a log. */
  val aggBenford = Q("q_agg_benford",
    "first-digit distribution of price cents vs Benford + chi2 (pinned)")({
    val probs = (1 to 9).map(dd => dd -> (math.log10(1.0 + 1.0 / dd)))
    // CAST each literal: DuckDB parses bare 16-digit decimals as DECIMAL,
    // and decimal arithmetic would diverge from the JVM doubles (the
    // q_ewma_vol 0.94 lesson)
    val pCase = probs.map { case (dd, p) => s"WHEN '$dd' THEN CAST($p AS DOUBLE)" }.mkString(" ")
    "WITH c AS (SELECT substr(CAST(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT) " +
      "AS VARCHAR), 1, 1) AS digit, CAST(count(*) AS BIGINT) AS n FROM lineitem " +
      "GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c), " +
      s"e AS (SELECT digit, n, t.tot, CASE digit $pCase END AS p FROM c CROSS JOIN t) " +
      "SELECT digit, n, " +
      Exact.Sql.pinScoreInt("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)") + " AS share, " +
      Exact.Sql.pinScoreInt("p") + " AS benford_p, " +
      Exact.Sql.pinScoreInt(
        "((CAST(n AS DOUBLE) - p * CAST(tot AS DOUBLE)) * " +
          "(CAST(n AS DOUBLE) - p * CAST(tot AS DOUBLE))) / (p * CAST(tot AS DOUBLE))") +
      " AS chi2_term FROM e"
  }) {
    (s, d) =>
      val probs = (1 to 9).map(dd => dd.toString -> (math.log10(1.0 + 1.0 / dd)))
      val pCol = probs.foldLeft(when(lit(false), 0.0)) { case (acc, (dd, p)) =>
        acc.when(col("digit") === dd, lit(p))
      }
      val c = lineitem(s, d)
        .select(substring(round(col("l_extendedprice") * 100.0, 0).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = c.agg(sum("n").as("tot"))
      val nD = col("n").cast("double"); val totD = col("tot").cast("double")
      c.crossJoin(broadcast(t)).withColumn("p", pCol)
        .select(col("digit"), col("n"),
          Exact.pinScoreInt(nD / totD).as("share"),
          Exact.pinScoreInt(col("p")).as("benford_p"),
          Exact.pinScoreInt(((nD - col("p") * totD) * (nD - col("p") * totD)) /
            (col("p") * totD)).as("chi2_term"))
  }

  /** Brown–Forsythe variance-homogeneity test (r12) — the robust Levene
    * variant (deviations from the MEDIAN, not the mean — outlier-proof),
    * the precondition check behind every pooled-variance decision
    * (q_agg_welch_ttest exists precisely because this test usually
    * FAILS): F = [(N−k)/(k−1)]·between/within over z = |x − medianⱼ|.
    * Group medians come from the two-phase histogram (integer
    * cross-multiplied cut 2·cum ≥ n — no sort); z and z² accumulate as
    * exact decimals (median is a RAW data value, so x−median is a single
    * correctly-rounded subtraction whose decimal cast sits ~1e-6 from
    * any scale-4 boundary — the safe side of the §4j line); the
    * between/within folds are portable-grid sums over the k group rows;
    * one fixed-order expression publishes pinned F. */
  val aggBrownForsythe = Q("q_agg_brown_forsythe",
    "Brown-Forsythe variance-homogeneity F across return flags (pinned)")(
    "WITH h AS (SELECT l_returnflag AS g, l_extendedprice AS v, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), " +
      "w AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum, " +
      "sum(c) OVER (PARTITION BY g) AS n FROM h), " +
      "med AS (SELECT g, min(CASE WHEN 2 * cum >= n THEN v END) AS med FROM w GROUP BY 1), " +
      "z AS (SELECT l.l_returnflag AS g, abs(l.l_extendedprice - m.med) AS z " +
      "FROM lineitem l JOIN med m ON m.g = l.l_returnflag), " +
      "mo AS (SELECT g, CAST(count(*) AS BIGINT) AS n, " +
      "SUM(CAST(z AS DECIMAL(38,8))) AS sd, " +
      "SUM(CAST((z * z) AS DECIMAL(38,4))) AS qd FROM z GROUP BY 1), " +
      "tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k, " +
      "CAST(SUM(sd) AS DOUBLE) AS s FROM mo), " +
      // each addend is pre-scaled by 1/N: the raw sums of squares sit far
      // past the 2⁻³⁰ grid's int64 domain (|addend| < 2³³), while the
      // per-row-mean forms are scale-stable (~mean-square magnitude at
      // ANY corpus size) and F is a ratio, so the 1/N cancels
      "f AS (SELECT max(tt.nn) AS nn, max(tt.k) AS k, " +
      Exact.Sql.portableSum(
        "(CAST(mo.n AS DOUBLE) / CAST(tt.nn AS DOUBLE)) * " +
          "((CAST(mo.sd AS DOUBLE) / CAST(mo.n AS DOUBLE) - tt.s / CAST(tt.nn AS DOUBLE)) * " +
          "(CAST(mo.sd AS DOUBLE) / CAST(mo.n AS DOUBLE) - tt.s / CAST(tt.nn AS DOUBLE)))") +
      " AS between_ss, " +
      Exact.Sql.portableSum(
        "(CAST(mo.qd AS DOUBLE) - " +
          "(CAST(mo.sd AS DOUBLE) * CAST(mo.sd AS DOUBLE)) / CAST(mo.n AS DOUBLE)) / " +
          "CAST(tt.nn AS DOUBLE)") +
      " AS within_ss FROM mo CROSS JOIN tt) " +
      // the raw sums of squares exceed the 2⁻³⁰ grid's int64 domain
      // (|score| < 2³³); only the scale-free F ratio publishes pinned
      "SELECT nn AS n_rows, k AS k_groups, " +
      "CASE WHEN within_ss > 0 AND k > 1 THEN " +
      Exact.Sql.pinScoreInt(
        "((CAST(nn - k AS DOUBLE)) / (CAST(k - 1 AS DOUBLE))) * " +
          "(between_ss / within_ss)") + " END AS f_stat FROM f") {
    (s, d) =>
      val h = lineitemWide(s, d)
        .groupBy(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
      val wg = Window.partitionBy("g")
      val med = h
        .withColumn("cum", sum("c").over(wg.orderBy("v")))
        .withColumn("n", sum("c").over(wg))
        .groupBy("g")
        .agg(min(when(lit(2L) * col("cum") >= col("n"), col("v"))).as("med"))
      val z = lineitemWide(s, d)
        .join(broadcast(med), col("l_returnflag") === col("g"))
        .select(col("g"), abs(col("l_extendedprice") - col("med")).as("z"))
      val mo = z.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("z").cast("decimal(38,8)")).as("sd"),
        sum((col("z") * col("z")).cast("decimal(38,4)")).as("qd"))
        .localCheckpoint(eager = false) // totals AND the F folds read it
      val tt = mo.agg(sum("n").cast("long").as("nn"), count(lit(1)).as("k"),
        sum("sd").cast("double").as("s"))
      val mj = col("sd").cast("double") / col("n").cast("double")
      val m = col("s") / col("nn").cast("double")
      val f = mo.crossJoin(broadcast(tt))
        .agg(max("nn").as("nn"), max("k").as("k"),
          Exact.portableSum((col("n").cast("double") / col("nn").cast("double")) *
            ((mj - m) * (mj - m))).as("between_ss"),
          Exact.portableSum((col("qd").cast("double") -
            (col("sd").cast("double") * col("sd").cast("double")) /
              col("n").cast("double")) / col("nn").cast("double")).as("within_ss"))
      f.select(col("nn").as("n_rows"), col("k").cast("long").as("k_groups"),
        when(col("within_ss") > 0 && col("k") > 1,
          Exact.pinScoreInt(
            ((col("nn") - col("k")).cast("double") / (col("k") - 1).cast("double")) *
              (col("between_ss") / col("within_ss")))).as("f_stat"))
  }

  /** Kruskal–Wallis H (r12) — the k-group extension of q_agg_mannwhitney's
    * rank test and the distribution-free sibling of q_agg_brown_forsythe:
    * does the PRICE DISTRIBUTION differ across the three returnflag
    * populations, judged on ranks (no normality assumption, robust to the
    * heavy price tail)? Same value-histogram midrank layout as
    * Mann–Whitney — per distinct price, per-group counts; rr = 2·midrank
    * stays integer; per-group rank sums Σ c_g·rr are exact HUGEINT — then,
    * because the group domain is the FIXED three-flag set, the groups
    * pivot into one row and H is ONE fixed-order IEEE expression over
    * exact integer moments (no grid fold, no error amplification — the
    * general-k form would use q_agg_brown_forsythe's prescaled
    * portableSum fold instead). Tie correction 1 − Σ(t³−t)/(N³−N) from
    * the same histogram. Cost: one (value) hash aggregate + a
    * value-domain window — no data-row sort at any corpus size.
    */
  val aggKruskal = Q("q_agg_kruskal",
    "Kruskal-Wallis H of price across returnflag groups (midranks, pinned)")({
    def termSql(g: String) =
      s"((sr_$g / 2.0) * (sr_$g / 2.0)) / CAST(n_$g AS DOUBLE)"
    "WITH v AS (SELECT l_extendedprice AS px, " +
      "CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn, " +
      "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1), " +
      "r AS (SELECT ca, cn, cr, c, 2 * CAST(coalesce(sum(c) OVER (ORDER BY px " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c + 1 AS rr " +
      "FROM v), " +
      "m AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cn) AS BIGINT) AS n_n, " +
      "CAST(sum(cr) AS BIGINT) AS n_r, CAST(sum(c) AS BIGINT) AS n, " +
      "CAST(sum(CAST(ca AS HUGEINT) * rr) AS DOUBLE) AS sr_a, " +
      "CAST(sum(CAST(cn AS HUGEINT) * rr) AS DOUBLE) AS sr_n, " +
      "CAST(sum(CAST(cr AS HUGEINT) * rr) AS DOUBLE) AS sr_r, " +
      "CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS ties FROM r), " +
      "h AS (SELECT n_a, n_n, n_r, n, ties, " +
      "(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))) * " +
      s"((${termSql("a")}) + (${termSql("n")}) + (${termSql("r")})) - " +
      "3.0 * (CAST(n AS DOUBLE) + 1.0) AS hstat, " +
      "1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(n AS DOUBLE)) AS tc FROM m WHERE n_a > 0 AND n_n > 0 AND n_r > 0) " +
      "SELECT n_a, n_n, n_r, n, " +
      Exact.Sql.pinScoreInt("hstat") + " AS h, " +
      "CASE WHEN tc > 0 THEN " + Exact.Sql.pinScoreInt("hstat / tc") +
      " END AS h_tie FROM h"
  }) {
    (s, d) =>
      val v = lineitem(s, d)
        .groupBy(col("l_extendedprice").as("px"))
        .agg(sum(when(col("l_returnflag") === "A", 1).otherwise(0)).cast("long").as("ca"),
          sum(when(col("l_returnflag") === "N", 1).otherwise(0)).cast("long").as("cn"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long").as("cr"),
          count(lit(1)).as("c"))
      val wPre = Window.orderBy("px").rowsBetween(Window.unboundedPreceding, -1)
      val r = v.withColumn("rr",
        lit(2L) * coalesce(sum("c").over(wPre), lit(0L)) + col("c") + 1L)
      val cD = (cc: String) => col(cc).cast("decimal(38,0)")
      val m = r.agg(
        sum("ca").cast("long").as("n_a"), sum("cn").cast("long").as("n_n"),
        sum("cr").cast("long").as("n_r"), sum("c").cast("long").as("n"),
        sum(cD("ca") * col("rr")).cast("double").as("sr_a"),
        sum(cD("cn") * col("rr")).cast("double").as("sr_n"),
        sum(cD("cr") * col("rr")).cast("double").as("sr_r"),
        sum(cD("c") * col("c") * col("c") - col("c")).cast("double").as("ties"))
      val nD = col("n").cast("double")
      def term(g: String) =
        ((col(s"sr_$g") / 2.0) * (col(s"sr_$g") / 2.0)) / col(s"n_$g").cast("double")
      val hstat = (lit(12.0) / (nD * (nD + 1.0))) *
        (term("a") + term("n") + term("r")) - lit(3.0) * (nD + 1.0)
      val tc = lit(1.0) - col("ties") / (nD * nD * nD - nD)
      m.filter(col("n_a") > 0 && col("n_n") > 0 && col("n_r") > 0)
        .select(col("n_a"), col("n_n"), col("n_r"), col("n"),
          Exact.pinScoreInt(hstat).as("h"),
          when(tc > 0, Exact.pinScoreInt(hstat / tc)).as("h_tie"))
  }

  /** Kendall τ-b (r12) — rank correlation of (quantity, discount) counted
    * on the JOINT VALUE HISTOGRAM, never on row pairs: both margins have
    * small fixed domains (TPC-H quantity 1..50, discount 0.00..0.10), so
    * the (qty, disc) contingency frame is ≤ ~550 cells at ANY corpus
    * size, and concordant/discordant pair counts are an ordered
    * cell×cell join (strict < on both margins counts every unordered
    * concordant pair exactly once) — grid-sized work after one hash
    * aggregate, where the naive definition is O(rows²). All counts stay
    * exact DECIMAL(38,0) (pair counts overflow int64 beyond ~4e9 rows);
    * τ-b's tie-corrected denominator √((n0−T_x)(n0−T_y)) is one
    * fixed-order IEEE expression over those exact integers, pinned.
    * Complements q_agg_spearman (midrank Pearson) with the
    * pair-inversion view of the same ordinal association.
    */
  val aggKendall = Q("q_agg_kendall",
    "Kendall tau-b of (quantity, discount) via the joint value histogram")(
    "WITH cell AS (SELECT l_quantity AS x, l_discount AS y, " +
      "CAST(count(*) AS BIGINT) AS nc FROM lineitem GROUP BY 1, 2), " +
      "cd AS (SELECT " +
      "sum(CASE WHEN b.x > a.x AND b.y > a.y THEN CAST(a.nc AS HUGEINT) * b.nc END) AS conc, " +
      "sum(CASE WHEN b.x > a.x AND b.y < a.y THEN CAST(a.nc AS HUGEINT) * b.nc END) AS disc " +
      "FROM cell a CROSS JOIN cell b), " +
      "mx AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1) / 2) AS tx FROM " +
      "(SELECT x, CAST(sum(nc) AS BIGINT) AS n FROM cell GROUP BY 1) hx), " +
      "my AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1) / 2) AS ty FROM " +
      "(SELECT y, CAST(sum(nc) AS BIGINT) AS n FROM cell GROUP BY 1) hy), " +
      "t AS (SELECT CAST(sum(nc) AS BIGINT) AS n, " +
      "sum(CAST(nc AS HUGEINT)) * (sum(CAST(nc AS HUGEINT)) - 1) / 2 AS n0 FROM cell) " +
      "SELECT t.n, CAST(cd.conc AS DOUBLE) AS conc, CAST(cd.disc AS DOUBLE) AS disc, " +
      "CASE WHEN CAST(t.n0 - mx.tx AS DOUBLE) * CAST(t.n0 - my.ty AS DOUBLE) > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "(CAST(cd.conc AS DOUBLE) - CAST(cd.disc AS DOUBLE)) / " +
          "sqrt(CAST(t.n0 - mx.tx AS DOUBLE) * CAST(t.n0 - my.ty AS DOUBLE))") +
      " END AS tau_b FROM cd CROSS JOIN mx CROSS JOIN my CROSS JOIN t") {
    (s, d) =>
      val cell = lineitem(s, d)
        .groupBy(col("l_quantity").as("x"), col("l_discount").as("y"))
        .agg(count(lit(1)).as("nc"))
        .localCheckpoint() // cell×cell join + both margins + the total read it
      val a = cell.select(col("x").as("ax"), col("y").as("ay"),
        col("nc").cast("decimal(38,0)").as("anc"))
      val b = cell.select(col("x").as("bx"), col("y").as("by"), col("nc").as("bnc"))
      val cd = a.crossJoin(broadcast(b)).agg(
        sum(when(col("bx") > col("ax") && col("by") > col("ay"),
          col("anc") * col("bnc"))).as("conc"),
        sum(when(col("bx") > col("ax") && col("by") < col("ay"),
          col("anc") * col("bnc"))).as("disc"))
      def tieSum(k: String, out: String) = cell.groupBy(k)
        .agg(sum("nc").cast("decimal(38,0)").as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2).as(out))
      val mx = tieSum("x", "tx"); val my = tieSum("y", "ty")
      val t = cell.agg(sum("nc").cast("long").as("n"),
        (sum(col("nc").cast("decimal(38,0)")) *
          (sum(col("nc").cast("decimal(38,0)")) - 1) / 2).as("n0"))
      val den = (col("n0") - col("tx")).cast("double") *
        (col("n0") - col("ty")).cast("double")
      cd.crossJoin(broadcast(mx)).crossJoin(broadcast(my)).crossJoin(broadcast(t))
        .select(col("n"), col("conc").cast("double").as("conc"),
          col("disc").cast("double").as("disc"),
          when(den > 0, Exact.pinScoreInt(
            (col("conc").cast("double") - col("disc").cast("double")) / sqrt(den)))
            .as("tau_b"))
  }

  /** Per-group geometric mean (r12), published as its LOG (the
    * multiplicative-domain average for prices/ratios, where the
    * arithmetic mean over-weights spikes): ln GM = Σ (c/n)·ln v over the
    * per-group VALUE histogram — portable ln per distinct value (the
    * value domain is bounded, so pln cost is independent of row count),
    * each addend prescaled by 1/n so the portable-grid fold stays in
    * domain at any corpus size (the q_agg_brown_forsythe convention),
    * pinned. Published as log_gmean (GM = exp(cell/2³⁰)) — there is no
    * portable exp, and the log form is the engine-exact one (the
    * q_event_survival_km convention). Non-positive values are excluded
    * with a published count (GM is undefined there), never silently.
    */
  val aggGmean = Q("q_agg_gmean",
    "per-returnflag log geometric mean of price (value-histogram pln, pinned)")(
    "WITH v AS (SELECT l_returnflag AS flag, l_extendedprice AS px, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem WHERE l_extendedprice > 0 " +
      "GROUP BY 1, 2), " +
      "t AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n FROM v GROUP BY 1), " +
      "px AS (SELECT v.flag, v.c, t.n, v.px AS _lnx FROM v JOIN t ON t.flag = v.flag), " +
      graft.util.Portable.plnSqlCtes("px", "pl") + ", " +
      "g AS (SELECT flag, max(n) AS n, " +
      Exact.Sql.portableSum(
        "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * _pln") + " AS lg FROM pl GROUP BY 1), " +
      "z AS (SELECT CAST(count(*) AS BIGINT) AS n_nonpos FROM lineitem " +
      "WHERE l_extendedprice <= 0) " +
      "SELECT g.flag AS l_returnflag, CAST(g.n AS BIGINT) AS n, " +
      Exact.Sql.pinScoreInt("g.lg") + " AS log_gmean, z.n_nonpos " +
      "FROM g CROSS JOIN z") {
    (s, d) =>
      val li = lineitem(s, d)
      val v = li.filter(col("l_extendedprice") > 0)
        .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("px"))
        .agg(count(lit(1)).as("c"))
      val t = v.groupBy("flag").agg(sum("c").cast("long").as("n"))
      val px = v.join(t, "flag")
      val pl = graft.util.Portable.pln(px, col("px"), "lnv")
      val g = pl.groupBy("flag").agg(max("n").as("n"),
        Exact.portableSum(
          (col("c").cast("double") / col("n").cast("double")) * col("lnv")).as("lg"))
      val z = li.filter(col("l_extendedprice") <= 0)
        .agg(count(lit(1)).as("n_nonpos"))
      g.crossJoin(broadcast(z))
        .select(col("flag").as("l_returnflag"), col("n").cast("long").as("n"),
          Exact.pinScoreInt(col("lg")).as("log_gmean"), col("n_nonpos"))
  }

  /** Hodges–Lehmann pseudo-median (r12) — the median of all pairwise
    * Walsh averages (xᵢ+xⱼ)/2 (i ≤ j), the robust location estimator
    * under the Wilcoxon signed-rank test (30% breakdown, ~96% Gaussian
    * efficiency — beats the median's 64%). The naive form is O(rows²);
    * here the pair enumeration lives on the VALUE-HISTOGRAM cross join —
    * quantity's domain is ≤ ~50 distinct values at any corpus size, so
    * ≤ ~1275 Walsh rows per group with exact DECIMAL pair WEIGHTS
    * (c_i·c_j off-diagonal, c·(c+1)/2 on it), and the weighted lower
    * median picks the answer by the integer cross-multiply rule
    * (2·cumw ≥ W) — no data-row sort, no doubles compared against
    * accumulating sums. Walsh values are exact dyadic halves of raw
    * values, published as-is (a SELECTED value, the order-statistic
    * contract of q_win_donchian). */
  val aggHodgesLehmann = Q("q_agg_hodges_lehmann",
    "Hodges-Lehmann pseudo-median of quantity per returnflag (pair histogram)")(
    "WITH v AS (SELECT l_returnflag AS flag, l_quantity AS q, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), " +
      "w AS (SELECT a.flag, (a.q + b.q) / 2.0 AS walsh, " +
      "CASE WHEN a.q = b.q THEN CAST(a.c AS HUGEINT) * (a.c + 1) / 2 " +
      "ELSE CAST(a.c AS HUGEINT) * b.c END AS wt " +
      "FROM v a JOIN v b ON b.flag = a.flag AND b.q >= a.q), " +
      "t AS (SELECT flag, sum(wt) AS tw FROM w GROUP BY 1), " +
      "cw AS (SELECT w.flag, w.walsh, t.tw, " +
      "sum(w.wt) OVER (PARTITION BY w.flag ORDER BY w.walsh " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
      "FROM w JOIN t ON t.flag = w.flag) " +
      "SELECT flag AS l_returnflag, min(walsh) AS hl FROM cw " +
      "WHERE 2 * cum >= tw GROUP BY 1") {
    (s, d) =>
      val v = lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // both sides of the pair join
      val a = v.select(col("flag"), col("q").as("aq"), col("c").cast("decimal(38,0)").as("ac"))
      val b = v.select(col("flag").as("bflag"), col("q").as("bq"), col("c").as("bc"))
      val w = a.join(broadcast(b), col("bflag") === col("flag") && col("bq") >= col("aq"))
        .select(col("flag"), ((col("aq") + col("bq")) / 2.0).as("walsh"),
          when(col("aq") === col("bq"), col("ac") * (col("ac") + 1) / 2)
            .otherwise(col("ac") * col("bc")).as("wt"))
      val t = w.groupBy("flag").agg(sum("wt").as("tw"))
      val wc = Window.partitionBy("flag").orderBy("walsh")
        .rowsBetween(Window.unboundedPreceding, 0)
      w.join(broadcast(t), "flag")
        .withColumn("cum", sum("wt").over(wc))
        .filter(col("cum") * 2 >= col("tw"))
        .groupBy(col("flag").as("l_returnflag"))
        .agg(min("walsh").as("hl"))
  }

  /** Mood's median test (r12) — the coarsest, most assumption-free of the
    * k-group location tests (beside ANOVA-F on means/Brown–Forsythe on
    * spreads/Kruskal–Wallis on ranks): classify every row as above vs ≤
    * the GLOBAL median, then χ² on the 2×k contingency of (side × flag).
    * The global median comes from the value histogram by the integer
    * cross-multiply rule (2·cum ≥ N, lower median — no data sort); the
    * per-group χ² terms fold through the portable grid (the
    * group-count-agnostic q_agg_brown_forsythe layout — k is 3 here but
    * the fold never assumes it). Expected counts are exact-integer
    * ratios evaluated in one written order; χ² pinned, df = k−1.
    */
  val aggMedianTest = Q("q_agg_median_test",
    "Mood's median test of price across returnflag groups (chi2, pinned)")({
    val ea = "(CAST(n_g AS DOUBLE) * CAST(a_tot AS DOUBLE) / CAST(nn AS DOUBLE))"
    val eb = "(CAST(n_g AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(a_tot AS DOUBLE)) / " +
      "CAST(nn AS DOUBLE))"
    // zero-expected-cell guard (ADVICE r12): ea > 0 ⟺ a_tot > 0 and
    // eb > 0 ⟺ a_tot < nn (n_g, nn are always positive), so the guard is
    // an exact-integer predicate — identical on both engines. A corpus
    // where no row clears (or every row clears) the global lower median
    // contributes 0 per the standard skip-zero-expected-cells convention,
    // instead of 0/0 NaN entering the portable fold (where DuckDB errors
    // on CAST(floor(NaN·2³⁰) AS BIGINT) while Spark silently coerces).
    val term = "(CASE WHEN a_tot > 0 AND a_tot < nn THEN " +
      s"(((CAST(a_g AS DOUBLE) - $ea) * (CAST(a_g AS DOUBLE) - $ea)) / $ea) + " +
      s"(((CAST(n_g - a_g AS DOUBLE) - $eb) * (CAST(n_g - a_g AS DOUBLE) - $eb)) / $eb) " +
      "ELSE CAST(0 AS DOUBLE) END)"
    "WITH v AS (SELECT l_extendedprice AS px, CAST(count(*) AS BIGINT) AS c " +
      "FROM lineitem GROUP BY 1), " +
      "cw AS (SELECT px, CAST(sum(c) OVER (ORDER BY px " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
      "CAST(sum(c) OVER () AS BIGINT) AS n FROM v), " +
      "med AS (SELECT min(px) AS med, max(n) AS nn FROM cw WHERE 2 * cum >= n), " +
      "g AS (SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n_g, " +
      "CAST(sum(CASE WHEN l_extendedprice > m.med THEN 1 ELSE 0 END) AS BIGINT) AS a_g " +
      "FROM lineitem CROSS JOIN med m GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(a_g) AS BIGINT) AS a_tot, " +
      "CAST(count(*) AS BIGINT) AS k FROM g), " +
      "f AS (SELECT max(t.nn) AS nn, max(t.a_tot) AS a_tot, max(t.k) AS k, " +
      graft.util.Exact.Sql.portableSum(term) + " AS chi2 " +
      "FROM g CROSS JOIN t) " +
      "SELECT (SELECT med FROM med) AS median_px, nn AS n, a_tot AS n_above, " +
      "k - 1 AS df, " + graft.util.Exact.Sql.pinScoreInt("chi2") + " AS chi2 FROM f"
  }) {
    (s, d) =>
      val li = lineitem(s, d)
      val v = li.groupBy(col("l_extendedprice").as("px")).agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy("px").rowsBetween(Window.unboundedPreceding, 0)
      val cw = v.select(col("px"),
        sum("c").over(wCum).cast("long").as("cum"),
        sum("c").over(Window.partitionBy()).cast("long").as("n"))
      val med = cw.filter(col("cum") * 2 >= col("n"))
        .agg(min("px").as("med"), max("n").as("nn"))
      val g = li.crossJoin(broadcast(med))
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("l_extendedprice") > col("med"), 1).otherwise(0))
            .cast("long").as("a_g"))
      val t = g.agg(sum("n_g").cast("long").as("nn"),
        sum("a_g").cast("long").as("a_tot"), count(lit(1)).as("k"))
      val nnD = col("nn").cast("double"); val atD = col("a_tot").cast("double")
      val ea = col("n_g").cast("double") * atD / nnD
      val eb = col("n_g").cast("double") * (nnD - atD) / nnD
      val aD = col("a_g").cast("double")
      val bD = (col("n_g") - col("a_g")).cast("double")
      // same exact-integer zero-expected-cell guard as the oracle above
      val term = when(col("a_tot") > 0 && col("a_tot") < col("nn"),
        (((aD - ea) * (aD - ea)) / ea) + (((bD - eb) * (bD - eb)) / eb))
        .otherwise(lit(0.0))
      val f = g.crossJoin(broadcast(t))
        .agg(max("nn").as("nn"), max("a_tot").as("a_tot"), max("k").as("k"),
          graft.util.Exact.portableSum(term).as("chi2"))
      f.crossJoin(broadcast(med.select(col("med"))))
        .select(col("med").as("median_px"), col("nn").as("n"),
          col("a_tot").as("n_above"), (col("k") - 1).cast("long").as("df"),
          graft.util.Exact.pinScoreInt(col("chi2")).as("chi2"))
  }

  /** Bowley quartile skewness (r12) — (Q₁ + Q₃ − 2·Q₂)/(Q₃ − Q₁), the
    * ROBUST asymmetry gauge beside q_agg_skew_kurt's third moment (one
    * 10⁹× price spike saturates the moment; Bowley never leaves [−1, 1]):
    * all three quartiles come from the per-group value histogram by the
    * integer cross-multiply rule (4·cum ≥ n / 2·cum ≥ n / 4·cum ≥ 3·n —
    * lower quantiles, no data sort), the statistic is one fixed-order
    * IEEE expression over SELECTED values, pinned; NULL when the IQR is
    * 0 (degenerate spread). One histogram aggregate + a value-domain
    * window per group. */
  val aggBowleySkew = Q("q_agg_bowley_skew",
    "Bowley quartile skewness of price per returnflag (histogram quartiles, pinned)")(
    "WITH v AS (SELECT l_returnflag AS flag, l_extendedprice AS px, " +
      "CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2), " +
      "cw AS (SELECT flag, px, CAST(sum(c) OVER (PARTITION BY flag ORDER BY px " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
      "CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS n FROM v), " +
      "qq AS (SELECT flag, max(n) AS n, " +
      "min(CASE WHEN 4 * cum >= n THEN px END) AS q1, " +
      "min(CASE WHEN 2 * cum >= n THEN px END) AS q2, " +
      "min(CASE WHEN 4 * cum >= 3 * n THEN px END) AS q3 FROM cw GROUP BY 1) " +
      "SELECT flag AS l_returnflag, n, q1, q2, q3, " +
      "CASE WHEN q3 > q1 THEN " +
      Exact.Sql.pinScoreInt("((q1 + q3) - 2.0 * q2) / (q3 - q1)") +
      " END AS bowley FROM qq") {
    (s, d) =>
      val v = lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"), col("l_extendedprice").as("px"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("flag").orderBy("px")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cw = v.select(col("flag"), col("px"),
        sum("c").over(wCum).cast("long").as("cum"),
        sum("c").over(Window.partitionBy("flag")).cast("long").as("n"))
      val qq = cw.groupBy("flag").agg(max("n").as("n"),
        min(when(col("cum") * 4 >= col("n"), col("px"))).as("q1"),
        min(when(col("cum") * 2 >= col("n"), col("px"))).as("q2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("px"))).as("q3"))
      qq.select(col("flag").as("l_returnflag"), col("n"),
        col("q1"), col("q2"), col("q3"),
        when(col("q3") > col("q1"), Exact.pinScoreInt(
          ((col("q1") + col("q3")) - lit(2.0) * col("q2")) / (col("q3") - col("q1"))))
          .as("bowley"))
  }

  /** Covariance matrix, long form (r12) — the multivariate moment
    * primitive under PCA/whitening/beta: pairwise sample covariance of
    * the four numeric lineitem measures, published as one row per
    * ordered pair (i ≤ j) with both means and the covariance. All
    * second moments are EXACT decimal sums computed in ONE hash
    * aggregate over the corpus (10 products + 4 sums + 1 count — a
    * single map-side-combined pass, the 100 TB shape); each published
    * statistic is a fixed-order IEEE expression over those exact
    * moments, pinned. The pair frame is built from a 10-row literal
    * spine crossed with the 1-row moment frame — columns-squared cost,
    * zero extra corpus scans. */
  val aggCovMatrix = Q("q_agg_cov_matrix",
    "pairwise covariance matrix of (quantity, price, discount, tax), long form")({
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val sums = cols.map(c => s"CAST(SUM(CAST($c AS DECIMAL(38,8))) AS DOUBLE) AS s_$c")
    val prods = for (i <- cols.indices; j <- i until cols.length) yield
      s"CAST(SUM(CAST(${cols(i)} * ${cols(j)} AS DECIMAL(38,4))) AS DOUBLE) " +
        s"AS q_${cols(i)}_${cols(j)}"
    val pairRows = (for (i <- cols.indices; j <- i until cols.length) yield
      s"SELECT '${cols(i)}' AS ci, '${cols(j)}' AS cj, " +
        s"s_${cols(i)} AS si, s_${cols(j)} AS sj, " +
        s"q_${cols(i)}_${cols(j)} AS qij, n FROM m").mkString(" UNION ALL ")
    "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      (sums ++ prods).mkString(", ") + " FROM lineitem), " +
      s"p AS ($pairRows) " +
      "SELECT ci, cj, n, " +
      graft.util.Exact.Sql.pinScoreInt("si / CAST(n AS DOUBLE)") + " AS mean_i, " +
      graft.util.Exact.Sql.pinScoreInt("sj / CAST(n AS DOUBLE)") + " AS mean_j, " +
      "CASE WHEN n > 1 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "(qij - (si * sj) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)") +
      " END AS cov FROM p"
  }) {
    (s, d) =>
      val cols4 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val sums = cols4.map(c =>
        sum(col(c).cast("decimal(38,8)")).cast("double").as(s"s_$c"))
      val prods = for (i <- cols4.indices; j <- i until cols4.length) yield
        sum((col(cols4(i)) * col(cols4(j))).cast("decimal(38,4)")).cast("double")
          .as(s"q_${cols4(i)}_${cols4(j)}")
      val m = lineitemWide(s, d)
        .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        .localCheckpoint(eager = false) // the 10-row pair spine reads it
      val pairs = (for (i <- cols4.indices; j <- i until cols4.length) yield
        m.select(lit(cols4(i)).as("ci"), lit(cols4(j)).as("cj"),
          col(s"s_${cols4(i)}").as("si"), col(s"s_${cols4(j)}").as("sj"),
          col(s"q_${cols4(i)}_${cols4(j)}").as("qij"), col("n")))
        .reduceLeft(_ unionAll _)
      val nD = col("n").cast("double")
      pairs.select(col("ci"), col("cj"), col("n"),
        graft.util.Exact.pinScoreInt(col("si") / nD).as("mean_i"),
        graft.util.Exact.pinScoreInt(col("sj") / nD).as("mean_j"),
        when(col("n") > 1, graft.util.Exact.pinScoreInt(
          (col("qij") - (col("si") * col("sj")) / nD) / (nD - 1.0))).as("cov"))
  }

  /** Correlation matrix, long form (r12) — q_agg_cov_matrix's moments
    * normalized to Pearson r: the SAME one-pass exact decimal moments
    * (now including all four diagonal products), each off-diagonal cell
    * published as cov/(σᵢ·σⱼ) in one fixed-order IEEE expression,
    * pinned; NULL when either margin is constant (the q_agg_corr
    * division-guard contract). Diagonal cells publish exactly 1 only
    * through the same formula (r = vᵢ/vᵢ) — no special-casing, so a
    * degenerate column surfaces as NULL on its own diagonal too. */
  val aggCorrMatrix = Q("q_agg_corr_matrix",
    "pairwise Pearson correlation matrix of the four measures, long form")({
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val sums = cols.map(c => s"CAST(SUM(CAST($c AS DECIMAL(38,8))) AS DOUBLE) AS s_$c")
    val prods = for (i <- cols.indices; j <- i until cols.length) yield
      s"CAST(SUM(CAST(${cols(i)} * ${cols(j)} AS DECIMAL(38,4))) AS DOUBLE) " +
        s"AS q_${cols(i)}_${cols(j)}"
    val pairRows = (for (i <- cols.indices; j <- i until cols.length) yield
      s"SELECT '${cols(i)}' AS ci, '${cols(j)}' AS cj, " +
        s"s_${cols(i)} AS si, s_${cols(j)} AS sj, " +
        s"q_${cols(i)}_${cols(j)} AS qij, " +
        s"q_${cols(i)}_${cols(i)} AS qii, q_${cols(j)}_${cols(j)} AS qjj, " +
        "n FROM m").mkString(" UNION ALL ")
    "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      (sums ++ prods).mkString(", ") + " FROM lineitem), " +
      s"p AS ($pairRows) " +
      "SELECT ci, cj, n, " +
      "CASE WHEN (qii - (si * si) / CAST(n AS DOUBLE)) > 0 AND " +
      "(qjj - (sj * sj) / CAST(n AS DOUBLE)) > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "(qij - (si * sj) / CAST(n AS DOUBLE)) / " +
          "(sqrt(qii - (si * si) / CAST(n AS DOUBLE)) * " +
          "sqrt(qjj - (sj * sj) / CAST(n AS DOUBLE)))") +
      " END AS corr FROM p"
  }) {
    (s, d) =>
      val cols4 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val sums = cols4.map(c =>
        sum(col(c).cast("decimal(38,8)")).cast("double").as(s"s_$c"))
      val prods = for (i <- cols4.indices; j <- i until cols4.length) yield
        sum((col(cols4(i)) * col(cols4(j))).cast("decimal(38,4)")).cast("double")
          .as(s"q_${cols4(i)}_${cols4(j)}")
      val m = lineitemWide(s, d)
        .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        .localCheckpoint(eager = false) // the 10-row pair spine reads it
      val pairs = (for (i <- cols4.indices; j <- i until cols4.length) yield
        m.select(lit(cols4(i)).as("ci"), lit(cols4(j)).as("cj"),
          col(s"s_${cols4(i)}").as("si"), col(s"s_${cols4(j)}").as("sj"),
          col(s"q_${cols4(i)}_${cols4(j)}").as("qij"),
          col(s"q_${cols4(i)}_${cols4(i)}").as("qii"),
          col(s"q_${cols4(j)}_${cols4(j)}").as("qjj"), col("n")))
        .reduceLeft(_ unionAll _)
      val nD = col("n").cast("double")
      val vi = col("qii") - (col("si") * col("si")) / nD
      val vj = col("qjj") - (col("sj") * col("sj")) / nD
      pairs.select(col("ci"), col("cj"), col("n"),
        when(vi > 0 && vj > 0, graft.util.Exact.pinScoreInt(
          (col("qij") - (col("si") * col("sj")) / nD) / (sqrt(vi) * sqrt(vj))))
          .as("corr"))
  }

  /** Partial correlation (r12) — the confounder-controlled association:
    * for every ordered triple (x, y | z) of the four measures,
    * r_xy·z = (r_xy − r_xz·r_zy) / √((1 − r_xz²)(1 − r_zy²)) — does the
    * x↔y relationship survive once z is held fixed? Built from the SAME
    * one-pass exact moments as q_agg_cov_matrix / q_agg_corr_matrix (no
    * additional corpus scan; the triple spine is 12 literal rows × the
    * 1-row moment frame). Every r is the same fixed-order expression as
    * the corr matrix; the partial is one more fixed-order IEEE step,
    * pinned; NULL when any margin is constant or either conditioning
    * correlation is ±1 (the denominator vanishes). */
  val aggPartialCorr = Q("q_agg_partial_corr",
    "partial correlation r_xy.z for every measure triple, from one-pass moments")({
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val sums = cols.map(c => s"CAST(SUM(CAST($c AS DECIMAL(38,8))) AS DOUBLE) AS s_$c")
    val prods = for (i <- cols.indices; j <- i until cols.length) yield
      s"CAST(SUM(CAST(${cols(i)} * ${cols(j)} AS DECIMAL(38,4))) AS DOUBLE) " +
        s"AS q_${cols(i)}_${cols(j)}"
    def qn(i: Int, j: Int) =
      if (i <= j) s"q_${cols(i)}_${cols(j)}" else s"q_${cols(j)}_${cols(i)}"
    // r(i,j) as a SQL fragment over the moment row
    def rS(i: Int, j: Int) =
      s"((${qn(i, j)} - (s_${cols(i)} * s_${cols(j)}) / CAST(n AS DOUBLE)) / " +
        s"(sqrt(${qn(i, i)} - (s_${cols(i)} * s_${cols(i)}) / CAST(n AS DOUBLE)) * " +
        s"sqrt(${qn(j, j)} - (s_${cols(j)} * s_${cols(j)}) / CAST(n AS DOUBLE))))"
    val triples = for {
      i <- cols.indices; j <- cols.indices if i < j
      k <- cols.indices if k != i && k != j
    } yield (i, j, k)
    val rows = triples.map { case (i, j, k) =>
      val (rxy, rxz, rzy) = (rS(i, j), rS(i, k), rS(k, j))
      s"SELECT '${cols(i)}' AS cx, '${cols(j)}' AS cy, '${cols(k)}' AS cz, n, " +
        s"CASE WHEN (1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy) > 0 THEN " +
        graft.util.Exact.Sql.pinScoreInt(
          s"($rxy - $rxz * $rzy) / sqrt((1.0 - $rxz * $rxz) * (1.0 - $rzy * $rzy))") +
        " END AS partial_r FROM m"
    }.mkString(" UNION ALL ")
    "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      (sums ++ prods).mkString(", ") + " FROM lineitem) " + rows
  }) {
    (s, d) =>
      val cols4 = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val sums = cols4.map(c =>
        sum(col(c).cast("decimal(38,8)")).cast("double").as(s"s_$c"))
      val prods = for (i <- cols4.indices; j <- i until cols4.length) yield
        sum((col(cols4(i)) * col(cols4(j))).cast("decimal(38,4)")).cast("double")
          .as(s"q_${cols4(i)}_${cols4(j)}")
      val m = lineitemWide(s, d)
        .agg(count(lit(1)).as("n"), (sums ++ prods): _*)
        .localCheckpoint(eager = false) // the 12-row triple spine reads it
      val nD = col("n").cast("double")
      def qc(i: Int, j: Int) =
        if (i <= j) col(s"q_${cols4(i)}_${cols4(j)}") else col(s"q_${cols4(j)}_${cols4(i)}")
      def r(i: Int, j: Int) =
        (qc(i, j) - (col(s"s_${cols4(i)}") * col(s"s_${cols4(j)}")) / nD) /
          (sqrt(qc(i, i) - (col(s"s_${cols4(i)}") * col(s"s_${cols4(i)}")) / nD) *
            sqrt(qc(j, j) - (col(s"s_${cols4(j)}") * col(s"s_${cols4(j)}")) / nD))
      val triples = for {
        i <- cols4.indices; j <- cols4.indices if i < j
        k <- cols4.indices if k != i && k != j
      } yield (i, j, k)
      triples.map { case (i, j, k) =>
        val (rxy, rxz, rzy) = (r(i, j), r(i, k), r(k, j))
        val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - rzy * rzy)
        m.select(lit(cols4(i)).as("cx"), lit(cols4(j)).as("cy"),
          lit(cols4(k)).as("cz"), col("n"),
          when(den > 0, graft.util.Exact.pinScoreInt(
            (rxy - rxz * rzy) / sqrt(den))).as("partial_r"))
      }.reduceLeft(_ unionAll _)
  }

  val all: Seq[Q] = Seq(aggKmvMerge, aggMultiRules, aggCanonical, aggValueCounts, aggMeanStd,
    aggWelchTtest, aggHml, aggGroupConcatUniverse, aggPivotWide, aggUnpivotLong,
    aggRollup, aggCube, aggGroupingSets, aggDistinctKmv, aggHistogram, aggCorr,
    aggWinsorize, aggQuantileSketch, aggSkewKurt, aggMad, aggVwap, aggBetaMarket,
    aggAutocorr, aggHerfindahl, aggBootstrapMeans, aggSortino, aggCvar,
    aggTrimmedMean, aggSpearman, aggCramersV, aggIqrOutliers, aggMannWhitney, aggBenford,
    aggBrownForsythe, aggKruskal, aggKendall, aggGmean, aggHodgesLehmann,
    aggMedianTest, aggBowleySkew, aggCovMatrix, aggCorrMatrix, aggPartialCorr)
}
