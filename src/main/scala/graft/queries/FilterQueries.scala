package graft.queries

import graft.Q
import graft.util.Tables._
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2 — projections, predicates, per-row transforms, and the
  * taxonomy classifier. All per-row scalar expressions: bit-identical
  * across engines, fully codegen'd, and pushed into/near the scan by
  * Catalyst, so they cost one pass at any scale.
  */
object FilterQueries {

  /** Column renames (pipeline_helpers.py:272,315-320). */
  val rename = Q("q_rename",
    "source-schema → canonical-schema rename")(
    "SELECT event_id, ts AS date, value AS social_score, event_type AS kind FROM events") {
    (s, d) => events(s, d)
      .withColumnRenamed("ts", "date")
      .withColumnRenamed("value", "social_score")
      .withColumnRenamed("event_type", "kind")
      .select("event_id", "date", "social_score", "kind")
  }

  /** Point-in-time slice: metrics computed only from data ≤ each period
    * boundary (historical_data_etl.py:162-168).
    *
    * Scale shape: the fact table is first reduced to per-day partials (one
    * hash aggregation, map-side combined), and only the DAILY rows meet
    * the `day <= period` broadcast-nested-loop — the full fact table is
    * never row-amplified by #periods. At monthly granularity over decades
    * that's 10⁴ days × 10² periods = 10⁶ joined rows regardless of fact
    * row count. Partial sums keep bit-exactness here because l_quantity is
    * integer-valued (any regrouping of < 2⁵³-bounded integer sums is
    * exact); a fractional measure would route through util.Exact. */
  val filterAsof = Q("q_filter_asof",
    "cumulative per-period slice (date <= period)")(
    "WITH periods AS (SELECT DISTINCT date_trunc('year', o_orderdate) AS period FROM orders) " +
      "SELECT p.period, count(*) AS n_rows, sum(l.l_quantity) AS cum_qty " +
      "FROM periods p JOIN lineitem l ON l.l_shipdate <= p.period GROUP BY p.period") {
    (s, d) =>
      val periods = orders(s, d)
        .select(date_trunc("year", col("o_orderdate")).as("period")).distinct()
      val daily = lineitem(s, d).groupBy(col("l_shipdate").as("day"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
      daily.join(broadcast(periods), col("day") <= col("period"))
        .groupBy("period")
        .agg(sum("n").as("n_rows"), sum("qty").as("cum_qty"))
  }

  /** OHLC integrity filter: drop close outside [low-tol, high+tol]
    * (data_quality_gate.py:46-61). low/high synthesized from quantity so
    * violations actually occur in testdata. */
  val filterOhlc = Q("q_filter_ohlc",
    "price-integrity band filter")(
    "SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem " +
      "WHERE NOT (l_extendedprice < (l_quantity * 900.0) - 0.000001 " +
      "OR l_extendedprice > (l_quantity * 1100.0) + 0.000001)") {
    (s, d) =>
      val low  = col("l_quantity") * 900.0
      val high = col("l_quantity") * 1100.0
      val tol  = lit(1e-6)
      lineitem(s, d)
        .filter(!(col("l_extendedprice") < low - tol || col("l_extendedprice") > high + tol))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
  }

  /** Precision standardization (data_quality_gate.py:38-44). Rounding is
    * defined as half-up on the scaled double — floor(x*s + 0.5)/s — pure
    * IEEE ops, so every engine computes the identical bits (Spark's
    * round()/decimal casts and DuckDB's round() each resolve boundary
    * values differently; this recipe sidesteps both). */
  val roundPrecision = Q("q_round_precision",
    "standardize price precision (half-up, bit-reproducible)")(
    "SELECT l_orderkey, l_linenumber, " +
      "floor(l_extendedprice * (1.0 + l_tax) * 100.0 + 0.5) / 100.0 AS price_std, " +
      "floor(l_extendedprice * 100.0 + 0.5) / 100.0 AS price_id FROM lineitem") {
    (s, d) => lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (floor(col("l_extendedprice") * (lit(1.0) + col("l_tax")) * lit(100.0) + lit(0.5)) / lit(100.0)).as("price_std"),
      (floor(col("l_extendedprice") * lit(100.0) + lit(0.5)) / lit(100.0)).as("price_id"))
  }

  /** Null-drop on a subset (`dropna(subset=...)`,
    * universe_generation_pipeline.py:150): nulls come from an enriching
    * left join that misses. */
  val dropna = Q("q_dropna",
    "dropna on enrichment column")(
    "SELECT l_orderkey, l_linenumber, l_partkey, p.p_type FROM lineitem l " +
      "LEFT JOIN (SELECT p_partkey, p_type FROM part WHERE p_size > 25) p " +
      "ON l.l_partkey = p.p_partkey WHERE p.p_type IS NOT NULL") {
    (s, d) =>
      val bigParts = part(s, d).filter(col("p_size") > 25).select("p_partkey", "p_type")
      lineitem(s, d)
        .join(bigParts, col("l_partkey") === col("p_partkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_partkey", "p_type")
        .na.drop(Seq("p_type"))
  }

  /** `map(canonical_map).fillna(original)` ≡ coalesce over a broadcast
    * lookup (historical_data_etl.py:186). */
  val fillnaCoalesce = Q("q_fillna_coalesce",
    "mapped id with fallback to original")(
    "SELECT c_custkey, COALESCE(n.n_name, CAST(c_nationkey AS VARCHAR)) AS canonical_id " +
      "FROM customer c LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 15) n " +
      "ON c.c_nationkey = n.n_nationkey") {
    (s, d) =>
      val dim = nation(s, d).filter(col("n_nationkey") < 15)
      customer(s, d).join(dim, col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n_name"), col("c_nationkey").cast("string")).as("canonical_id"))
  }

  /** ±inf → null (`replace([inf,-inf], nan)` then treated as missing,
    * feature_calculation_functions.py:21). */
  val infToNull = Q("q_inf_to_null",
    "replace infinities with null")(
    "SELECT l_orderkey, l_linenumber, CASE WHEN isinf(y) THEN NULL ELSE y END AS y_clean FROM " +
      "(SELECT l_orderkey, l_linenumber, CASE WHEN l_discount = 0.0 THEN CAST('Infinity' AS DOUBLE) " +
      "WHEN l_tax = 0.0 THEN CAST('-Infinity' AS DOUBLE) ELSE l_quantity END AS y FROM lineitem) t") {
    (s, d) =>
      val y = when(col("l_discount") === 0.0, lit(Double.PositiveInfinity))
        .when(col("l_tax") === 0.0, lit(Double.NegativeInfinity))
        .otherwise(col("l_quantity"))
      lineitem(s, d).withColumn("y", y)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("y") === Double.PositiveInfinity || col("y") === Double.NegativeInfinity, lit(null))
            .otherwise(col("y")).as("y_clean"))
  }

  /** Lenient numeric cast (`pd.to_numeric(errors='coerce')`,
    * derivatives_snapshot_etl.py:86): invalid → null, never an error. */
  val toNumeric = Q("q_to_numeric",
    "coercing numeric cast")(
    "SELECT event_id, TRY_CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS DOUBLE) AS k_num, " +
      "TRY_CAST(event_type AS DOUBLE) AS bad_num FROM events") {
    (s, d) => events(s, d).select(
      col("event_id"),
      regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("double").as("k_num"),
      col("event_type").cast("double").as("bad_num"))
  }

  /** Precedence-based keyword taxonomy with hardcoded overrides and an
    * 'Uncategorized' fallback (coingecko_asset_attributes_pipeline.py:40-103)
    * as a folded when-chain — Catalyst-optimizable, no UDF. */
  val taxonomyCase = Q("q_taxonomy_case",
    "ordered keyword classifier with overrides")(
    "SELECT p_partkey, p_type, CASE " +
      "WHEN p_partkey = 1 THEN 'Genesis' WHEN p_partkey = 2 THEN 'Contract' " +
      "WHEN contains(lower(p_type), 'anodized') THEN 'Layer 1: Anodized' " +
      "WHEN contains(lower(p_type), 'burnished') THEN 'Layer 2: Burnished' " +
      "WHEN contains(lower(p_type), 'plated') THEN 'DeFi: Plated' " +
      "WHEN contains(lower(p_type), 'polished') THEN 'Infrastructure: Polished' " +
      "WHEN contains(lower(p_type), 'brushed') THEN 'Meme: Brushed' " +
      "ELSE 'Uncategorized' END AS standard_category FROM part") {
    (s, d) =>
      val tiers = Seq( // ordered: first match wins, as in the reference map
        "anodized" -> "Layer 1: Anodized",
        "burnished" -> "Layer 2: Burnished",
        "plated" -> "DeFi: Plated",
        "polished" -> "Infrastructure: Polished",
        "brushed" -> "Meme: Brushed")
      val chain = graft.ops.Taxonomy.classifyText(col("p_type"), tiers,
        overrides = Seq((col("p_partkey") === 1) -> "Genesis", (col("p_partkey") === 2) -> "Contract"))
      part(s, d).select(col("p_partkey"), col("p_type"), chain.as("standard_category"))
  }

  val all: Seq[Q] = Seq(rename, filterAsof, filterOhlc, roundPrecision, dropna,
    fillnaCoalesce, infToNull, toNumeric, taxonomyCase)
}
