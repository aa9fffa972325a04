package graft.queries

import graft.Q
import graft.ops.TextOps
import graft.util.{Exact, Portable}
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-pipeline dataset-management operators (SURVEY.md §2.12,
  * round 8): deterministic train/val/test splitting, data-mixture
  * reporting with uniform-mix resample rates, OOV-rate scoring against the
  * corpus's own top-K vocabulary, and a banded interval (range) join.
  *
  * Scale notes: the split is a stateless map-only hash filter (the same
  * portable-md5 contract as q_sample_stratified — identical membership on
  * any engine/partitioning/rerun); the mixture report is one grouped
  * integer aggregate ×broadcast of a two-scalar frame; the vocabulary is a
  * distributed TakeOrdered (top-K never sorts the corpus) broadcast back;
  * the range join rewrites the interval predicate to an equi-join on a
  * bucket key + residual filter, so it needs no cartesian/theta join even
  * when BOTH sides are large.
  */
object PipelineQueries {


  /** Deterministic train/val/test split: bucket = portable 32-bit hash of
    * "split:"||doc_id mod 1000 (salted so split membership is independent
    * of q_sample_stratified's sampling bucket), 80/10/10. The
    * reproducibility contract of dataset splitting at 100 TB: membership
    * is a pure function of the doc id — stable across engines, reruns,
    * repartitions, and incremental corpus growth (new docs never move old
    * ones between splits). Map-only; no shuffle. */
  val splitTrainTest = Q("q_split_train_test", "deterministic 80/10/10 hash split")(
    "WITH b AS (SELECT doc_id, lang, " +
      "('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket " +
      "FROM documents) " +
      "SELECT doc_id, lang, bucket, CASE WHEN bucket < 800 THEN 'train' " +
      "WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split FROM b") {
    (s, d) =>
      val bucket = TextOps.hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 1000
      documents(s, d)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .withColumn("split", when(col("bucket") < 800, "train")
          .when(col("bucket") < 900, "val").otherwise("test"))
  }

  /** Shard count for the deterministic output sharding. 16 here; at
    * corpus scale the same plan runs with thousands — the key property
    * (hash placement independent of corpus content or arrival order)
    * is what lets a re-run, an incremental append, or a different
    * executor count reproduce byte-identical shard membership. */
  private val NShards = 16

  /** Deterministic output sharding audit (r12) — the data-loader-facing
    * step after curation: every doc gets a content-independent shard by
    * portable hash (the q_split_train_test identity with a distinct salt,
    * so the split and the sharding are independent hash dimensions), and
    * the published frame is the per-shard manifest a training launcher
    * reads: doc/token counts and the doc-balance ratio vs the uniform
    * share. The shard spine is a left-joined 0..N-1 universe — an empty
    * shard publishes zeros, never a missing row (the eval zero-row
    * convention; a loader that indexes shards by id must see every id).
    * One map pass + one N-row aggregate; shard stats merge by addition. */
  val splitShards = Q("q_split_shards",
    "deterministic hash-shard manifest: per-shard doc/token counts + balance")(
    "WITH s AS (SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT " +
      s"% $NShards AS shard, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(toks) AS BIGINT) AS n_tokens FROM s GROUP BY 1), " +
      s"u AS (SELECT unnest(range(0, $NShards)) AS shard), " +
      "t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM g) " +
      "SELECT CAST(u.shard AS BIGINT) AS shard, COALESCE(g.n_docs, 0) AS n_docs, " +
      "COALESCE(g.n_tokens, 0) AS n_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        s"$NShards.0 * COALESCE(g.n_docs, 0) / CAST(t.total_docs AS DOUBLE)") +
      " AS balance FROM u LEFT JOIN g ON g.shard = u.shard CROSS JOIN t") {
    (s, d) =>
      import graft.util.Exact
      val sh = documents(s, d).select(
        (TextOps.hash32(concat(lit("shard:"), col("doc_id").cast("string")))
          % NShards).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      val g = sh.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
        .localCheckpoint() // the spine join AND the total read it
      val t = g.agg(sum("n_docs").cast("long").as("total_docs"))
      s.range(NShards).select(col("id").as("shard"))
        .join(g, Seq("shard"), "left")
        .crossJoin(broadcast(t))
        .select(col("shard"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          Exact.pinScoreInt(lit(NShards.toDouble) *
            coalesce(col("n_docs"), lit(0L)) / col("total_docs").cast("double"))
            .as("balance"))
  }

  /** Data-mixture report: per-source document/token counts, each source's
    * share of corpus tokens, and the downsampling rate that equalizes the
    * mix (rate = min-source tokens / source tokens — multiply by it and
    * every source contributes the same token mass). All counts are
    * integers; each published double is ONE correctly-rounded division,
    * so no decimal/pin machinery is needed. Grouped aggregate (shuffle on
    * source) ×broadcast of the two corpus scalars. */
  val sourceMix = Q("q_source_mix", "per-source token-mixture report + uniform-mix rates")(
    "WITH t AS (SELECT source, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS src_tokens " +
      "FROM t GROUP BY 1), " +
      "s AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens, " +
      "CAST(min(src_tokens) AS BIGINT) AS min_tokens FROM g) " +
      "SELECT g.source, g.n_docs, g.src_tokens, " +
      "CAST(g.src_tokens AS DOUBLE) / s.total_tokens AS token_share, " +
      "CAST(s.min_tokens AS DOUBLE) / g.src_tokens AS uniform_rate FROM g, s") {
    (s, d) =>
      val g = documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("src_tokens"))
      val scalars = g.agg(sum("src_tokens").as("total_tokens"),
        min("src_tokens").as("min_tokens"))
      g.crossJoin(broadcast(scalars))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          (col("src_tokens").cast("double") / col("total_tokens")).as("token_share"),
          (col("min_tokens").cast("double") / col("src_tokens")).as("uniform_rate"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-200
    * vocabulary (count desc, word asc tie-break — deterministic at the
    * rank boundary). The tokenizer-coverage signal of a pretraining mix:
    * high OOV ⇒ the doc is far from the corpus's token distribution.
    * Scale: word counts are one shuffle on word; top-K is a distributed
    * TakeOrdered (K rows to the driver plan, never a corpus sort); the
    * bounded vocab broadcasts back onto the token stream. Integer counts,
    * one final division. */
  val textOovRate = Q("q_text_oov_rate", "OOV rate vs corpus top-K vocabulary")(
    "WITH " + TextQueries.tokwBody +
      ", cnt AS (SELECT word, count(*) AS c FROM tokw GROUP BY 1), " +
      "voc AS (SELECT word FROM (SELECT word, row_number() OVER (ORDER BY c DESC, word) AS rn " +
      "FROM cnt) WHERE rn <= 200), " +
      "dt AS (SELECT doc_id, count(*) AS n_tokens FROM tokw GROUP BY 1), " +
      "iv AS (SELECT t.doc_id, count(*) AS n_in FROM tokw t " +
      "JOIN voc v ON v.word = t.word GROUP BY 1) " +
      "SELECT dt.doc_id, dt.n_tokens, " +
      "dt.n_tokens - COALESCE(iv.n_in, 0) AS n_oov, " +
      "CAST(dt.n_tokens - COALESCE(iv.n_in, 0) AS DOUBLE) / dt.n_tokens AS oov_rate " +
      "FROM dt LEFT JOIN iv ON iv.doc_id = dt.doc_id") {
    (s, d) =>
      val tokw = TextOps.explodeTokens(documents(s, d))
      val voc = tokw.groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word")).limit(200) // TakeOrdered, not a sort
        .select("word")
      val dt = tokw.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      val iv = tokw.join(broadcast(voc), "word")
        .groupBy("doc_id").agg(count(lit(1)).as("n_in"))
      dt.join(iv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_in"), lit(0L))).as("n_oov"),
          ((col("n_tokens") - coalesce(col("n_in"), lit(0L))).cast("double")
            / col("n_tokens")).as("oov_rate"))
  }

  /** Banded interval (range) join: overlapping price bands derived from
    * nation (band b covers [b·3500, b·3500 + 4200) — the 700 overlap makes
    * it a genuine range join, not a partition) matched to lineitem rows by
    * `price ∈ [lo, hi)`, then count + exact price sum per band.
    *
    * Scale layout: the interval predicate is rewritten to an EQUI-join —
    * items key on bucket = ⌊price/3500⌋; each band explodes to the buckets
    * its interval overlaps (≤ ⌈4200/3500⌉ + 1 = 3 keys/band, bounded by
    * interval_width/bucket_width); the residual BETWEEN filter runs on
    * bucket-collision survivors only. That shape shuffles on the bucket
    * key and holds when BOTH sides are fact-sized — a plain theta-join
    * (what `l BETWEEN lo AND hi` plans as) is a broadcast-nested-loop that
    * dies when the bands side stops fitting in memory. Bucket arithmetic
    * is exact: band_id·3500 ≤ 2²³ and ⌊·⌋ are IEEE-exact ops. */
  val joinRange = Q("q_join_range", "banded interval join via bucket-key rewrite")(
    "WITH bands AS (SELECT n_nationkey AS band_id, n_nationkey * 3500.0 AS lo, " +
      "n_nationkey * 3500.0 + 4200.0 AS hi FROM nation) " +
      "SELECT b.band_id, count(*) AS n_items, " +
      graft.util.Exact.Sql.sum("l.l_extendedprice") + " AS sum_price " +
      "FROM bands b JOIN lineitem l ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi " +
      "GROUP BY 1") {
    (s, d) =>
      val W = 3500.0
      val bands = nation(s, d)
        .select(col("n_nationkey").cast("long").as("band_id"),
          (col("n_nationkey") * W).as("lo"), (col("n_nationkey") * W + 4200.0).as("hi"))
        .withColumn("bucket",
          explode(sequence(floor(col("lo") / W).cast("long"),
            floor(col("hi") / W).cast("long"))))
      val items = lineitem(s, d)
        .select(col("l_extendedprice"),
          floor(col("l_extendedprice") / W).cast("long").as("bucket"))
      items.join(bands, "bucket")
        .filter(col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_items"),
          graft.util.Exact.exactSum(col("l_extendedprice")).as("sum_price"))
  }

  /** Temperature-scaled mixture weights (α = 0.5), the multilingual /
    * multi-source sampling recipe (raise low-resource shares, damp the
    * head): temp share ∝ src_tokens^α. At α = ½ the power IS `sqrt` — an
    * IEEE-CORRECTLY-ROUNDED primitive, unlike a general pow — so the whole
    * computation stays bit-portable with no libm dependence: sqrt per
    * source (exact), the 20-source normalizer through the binary-grid
    * portableSum, published scores pinned. `boost` = temp share ÷ natural
    * share is the per-source up/down-sampling factor a mixture-aware
    * sampler multiplies into its keep rate. */
  val mixTemperature = Q("q_mix_temperature", "temperature-scaled (α=0.5) mixture weights")(
    "WITH t AS (SELECT source, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT source, CAST(sum(toks) AS BIGINT) AS src_tokens FROM t GROUP BY 1), " +
      "s AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens, " +
      graft.util.Exact.Sql.portableSum("sqrt(src_tokens)") + " AS z FROM g) " +
      // all three shares publish as BIGINT grid cells (r10 double-free
      // schema contract — Exact.pinScoreInt rationale)
      "SELECT g.source, g.src_tokens, " +
      graft.util.Exact.Sql.pinScoreInt("CAST(g.src_tokens AS DOUBLE) / s.total_tokens") +
      " AS nat_share, " +
      graft.util.Exact.Sql.pinScoreInt("sqrt(g.src_tokens) / s.z") + " AS temp_share, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(sqrt(g.src_tokens) / s.z) / (CAST(g.src_tokens AS DOUBLE) / s.total_tokens)") +
      " AS boost FROM g, s") {
    (s, d) =>
      val g = documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy("source").agg(sum("toks").as("src_tokens"))
      val scalars = g.agg(sum("src_tokens").as("total_tokens"),
        graft.util.Exact.portableSum(sqrt(col("src_tokens"))).as("z"))
      val tempShare = sqrt(col("src_tokens")) / col("z")
      val natShare = col("src_tokens").cast("double") / col("total_tokens")
      g.crossJoin(broadcast(scalars))
        .select(col("source"), col("src_tokens"),
          graft.util.Exact.pinScoreInt(natShare).as("nat_share"),
          graft.util.Exact.pinScoreInt(tempShare).as("temp_share"),
          graft.util.Exact.pinScoreInt(tempShare / natShare).as("boost"))
  }

  /** Mixture EPOCH plan (r10): turn q_mix_temperature's shares into the
    * per-source repeat factors an actual training run schedules. Given a
    * token budget of 2× the corpus (the multi-epoch regime where mixture
    * design matters), each source's target is temp_share·budget and its
    * epoch count is target ÷ available — capped at 4 epochs, the
    * empirical repeat ceiling beyond which repetition stops buying
    * anything. The cap decision and the capped value are taken ON THE
    * 2⁻³⁰ GRID CELLS (integer min / integer compare against 4·2³⁰), so
    * the published plan is bit-portable end to end: after the single
    * pinned epochs_raw cell, no float participates in any published
    * column.
    *
    * Scale: one corpus-linear token-count aggregate (shared shape with
    * q_mix_temperature), a 1-row scalar frame broadcast back, and a
    * sources-sized publish. The α=½ power is `sqrt` — correctly-rounded
    * IEEE, no libm — and the raw-epochs expression is a fixed
    * parenthesization of exactly-rounded ops, identical in both engines. */
  val mixEpochs = Q("q_mix_epochs", "per-source epoch plan under a 2x token budget (cap 4)")(
    "WITH t AS (SELECT source, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT source, CAST(sum(toks) AS BIGINT) AS src_tokens FROM t GROUP BY 1), " +
      "s AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens, " +
      graft.util.Exact.Sql.portableSum("sqrt(src_tokens)") + " AS z FROM g), " +
      "e AS (SELECT g.source, g.src_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "((sqrt(g.src_tokens) / s.z) * (2.0 * s.total_tokens)) / g.src_tokens") +
      " AS epochs_raw FROM g, s) " +
      // 4 epochs on the grid = 4·2³⁰ = 4294967296, spelled as the BIGINT
      // literal (a 4*1073741824 product would overflow DuckDB's INT32
      // literal arithmetic)
      "SELECT source, src_tokens, epochs_raw, " +
      "least(epochs_raw, 4294967296) AS epochs, " +
      "CAST(CASE WHEN epochs_raw > 4294967296 THEN 1 ELSE 0 END AS BIGINT) AS capped " +
      "FROM e") {
    (s, d) =>
      val FourEpochs = 4L * 1073741824L
      val g = documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy("source").agg(sum("toks").as("src_tokens"))
      val scalars = g.agg(sum("src_tokens").as("total_tokens"),
        graft.util.Exact.portableSum(sqrt(col("src_tokens"))).as("z"))
      val rawEpochs = ((sqrt(col("src_tokens")) / col("z")) *
        (lit(2.0) * col("total_tokens"))) / col("src_tokens")
      g.crossJoin(broadcast(scalars))
        .withColumn("epochs_raw", graft.util.Exact.pinScoreInt(rawEpochs))
        .select(col("source"), col("src_tokens"), col("epochs_raw"),
          least(col("epochs_raw"), lit(FourEpochs)).as("epochs"),
          (col("epochs_raw") > FourEpochs).cast("long").as("capped"))
  }

  /** Shared per-doc 'en' classifier score: the ('the','a') stopword
    * ratio — one IEEE division over two integers, bit-identical on both
    * engines, so it can serve as a GROUP/ORDER key downstream. The
    * confusion matrix thresholds it; the AUC ranks by it. */
  private val enScoreCte =
    "sc AS (SELECT doc_id, " +
      "CAST(sum(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*) AS score FROM tokw GROUP BY doc_id)"

  private def enScore(s: org.apache.spark.sql.SparkSession, d: String) = {
    val hit = when(col("word").isin("the", "a"), 1).otherwise(0)
    TextOps.explodeTokens(documents(s, d)).groupBy("doc_id")
      .agg((sum(hit).cast("double") / count(lit(1))).as("score"))
  }

  /** Classifier-evaluation operator: confusion matrix of the registered
    * language-ID heuristic's prediction against the labeled lang column —
    * count + row-normalized rate per (lang, pred_lang) cell. The matrix
    * computation (label join → cell counts → per-label normalize) is the
    * reusable piece; any per-doc classifier slots into the same plan. Two
    * grouped aggregates on bounded keys (|langs| × |preds| cells). */
  val langidConfusion = Q("q_text_langid_confusion", "language-ID confusion matrix")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "p AS (SELECT doc_id, CASE WHEN score >= 0.02 " +
      "THEN 'en' ELSE 'und' END AS pred_lang FROM sc), " +
      "cells AS (SELECT d.lang, p.pred_lang, count(*) AS n FROM p " +
      "JOIN documents d ON d.doc_id = p.doc_id GROUP BY 1, 2), " +
      "tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1) " +
      "SELECT c.lang, c.pred_lang, c.n, CAST(c.n AS DOUBLE) / t.n_lang AS rate " +
      "FROM cells c JOIN tot t ON t.lang = c.lang") {
    (s, d) =>
      val pred = enScore(s, d).select(col("doc_id"),
        when(col("score") >= 0.02, "en").otherwise("und").as("pred_lang"))
      val cells = pred.join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("lang").agg(sum("n").as("n_lang"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          (col("n").cast("double") / col("n_lang")).as("rate"))
  }

  /** Exact ROC AUC (r9): the threshold-free companion of the confusion
    * matrix — how well does the 'en' stopword-ratio SCORE rank true-'en'
    * documents above the rest, over every threshold at once? Computed as
    * the tie-aware rank-sum (Mann–Whitney) statistic: for each DISTINCT
    * score, count positives/negatives, prefix-sum the negatives below,
    * and AUC = [Σ np·(2·cumneg + nn)] / (2·n_pos·n_neg) — ties contribute
    * the standard ½. INTEGER arithmetic until one final IEEE division, so
    * cross-engine exactness needs no score-grid machinery; NULL when a
    * class is empty (no ranking to measure — the q_agg_corr contract).
    *
    * Scale: one corpus-sized hash aggregate per doc (the score), one
    * distinct-score hash aggregate, then the negative-count prefix runs
    * through ops.Quantiles.exclusivePrefixSum — the bit-prefix two-phase
    * layout, so the only unpartitioned window is over the bucket
    * histogram (bounded by bit resolution), never the distinct-score
    * frame; a continuous score is now safe. num2 is exact in int64 up to
    * ~2e9 docs per class; beyond that swap the sum to DECIMAL(38,0).
    * Out of that domain both engines fail LOUDLY: DuckDB by its own
    * BIGINT-overflow error, Spark by an explicit assert_true class-count
    * guard — the session runs ANSI off, so without the guard Spark's
    * long sum would WRAP silently while the oracle threw. */
  val evalAuc = Q("q_eval_auc", "exact tie-aware ROC AUC of the en-score ranking")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      "g AS (SELECT score, CAST(sum(y) AS BIGINT) AS np, " +
      "CAST(count(*) - sum(y) AS BIGINT) AS nn FROM lab GROUP BY 1), " +
      "c AS (SELECT score, np, nn, CAST(COALESCE(sum(nn) OVER " +
      "(ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "AS BIGINT) AS cumneg FROM g), " +
      "st AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos, " +
      "CAST(sum(nn) AS BIGINT) AS n_neg, " +
      "CAST(sum(np * (2 * cumneg + nn)) AS BIGINT) AS num2 FROM c) " +
      "SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
      "CAST(num2 AS DOUBLE) / (CAST(2 AS DOUBLE) * n_pos * n_neg) END AS auc " +
      "FROM st") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val g = lab.groupBy("score")
        .agg(sum("y").cast("long").as("np"),
          (count(lit(1)) - sum("y")).cast("long").as("nn"))
      // cumneg rides ops.Quantiles' two-phase bit-prefix prefix sum (r12,
      // VERDICT r11 #5): the only unpartitioned window is over the BUCKET
      // histogram (bounded by per-binade bit resolution), so a continuous
      // score can no longer serialize the distinct-score frame into one
      // task — the old 5M-group loud-fail guard is retired because the
      // plan it guarded against no longer exists. Integer weights make
      // the prefix bit-identical to the single-task window.
      val c = graft.ops.Quantiles.exclusivePrefixSum(g, "score", "nn", "cumneg")
        .withColumn("cumneg", col("cumneg").cast("long"))
      val st = c.agg(sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"),
        sum(col("np") * (lit(2L) * col("cumneg") + col("nn"))).cast("long").as("num2"))
      val inDomain = col("n_pos") < 2000000000L && col("n_neg") < 2000000000L
      st.select(col("n_pos"), col("n_neg"),
        when(assert_true(inDomain,
            lit("q_eval_auc: class count beyond the int64-exact pair domain " +
              "(swap num2 to DECIMAL(38,0))")).isNull &&
            col("n_pos") > 0 && col("n_neg") > 0,
          col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Calibration bin width: 0.02 over the [0,1] score domain (50 bins).
    * Equal-WIDTH, not equal-frequency: the bin key is then one IEEE
    * multiply + floor — corpus-independent, so bins from any two shards
    * merge by addition (the sketch property the reliability diagram
    * needs at scale). */
  private val CalInvW = 50

  /** Calibration / reliability curve (r9): does the 'en' score MEAN what
    * it says — per score bin, the mean predicted score vs the observed
    * positive rate, plus their gap (the per-bin summand of Expected
    * Calibration Error). The third leg of the classifier-evaluation
    * family: confusion matrix (one threshold), AUC (ranking over all
    * thresholds), calibration (probability faithfulness).
    *
    * Scale: one bins-sized hash aggregate over the per-doc score frame —
    * the aggregate is ADDITIVE (count, positive count, grid-quantized
    * score sum), so per-shard bins merge by cell-wise addition like the
    * count-min counters. The score sum rides the 2⁻³⁰ portable grid
    * (order-free across any partitioning); mean and rate are one IEEE
    * division each; the gap is one subtraction + abs on values both
    * engines already agree on bit-for-bit. */
  val evalCalibration = Q("q_eval_calibration", "reliability bins: mean score vs positive rate")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      s"bins AS (SELECT CAST(floor(score * $CalInvW) AS BIGINT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
      Exact.Sql.portableSum("score") + " AS ssum FROM lab GROUP BY 1) " +
      s"SELECT bin, bin / CAST($CalInvW AS DOUBLE) AS bin_lo, n, n_pos, " +
      "ssum / n AS mean_score, CAST(n_pos AS DOUBLE) / n AS pos_rate, " +
      "abs(ssum / n - CAST(n_pos AS DOUBLE) / n) AS gap FROM bins") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val bins = lab
        .groupBy(floor(col("score") * CalInvW).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), sum("y").cast("long").as("n_pos"),
          Exact.portableSum(col("score")).as("ssum"))
      val mean = col("ssum") / col("n")
      val rate = col("n_pos").cast("double") / col("n")
      bins.select(col("bin"), (col("bin") / lit(CalInvW.toDouble)).as("bin_lo"),
        col("n"), col("n_pos"), mean.as("mean_score"), rate.as("pos_rate"),
        abs(mean - rate).as("gap"))
  }

  /** Brier score + Murphy decomposition (r12) — the PROPER scoring rule
    * over the en-classifier's probability-like score (AUC ranks, the
    * calibration bins localize, Brier PRICES): mean (p − y)² computed
    * over the GRID-PINNED score g = ⌊p·2³⁰⌋, so the per-row squared
    * error (g − y·2³⁰)² is an exact integer and the corpus sum lives in
    * DECIMAL(38,0) at any row count — the scale-proof form of a
    * corpus-sized portable fold (a 1/N-prescaled grid fold would floor
    * to zero per row at 10¹² rows; integers don't). Murphy terms
    * (reliability = how far bin means sit from bin outcomes, resolution
    * = how far bin outcomes spread from the base rate, uncertainty =
    * ȳ(1−ȳ)) fold over the ≤50-bin domain via the portable grid, using
    * q_eval_calibration's exact bin convention. Quantization bias vs the
    * raw-score Brier is < 2·2⁻³⁰ — below the published grid itself. */
  val evalBrier = Q("q_eval_brier",
    "Brier score of the en-classifier + reliability/resolution/uncertainty")({
    val G = "1073741824.0"
    val G2 = "1152921504606846976.0" // 2^60, exact
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, CAST(floor(s.score * " + G + ") AS BIGINT) AS g, " +
      s"CAST(floor(s.score * $CalInvW) AS BIGINT) AS bin, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS a, " +
      "sum(CAST(g - y * 1073741824 AS HUGEINT) * (g - y * 1073741824)) AS b2 FROM lab), " +
      "bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk, " +
      "CAST(sum(y) AS BIGINT) AS ak, sum(CAST(g AS HUGEINT)) AS sg FROM lab GROUP BY 1), " +
      "fold AS (SELECT max(t.n) AS n, max(t.a) AS a, max(CAST(t.b2 AS DOUBLE)) AS b2, " +
      graft.util.Exact.Sql.portableSum(
        "(CAST(nk AS DOUBLE) / CAST(t.n AS DOUBLE)) * " +
          s"(((CAST(sg AS DOUBLE) / CAST(nk AS DOUBLE)) / $G) - " +
          "(CAST(ak AS DOUBLE) / CAST(nk AS DOUBLE))) * " +
          s"(((CAST(sg AS DOUBLE) / CAST(nk AS DOUBLE)) / $G) - " +
          "(CAST(ak AS DOUBLE) / CAST(nk AS DOUBLE)))") + " AS rel, " +
      graft.util.Exact.Sql.portableSum(
        "(CAST(nk AS DOUBLE) / CAST(t.n AS DOUBLE)) * " +
          "((CAST(ak AS DOUBLE) / CAST(nk AS DOUBLE)) - " +
          "(CAST(t.a AS DOUBLE) / CAST(t.n AS DOUBLE))) * " +
          "((CAST(ak AS DOUBLE) / CAST(nk AS DOUBLE)) - " +
          "(CAST(t.a AS DOUBLE) / CAST(t.n AS DOUBLE)))") + " AS res " +
      "FROM bins CROSS JOIN tot t) " +
      "SELECT n, " +
      graft.util.Exact.Sql.pinScoreInt("CAST(a AS DOUBLE) / CAST(n AS DOUBLE)") +
      " AS base_rate, " +
      graft.util.Exact.Sql.pinScoreInt(s"(b2 / CAST(n AS DOUBLE)) / $G2") + " AS brier, " +
      graft.util.Exact.Sql.pinScoreInt("rel") + " AS reliability, " +
      graft.util.Exact.Sql.pinScoreInt("res") + " AS resolution, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          "(1.0 - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))") + " AS uncertainty FROM fold"
  }) {
    (s, d) =>
      val G = 1073741824.0
      val G2 = 1152921504606846976.0
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
        .select(floor(col("score") * G).cast("long").as("g"),
          floor(col("score") * CalInvW).cast("long").as("bin"), col("y"))
        .localCheckpoint(eager = false) // totals AND bins read it
      val diff = col("g") - col("y") * G.toLong
      val tot = lab.agg(count(lit(1)).as("n"), sum("y").cast("long").as("a"),
        sum(diff.cast("decimal(38,0)") * diff).as("b2"))
      val bins = lab.groupBy("bin").agg(count(lit(1)).as("nk"),
        sum("y").cast("long").as("ak"), sum(col("g").cast("decimal(38,0)")).as("sg"))
      val nD = col("n").cast("double"); val aD = col("a").cast("double")
      val nkD = col("nk").cast("double")
      val sbar = (col("sg").cast("double") / nkD) / G
      val ybark = col("ak").cast("double") / nkD
      val ybar = aD / nD
      val fold = bins.crossJoin(broadcast(tot))
        .agg(max("n").as("n"), max("a").as("a"),
          max(col("b2").cast("double")).as("b2"),
          graft.util.Exact.portableSum(
            (nkD / nD) * (sbar - ybark) * (sbar - ybark)).as("rel"),
          graft.util.Exact.portableSum(
            (nkD / nD) * (ybark - ybar) * (ybark - ybar)).as("res"))
      val nD2 = col("n").cast("double"); val aD2 = col("a").cast("double")
      fold.select(col("n"),
        graft.util.Exact.pinScoreInt(aD2 / nD2).as("base_rate"),
        graft.util.Exact.pinScoreInt((col("b2") / nD2) / G2).as("brier"),
        graft.util.Exact.pinScoreInt(col("rel")).as("reliability"),
        graft.util.Exact.pinScoreInt(col("res")).as("resolution"),
        graft.util.Exact.pinScoreInt((aD2 / nD2) * (lit(1.0) - aD2 / nD2))
          .as("uncertainty"))
  }

  /** Expected calibration error (r12) — the ONE-NUMBER summary of
    * q_eval_calibration's reliability bins (and the absolute-gap
    * companion of q_eval_brier's squared decomposition):
    * ECE = Σ (n_k/N)·|mean_score_k − pos_rate_k| over the same exact
    * bin convention. Bin mean scores ride the portable grid sum the
    * calibration query already uses; the fold over the ≤50-bin domain
    * is another portable-grid sum; published pinned beside the worst
    * single-bin gap (MCE). */
  val evalEce = Q("q_eval_ece",
    "expected + maximum calibration error over the reliability bins")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      s"bins AS (SELECT CAST(floor(score * $CalInvW) AS BIGINT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
      Exact.Sql.portableSum("score") + " AS ssum FROM lab GROUP BY 1), " +
      "tots AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM bins), " +
      "f AS (SELECT max(t.nn) AS n, " +
      Exact.Sql.portableSum(
        "(CAST(bins.n AS DOUBLE) / CAST(t.nn AS DOUBLE)) * " +
          "abs(bins.ssum / CAST(bins.n AS DOUBLE) - " +
          "CAST(bins.n_pos AS DOUBLE) / CAST(bins.n AS DOUBLE))") + " AS ece, " +
      "max(abs(bins.ssum / CAST(bins.n AS DOUBLE) - " +
      "CAST(bins.n_pos AS DOUBLE) / CAST(bins.n AS DOUBLE))) AS mce " +
      "FROM bins CROSS JOIN tots t) " +
      "SELECT n, " + Exact.Sql.pinScoreInt("ece") + " AS ece, " +
      Exact.Sql.pinScoreInt("mce") + " AS mce FROM f") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val bins = lab
        .groupBy(floor(col("score") * CalInvW).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), sum("y").cast("long").as("n_pos"),
          Exact.portableSum(col("score")).as("ssum"))
      val t = bins.agg(sum("n").cast("long").as("nn"))
      val gap = abs(col("ssum") / col("n").cast("double") -
        col("n_pos").cast("double") / col("n").cast("double"))
      bins.crossJoin(broadcast(t))
        .agg(max("nn").as("n"),
          Exact.portableSum(
            (col("n").cast("double") / col("nn").cast("double")) * gap).as("ece"),
          max(gap).as("mce"))
        .select(col("n"), Exact.pinScoreInt(col("ece")).as("ece"),
          Exact.pinScoreInt(col("mce")).as("mce"))
  }

  /** Daily resample + forward fill (r8): the pandas
    * `resample('D').ffill()` idiom — one row per asset per CALENDAR day
    * between the asset's first and last observation, carrying the latest
    * observed price forward across gap days. Steps: last observation per
    * (asset, day) (row_number desc over the unique ordinal — the same
    * determinism contract as the window family), per-asset calendar spine
    * via sequence/generate_series (identical inclusive endpoints on both
    * engines), left join, then `last(price) ignore nulls` over the
    * day-ordered per-asset window.
    *
    * Scale: the spine is keys × horizon rows (data-independent, no
    * explosion from row counts); every window keys on the asset — one
    * Exchange feeds dedup, spine join and fill; nothing sorts across
    * assets. Asset subset (< 20) keeps the gate output bounded; the plan
    * is subset-free. */
  val resampleFfill = Q("q_resample_ffill", "daily spine + forward-fill resampling")(
    "WITH obs AS (SELECT l_partkey, date_trunc('day', l_shipdate) AS day, " +
      "l_extendedprice AS px, (l_orderkey * 8 + l_linenumber) AS ord " +
      "FROM lineitem WHERE l_partkey < 20), " +
      "lastobs AS (SELECT l_partkey, day, px FROM (SELECT obs.*, " +
      "row_number() OVER (PARTITION BY l_partkey, day ORDER BY ord DESC) AS rn FROM obs) " +
      "WHERE rn = 1), " +
      "bounds AS (SELECT l_partkey, min(day) AS lo, max(day) AS hi FROM lastobs GROUP BY 1), " +
      "spine AS (SELECT l_partkey, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day " +
      "FROM bounds), " +
      "j AS (SELECT s.l_partkey, s.day, l.px FROM spine s " +
      "LEFT JOIN lastobs l ON l.l_partkey = s.l_partkey AND l.day = s.day) " +
      "SELECT l_partkey, day, " +
      "last_value(px IGNORE NULLS) OVER (PARTITION BY l_partkey ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price, " +
      "px IS NOT NULL AS is_observed FROM j") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ord = col("l_orderkey") * 8 + col("l_linenumber")
      val obs = lineitem(s, d).filter(col("l_partkey") < 20)
        .select(col("l_partkey"), date_trunc("day", col("l_shipdate")).as("day"),
          col("l_extendedprice").as("px"), ord.as("ord"))
      val wLast = Window.partitionBy("l_partkey", "day").orderBy(col("ord").desc)
      val lastobs = obs.withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1).select("l_partkey", "day", "px")
      val spine = lastobs.groupBy("l_partkey")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("l_partkey"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      val wFill = Window.partitionBy("l_partkey").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(lastobs, Seq("l_partkey", "day"), "left")
        .select(col("l_partkey"), col("day"),
          last(col("px"), ignoreNulls = true).over(wFill).as("price"),
          col("px").isNotNull.as("is_observed"))
  }

  /** Key-domain bound for the Z-order interleave: 31 bits per key. Two
    * 31-bit spreads interleave into bits 0..61 of a signed 64-bit long,
    * so zval stays POSITIVE and curve order == numeric sort order (a
    * 32-bit-per-key spread would push the second key's top bit into the
    * sign bit and silently break the sort). Keys beyond 2^31−1 must fail
    * loudly, not alias: masking them would interleave unrelated key
    * ranges into the same zval and void the min/max-pruning story. */
  private val ZKeyBits = 31
  private val ZKeyMax = (1L << ZKeyBits) - 1

  /** Spread a 31-bit value's bits into the even positions of a 62-bit
    * word (Morton/Z-order interleave half) — the classic magic-number
    * cascade widened to 64-bit lanes, integer-exact on any engine. */
  private def spreadBits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s0 = c.cast("long").bitwiseAND(lit(ZKeyMax))
    val s1 = s0.bitwiseOR(shiftleft(s0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val s4 = s3.bitwiseOR(shiftleft(s3, 2)).bitwiseAND(lit(0x3333333333333333L))
    s4.bitwiseOR(shiftleft(s4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** The identical cascade as a DuckDB SQL expression over column `c`. */
  private def spreadBitsSql(c: String): String = {
    val s0 = s"(CAST($c AS BIGINT) & $ZKeyMax)"
    val s1 = s"(($s0 | ($s0 << 16)) & ${0x0000FFFF0000FFFFL})"
    val s2 = s"(($s1 | ($s1 << 8)) & ${0x00FF00FF00FF00FFL})"
    val s3 = s"(($s2 | ($s2 << 4)) & ${0x0F0F0F0F0F0F0F0FL})"
    val s4 = s"(($s3 | ($s3 << 2)) & ${0x3333333333333333L})"
    s"(($s4 | ($s4 << 1)) & ${0x5555555555555555L})"
  }

  /** Z-order (Morton) curve clustering key (r9): interleave the bits of
    * two join/filter dimensions (part, supplier) into one 62-bit sort
    * key, plus the 256-cell layout assignment its top 8 bits induce —
    * the multi-dimensional data-layout primitive behind Delta/Iceberg
    * Z-ORDER compaction. Sorting 100 TB by zval before writing gives
    * parquet row-group min/max locality in BOTH dimensions at once, so a
    * conjunctive predicate on (partkey range, suppkey range) prunes to
    * O(perimeter) cells instead of scanning one full dimension — the
    * measured cell-touch bound is pinned in ZOrderSpec, the plan story in
    * DESIGN.md. Map-only integer bit arithmetic (magic-number spread),
    * identical on any two's-complement engine; the curve math is the
    * oracle-certified part, the write path reuses the lake sink.
    * Keys are guarded to the 31-bit domain (assert_true, map-side):
    * an out-of-range key THROWS instead of silently aliasing with
    * key & mask — at 100 TB (l_partkey ~ 2e10 > 2^31) the operator
    * demands a pre-scaled key, never a wrong curve. */
  val zorderCurve = Q("q_zorder_curve", "Z-order curve clustering key + cell assignment")(
    // the oracle guards the domain exactly like the Spark side: an
    // out-of-range key THROWS (lazy error() in the CASE) — both engine
    // definitions refuse to alias rather than publish a wrong curve
    "WITH z AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
      s"(CASE WHEN l_partkey BETWEEN 0 AND $ZKeyMax " +
      s"AND l_suppkey BETWEEN 0 AND $ZKeyMax " +
      s"THEN (${spreadBitsSql("l_partkey")} | (${spreadBitsSql("l_suppkey")} << 1)) " +
      s"ELSE error('z-order key outside [0, $ZKeyMax]') END) AS zval " +
      "FROM lineitem) " +
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zval, " +
      "(zval >> 54) AS zcell FROM z") {
    (s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          zvalExpr(col("l_partkey"), col("l_suppkey")).as("zval"))
        .withColumn("zcell", shiftright(col("zval"), 54))
  }

  /** The guarded interleave q_zorder_curve publishes (exposed for specs):
    * Morton zval when both keys are in [0, 2^31−1], a thrown error (not
    * an aliased curve) otherwise. */
  private[graft] def zvalExpr(p: org.apache.spark.sql.Column,
      sk: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val zval = spreadBits(p).bitwiseOR(shiftleft(spreadBits(sk), 1))
    val inDomain = p.between(0, ZKeyMax) && sk.between(0, ZKeyMax)
    when(assert_true(inDomain,
      lit(s"z-order key outside [0, $ZKeyMax]")).isNull, zval)
  }

  /** Weighted-sample size: the fixture keeps ~24% of sf0.01's docs —
    * large enough that inclusion exercises real weight competition. */
  private val WSampK = 120

  /** Deterministic weighted sampling without replacement (r9): Efraimidis–
    * Spirakis A-ES — each doc draws u from a portable hash (so the "draw"
    * is a pure function of the doc id, reproducible on any engine/rerun/
    * repartition, the same contract as q_sample_stratified) and ranks by
    * ln(u)/w with w = n_chars; the top-k ranks ARE a weighted sample
    * without replacement (Efraimidis & Spirakis 2006). The
    * importance-sampling primitive of corpus curation — sample documents
    * proportionally to length/quality without a corpus sort.
    *
    * Scale: rank is map-only (portable pln — IEEE-exact ops, identical
    * bits both engines, so SELECTION agrees, not just scores); top-k is
    * TakeOrdered (per-partition heads merged on the driver, k rows per
    * partition — never a global sort). Docs with w = 0 are excluded by
    * contract (engines disagree on double x/0). Published key rides the
    * 2⁻³⁰ pin grid like every transcendental score. */
  val sampleWeighted = Q("q_sample_weighted", "deterministic A-ES weighted sample (top-k by ln(u)/w)")(
    "WITH t AS (SELECT doc_id, n_chars, " +
      "((('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) " +
      "/ 4294967296.0) AS _lnx FROM documents WHERE n_chars > 0), " +
      Portable.plnSqlCtes("t", "lg") + ", " +
      "r AS (SELECT doc_id, n_chars, _pln / n_chars AS rkey FROM lg) " +
      "SELECT doc_id, n_chars, " + Exact.Sql.pinScoreInt("rkey") + " AS wkey " +
      s"FROM r ORDER BY rkey DESC, doc_id LIMIT $WSampK") {
    (s, d) =>
      val u = (TextOps.hash32(concat(lit("wsamp:"), col("doc_id").cast("string"))) + 0.5) /
        4294967296.0
      val t = documents(s, d).filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"))
      Portable.pln(t.withColumn("u", u), col("u"), "lnu")
        .withColumn("rkey", col("lnu") / col("n_chars"))
        .orderBy(col("rkey").desc, col("doc_id"))
        .limit(WSampK)
        .select(col("doc_id"), col("n_chars"), Exact.pinScoreInt(col("rkey")).as("wkey"))
  }

  /** Snapshot cutoffs: "old" = state as of mid-1995; "new" = activity in
    * the following half-year window. Chosen so every change class is
    * populated on the fixture (216 inserts / 194 deletes at sf0.01). */
  private val DiffOldEnd = "1995-07-01"
  private val DiffNewEnd = "1996-01-01"

  /** Snapshot diff / CDC classification (r9): compare two point-in-time
    * states of a keyed entity set (per-part latest price: "old" = last
    * observation at-or-before the old cutoff, "new" = last observation
    * inside the following window) and classify every key as
    * insert / delete / update / same — the change-data-capture primitive
    * behind incremental lake maintenance (MERGE INTO planning, SCD
    * loading, sync auditing). The windowed "new" side models product
    * retirement: a key with no activity in the window is a delete.
    *
    * Shape: each snapshot is one per-key ordered top-1 window (shuffle on
    * the key, the same Exchange feeds both since partitioning matches),
    * then ONE full-outer equi-join on the key classifies everything —
    * snapshot-sized, not history-sized, work after the first aggregate.
    * At 100 TB the snapshots are the stored table and the diff is the
    * join alone. Prices compare as exact doubles (parquet-stored values
    * round-trip bit-identically; no arithmetic happens on them). */
  val snapshotDiff = Q("q_snapshot_diff", "snapshot diff: insert/delete/update/same per key")(
    "WITH base AS (SELECT l_partkey, l_shipdate, l_extendedprice AS px, " +
      "(l_orderkey * 8 + l_linenumber) AS ord FROM lineitem), " +
      s"o AS (SELECT l_partkey, px FROM (SELECT base.*, row_number() OVER " +
      "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, ord DESC) AS rn " +
      s"FROM base WHERE l_shipdate <= '$DiffOldEnd') WHERE rn = 1), " +
      s"n AS (SELECT l_partkey, px FROM (SELECT base.*, row_number() OVER " +
      "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, ord DESC) AS rn " +
      s"FROM base WHERE l_shipdate > '$DiffOldEnd' AND l_shipdate <= '$DiffNewEnd') WHERE rn = 1) " +
      "SELECT COALESCE(o.l_partkey, n.l_partkey) AS l_partkey, " +
      "o.px AS old_price, n.px AS new_price, " +
      "CASE WHEN o.l_partkey IS NULL THEN 'insert' " +
      "WHEN n.l_partkey IS NULL THEN 'delete' " +
      "WHEN o.px <> n.px THEN 'update' ELSE 'same' END AS change_type " +
      "FROM o FULL OUTER JOIN n ON n.l_partkey = o.l_partkey") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = lineitem(s, d).select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice").as("px"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("ord"))
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_shipdate").desc, col("ord").desc)
      def snap(f: org.apache.spark.sql.Column) =
        base.filter(f).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("l_partkey", "px")
      val o = snap(col("l_shipdate") <= lit(DiffOldEnd).cast("timestamp"))
      val n = snap(col("l_shipdate") > lit(DiffOldEnd).cast("timestamp") &&
        col("l_shipdate") <= lit(DiffNewEnd).cast("timestamp"))
      o.as("o").join(n.as("n"), col("n.l_partkey") === col("o.l_partkey"), "full_outer")
        .select(
          coalesce(col("o.l_partkey"), col("n.l_partkey")).as("l_partkey"),
          col("o.px").as("old_price"), col("n.px").as("new_price"),
          when(col("o.l_partkey").isNull, "insert")
            .when(col("n.l_partkey").isNull, "delete")
            .when(col("o.px") =!= col("n.px"), "update")
            .otherwise("same").as("change_type"))
  }

  /** Column profiling (r9): per-column completeness/cardinality/domain
    * statistics over the measure columns — the data-quality summary a
    * pipeline publishes with every batch (the reference's quality gate
    * hand-checks exactly these: nulls, ranges, uniqueness —
    * test_data_integrity.py's row-count/NaN/range assertions, as ONE
    * queryable artifact).
    *
    * Shape: melt the columns to (colname, value) rows with
    * Dataset.unpivot — ONE scan, rows ×3 but narrow — then a per-
    * (colname, value) two-phase distinct + per-colname aggregate. This
    * deliberately avoids multi-column `COUNT(DISTINCT a), (DISTINCT b)…`
    * in one aggregate, which Catalyst plans via Expand (scan-width ×
    * column-count blow-up at the shuffle); the melted layout shuffles
    * each value ONCE keyed by its own column name — the profiling shape
    * that holds at arbitrary column counts. Moments are decimal-exact
    * (near-integer domains); min/max/counts are exact everywhere. */
  val profileColumns = Q("q_profile_columns", "per-column null/distinct/range/mean profile")(
    "WITH m AS (" +
      Seq("l_quantity", "l_discount", "l_tax").map(c =>
        s"SELECT '$c' AS colname, $c AS v FROM lineitem").mkString(" UNION ALL ") +
      "), dv AS (SELECT colname, v, count(*) AS nv FROM m GROUP BY 1, 2) " +
      "SELECT colname, CAST(sum(nv) AS BIGINT) AS n_rows, " +
      "CAST(sum(CASE WHEN v IS NULL THEN nv ELSE 0 END) AS BIGINT) AS n_null, " +
      "CAST(count(v) AS BIGINT) AS n_distinct, " +
      "min(v) AS min_v, max(v) AS max_v, " +
      "CAST(SUM(CAST(v * nv AS DECIMAL(38,8))) AS DOUBLE) / " +
      "sum(CASE WHEN v IS NOT NULL THEN nv END) AS mean_v " +
      "FROM dv GROUP BY 1") {
    (s, d) =>
      val m = lineitem(s, d)
        .unpivot(Array.empty, Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "colname", "v")
      val dv = m.groupBy("colname", "v").agg(count(lit(1)).as("nv"))
      dv.groupBy("colname").agg(
        sum("nv").cast("long").as("n_rows"),
        sum(when(col("v").isNull, col("nv")).otherwise(0L)).cast("long").as("n_null"),
        count("v").cast("long").as("n_distinct"),
        min("v").as("min_v"), max("v").as("max_v"),
        (sum((col("v") * col("nv")).cast("decimal(38,8)")).cast("double") /
          sum(when(col("v").isNotNull, col("nv")))).as("mean_v"))
  }

  /** OHLC bar resampling (r9): downsample each asset's tick stream to
    * daily open/high/low/close/volume bars — THE market-data resampling
    * primitive (pandas `resample('D').ohlc()`; the reference's
    * canonical-merge tables are consumed at exactly this granularity).
    * Open/close are `min_by`/`max_by` on the deterministic line ordinal
    * (no sort anywhere — Spark evaluates arg-extrema inside the hash
    * aggregate); high/low are plain extrema; volume is the decimal-exact
    * sum. ONE hash aggregate with map-side partials on (asset, day) —
    * the 100 TB shape is the aggregate itself, no window, no shuffle
    * beyond the group key. */
  val resampleOhlc = Q("q_resample_ohlc", "daily OHLC bar resampling per asset")(
    "SELECT l_partkey, date_trunc('day', l_shipdate) AS day, " +
      "arg_min(l_extendedprice, (l_orderkey * 8 + l_linenumber)) AS open, " +
      "max(l_extendedprice) AS high, min(l_extendedprice) AS low, " +
      "arg_max(l_extendedprice, (l_orderkey * 8 + l_linenumber)) AS close, " +
      Exact.Sql.sum("l_quantity") + " AS volume " +
      "FROM lineitem GROUP BY 1, 2") {
    (s, d) =>
      val ord = col("l_orderkey") * 8 + col("l_linenumber")
      lineitem(s, d)
        .groupBy(col("l_partkey"), date_trunc("day", col("l_shipdate")).as("day"))
        .agg(min_by(col("l_extendedprice"), ord).as("open"),
          max(col("l_extendedprice")).as("high"),
          min(col("l_extendedprice")).as("low"),
          max_by(col("l_extendedprice"), ord).as("close"),
          Exact.exactSum(col("l_quantity")).as("volume"))
  }

  /** Per-class precision/recall/F1 of the language-ID heuristic (r11) —
    * the one-row-per-class summary the confusion matrix
    * (q_text_langid_confusion) feeds a dashboard: truth is the labeled
    * lang column folded to the classifier's own two-class universe
    * ('en' vs 'und'), so the numbers grade exactly the decision the
    * pipeline makes (keep-as-English or not). tp/fp/fn are raw BIGINT
    * counts; precision/recall/F1 are single IEEE divisions of those
    * integers, published as grid cells, NULL (not 0) when a denominator
    * is empty — an absent class has no measurable precision.
    *
    * Scale: one corpus-sized classify pass (shared with the confusion
    * matrix), then a 2-row broadcast label frame × grouped integer
    * sums — the output is |classes| rows regardless of corpus size. */
  val evalF1Langid = Q("q_eval_f1_langid",
    "per-class precision/recall/F1 of the language-ID heuristic")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "p AS (SELECT doc_id, CASE WHEN score >= 0.02 " +
      "THEN 'en' ELSE 'und' END AS pl FROM sc), " +
      "j AS (SELECT CASE WHEN d.lang = 'en' THEN 'en' ELSE 'und' END AS tl, " +
      "p.pl FROM p JOIN documents d ON d.doc_id = p.doc_id), " +
      "st AS (SELECT l.label, " +
      "CAST(sum(CASE WHEN j.tl = l.label AND j.pl = l.label THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN j.tl <> l.label AND j.pl = l.label THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
      "CAST(sum(CASE WHEN j.tl = l.label AND j.pl <> l.label THEN 1 ELSE 0 END) AS BIGINT) AS fn " +
      "FROM j CROSS JOIN (SELECT 'en' AS label UNION ALL SELECT 'und') l GROUP BY 1) " +
      "SELECT label, tp, fp, fn, " +
      "CASE WHEN tp + fp > 0 THEN " +
      Exact.Sql.pinScoreInt("CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)") +
      " END AS precision_c, " +
      "CASE WHEN tp + fn > 0 THEN " +
      Exact.Sql.pinScoreInt("CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)") +
      " END AS recall_c, " +
      "CASE WHEN 2 * tp + fp + fn > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)") +
      " END AS f1 FROM st") {
    (s, d) =>
      import s.implicits._
      val pred = enScore(s, d).select(col("doc_id"),
        when(col("score") >= 0.02, "en").otherwise("und").as("pl"))
      val j = pred.join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .select(when(col("lang") === "en", "en").otherwise("und").as("tl"), col("pl"))
      val labels = Seq("en", "und").toDF("label")
      val st = j.crossJoin(broadcast(labels)).groupBy("label")
        .agg(sum(when(col("tl") === col("label") && col("pl") === col("label"), 1L)
          .otherwise(0L)).as("tp"),
          sum(when(col("tl") =!= col("label") && col("pl") === col("label"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("tl") === col("label") && col("pl") =!= col("label"), 1L)
            .otherwise(0L)).as("fn"))
      st.select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0, Exact.pinScoreInt(
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .as("precision_c"),
        when(col("tp") + col("fn") > 0, Exact.pinScoreInt(
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .as("recall_c"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0, Exact.pinScoreInt(
          (lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
          .as("f1"))
  }

  /** The two audited predicate bands: a part-key band and a supplier-key
    * band — selective at every test SF (partkey domain grows with sf;
    * suppkey stays small) so both pruning numbers stay meaningful. */
  private val PruneLoP = 100L
  private val PruneHiP = 299L
  private val PruneLoS = 10L
  private val PruneHiS = 49L

  /** Compaction target size (bytes of n_chars mass per output bin):
    * 2 KiB packs the fixture's ~100-file manifest into a few bins per
    * source; production would pass 128 MiB. */
  private val CompactTarget = 2048L

  /** Zone-map pruning audit of the Z-order layout (r11) — the number
    * that justifies q_zorder_curve's existence: files laid out by the
    * Morton key keep per-file min/max "zone maps" on BOTH interleaved
    * dimensions, and a scan with a selective predicate on EITHER key
    * skips every file whose [min, max] misses the band. This audit
    * builds the cell → (min, max) zone maps (cells = 256 equal zval
    * slices of the OBSERVED curve range, the file-boundary analog) and
    * publishes, for a part-key band and a supplier-key band, how many
    * cells a zone-map-aware scan prunes and what fraction of rows it
    * never reads — the data-skipping effectiveness report a table
    * OPTIMIZE job prints. A near-zero fraction says the layout has
    * decayed (or the keys were never clustered) and a re-sort is due.
    *
    * Scale: one scan for the curve max (an O(1) zone-map read in a real
    * lake), one 256-key hash aggregate for the maps, one 1-row fold —
    * corpus-linear, no shuffle wider than the cell count. Integer-pure
    * except the two pinned fractions. */
  val layoutPruning = Q("q_layout_pruning",
    "zone-map pruning audit over the Z-order cell layout")(
    "WITH z AS (SELECT l_partkey, l_suppkey, " +
      s"(CASE WHEN l_partkey BETWEEN 0 AND $ZKeyMax " +
      s"AND l_suppkey BETWEEN 0 AND $ZKeyMax " +
      s"THEN (${spreadBitsSql("l_partkey")} | (${spreadBitsSql("l_suppkey")} << 1)) " +
      s"ELSE error('z-order key outside [0, $ZKeyMax]') END) AS zval " +
      "FROM lineitem), " +
      "mx AS (SELECT max(zval) AS zmax FROM z), " +
      "zc AS (SELECT l_partkey, l_suppkey, zval // ((mx.zmax // 256) + 1) AS cell " +
      "FROM z CROSS JOIN mx), " +
      "maps AS (SELECT cell, CAST(count(*) AS BIGINT) AS n, " +
      "min(l_partkey) AS p_min, max(l_partkey) AS p_max, " +
      "min(l_suppkey) AS s_min, max(l_suppkey) AS s_max FROM zc GROUP BY 1), " +
      "f AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(n) AS BIGINT) AS n_rows, " +
      s"CAST(sum(CASE WHEN p_max < $PruneLoP OR p_min > $PruneHiP THEN 1 ELSE 0 END) AS BIGINT) AS p_pruned_cells, " +
      s"CAST(sum(CASE WHEN p_max < $PruneLoP OR p_min > $PruneHiP THEN n ELSE 0 END) AS BIGINT) AS p_skipped_rows, " +
      s"CAST(sum(CASE WHEN s_max < $PruneLoS OR s_min > $PruneHiS THEN 1 ELSE 0 END) AS BIGINT) AS s_pruned_cells, " +
      s"CAST(sum(CASE WHEN s_max < $PruneLoS OR s_min > $PruneHiS THEN n ELSE 0 END) AS BIGINT) AS s_skipped_rows " +
      "FROM maps) " +
      "SELECT n_cells, n_rows, p_pruned_cells, p_skipped_rows, " +
      Exact.Sql.pinScoreInt("CAST(p_skipped_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)") +
      " AS p_skip_frac, s_pruned_cells, s_skipped_rows, " +
      Exact.Sql.pinScoreInt("CAST(s_skipped_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)") +
      " AS s_skip_frac FROM f") {
    (s, d) =>
      val z = lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
        zvalExpr(col("l_partkey"), col("l_suppkey")).as("zval"))
      val mx = z.agg(max("zval").as("zmax"))
      val maps = z.crossJoin(broadcast(mx))
        .withColumn("cell", expr("zval div ((zmax div 256) + 1)"))
        .groupBy("cell").agg(count(lit(1)).as("n"),
          min("l_partkey").as("p_min"), max("l_partkey").as("p_max"),
          min("l_suppkey").as("s_min"), max("l_suppkey").as("s_max"))
      def pruned(mn: String, mxc: String, lo: Long, hi: Long) =
        col(mxc) < lo || col(mn) > hi
      maps.agg(count(lit(1)).as("n_cells"), sum("n").as("n_rows"),
        sum(when(pruned("p_min", "p_max", PruneLoP, PruneHiP), 1L).otherwise(0L))
          .as("p_pruned_cells"),
        sum(when(pruned("p_min", "p_max", PruneLoP, PruneHiP), col("n")).otherwise(0L))
          .as("p_skipped_rows"),
        sum(when(pruned("s_min", "s_max", PruneLoS, PruneHiS), 1L).otherwise(0L))
          .as("s_pruned_cells"),
        sum(when(pruned("s_min", "s_max", PruneLoS, PruneHiS), col("n")).otherwise(0L))
          .as("s_skipped_rows"))
        .select(col("n_cells"), col("n_rows"),
          col("p_pruned_cells"), col("p_skipped_rows"),
          Exact.pinScoreInt(col("p_skipped_rows").cast("double") /
            col("n_rows").cast("double")).as("p_skip_frac"),
          col("s_pruned_cells"), col("s_skipped_rows"),
          Exact.pinScoreInt(col("s_skipped_rows").cast("double") /
            col("n_rows").cast("double")).as("s_skip_frac"))
  }

  /** Small-file compaction plan (r11) — the lakehouse OPTIMIZE planning
    * step: treat each (source, lang) document group as one "file" of
    * `bytes` = Σ n_chars (the manifest a real lake reads from parquet
    * footers), and bin-pack files per source, in lang order, into
    * ~2 KiB target bins by prefix-sum offset: bin_id = start_off ÷
    * target. A file lands wholly in the bin its START offset falls in —
    * first-fit in manifest order, each bin overshooting the target by at
    * most one file (the rule real compaction jobs use: never split a
    * file). The published plan is the rewrite job's work list.
    *
    * Scale: the window runs over the FILE MANIFEST, which is metadata-
    * sized (files per source, not rows) — the same bounded-partition
    * argument as q_agg_gini_source's source table; if a single source's
    * manifest ever outgrows a partition, ops.Corpus.packOffsets'
    * two-phase prefix layout slots in unchanged (same offsets). Output
    * is integer-pure. */
  val fileCompactionPlan = Q("q_file_compaction_plan",
    "small-file compaction bins from the (source, lang) manifest")(
    "WITH m AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes " +
      "FROM documents GROUP BY 1, 2), " +
      "o AS (SELECT *, CAST(sum(bytes) OVER (PARTITION BY source ORDER BY lang " +
      "ROWS UNBOUNDED PRECEDING) - bytes AS BIGINT) AS start_off FROM m) " +
      s"SELECT source, lang, bytes, start_off, start_off // $CompactTarget AS bin_id " +
      "FROM o") {
    (s, d) =>
      val m = documents(s, d).groupBy("source", "lang")
        .agg(sum("n_chars").as("bytes"))
      val w = Window.partitionBy("source").orderBy("lang")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.withColumn("start_off", sum("bytes").over(w) - col("bytes"))
        .select(col("source"), col("lang"), col("bytes"), col("start_off"),
          expr(s"start_off div $CompactTarget").as("bin_id"))
  }

  /** PR-AUC / average precision of the en-score ranking (r13) — the
    * precision-recall companion of q_eval_auc: on a class-imbalanced
    * gate (the usual corpus-curation case: few 'good' docs in a sea of
    * noise) ROC AUC saturates while average precision still moves. Exact
    * tie-aware threshold definition (sklearn's average_precision_score):
    * thresholds at DISTINCT score groups descending, AP = Σ_k ΔR_k · P_k
    * = (1/n_pos) Σ_k np_k · (TP_k / N_k), with TP_k/N_k the inclusive
    * positives/total at-or-above group k. Each group term is one IEEE
    * divide+multiply in a pinned order; the sum rides the 2⁻³⁰ portable
    * grid; the published AP is a grid cell next to the integer class
    * counts and the prevalence baseline (AP of a random ranker).
    *
    * Scale: same layout as q_eval_auc — per-score hash aggregate, then
    * BOTH descending cumulatives derived from ops.Quantiles' two-phase
    * bit-prefix prefix sums (no unpartitioned window over the distinct-
    * score frame), then one scalar fold. */
  val evalPrAuc = Q("q_eval_pr_auc", "tie-aware average precision of the en-score ranking")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      "g AS (SELECT score, CAST(sum(y) AS BIGINT) AS np, " +
      "CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY 1), " +
      "c AS (SELECT score, np, n, " +
      "CAST(COALESCE(sum(np) OVER wlt, 0) AS BIGINT) AS np_lt, " +
      "CAST(COALESCE(sum(n) OVER wlt, 0) AS BIGINT) AS n_lt FROM g " +
      "WINDOW wlt AS (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
      "tot AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_all FROM g), " +
      "tm AS (SELECT " + Exact.Sql.portableSum(
        "CAST(c.np AS DOUBLE) * (CAST(t.n_pos - c.np_lt AS DOUBLE) / " +
          "CAST(t.n_all - c.n_lt AS DOUBLE))") + " AS s " +
      "FROM c CROSS JOIN tot t WHERE c.np > 0) " +
      "SELECT t.n_pos, t.n_all - t.n_pos AS n_neg, " +
      "CASE WHEN t.n_pos > 0 THEN " +
      Exact.Sql.pinScoreInt("tm.s / CAST(t.n_pos AS DOUBLE)") + " END AS ap, " +
      "CASE WHEN t.n_all > 0 THEN " +
      Exact.Sql.pinScoreInt("CAST(t.n_pos AS DOUBLE) / CAST(t.n_all AS DOUBLE)") +
      " END AS prevalence FROM tot t CROSS JOIN tm") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val g = lab.groupBy("score")
        .agg(sum("y").cast("long").as("np"), count(lit(1)).as("n"))
      // both descending cumulatives via the two-phase ascending-exclusive
      // prefixes (inclusive-at-or-above = total − exclusive-below)
      val c = graft.ops.Quantiles.exclusivePrefixSum(
        graft.ops.Quantiles.exclusivePrefixSum(g, "score", "np", "np_lt"),
        "score", "n", "n_lt")
        .select(col("score"), col("np"), col("n"),
          col("np_lt").cast("long").as("np_lt"), col("n_lt").cast("long").as("n_lt"))
      val tot = g.agg(sum("np").cast("long").as("n_pos"),
        sum("n").cast("long").as("n_all"))
      val tm = c.crossJoin(broadcast(tot)).filter(col("np") > 0)
        .agg(Exact.portableSum(col("np").cast("double") *
          ((col("n_pos") - col("np_lt")).cast("double") /
            (col("n_all") - col("n_lt")).cast("double"))).as("s"))
      tot.crossJoin(tm)
        .select(col("n_pos"), (col("n_all") - col("n_pos")).as("n_neg"),
          when(col("n_pos") > 0,
            Exact.pinScoreInt(col("s") / col("n_pos").cast("double"))).as("ap"),
          when(col("n_all") > 0, Exact.pinScoreInt(
            col("n_pos").cast("double") / col("n_all").cast("double"))).as("prevalence"))
  }

  /** CDC changeset APPLY (r13) — the write half of q_snapshot_diff: ship
    * only the compact changelog (insert/update/delete — never the 'same'
    * rows) and MERGE it into the old snapshot: deletes drop, updates
    * overwrite, inserts add, untouched keys carry forward. This is the
    * Delta/Iceberg `MERGE INTO` shape done as one full-outer join, and
    * the invariant that makes CDC a protocol rather than a report:
    * apply(old, diff(old, new)) ≡ new — spec-asserted against the
    * independently-built new snapshot (Round13OpsSpec).
    *
    * Scale: one key-partitioned full-outer join of the old snapshot
    * against a changelog that is SMALL by construction (churn, not
    * corpus): broadcast-able below the AQE threshold, key-shuffled
    * above; per row the merge decision is a constant-time CASE. The
    * published applied_op column is the per-row audit trail a lake
    * MERGE emits as its operation metrics. */
  val cdcApply = Q("q_cdc_apply", "apply the CDC changeset: merge insert/update/delete into the old snapshot")(
    "WITH base AS (SELECT l_partkey, l_shipdate, l_extendedprice AS px, " +
      "(l_orderkey * 8 + l_linenumber) AS ord FROM lineitem), " +
      s"o AS (SELECT l_partkey, px FROM (SELECT base.*, row_number() OVER " +
      "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, ord DESC) AS rn " +
      s"FROM base WHERE l_shipdate <= '$DiffOldEnd') WHERE rn = 1), " +
      s"n AS (SELECT l_partkey, px FROM (SELECT base.*, row_number() OVER " +
      "(PARTITION BY l_partkey ORDER BY l_shipdate DESC, ord DESC) AS rn " +
      s"FROM base WHERE l_shipdate > '$DiffOldEnd' AND l_shipdate <= '$DiffNewEnd') WHERE rn = 1), " +
      "chg AS (SELECT COALESCE(o.l_partkey, n.l_partkey) AS l_partkey, " +
      "n.px AS new_price, " +
      "CASE WHEN o.l_partkey IS NULL THEN 'insert' " +
      "WHEN n.l_partkey IS NULL THEN 'delete' " +
      "WHEN o.px <> n.px THEN 'update' END AS change_type " +
      "FROM o FULL OUTER JOIN n ON n.l_partkey = o.l_partkey " +
      "WHERE o.l_partkey IS NULL OR n.l_partkey IS NULL OR o.px <> n.px) " +
      "SELECT COALESCE(o.l_partkey, c.l_partkey) AS l_partkey, " +
      "CASE WHEN c.change_type IN ('insert', 'update') THEN c.new_price ELSE o.px END AS px, " +
      "COALESCE(c.change_type, 'carry') AS applied_op " +
      "FROM o FULL OUTER JOIN chg c ON c.l_partkey = o.l_partkey " +
      "WHERE c.change_type IS NULL OR c.change_type <> 'delete'") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = lineitem(s, d).select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice").as("px"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("ord"))
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_shipdate").desc, col("ord").desc)
      def snap(f: org.apache.spark.sql.Column) =
        base.filter(f).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("l_partkey", "px")
      val o = snap(col("l_shipdate") <= lit(DiffOldEnd).cast("timestamp"))
        .localCheckpoint() // diffed against n AND merged against chg
      val n = snap(col("l_shipdate") > lit(DiffOldEnd).cast("timestamp") &&
        col("l_shipdate") <= lit(DiffNewEnd).cast("timestamp"))
      val chg = o.as("o").join(n.as("n"),
          col("n.l_partkey") === col("o.l_partkey"), "full_outer")
        .filter(col("o.l_partkey").isNull || col("n.l_partkey").isNull ||
          col("o.px") =!= col("n.px"))
        .select(
          coalesce(col("o.l_partkey"), col("n.l_partkey")).as("l_partkey"),
          col("n.px").as("new_price"),
          when(col("o.l_partkey").isNull, "insert")
            .when(col("n.l_partkey").isNull, "delete")
            .when(col("o.px") =!= col("n.px"), "update").as("change_type"))
      o.as("o").join(chg.as("c"),
          col("c.l_partkey") === col("o.l_partkey"), "full_outer")
        .filter(col("c.change_type").isNull || col("c.change_type") =!= "delete")
        .select(
          coalesce(col("o.l_partkey"), col("c.l_partkey")).as("l_partkey"),
          when(col("c.change_type").isin("insert", "update"), col("c.new_price"))
            .otherwise(col("o.px")).as("px"),
          coalesce(col("c.change_type"), lit("carry")).as("applied_op"))
  }

  /** Kolmogorov–Smirnov statistic of the en-score ranking (r13) — the
    * separation gauge beside AUC/AP: KS = max over score thresholds of
    * |F_pos − F_neg|, the largest CDF gap between the positive and
    * negative score distributions. Computed tie-aware from the SAME
    * per-score frame as q_eval_auc; both CDFs ride ops.Quantiles'
    * two-phase bit-prefix prefix sums, and the max is taken over the
    * INTEGER cross-difference cp·n_neg − cn·n_pos (exact in int64 under
    * the same <2e9 class-count guard as AUC) so the published KS is one
    * pinned division of exact integers.
    *
    * Scale: per-score hash aggregate → two bounded-bucket prefix sums →
    * one scalar max fold. No unpartitioned window over the score frame. */
  val evalKs = Q("q_eval_ks", "tie-aware Kolmogorov-Smirnov gap of the en-score ranking")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      "g AS (SELECT score, CAST(sum(y) AS BIGINT) AS np, " +
      "CAST(count(*) - sum(y) AS BIGINT) AS nn FROM lab GROUP BY 1), " +
      "c AS (SELECT score, CAST(sum(np) OVER wle AS BIGINT) AS cp, " +
      "CAST(sum(nn) OVER wle AS BIGINT) AS cn FROM g " +
      "WINDOW wle AS (ORDER BY score ROWS UNBOUNDED PRECEDING)), " +
      "st AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos, " +
      "CAST(sum(nn) AS BIGINT) AS n_neg FROM g), " +
      "m AS (SELECT CAST(max(abs(c.cp * st.n_neg - c.cn * st.n_pos)) AS BIGINT) " +
      "AS ks_num FROM c CROSS JOIN st) " +
      "SELECT st.n_pos, st.n_neg, CASE WHEN st.n_pos > 0 AND st.n_neg > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "CAST(m.ks_num AS DOUBLE) / (CAST(st.n_pos AS DOUBLE) * CAST(st.n_neg AS DOUBLE))") +
      " END AS ks FROM st CROSS JOIN m") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val g = lab.groupBy("score")
        .agg(sum("y").cast("long").as("np"),
          (count(lit(1)) - sum("y")).cast("long").as("nn"))
      val c = graft.ops.Quantiles.exclusivePrefixSum(
        graft.ops.Quantiles.exclusivePrefixSum(g, "score", "np", "cp_ex"),
        "score", "nn", "cn_ex")
        .select(col("score"),
          (col("cp_ex").cast("long") + col("np")).as("cp"),
          (col("cn_ex").cast("long") + col("nn")).as("cn"))
      val st = g.agg(sum("np").cast("long").as("n_pos"),
        sum("nn").cast("long").as("n_neg"))
      val inDomain = col("n_pos") < 2000000000L && col("n_neg") < 2000000000L
      val m = c.crossJoin(broadcast(st))
        .agg(max(abs(col("cp") * col("n_neg") - col("cn") * col("n_pos")))
          .cast("long").as("ks_num"))
      st.crossJoin(m)
        .select(col("n_pos"), col("n_neg"),
          when(assert_true(inDomain,
              lit("q_eval_ks: class count beyond the int64-exact CDF-gap domain " +
                "(swap ks_num to DECIMAL(38,0))")).isNull &&
              col("n_pos") > 0 && col("n_neg") > 0,
            Exact.pinScoreInt(col("ks_num").cast("double") /
              (col("n_pos").cast("double") * col("n_neg").cast("double")))).as("ks"))
  }

  /** Lift-by-decile table of the en-score ranking (r13) — the campaign-
    * targeting read of the same classifier q_eval_auc/calibration score:
    * rank docs by score descending, cut into value-cohort deciles (ties
    * share a decile — the q_event_power_users convention, so the cut is
    * deterministic under any row order), and publish per decile the doc/
    * positive counts, precision, and lift = precision / corpus
    * prevalence. A well-separated ranker shows lift >> 1 in decile 0
    * decaying below 1; a flat lift column says the score carries no
    * signal even when AUC looks fine on the tail.
    *
    * Scale: per-score hash aggregate → one bounded-bucket prefix sum for
    * the strictly-greater mass → a ≤10-key aggregate. All published
    * ratios are pinned divisions of exact integers. */
  val evalLiftDeciles = Q("q_eval_lift_deciles",
    "per-decile precision and lift of the en-score ranking")(
    "WITH " + TextQueries.tokwBody +
      ", " + enScoreCte + ", " +
      "lab AS (SELECT s.doc_id, s.score, " +
      "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y " +
      "FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
      "g AS (SELECT score, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(y) AS BIGINT) AS np FROM lab GROUP BY 1), " +
      "c AS (SELECT score, n, np, CAST(COALESCE(sum(n) OVER " +
      "(ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "AS BIGINT) AS dgt FROM g), " +
      "tt AS (SELECT CAST(sum(n) AS BIGINT) AS nd, CAST(sum(np) AS BIGINT) AS npos FROM g), " +
      "dd AS (SELECT least(9, (c.dgt * 10) // tt.nd) AS decile, " +
      "CAST(sum(c.n) AS BIGINT) AS n_docs, CAST(sum(c.np) AS BIGINT) AS n_pos " +
      "FROM c CROSS JOIN tt GROUP BY 1) " +
      "SELECT dd.decile, dd.n_docs, dd.n_pos, " +
      Exact.Sql.pinScoreInt(
        "CAST(dd.n_pos AS DOUBLE) / CAST(dd.n_docs AS DOUBLE)") + " AS prec, " +
      "CASE WHEN tt.npos > 0 THEN " +
      Exact.Sql.pinScoreInt(
        "(CAST(dd.n_pos AS DOUBLE) * CAST(tt.nd AS DOUBLE)) / " +
          "(CAST(dd.n_docs AS DOUBLE) * CAST(tt.npos AS DOUBLE))") +
      " END AS lift FROM dd CROSS JOIN tt") {
    (s, d) =>
      val lab = enScore(s, d)
        .join(documents(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("int").as("y")), "doc_id")
      val g = lab.groupBy("score")
        .agg(count(lit(1)).as("n"), sum("y").cast("long").as("np"))
        .localCheckpoint(eager = false) // the prefix, the totals, and the cut
      // strictly-greater mass = total − (exclusive-below + self)
      val c = graft.ops.Quantiles.exclusivePrefixSum(g, "score", "n", "d_lt")
      val t = g.agg(sum("n").cast("long").as("nd"), sum("np").cast("long").as("npos"))
      val dd = c.crossJoin(broadcast(t))
        .withColumn("dgt", col("nd") - col("d_lt").cast("long") - col("n"))
        .groupBy(least(lit(9L), expr("(dgt * 10) div nd")).cast("long").as("decile"))
        .agg(sum("n").cast("long").as("n_docs"), sum("np").cast("long").as("n_pos"))
      dd.crossJoin(broadcast(t))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          Exact.pinScoreInt(
            col("n_pos").cast("double") / col("n_docs").cast("double")).as("prec"),
          when(col("npos") > 0, Exact.pinScoreInt(
            (col("n_pos").cast("double") * col("nd").cast("double")) /
              (col("n_docs").cast("double") * col("npos").cast("double")))).as("lift"))
  }

  /** Cohen's kappa of the registered 'en' classifier (r12) — the
    * chance-corrected agreement number the confusion matrix
    * (q_text_langid_confusion) and F1 (q_eval_f1_langid) don't publish:
    * on an imbalanced corpus raw accuracy rewards always-guessing the
    * majority; κ = (p_o − p_e)/(1 − p_e) subtracts exactly that
    * always-guess baseline. Truth is binarized to the classifier's own
    * {en, und} label space. ONE corpus-sized aggregate (the per-doc
    * score) feeds four integer counts; everything after is scalar
    * arithmetic in one written IEEE order, published pinned. κ is NULL
    * when p_e = 1 (single-class degenerate corpus — nothing to agree
    * beyond chance about). */
  val evalKappa = Q("q_eval_kappa",
    "Cohen's kappa of the en-classifier vs binarized truth (chance-corrected)")(
    "WITH " + TextQueries.tokwBody + ", " + enScoreCte + ", " +
      "p AS (SELECT doc_id, CASE WHEN score >= 0.02 THEN 'en' ELSE 'und' END " +
      "AS pred FROM sc), " +
      "j AS (SELECT CASE WHEN d.lang = 'en' THEN 'en' ELSE 'und' END AS truth, " +
      "p.pred FROM p JOIN documents d ON d.doc_id = p.doc_id), " +
      "c AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS BIGINT) AS agree, " +
      "CAST(sum(CASE WHEN truth = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_en, " +
      "CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p_en FROM j), " +
      "k AS (SELECT n, agree, t_en, p_en, " +
      "CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po, " +
      "((CAST(t_en AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(p_en AS DOUBLE) / CAST(n AS DOUBLE))) + " +
      "((CAST(n - t_en AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(n - p_en AS DOUBLE) / CAST(n AS DOUBLE))) AS pe FROM c) " +
      "SELECT n AS n_docs, agree AS n_agree, t_en AS n_true_en, p_en AS n_pred_en, " +
      Exact.Sql.pinScoreInt("po") + " AS po, " + Exact.Sql.pinScoreInt("pe") + " AS pe, " +
      "CASE WHEN pe < 1.0 THEN " +
      Exact.Sql.pinScoreInt("(po - pe) / (1.0 - pe)") + " END AS kappa FROM k") {
    (s, d) =>
      val j = enScore(s, d)
        .select(col("doc_id"),
          when(col("score") >= 0.02, "en").otherwise("und").as("pred"))
        .join(documents(s, d).select(col("doc_id"),
          when(col("lang") === "en", "en").otherwise("und").as("truth")), "doc_id")
      val c = j.agg(count(lit(1)).as("n"),
        sum(when(col("truth") === col("pred"), 1).otherwise(0)).as("agree"),
        sum(when(col("truth") === "en", 1).otherwise(0)).as("t_en"),
        sum(when(col("pred") === "en", 1).otherwise(0)).as("p_en"))
      val nD = col("n").cast("double")
      val po = col("agree").cast("double") / nD
      val pe = ((col("t_en").cast("double") / nD) * (col("p_en").cast("double") / nD)) +
        (((col("n") - col("t_en")).cast("double") / nD) *
          ((col("n") - col("p_en")).cast("double") / nD))
      c.select(col("n").cast("long").as("n_docs"),
          col("agree").cast("long").as("n_agree"),
          col("t_en").cast("long").as("n_true_en"),
          col("p_en").cast("long").as("n_pred_en"),
          Exact.pinScoreInt(po).as("po"), Exact.pinScoreInt(pe).as("pe"),
          when(pe < 1.0, Exact.pinScoreInt((po - pe) / (lit(1.0) - pe))).as("kappa"))
  }

  /** Population stability index of the event-value distribution (r12) —
    * THE production drift monitor: decile bins fitted on the FIRST half
    * of the observation window (the q_event_ab_cuped split convention),
    * both halves' bin shares compared, per-bin PSI term
    * (p₂−p₁)·ln(p₂/p₁) published pinned (rule of thumb: Σ < 0.1 stable,
    * > 0.25 retrain). Bin fitting is the registered two-phase
    * discrete-quantile layout (histogram + distinct-value prefix — no
    * sort) with INTEGER cross-multiplied cuts (10·cum ≥ i·n — the
    * q_quantile_weighted rule, no float product near a ceil boundary);
    * bin ASSIGNMENT is 1 + Σᵢ 1[v > tᵢ] against the broadcast
    * 9-threshold row — integer comparisons, no between-engine rounding
    * surface; shares are one division each; the ln is the portable
    * recipe over the 10-row bin frame. Universe-complete: every bin
    * publishes, a zero count on either side yields a NULL term (no
    * epsilon fudging), never a dropped row. */
  val profilePsi = Q("q_profile_psi",
    "per-decile-bin PSI of event value, first half vs second half (pinned terms)")(
    "WITH b AS (SELECT min(epoch_us(ts) // 86400000000) AS mind, " +
      "max(epoch_us(ts) // 86400000000) AS maxd FROM events), " +
      "e AS (SELECT value, " +
      "CASE WHEN epoch_us(ts) // 86400000000 < (b.mind + b.maxd + 1) // 2 " +
      "THEN 1 ELSE 2 END AS half FROM events CROSS JOIN b WHERE value IS NOT NULL), " +
      "h AS (SELECT value, CAST(count(*) AS BIGINT) AS c FROM e WHERE half = 1 " +
      "GROUP BY 1), " +
      "w AS (SELECT value, c, sum(c) OVER (ORDER BY value) AS cum, " +
      "sum(c) OVER () AS n FROM h), " +
      "q AS (SELECT " + (1 to 9).map(i =>
        s"min(CASE WHEN 10 * cum >= $i * n THEN value END) AS t$i")
        .mkString(", ") + " FROM w), " +
      "binned AS (SELECT e.half, 1 " + (1 to 9).map(i =>
        s"+ (CASE WHEN e.value > q.t$i THEN 1 ELSE 0 END)").mkString(" ") +
      " AS bin FROM e CROSS JOIN q), " +
      "cnt AS (SELECT bin, " +
      "CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
      "CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 " +
      "FROM binned GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 " +
      "FROM cnt), " +
      "sh AS (SELECT bin, n1, n2, " +
      "CAST(n1 AS DOUBLE) / CAST(t.t1 AS DOUBLE) AS p1, " +
      "CAST(n2 AS DOUBLE) / CAST(t.t2 AS DOUBLE) AS p2 FROM cnt CROSS JOIN tot t), " +
      "lx AS (SELECT bin, n1, n2, p1, p2, " +
      "CASE WHEN n1 > 0 AND n2 > 0 THEN p2 / p1 END AS _lnx FROM sh), " +
      Portable.plnSqlCtes("lx", "lr") + " " +
      "SELECT CAST(bin AS BIGINT) AS bin, n1, n2, " +
      Exact.Sql.pinScoreInt("p1") + " AS p1, " +
      Exact.Sql.pinScoreInt("p2") + " AS p2, " +
      "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
      Exact.Sql.pinScoreInt("(p2 - p1) * _pln") + " END AS psi_term FROM lr") {
    (s, d) =>
      val dnum = expr("unix_micros(ts) div 86400000000")
      val b = events(s, d).agg(min(dnum).as("mind"), max(dnum).as("maxd"))
      val e = events(s, d).filter(col("value").isNotNull)
        .crossJoin(broadcast(b))
        .select(col("value"),
          when(dnum < expr("(mind + maxd + 1) div 2"), 1).otherwise(2).as("half"))
        .localCheckpoint(eager = false) // bin fitting AND the binned counts read it
      val h = e.filter(col("half") === 1).groupBy("value").agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy("value")
      val w = h.withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(Window.partitionBy()))
      val qAggs = (1 to 9).map(i =>
        min(when(lit(10L) * col("cum") >= lit(i.toLong) * col("n"),
          col("value"))).as(s"t$i"))
      val q = w.agg(qAggs.head, qAggs.tail: _*)
      val bin = (1 to 9).foldLeft(lit(1)) { (acc, i) =>
        acc + when(col("value") > col(s"t$i"), 1).otherwise(0)
      }
      val cnt = e.crossJoin(broadcast(q))
        .select(col("half"), bin.as("bin"))
        .groupBy("bin")
        .agg(sum(when(col("half") === 1, 1).otherwise(0)).cast("long").as("n1"),
          sum(when(col("half") === 2, 1).otherwise(0)).cast("long").as("n2"))
      val tot = cnt.agg(sum("n1").cast("long").as("t1"), sum("n2").cast("long").as("t2"))
      val sh = cnt.crossJoin(broadcast(tot))
        .select(col("bin"), col("n1"), col("n2"),
          (col("n1").cast("double") / col("t1").cast("double")).as("p1"),
          (col("n2").cast("double") / col("t2").cast("double")).as("p2"))
      Portable.pln(sh,
          when(col("n1") > 0 && col("n2") > 0, col("p2") / col("p1")), "lr")
        .select(col("bin").cast("long").as("bin"), col("n1"), col("n2"),
          Exact.pinScoreInt(col("p1")).as("p1"), Exact.pinScoreInt(col("p2")).as("p2"),
          when(col("n1") > 0 && col("n2") > 0,
            Exact.pinScoreInt((col("p2") - col("p1")) * col("lr"))).as("psi_term"))
  }

  val all: Seq[Q] = Seq(splitTrainTest, sourceMix, textOovRate, joinRange,
    mixTemperature, mixEpochs, langidConfusion, resampleFfill, zorderCurve, sampleWeighted,
    snapshotDiff, profileColumns, resampleOhlc, evalAuc, evalCalibration, evalF1Langid,
    layoutPruning, fileCompactionPlan, splitShards, evalPrAuc, cdcApply, evalKs,
    evalLiftDeciles, evalKappa, profilePsi, evalBrier, evalEce)
}
