package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operator library — the reusable transforms behind
  * the dedup, text-quality and token-budget queries and the
  * `graft.CorpusPipeline` chain. Every function takes and returns plain
  * DataFrames carrying at least (doc_id, text); nothing here assumes a row
  * count, and every join/aggregate keys on doc_id, a hash, or a band key
  * (see DESIGN.md §2 for the per-operator scale arguments).
  *
  * Caching: reuse points are localCheckpoint'ed — lineage-free executor
  * blocks that keep iterative plans bounded and are reclaimed with the
  * frame, so the session CacheManager stays empty (CacheHygieneSpec).
  */
object Corpus {

  /** C4-style within-document cleanup: drop every line after its first
    * occurrence (order-preserving, the q_text_dedup_lines identity) and
    * recompute n_chars. Map-only; the identity on single-line documents.
    * Runs BEFORE corpus-level dedup so two documents differing only in
    * how often they repeat a boilerplate line collapse together. */
  def dedupLines(docs: DataFrame): DataFrame =
    docs.withColumn("text", array_join(array_distinct(split(col("text"), "\n")), "\n"))
      .withColumn("n_chars", length(col("text")))

  /** PII redaction pass (the q_text_pii identity, TextOps.piiRedact):
    * returns the redacted frame plus an Observation that counts, as
    * `PiiChanged`, the documents whose text changed. One map-only scan:
    * the count is observed on the frame's first action (the caller's
    * write), so `get` on the Observation blocks until that action has
    * run. No shuffle, no materialization; null text passes through
    * unchanged and uncounted. */
  def redactPii(docs: DataFrame): (DataFrame, Observation) = {
    val pii = Observation()
    val out = docs.withColumn("_red", TextOps.piiRedact(col("text")))
      .observe(pii, count_if(col("_red") =!= col("text")).as(PiiChanged))
      .withColumn("text", col("_red")).drop("_red")
      .withColumn("n_chars", length(col("text")))
    (out, pii)
  }

  /** The [[redactPii]] Observation's changed-document count. */
  val PiiChanged = "pii_changed"

  /** Exact-duplicate keeper filter: one representative (min doc_id) per
    * distinct text. Linear: hash → groupBy → semi-join. With
    * `normalized = true` the identity is the case/punctuation/whitespace-
    * normalized hash (TextOps.normalizeText) — catches re-encoded copies
    * byte-exact dedup misses; same cost shape. */
  def exactDedup(docs: DataFrame, normalized: Boolean = false): DataFrame = {
    val id = if (normalized) TextOps.normalizeText(col("text")) else col("text")
    val keepers = docs
      .groupBy(TextOps.contentHash(id).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  /** Per-document token Shannon entropy in nats (q_text_entropy is a
    * straight select over this): H = pln(dl) − (Σ tf·pln tf)/dl. Portable
    * log (util.Portable) + binary-grid integer sum and final-score pin
    * (util.Exact.portableSum/pinScore) — the sum is associative
    * (partition-order-free) AND involves no engine decimal cast, so the
    * published score is bit-stable across engines, partitionings, and
    * oracle-engine versions (see Exact's PinGrid scaladoc for why the
    * earlier decimal-sum form drifted on transcendental addends). */
  def tokenEntropy(docs: DataFrame): DataFrame =
    withEntropy(textStats(docs, bigrams = false))
      .select(col("doc_id"), col("n_tokens").as("dl"), col("entropy"))

  /** Per-document counts from ONE (doc_id, kind, unit) count aggregate
    * over a document's words (kind 0) and, with `bigrams`, its word
    * bigrams (kind 1): n_tokens = Σ tf, n_distinct = the number of
    * distinct words, `s` = Σ tf·pln(tf) on the binary grid (the entropy
    * numerator), and n_bigrams, top_bigram_n and dup_bigram_n, which are
    * null for a document with fewer than two tokens. Callers that do not
    * read a column have it pruned from the plan. */
  private def textStats(docs: DataFrame, bigrams: Boolean): DataFrame = {
    val pos = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("sp"))
      .select(col("doc_id"), col("sp"), posexplode(col("sp")).as(Seq("i", "word")))
    val units =
      if (!bigrams) pos.select(col("doc_id"), lit(0).as("kind"), col("word").as("unit"))
      else pos.select(col("doc_id"), stack(lit(2), lit(0), col("word"), lit(1),
          when(col("i") + 1 < size(col("sp")),
            concat(col("word"), lit(" "), element_at(col("sp"), col("i") + 2))))
          .as(Seq("kind", "unit")))
        .filter(col("unit").isNotNull)
    val isWord = col("kind") === 0
    val isBigram = col("kind") === 1
    val tf = units.groupBy("doc_id", "kind", "unit").agg(count(lit(1)).as("c"))
    graft.util.Portable.pln(tf, when(isWord, col("c").cast("double")), "lntf")
      .groupBy("doc_id")
      .agg(sum(when(isWord, col("c"))).as("n_tokens"), count_if(isWord).as("n_distinct"),
        graft.util.Exact.portableSum(col("c").cast("double") * col("lntf")).as("s"),
        sum(when(isBigram, col("c"))).as("n_bigrams"),
        max(when(isBigram, col("c"))).as("top_bigram_n"),
        sum(when(isBigram, when(col("c") > 1, col("c")).otherwise(0L))).as("dup_bigram_n"))
  }

  /** [[textStats]] plus the pinned `entropy` column of [[tokenEntropy]]. */
  private def withEntropy(stats: DataFrame): DataFrame =
    graft.util.Portable.pln(stats, col("n_tokens").cast("double"), "lndl")
      .withColumn("entropy", graft.util.Exact.pinScore(
        col("lndl") - (col("s") / col("n_tokens").cast("double"))))
      .drop("lndl")

  /** Connected-component labels over the MinHash-LSH candidate graph:
    * (doc_id, cluster) for every document that appears in at least one
    * candidate pair; cluster = min doc_id of the component. The algorithm,
    * stop rule and round bound are [[componentLabels]]'s. */
  def clusterLabels(docs: DataFrame, maxRounds: Int = 32): DataFrame = {
    val pairs = TextOps.minhashPairs(docs)
    componentLabels(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")),
        maxRounds)
      .select(col("node").as("doc_id"), col("cluster"))
  }

  /** Star-contraction connected components over an arbitrary undirected
    * edge list (columns `src`, `dst`, any orientation, self loops and
    * duplicates ignored): (node, cluster) for every node that appears in
    * at least one edge; cluster = min node id of the component.
    * [[clusterLabels]] and DBSCAN's core-graph clustering call this.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14) — round
    * count is O(log n) in practice regardless of component DIAMETER,
    * where plain min-label propagation needs O(diameter) rounds. Long
    * duplicate chains (mirror families, boilerplate drift) are exactly
    * the components a 100 TB corpus has, so diameter-bound rounds are
    * the scale risk; star-contraction collapses them geometrically.
    * Each phase is one window over the edges of a node (one shuffle on
    * the node key, no join); per-round localCheckpoint keeps the plan
    * bounded (DESIGN.md §2).
    *
    * Stop rule: the rounds end at the first round whose output is a star
    * forest — no node is both a `src` and a `dst`, and every `src` has
    * exactly one edge. A star forest is the algorithm's fixpoint (both
    * phases map it to itself) and already carries the answer: every leaf
    * points at its star's center, which is the component minimum. The
    * test rides on the adjacency window the next large-star reads anyway,
    * so each round has one action and the labels come from that window.
    * Both phases and the test are blind to duplicate edges (min, max, and
    * one emission per distinct neighbor), so no round needs a distinct.
    * Throws if `maxRounds` rounds do not reach a star forest (the labels
    * would be wrong). */
  def componentLabels(edges: DataFrame, maxRounds: Int = 32): DataFrame = {
    // a node's edge rows in neighbor order: `prev` is the neighbor on the
    // row before (null on the node's first row), so `prev <=> dst` marks a
    // duplicate of the row before
    val byNode = Window.partitionBy("src").orderBy("dst")
    val whole = byNode.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = lag("dst", 1).over(byNode).as("prev")
    val fresh = !(col("prev") <=> col("dst"))
    // every (u, neighbor) row of the symmetric adjacency carries u's
    // m = min(N(u) ∪ {u}) and whether u breaks the star-forest shape: it
    // has a smaller neighbor (so it is a src) and a second distinct one
    // (a second edge, or an edge in which it is the dst)
    def adjacency(e: DataFrame): DataFrame = {
      val mn = min("dst").over(whole)
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src"), col("dst"), least(col("src"), mn).as("m"),
          (mn < col("src") && max("dst").over(whole) > mn).as("not_star"), prev)
    }
    // Lazy checkpoints throughout: each round's one action (the star-forest
    // test) materializes the blocks. Under AQE a lazy localCheckpoint still
    // runs every shuffle stage of its plan at the call; only the last stage
    // waits for the action.
    @tailrec
    def contract(adj: DataFrame, round: Int): DataFrame = {
      // large-star: every node u re-links its LARGER neighbors to m(u);
      // output stays larger → smaller (v > u ≥ m)
      val large = adj.filter(col("dst") > col("src") && fresh)
        .select(col("dst").as("src"), col("m").as("dst"))
      // small-star: every node u re-links its (all smaller) neighbors and
      // itself to m = min(N(u)), once each; orientation again preserved
      // (v ≥ m)
      val small = large.select(col("src"), col("dst"), min("dst").over(whole).as("m"), prev)
        .select(stack(lit(2), col("dst"), col("m"), fresh && col("dst") =!= col("m"),
          col("src"), col("m"), col("prev").isNull).as(Seq("src", "dst", "keep")))
        .filter(col("keep")).drop("keep")
      val next = adjacency(small).localCheckpoint(eager = false)
      if (next.agg(count_if(col("not_star"))).head().getLong(0) == 0L)
        // in a star forest m is the leaf's center, or the center itself
        next.filter(col("prev").isNull).select(col("src").as("node"), col("m").as("cluster"))
      else if (round + 1 >= maxRounds)
        throw new IllegalStateException(
          s"componentLabels did not converge in $maxRounds rounds — the star " +
            "contraction should need O(log n); raise maxRounds (labels would " +
            "be wrong)")
      else contract(next, round + 1)
    }
    // star edges oriented larger → smaller (src > dst always)
    contract(adjacency(edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(eager = false)), 0)
  }

  /** Near-duplicate keeper filter: keep every unclustered document plus
    * the best member (longest text, doc_id tiebreak) of each duplicate
    * cluster. */
  def nearDupDedup(docs: DataFrame): DataFrame = {
    val labeled = clusterLabels(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val w = Window.partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
    val dropIds = labeled
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc_id")
      // lazy: the caller's write of the kept frame materializes it
      .localCheckpoint(eager = false)
    docs.join(dropIds, Seq("doc_id"), "left_anti")
  }

  /** Gopher-style repetition signals per document — the full report
    * (q_text_repetition is a straight select over this): (doc_id,
    * n_tokens, n_distinct, dup_token_frac, top_bigram_frac,
    * dup_bigram_frac). Integer counts, one division per fraction. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    textStats(docs, bigrams = true).filter(col("n_bigrams").isNotNull)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), DupTokenFrac,
        TopBigramFrac, (col("dup_bigram_n").cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"))

  private val DupTokenFrac =
    ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
      .as("dup_token_frac")
  private val TopBigramFrac =
    (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac")

  /** Quality gate: drop documents whose repetition signals exceed the
    * thresholds — and, when `minEntropy` is set, whose token entropy
    * falls below it (template/spam floor). Returns (kept, removedCount).
    * Both signals come from one count aggregate ([[textStats]]), and the
    * flag is one predicate per document (no join, union or distinct). The
    * flagged id set is checkpointed lazily, so the removed count's own job
    * runs the signal subtree once and `kept` reuses the blocks. */
  def qualityFilter(docs: DataFrame, maxDupTokenFrac: Double,
      maxTopBigramFrac: Double, minEntropy: Option[Double] = None): (DataFrame, Long) = {
    val signals = withEntropy(textStats(docs, bigrams = true))
      .select(col("doc_id"), col("n_bigrams"), col("entropy"), DupTokenFrac, TopBigramFrac)
    // a one-token document has no bigrams and so no repetition signals
    val repetitive = col("n_bigrams").isNotNull &&
      (col("dup_token_frac") > maxDupTokenFrac || col("top_bigram_frac") > maxTopBigramFrac)
    val bad = signals
      .filter(minEntropy.fold(repetitive)(h => repetitive || col("entropy") < h))
      .select("doc_id")
      .localCheckpoint(eager = false)
    val kept = docs.join(bad, Seq("doc_id"), "left_anti")
    (kept, bad.count())
  }

  /** Contamination report per training document (q_contamination is a
    * straight select over this): distinct-3-shingle overlap with the
    * benchmark source's shingle set. The benchmark side stays a shuffled
    * equi-join on the shingle key — never forced broadcast.
    *
    * One left join of the training shingles to the distinct benchmark
    * shingles, then per-document counts: n_shingles counts the distinct
    * (doc, shingle) rows and n_overlap those the benchmark holds. bench
    * and train are split BEFORE shingling (source is a column of docs,
    * functionally dependent on doc_id), so no doc_id join is needed. */
  def contaminationScan(docs: DataFrame, benchSource: String,
      flagFrac: Double): DataFrame = {
    // hash-PREFIXED sort-merge keys: joining on (xxhash64(shingle),
    // shingle) leaves the result identical — the hash is a function of
    // the string, so the pair key matches iff the string key matches —
    // but the SMJ's sort resolves almost every comparison on an 8-byte
    // long instead of a ~25-byte UTF8 compare. Engine-internal only:
    // nothing hash-derived is published, so oracle parity is untouched.
    def keyed(d: DataFrame): DataFrame =
      TextOps.shingles3(d).withColumn("h", xxhash64(col("shingle")))
    val bench = keyed(docs.filter(col("source") === benchSource))
      .select("h", "shingle").distinct()
      .withColumn("hit", lit(true))
    val perDoc = keyed(docs.filter(col("source") =!= benchSource))
      .join(bench, Seq("h", "shingle"), "left")
      // the (doc, shingle) distinct runs on the join's (h, shingle)
      // clustering — a subset of its key — so it adds no exchange
      .groupBy("h", "shingle", "doc_id").agg(max("hit").as("hit"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
    val frac = col("n_overlap").cast("double") / col("n_shingles")
    perDoc.select(col("doc_id"), col("n_shingles"), col("n_overlap"),
      frac.as("contam_frac"), (frac >= flagFrac).as("flagged"))
  }

  /** Contamination gate for a TRAINING corpus: drops the benchmark
    * source's documents entirely (they are eval data — training on them
    * is the failure the gate exists to prevent) and drops training
    * documents whose overlap fraction exceeds `maxFrac`. Returns the kept
    * frame plus an Observation that counts, as `ContamFlagged`, the
    * training rows dropped for overlap. The count is observed on the
    * kept frame's first action (the caller's write), above the join, so
    * no plan rewrite of either join side can drop it; `get` blocks until
    * that action has run. */
  def contaminationFilter(docs: DataFrame, benchSource: String,
      maxFrac: Double): (DataFrame, Observation) = {
    val flagged = contaminationScan(docs, benchSource, flagFrac = maxFrac)
      .filter(col("flagged"))
      .select(col("doc_id"), col("flagged").as("_contam"))
    val obs = Observation()
    val kept = docs.filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left")
      .observe(obs, count(col("_contam")).as(ContamFlagged))
      .filter(col("_contam").isNull).drop("_contam")
    (kept, obs)
  }

  /** The [[contaminationFilter]] Observation's dropped-row count. */
  val ContamFlagged = "contam_flagged"

  /** Token-budget curation: per language, keep the largest documents while
    * the running whitespace-token total stays within `budget` (ordered
    * ws_tokens desc, doc_id asc).
    *
    * Scale layout (r4): the naive plan — a running sum over
    * `Window.partitionBy(lang)` — serializes each language's ENTIRE corpus
    * through one task (~5 languages ⇒ the 'en' partition is one task
    * sorting tens of TB). Instead:
    *   1. histogram: one row per (lang, ws_tokens) value-run with its run
    *      count — a distributed hash aggregate;
    *   2. prefix over the histogram (window over per-lang DISTINCT token
    *      counts — bounded by the value domain, not corpus size) gives
    *      each run's tokens-before-this-run;
    *   3. runs whose prefix already exceeds the budget are dropped with a
    *      run-level filter, so only budget-reachable rows re-join (AQE
    *      broadcasts the run frame when small);
    *   4. within a run all rows carry the same token count, so the exact
    *      running total is `before + ws_tokens * row_number` over
    *      `partitionBy(lang, ws_tokens)` — a fine-grained key whose
    *      partitions are single value-runs of the kept prefix, never a
    *      whole language.
    * Bit-identical to the single-sort form: integer arithmetic only, same
    * (ws_tokens desc, doc_id) order, one value-run of over-scan at most. */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    // ws_tokens stays NULLABLE in the output (the window form's
    // len(split(NULL)) is NULL); the COALESCED `_wsc` is used only for the
    // run key and budget arithmetic — window-sum semantics: a null addend
    // spends no budget, so a null-text row's running total is the sum of
    // the (nulls-last-ordered) real rows before it, and a language whose
    // EVERY text is null has a NULL running sum and drops entirely.
    // The run join keys on `_wsc` (not ws_tokens) because Spark/SQL
    // equi-joins are null-unsafe and would silently drop the null run;
    // real token counts are ≥ 1 (split of any non-null string is
    // non-empty), so _wsc = 0 identifies the null run exactly.
    // size() of a null array is -1 under legacy sizeOfNull (ANSI off) —
    // guard explicitly so null text yields NULL tokens like the SQL form
    val tok = docs
      .withColumn("ws_tokens", when(col("text").isNotNull,
        size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("_wsc", coalesce(col("ws_tokens"), lit(0L)))
    val wRun = Window.partitionBy("lang").orderBy(col("_wsc").desc)
    val runs = tok.groupBy("lang", "_wsc").agg(count(lit(1)).as("_rc"))
      .withColumn("_before",
        sum(col("_rc") * col("_wsc")).over(wRun) - col("_rc") * col("_wsc"))
      .withColumn("_nreal",
        sum(when(col("_wsc") > 0, col("_rc")).otherwise(0L))
          .over(Window.partitionBy("lang")))
      .filter(col("_before") <= budget)
      .select("lang", "_wsc", "_before", "_nreal")
    val wIn = Window.partitionBy("lang", "_wsc").orderBy("doc_id")
    tok.join(runs, Seq("lang", "_wsc"))
      .withColumn("cum_tokens",
        when(col("ws_tokens").isNotNull,
          col("_before") + col("ws_tokens") * row_number().over(wIn))
          .otherwise(when(col("_nreal") > 0, col("_before"))).cast("long"))
      .filter(col("cum_tokens") <= budget)
      .drop("_before", "_nreal", "_wsc")
  }

  /** Token-budget curation ordered by a CONTINUOUS quality metric
    * (r4 task #5 / r6): per language, keep the best-scoring documents —
    * `metric` desc (nulls last), doc_id tiebreak — while the running
    * whitespace-token total stays within `budget`.
    *
    * The `tokenBudget` run-histogram degenerates here: a double-valued
    * score makes every "run" a singleton, so its histogram would be
    * data-sized and the within-run window a no-op — the plan would slide
    * back toward a per-language sort. Instead the runs become
    * order-preserving IEEE bit-prefix BUCKETS of the (negated) metric —
    * the exactNtile machinery (ops.Quantiles): monotone in metric-desc by
    * construction, no min/max pre-pass, ~2^(52-shift) buckets per binade.
    *   1. histogram per (lang, bucket): row count + token sum — a hash
    *      aggregate, output buckets-sized;
    *   2. prefix over the histogram gives each bucket's tokens-before;
    *   3. buckets already past the budget drop with a bucket-level
    *      filter — only budget-reachable rows re-join (AQE broadcast);
    *   4. the exact running total is `before + running token sum` over
    *      `partitionBy(lang, bucket) orderBy(metric desc, doc_id)` — a
    *      window over ONE bucket's rows, never a whole language.
    * Bit-identical to the single-sort form: bucket order is metric-desc
    * order, score ties share a bucket and resolve by the same (metric
    * desc, doc_id) ordering inside it, and token sums are exact longs.
    * No driver action anywhere. Contract: metric is a non-NaN double
    * (NaN has no defined desc position here); null metrics order last
    * and spend nothing, like null text in `tokenBudget`. */
  def tokenBudgetBy(docs: DataFrame, metric: String, budget: Long,
      buckets: Int = 4096): DataFrame = {
    val shift = 52 - (64 - java.lang.Long.numberOfLeadingZeros(math.max(buckets - 1, 1)))
    // negate so bucket ASC = metric DESC; +0.0 normalizes -0.0
    val nb = expr(s"double_bits((0.0D - cast(`$metric` as double)) + 0.0D)")
    val sortable = when(nb < 0, nb.bitwiseXOR(lit(Long.MaxValue))).otherwise(nb)
    val bucket = coalesce(shiftright(sortable, shift), lit(Long.MaxValue))
    val tok = docs
      .withColumn("ws_tokens", when(col("text").isNotNull,
        size(split(trim(col("text")), "\\s+")).cast("long")))
      .withColumn("_wsc", coalesce(col("ws_tokens"), lit(0L)))
      .withColumn("_bkt", bucket)
    val wBkt = Window.partitionBy("lang").orderBy("_bkt")
    val runs = tok.groupBy("lang", "_bkt").agg(sum(col("_wsc")).as("_w"),
        sum(when(col("ws_tokens").isNotNull, 1L).otherwise(0L)).as("_rcr"))
      .withColumn("_before", sum(col("_w")).over(wBkt) - col("_w"))
      .withColumn("_nrb", sum(col("_rcr")).over(wBkt) - col("_rcr"))
      .filter(col("_before") <= budget)
      .select("lang", "_bkt", "_before", "_nrb")
    val wIn = Window.partitionBy("lang", "_bkt")
      .orderBy(col(metric).desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cum is NULL exactly when the whole prefix has null text (the window
    // form's sum() of an all-null prefix) — such rows fail the budget
    // predicate, like tokenBudget's all-null language
    tok.join(runs, Seq("lang", "_bkt"))
      .withColumn("cum_tokens",
        when(col("_nrb") + count(col("ws_tokens")).over(wIn) > 0,
          col("_before") + coalesce(sum(col("ws_tokens")).over(wIn), lit(0L)))
          .cast("long"))
      .filter(col("cum_tokens") <= budget)
      .drop("_before", "_nrb", "_wsc", "_bkt")
  }

  /** Exclusive per-language running token offset in doc_id order — the
    * concat-and-chunk packing prefix, as a DISTRIBUTED two-phase parallel
    * prefix sum: per-bin subtotals (bin = doc_id div `bin`, monotone in
    * the pack order) prefix-summed on a bins-sized frame, broadcast back,
    * then a per-bin window supplies the within-bin residual. No
    * data-sized single-partition pass at any scale (at 10¹¹ docs the
    * bins frame recurses onto the same trick). Input needs (doc_id,
    * lang, ws_tokens); output adds start_off. Integer arithmetic only,
    * so the result is bit-identical to the naive per-language window
    * cumsum under any partitioning (integer addition is associative). */
  def packOffsets(tok: DataFrame, bin: Int = 64): DataFrame = {
    val binned = tok.withColumn("_bin", expr(s"doc_id div $bin"))
    val wB = Window.partitionBy("lang").orderBy("_bin")
    val binOff = binned.groupBy("lang", "_bin").agg(sum("ws_tokens").as("_bs"))
      .withColumn("_bin_before", sum("_bs").over(wB) - col("_bs"))
      .select("lang", "_bin", "_bin_before")
    val wIn = Window.partitionBy("lang", "_bin").orderBy("doc_id")
    binned.join(broadcast(binOff), Seq("lang", "_bin"))
      .withColumn("start_off",
        col("_bin_before") + sum("ws_tokens").over(wIn) - col("ws_tokens"))
      .drop("_bin", "_bin_before")
  }
}
