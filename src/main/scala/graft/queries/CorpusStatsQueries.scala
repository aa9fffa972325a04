package graft.queries

import graft.Q
import graft.ops.TextOps
import graft.util.Portable
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 north-star: corpus-statistics and curation-scoring
  * operators over `documents` — TF-IDF term weighting, BM25 relevance,
  * winnowing fingerprints, boilerplate n-gram detection, bigram PMI and
  * normalization-robust dedup. These are the "rank / clean / select"
  * half of a training-data pipeline, complementing the dedup/ANN half in
  * TextQueries/CorpusQueries.
  *
  * Scale notes: every op is explode → aggregate with corpus-linear row
  * counts. Per-term statistics (df, unigram counts) are vocabulary-sized
  * tables joined back on the word key — a shuffle keyed on `word`, never
  * on the corpus. Corpus-global scalars (N, avgdl, token totals) are
  * 1-row aggregate frames cross-broadcast into the scoring projection,
  * never collected to the driver.
  *
  * Exactness: doubles appear only as single correctly-rounded IEEE ops
  * (cast, +, *, /) applied in one fixed written order on both engines.
  * Logarithmic scores go through [[graft.util.Portable.pln]] — engine-
  * native `ln` disagrees between the JVM and libm by 1 ulp on some
  * inputs (measured), so a portable log built from correctly-rounded
  * primitives is the only way a log-weighted score is reproducible
  * across engines. Integer math (hashes, counts) is exact everywhere.
  */
object CorpusStatsQueries {

  /** r15 measured reversal of the module-wide documents FanOut shadow:
    * see the TextQueries header note — per-task overhead made every
    * non-amplifying id here slower (q_text_vocab_growth 1.0 → 2.2 s wall
    * / 4.3 → 28 s CPU, q_bigram_pmi 0.5 → 1.3 s, q_dedup_weight,
    * q_text_heldout_logprob, q_text_bigram_logprob all regressed in the
    * full bench), while the one id with a measured fan-out WIN —
    * q_text_distinct_ngrams, 1.85 → 0.95 s (its single explode feeds
    * three n-gram sizes at once) — keeps FanOut at its amplification
    * site on the slim (source, text) projection. */


  /** TF-IDF top-3 terms per document: tf × (ln((N+1)/(df+1)) + 1), the
    * smoothed sklearn-style idf. Candidate keyword extraction / topic
    * signal for curation. Window top-k is partitioned by doc — no global
    * sort; df join is vocabulary-sized. */
  val textTfidf = Q("q_text_tfidf", "TF-IDF top-3 terms per doc")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM tokw GROUP BY 1, 2), " +
      "df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT count(*) AS n FROM documents), " +
      "dfx AS (SELECT word, (CAST(n.n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0) AS _lnx " +
      "FROM df CROSS JOIN n), " +
      Portable.plnSqlCtes("dfx", "idf") + ", " +
      "sc AS (SELECT t.doc_id, t.word AS term, " +
      "CAST(t.tf AS DOUBLE) * (i._pln + 1.0) AS tfidf " +
      "FROM tf t JOIN idf i ON i.word = t.word), " +
      "rk AS (SELECT doc_id, term, tfidf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM sc) " +
      "SELECT doc_id, rk, term, " + graft.util.Exact.Sql.pinScoreInt("tfidf") +
      " AS tfidf FROM rk WHERE rk <= 3") {
    (s, d) =>
      val tokw = TextOps.explodeTokens(documents(s, d))
      // (doc, word) counts feed df, N and the scoring join: materialize
      // once (strategy gate; lazy — blocks appear inside the query's own
      // first action) instead of re-running the token explode three times
      val tf = tokw.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      // N = |documents| exactly (split('') = [''] gives every doc >= 1
      // token row), read from the table directly: keeps the broadcast
      // scalar's subtree INDEPENDENT of the materialized tf — a broadcast
      // subquery nested inside another broadcast subquery over the same
      // checkpointed frame re-evaluated the explode repeatedly (measured
      // 8 -> 27 s degradation across reps before this flattening)
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      // idf on the vocabulary-sized df table (not per tf row): pln runs
      // |vocab| times, and the word join broadcasts at any corpus scale
      val idf = Portable.pln(df.crossJoin(broadcast(n)),
          (col("n").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)), "idf0")
        .select(col("word"), (col("idf0") + lit(1.0)).as("idf"))
      val sc = tf.join(idf, "word")
        .select(col("doc_id"), col("word").as("term"),
          (col("tf").cast("double") * col("idf")).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      sc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          graft.util.Exact.pinScoreInt(col("tfidf")).as("tfidf"))
  }

  /** BM25 (k1 = 1.2, b = 0.75) of every document against a fixed query
    * term set — the retrieval-quality score a curation pass ranks on.
    * Per-term contributions are pivoted to columns and added in a FIXED
    * order (a float `sum()` over an unordered group would be partition-
    * order-dependent); corpus stats (N, avgdl) ride in on a broadcast
    * 1-row frame. */
  val textBm25 = Q("q_text_bm25", "BM25 score vs fixed query terms")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tfw AS (SELECT doc_id, word, count(*) AS tf FROM tokw GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, sum(tf) AS dl FROM tfw GROUP BY 1), " +
      "stats AS (SELECT d.n AS n, CAST(t.c AS DOUBLE) / CAST(d.n AS DOUBLE) AS avgdl " +
      "FROM (SELECT count(*) AS c FROM tokw) t CROSS JOIN (SELECT count(*) AS n FROM documents) d), " +
      "tf AS (SELECT doc_id, word, tf FROM tfw " +
      "WHERE word IN ('join', 'hash', 'scan')), " +
      "df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
      "dfx AS (SELECT word, " +
      "1.0 + ((CAST(s.n AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5) / (CAST(df AS DOUBLE) + 0.5) AS _lnx " +
      "FROM df CROSS JOIN stats s), " +
      Portable.plnSqlCtes("dfx", "idf") + ", " +
      "contrib AS (SELECT t.doc_id, t.word, " +
      "i._pln * ((CAST(t.tf AS DOUBLE) * 2.2) / " +
      "(CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE) / s.avgdl)))) AS c " +
      "FROM tf t JOIN dl l ON l.doc_id = t.doc_id JOIN idf i ON i.word = t.word CROSS JOIN stats s), " +
      "piv AS (SELECT doc_id, " +
      "sum(CASE WHEN word = 'join' THEN c END) AS cj, " +
      "sum(CASE WHEN word = 'hash' THEN c END) AS ch, " +
      "sum(CASE WHEN word = 'scan' THEN c END) AS cs FROM contrib GROUP BY 1) " +
      "SELECT doc_id, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(COALESCE(cj, 0.0) + COALESCE(ch, 0.0)) + COALESCE(cs, 0.0)") +
      " AS bm25 FROM piv") {
    (s, d) =>
      val terms = Seq("join", "hash", "scan")
      val tokw = TextOps.explodeTokens(documents(s, d))
      // one token-explode pass: (doc, word) counts materialize (lazy),
      // then dl is a vocabulary-collapse sum and tf a term filter of it
      val tfw = tokw.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val dl = tfw.groupBy("doc_id").agg(sum("tf").as("dl"))
      // corpus scalars from the raw scans, NOT from the materialized tfw:
      // total tokens = |tokw| and N = |documents| (same values as
      // sum(dl)/count(dl) — every doc has >= 1 token row), so the nested
      // broadcast subtree never re-enters the checkpointed frame
      val stats = tokw.agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("n"))))
        .select(col("n"), (col("c").cast("double") / col("n").cast("double")).as("avgdl"))
      val tf = tfw.filter(col("word").isin(terms: _*))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val idf = Portable.pln(df.crossJoin(broadcast(stats)),
          lit(1.0) + ((col("n").cast("double") - col("df").cast("double")) + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)), "idf")
        .select(col("word"), col("idf"))
      val contrib = tf.join(dl, "doc_id").join(idf, "word").crossJoin(broadcast(stats))
        .select(col("doc_id"), col("word"),
          (col("idf") *
            ((col("tf").cast("double") * lit(2.2)) /
              (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))).as("c"))
      contrib.groupBy("doc_id").agg(
          sum(when(col("word") === "join", col("c"))).as("cj"),
          sum(when(col("word") === "hash", col("c"))).as("ch"),
          sum(when(col("word") === "scan", col("c"))).as("cs"))
        .select(col("doc_id"),
          graft.util.Exact.pinScoreInt(
            coalesce(col("cj"), lit(0.0)) + coalesce(col("ch"), lit(0.0)) +
              coalesce(col("cs"), lit(0.0)))
            .as("bm25"))
  }

  /** Winnowing fingerprints (MOSS): per 3-shingle position take the min
    * 32-bit shingle hash over a w = 4 sliding window, keep the distinct
    * minima per doc. The selected set is position-robust — editing one
    * region of a document disturbs only the fingerprints whose windows
    * overlap the edit — which is what makes it the standard
    * partial-overlap / plagiarism detector at corpus scale. Integer math
    * only; the window is per-doc ordered by position (no global sort). */
  /** Shared oracle CTE chain ending in `fp(doc_id, fp)` — the winnowed
    * fingerprint sets (mirrors TextOps.winnowFingerprints). */
  private val winnowBody = TextQueries.tokBody + ", " +
    "shp AS (SELECT doc_id, i, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] AS shingle " +
    "FROM tok WHERE i + 2 <= len(sp)), " +
    "hh AS (SELECT doc_id, i, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM shp), " +
    "win AS (SELECT doc_id, " +
    "min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp, " +
    "count(*) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wn " +
    "FROM hh), " +
    "fp AS (SELECT DISTINCT doc_id, fp FROM win WHERE wn = 4)"

  val textWinnow = Q("q_text_winnow", "winnowing fingerprint selection (w=4)")(
    "WITH " + winnowBody + " SELECT doc_id, fp FROM fp") {
    (s, d) => TextOps.winnowFingerprints(documents(s, d))
  }

  /** Boilerplate n-gram detection: 3-shingles appearing in ≥ 5 distinct
    * documents, with document frequency and total occurrences. The
    * template/header/footer detector that feeds a cleaning pass. One
    * explode + one aggregation keyed on the shingle — corpus-linear, and
    * the HAVING filter is map-side-combinable. */
  val ngramBoilerplate = Q("q_ngram_boilerplate", "boilerplate 3-grams (df >= 5)")(
    "WITH " + TextQueries.shinglesBody + " " +
      "SELECT shingle, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occur " +
      "FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5") {
    (s, d) =>
      TextOps.shingles3(documents(s, d))
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occur"))
        .filter(col("n_docs") >= 5)
  }

  /** Pointwise mutual information of adjacent token bigrams (count ≥ 5):
    * ln(P(ab) / (P(a)·P(b))) over corpus token statistics — the
    * collocation detector (phrase mining / tokenizer-merge candidates).
    * Unigram tables are vocabulary-sized joins on the word key; corpus
    * totals are broadcast 1-row frames; products are ordered left-to-right
    * identically on both engines. */
  val bigramPmi = Q("q_bigram_pmi", "adjacent-bigram PMI (count >= 5)")(
    "WITH " + TextQueries.tokwBody + ", " +
      "bg AS (SELECT doc_id, sp[i] AS w1, sp[i+1] AS w2 FROM tok WHERE i + 1 <= len(sp)), " +
      "cb AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2), " +
      "cu AS (SELECT word, count(*) AS cw FROM tokw GROUP BY 1), " +
      "tot AS (SELECT sum(cw) AS t FROM cu), " +
      "totb AS (SELECT sum(cab) AS tb FROM cb), " +
      "pmx AS (SELECT b.w1, b.w2, b.cab, " +
      "((CAST(b.cab AS DOUBLE) * CAST(t.t AS DOUBLE)) * CAST(t.t AS DOUBLE)) / " +
      "((CAST(tb.tb AS DOUBLE) * CAST(u1.cw AS DOUBLE)) * CAST(u2.cw AS DOUBLE)) AS _lnx " +
      "FROM cb b JOIN cu u1 ON u1.word = b.w1 JOIN cu u2 ON u2.word = b.w2 " +
      "CROSS JOIN tot t CROSS JOIN totb tb WHERE b.cab >= 5), " +
      Portable.plnSqlCtes("pmx", "pml") + " " +
      "SELECT w1, w2, cab, " + graft.util.Exact.Sql.pinScoreInt("_pln") +
      " AS pmi FROM pml") {
    (s, d) =>
      val docs = documents(s, d)
      val tokw = TextOps.explodeTokens(docs)
      val bg = docs.withColumn("sp", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("sp"),
          explode(sequence(lit(1), size(col("sp")))).as("i"))
        .filter(col("i") + 1 <= size(col("sp")))
        .select(element_at(col("sp"), col("i")).as("w1"),
          element_at(col("sp"), col("i") + 1).as("w2"))
      // bigram counts feed the corpus total AND the scoring join:
      // materialize (lazy) so the bigram explode runs once
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
        .localCheckpoint(eager = false)
      val cu = tokw.groupBy("word").agg(count(lit(1)).as("cw"))
      val tot = cu.agg(sum("cw").as("t"))
      val totb = cb.agg(sum("cab").as("tb"))
      val scored = cb.filter(col("cab") >= 5)
        .join(cu.select(col("word").as("w1"), col("cw").as("cw1")), "w1")
        .join(cu.select(col("word").as("w2"), col("cw").as("cw2")), "w2")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(totb))
      Portable.pln(scored,
          ((col("cab").cast("double") * col("t").cast("double")) * col("t").cast("double")) /
            ((col("tb").cast("double") * col("cw1").cast("double")) * col("cw2").cast("double")), "pmi")
        .select(col("w1"), col("w2"), col("cab"),
          graft.util.Exact.pinScoreInt(col("pmi")).as("pmi"))
  }

  /** Normalization-robust exact dedup: lowercase, strip non-alphanumerics,
    * collapse runs of spaces, trim — then the same md5 groupBy as
    * q_dedup_exact. Catches the case/punctuation/whitespace re-encodings
    * that survive byte-exact dedup; the normalized hash is the dedup
    * identity a crawl pipeline keys on. Per-row expression work + one
    * corpus-linear aggregation. */
  val dedupNormalized = Q("q_dedup_normalized", "case/punct/space-normalized dedup")(
    "SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
      "' +', ' ', 'g'))) AS norm_hash, count(*) AS n_copies, min(doc_id) AS keeper " +
      "FROM documents GROUP BY 1") {
    (s, d) =>
      documents(s, d)
        .groupBy(TextOps.contentHash(TextOps.normalizeText(col("text"))).as("norm_hash"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
  }

  /** Per-document token (Shannon) entropy in nats — the
    * repetition/diversity quality signal: H = ln(dl) − (Σ tf·ln tf)/dl
    * over the doc's term frequencies. Low H flags template/spam docs a
    * curation pass drops. Composition of the two exactness layers: pln
    * for portable logs, binary-grid integer sums (Exact.portableSum — no
    * engine decimal cast anywhere) so the per-doc float Σ is associative
    * AND oracle-engine-version-proof, and the published score pinned to
    * the 2⁻³⁰ grid — one explode → one (doc, word) aggregate → one
    * per-doc aggregate, all corpus-linear. */
  val textEntropy = Q("q_text_entropy", "per-doc token entropy (nats)")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM tokw GROUP BY 1, 2), " +
      "tfx AS (SELECT doc_id, tf, CAST(tf AS DOUBLE) AS _lnx FROM tf), " +
      Portable.plnSqlCtes("tfx", "ltf") + ", " +
      "s AS (SELECT doc_id, " +
      graft.util.Exact.Sql.portableSum("CAST(tf AS DOUBLE) * _pln") + " AS s, " +
      "sum(tf) AS dl FROM ltf GROUP BY 1), " +
      "sx AS (SELECT doc_id, dl, s, CAST(dl AS DOUBLE) AS _lnx FROM s), " +
      Portable.plnSqlCtes("sx", "ldl") + " " +
      // dl rides CAST(.. AS BIGINT): DuckDB's sum(BIGINT) returns HUGEINT,
      // which pandas maps to float64 — the published dl would be
      // float-typed on the oracle side vs int64 on the Spark side, a
      // per-row type divergence the driver's hash sees on every row (the
      // likeliest remaining term of the r7–r9 gate-red after the score
      // recipe proved bit-exact). Same pitfall already handled at the
      // count-min sketch publish (cnt, this file).
      "SELECT doc_id, CAST(dl AS BIGINT) AS dl, " +
      graft.util.Exact.Sql.pinScoreInt("_pln - (s / CAST(dl AS DOUBLE))") +
      " AS entropy FROM ldl") {
    // published as the BIGINT grid cell (Exact.pinScoreInt rationale):
    // r7–r9 proved the double recipe bit-exact against local DuckDB yet
    // gate-red — the residual divergence is in the gate's double
    // handling, so the published schema carries no double at all.
    // floor(pinned·2³⁰) == floor(raw·2³⁰): the pin rescale is an exact
    // power-of-two op, so stacking pinScoreInt on tokenEntropy's pinned
    // double publishes the identical cell the oracle computes from raw.
    (s, d) => graft.ops.Corpus.tokenEntropy(documents(s, d))
      .withColumn("entropy", graft.util.Exact.pinScoreInt(col("entropy")))
  }

  /** Partial-overlap candidate pairs from winnowed fingerprint sets:
    * pairs sharing ≥ 3 fingerprints, scored by fingerprint-set Jaccard.
    * This is the granularity between exact dedup and whole-doc near-dup —
    * a copied SECTION inside an otherwise-different document still shares
    * the fingerprints whose windows sit inside the copy (MOSS).
    *
    * The join key is the fingerprint, and fingerprints appearing in > 8
    * documents are dropped FIRST (part of the candidate contract, oracle
    * in lockstep): a boilerplate fingerprint carries no dup signal and
    * would otherwise contribute a |docs|² term on one hot key — the same
    * keyspace argument as the ngram facet and simhash band-pairs. After
    * the cap, per-fingerprint join cost is ≤ 8², and candidate volume is
    * Σ bucket² over a corpus-proportional keyspace. */
  val dedupWinnow = Q("q_dedup_winnow", "winnow-fingerprint partial-overlap pairs")(
    "WITH " + winnowBody + ", " +
      "fpf AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 8), " +
      "fpk AS (SELECT f.doc_id, f.fp FROM fp f JOIN fpf USING (fp)), " +
      "sizes AS (SELECT doc_id, count(*) AS nfp FROM fpk GROUP BY 1), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared " +
      "FROM fpk a JOIN fpk b ON b.fp = a.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING count(*) >= 3) " +
      "SELECT p.doc_a, p.doc_b, p.n_shared, " +
      "CAST(p.n_shared AS DOUBLE) / (sa.nfp + sb.nfp - p.n_shared) AS overlap " +
      "FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a " +
      "JOIN sizes sb ON sb.doc_id = p.doc_b") {
    (s, d) =>
      // the fingerprint table feeds the frequency cap, both join sides
      // and the set sizes: materialize once
      val fp = TextOps.winnowFingerprints(documents(s, d)).localCheckpoint(eager = false)
      val fpf = fp.groupBy("fp").agg(count(lit(1)).as("nd")).filter(col("nd") <= 8)
        .select("fp")
      val fpk = fp.join(fpf, "fp")
      val sizes = fpk.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      val pairs = fpk.as("a")
        .join(fpk.as("b"),
          col("b.fp") === col("a.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") /
            (col("nfp_a") + col("nfp_b") - col("n_shared")).cast("double")).as("overlap"))
  }

  /** Per-document mean surprisal under the corpus's own unigram LM:
    * score = ln N − (Σ_tokens ln cf(token)) / doc_len, i.e. the mean of
    * −ln p(token) with p = cf/N — the statistical stand-in for a
    * perplexity quality filter (high = rare/garbled vocabulary, low =
    * common boilerplate). No model shipped: the corpus scores itself.
    *
    * Scale: pln runs once per VOCABULARY word (on the cf table), not per
    * token; Σ tf·ln cf folds over the (doc, word) tf table through the
    * binary-grid integer sum (order-independent, no engine decimal cast —
    * Exact.portableSum), the published score pinned; N is a 1-row aggregate
    * cross-broadcast into the final projection from its own scan of
    * `documents` — independent of the materialized tf subtree (the
    * nested-broadcast re-evaluation lesson from q_text_tfidf). */
  val textUnigramLogprob = Q("q_text_unigram_logprob", "mean unigram surprisal (corpus LM)")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM tokw GROUP BY 1, 2), " +
      "cf AS (SELECT word, sum(tf) AS cf FROM tf GROUP BY 1), " +
      "n AS (SELECT sum(len(string_split(text, ' '))) AS n FROM documents), " +
      "cfx AS (SELECT word, CAST(cf AS DOUBLE) AS _lnx FROM cf), " +
      Portable.plnSqlCtes("cfx", "lcf") + ", " +
      "s AS (SELECT t.doc_id, " +
      graft.util.Exact.Sql.portableSum("CAST(t.tf AS DOUBLE) * l._pln") + " AS s, " +
      "sum(t.tf) AS dl FROM tf t JOIN lcf l ON l.word = t.word GROUP BY 1), " +
      "sx AS (SELECT doc_id, dl, s, CAST(n.n AS DOUBLE) AS _lnx FROM s CROSS JOIN n), " +
      Portable.plnSqlCtes("sx", "lnn") + " " +
      // CAST(dl AS BIGINT): HUGEINT→float64 pandas pitfall, as in entropy
      "SELECT doc_id, CAST(dl AS BIGINT) AS dl, " +
      graft.util.Exact.Sql.pinScoreInt("_pln - (s / CAST(dl AS DOUBLE))") +
      " AS logprob FROM lnn") {
    (s, d) =>
      val tf = TextOps.explodeTokens(documents(s, d))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val lcf = Portable.pln(
        tf.groupBy("word").agg(sum("tf").as("cf")),
        col("cf").cast("double"), "lcf")
        .select("word", "lcf")
      val agg = tf.join(lcf, "word").groupBy("doc_id")
        .agg(graft.util.Exact.portableSum(col("tf").cast("double") * col("lcf")).as("s"),
          sum("tf").as("dl"))
      val n = documents(s, d)
        .agg(sum(size(split(col("text"), " "))).cast("long").as("n"))
      // BIGINT grid-cell publish — same rationale as q_text_entropy
      Portable.pln(agg.crossJoin(broadcast(n)), col("n").cast("double"), "lnn")
        .select(col("doc_id"), col("dl"),
          graft.util.Exact.pinScoreInt(col("lnn") - (col("s") / col("dl").cast("double")))
            .as("logprob"))
  }

  /** Per-document mean CONDITIONAL surprisal under the corpus's own
    * bigram LM: −mean ln p(wᵢ | wᵢ₋₁) with p = cb(w₁,w₂)/cu(w₁) — the
    * next rung of the perplexity-filter family above
    * q_text_unigram_logprob (CCNet-style pipelines score with an n-gram
    * LM; the corpus scores itself here, so every observed bigram has
    * cb ≥ 1 and no smoothing/backoff branch is reachable — that branch
    * belongs to held-out scoring and is documented, not dead-coded).
    * LOW surprisal = predictable/templated word sequences (the signal a
    * curation pass reads alongside entropy); docs with < 2 tokens have
    * no bigram and are absent by contract (identical join semantics in
    * the oracle). Denominator is the plain unigram count cu(w₁) — the
    * standard MLE approximation that skips the end-of-doc correction —
    * identically on both engines.
    *
    * Scale: pln runs once per DISTINCT BIGRAM (vocabulary²-bounded,
    * corpus-limited), never per token; the per-position score join is
    * keyed on the bigram; the per-doc Σ ln p rides the binary-grid
    * integer sum and the published score is pinned — the full r8
    * drift-proof contract on a fresh operator. */
  val textBigramLogprob = Q("q_text_bigram_logprob", "mean bigram conditional surprisal (corpus LM)")(
    "WITH " + TextQueries.tokwBody + ", " +
      "bg AS (SELECT doc_id, sp[i] AS w1, sp[i+1] AS w2 FROM tok WHERE i + 1 <= len(sp)), " +
      "cb AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2), " +
      "cu AS (SELECT word, count(*) AS cw FROM tokw GROUP BY 1), " +
      "bpx AS (SELECT b.w1, b.w2, CAST(b.cab AS DOUBLE) / CAST(u.cw AS DOUBLE) AS _lnx " +
      "FROM cb b JOIN cu u ON u.word = b.w1), " +
      Portable.plnSqlCtes("bpx", "bpl") + ", " +
      "s AS (SELECT g.doc_id, " +
      graft.util.Exact.Sql.portableSum("l._pln") + " AS s, count(*) AS n_bigrams " +
      "FROM bg g JOIN bpl l ON l.w1 = g.w1 AND l.w2 = g.w2 GROUP BY 1) " +
      "SELECT doc_id, n_bigrams, " +
      graft.util.Exact.Sql.pinScoreInt("-(s / CAST(n_bigrams AS DOUBLE))") +
      " AS logprob2 FROM s") {
    (s, d) =>
      val docs = documents(s, d)
      // bigram positions feed the count table AND the scoring join:
      // materialize once (same pattern as q_bigram_pmi's cb)
      val bg = docs.withColumn("sp", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("sp"),
          explode(sequence(lit(1), size(col("sp")))).as("i"))
        .filter(col("i") + 1 <= size(col("sp")))
        .select(col("doc_id"), element_at(col("sp"), col("i")).as("w1"),
          element_at(col("sp"), col("i") + 1).as("w2"))
        .localCheckpoint(eager = false)
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val cu = TextOps.explodeTokens(docs).groupBy("word").agg(count(lit(1)).as("cw"))
      val bpl = Portable.pln(
        cb.join(cu.select(col("word").as("w1"), col("cw")), "w1"),
        col("cab").cast("double") / col("cw").cast("double"), "lnp")
        .select("w1", "w2", "lnp")
      bg.join(bpl, Seq("w1", "w2")).groupBy("doc_id")
        .agg(graft.util.Exact.portableSum(col("lnp")).as("s"),
          count(lit(1)).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          graft.util.Exact.pinScoreInt(-(col("s") / col("n_bigrams").cast("double")))
            .as("logprob2"))
  }

  /** CCNet-style perplexity bucketing (r8): per-language TERCILES of the
    * unigram-LM surprisal score — bucket 1 = head (most fluent/common),
    * 2 = middle, 3 = tail — the quality-partitioning step CCNet applies
    * before choosing which slice of a crawl to train on. Composition of
    * two certified pieces: the pinned logprob score (drift-proof across
    * engines, so it doubles as a portable ORDER key) and the exact-ntile
    * histogram plan (ops.Quantiles.exactNtile — per-(lang, bit-prefix
    * bucket) histogram + boundary-bucket ranking; no per-language corpus
    * sort, so one dominant language costs the same as a uniform mix).
    * Ties break on doc_id — deterministic on any engine. */
  val textPplBucket = Q("q_text_ppl_bucket", "per-language perplexity terciles (CCNet slices)")(
    "SELECT j.doc_id, j.lang, j.logprob, " +
      "ntile(3) OVER (PARTITION BY j.lang ORDER BY j.logprob, j.doc_id) AS ppl_bucket " +
      "FROM (SELECT l.doc_id, d2.lang, l.logprob FROM (" +
      textUnigramLogprob.oracle.get +
      ") l JOIN documents d2 ON d2.doc_id = l.doc_id) j") {
    (s, d) =>
      // exactNtile reads its input three times (histogram, resolve join,
      // boundary branch) — fine over a parquet scan, 3× the full LM
      // subtree here; materialize the scored frame once (measured 4.85 s
      // → see DESIGN.md §4c)
      val scored = textUnigramLogprob.fn(s, d)
        .join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "logprob")
        .localCheckpoint()
      graft.ops.Quantiles.exactNtile(scored, part = "lang", value = "logprob",
        ord = col("doc_id"), tiles = 3, outCol = "ppl_bucket")
  }

  /** HELD-OUT smoothed bigram-LM scoring (r8): the train split's LM
    * scores the val/test split — the true production shape of a
    * perplexity filter (q_text_bigram_logprob documents its corpus-scores-
    * itself form as never reaching a smoothing branch; this query is where
    * that branch lives and is exercised). Splits come from the SAME salted
    * portable hash as q_split_train_test (membership parity by
    * construction); add-1 (Laplace) smoothing over the train vocabulary
    * gives every held-out bigram finite surprisal:
    * p(w₂|w₁) = (c_train(w₁,w₂) + 1) / (c_train(w₁) + V).
    *
    * Scale: counts shuffle on word/bigram keys; pln runs once per DISTINCT
    * HELD-OUT bigram (never per token); V is a 1-row broadcast; per-doc
    * sums ride the binary-grid portableSum and the published score is
    * pinned — the full drift-proof transcendental contract. */
  val textHeldoutLogprob = Q("q_text_heldout_logprob", "held-out add-1 bigram-LM surprisal")(
    "WITH d AS (SELECT doc_id, text, " +
      "('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket " +
      "FROM documents), " +
      "tt AS (SELECT doc_id, string_split(text, ' ') AS sp FROM d WHERE bucket < 800), " +
      "tk AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS i FROM tt), " +
      "cb AS (SELECT sp[i] AS w1, sp[i+1] AS w2, count(*) AS cab FROM tk " +
      "WHERE i + 1 <= len(sp) GROUP BY 1, 2), " +
      "cu AS (SELECT sp[i] AS w1, count(*) AS cw FROM tk GROUP BY 1), " +
      "vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cu), " +
      "vt AS (SELECT doc_id, string_split(text, ' ') AS sp FROM d WHERE bucket >= 800), " +
      "vk AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS i FROM vt), " +
      "vb AS (SELECT doc_id, sp[i] AS w1, sp[i+1] AS w2 FROM vk WHERE i + 1 <= len(sp)), " +
      "db AS (SELECT DISTINCT w1, w2 FROM vb), " +
      "px AS (SELECT db.w1, db.w2, " +
      "CAST(COALESCE(cb.cab, 0) + 1 AS DOUBLE) / (CAST(COALESCE(cu.cw, 0) AS DOUBLE) + vv.v) AS _lnx " +
      "FROM db LEFT JOIN cb ON cb.w1 = db.w1 AND cb.w2 = db.w2 " +
      "LEFT JOIN cu ON cu.w1 = db.w1 CROSS JOIN vv), " +
      Portable.plnSqlCtes("px", "pl") + ", " +
      "sc AS (SELECT v.doc_id, " +
      graft.util.Exact.Sql.portableSum("-(pl._pln)") + " AS s, count(*) AS n_bigrams " +
      "FROM vb v JOIN pl ON pl.w1 = v.w1 AND pl.w2 = v.w2 GROUP BY 1) " +
      "SELECT doc_id, n_bigrams, " +
      graft.util.Exact.Sql.pinScoreInt("s / CAST(n_bigrams AS DOUBLE)") +
      " AS heldout_lp FROM sc") {
    (s, d) =>
      val bucket = TextOps.hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 1000
      val docs = documents(s, d).withColumn("bucket", bucket)
      def bigramsOf(src: org.apache.spark.sql.DataFrame) =
        src.withColumn("sp", TextOps.tokens(col("text")))
          .select(col("doc_id"), col("sp"),
            explode(sequence(lit(1), size(col("sp")))).as("i"))
          .filter(col("i") + 1 <= size(col("sp")))
          .select(col("doc_id"), element_at(col("sp"), col("i")).as("w1"),
            element_at(col("sp"), col("i") + 1).as("w2"))
      val train = docs.filter(col("bucket") < 800).select("doc_id", "text")
      val valD = docs.filter(col("bucket") >= 800).select("doc_id", "text")
      val cb = bigramsOf(train).groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val cu = TextOps.explodeTokens(train).groupBy("word").agg(count(lit(1)).as("cw"))
        .withColumnRenamed("word", "w1")
      val vv = cu.agg(count(lit(1)).as("v"))
      // held-out bigram positions feed the distinct-score join AND the
      // per-doc fold: materialize once
      val vb = bigramsOf(valD).localCheckpoint(eager = false)
      val px = vb.select("w1", "w2").distinct()
        .join(cb, Seq("w1", "w2"), "left")
        .join(cu, Seq("w1"), "left")
        .crossJoin(broadcast(vv))
      val pl = Portable.pln(px,
          (coalesce(col("cab"), lit(0)) + 1).cast("double") /
            (coalesce(col("cw"), lit(0)).cast("double") + col("v")), "lnp")
        .select("w1", "w2", "lnp")
      vb.join(pl, Seq("w1", "w2")).groupBy("doc_id")
        .agg(graft.util.Exact.portableSum(-col("lnp")).as("s"),
          count(lit(1)).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          graft.util.Exact.pinScoreInt(col("s") / col("n_bigrams").cast("double"))
            .as("heldout_lp"))
  }

  /** df cap for the sparse-similarity join: only shingles this rare
    * generate candidate pairs (the same bound q_dedup_winnow uses). */
  private val CosDfCap = 8

  /** Published-pair threshold on the rare-shingle cosine — the fixture
    * is sharply bimodal (near-dup pairs ≥ 0.5, background ≤ 0.05), so
    * 0.3 sits in the empty valley. */
  private val CosTau = 0.3

  /** Sparse TF-IDF cosine similarity join (r9): pairwise document cosine
    * over the RARE-3-SHINGLE TF-IDF subspace — weight w(d,g) = tf·idf
    * for 3-gram shingles with df ≤ 8, dot products accumulated through
    * an inverted-index equi-join on the shingle key, norms over the same
    * subspace, pairs published at cosine ≥ τ. This is the sparse
    * (lexical) sibling of q_dedup_embed_cosine: near-dup/related-document
    * discovery with no embedding model in the loop. Shingles, not
    * unigrams, carry the signal: this fixture's 31-word vocabulary has
    * NO rare unigram (min df = 25), while word order gives 16k+ distinct
    * shingles — exactly why MinHash/contamination also key on shingles.
    *
    * Scale: THE textbook all-pairs-similarity layout (Bayardo et al.
    * 2007 pruned to rare features): candidate pairs are bounded by
    * Σ_g df_g² ≤ cap·Σ_g df_g = cap·|postings| — LINEAR in corpus size,
    * never corpus² (high-df shingles are boilerplate: no discriminative
    * signal, all the quadratic blow-up — the cap is both the quality and
    * the scale decision; df is one vocabulary-sized aggregate computed
    * first). The join keys on the shingle — the posting-list shuffle an
    * inverted index pays anywhere. Sums of transcendental-derived
    * products ride the 2⁻³⁰ portable grid (order-free, engine-free);
    * sqrt/divide are correctly-rounded IEEE singletons, so the τ CUT
    * itself — not just the published score — is bit-identical on both
    * engines. */
  val textTfidfCosine = Q("q_text_tfidf_cosine", "sparse TF-IDF rare-shingle cosine pairs")(
    "WITH " + TextQueries.shinglesBody + ", " +
      "tf AS (SELECT doc_id, shingle AS g, count(*) AS tf FROM sh GROUP BY 1, 2), " +
      s"df AS (SELECT g, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= $CosDfCap), " +
      "n AS (SELECT count(*) AS n FROM documents), " +
      "dfx AS (SELECT g, (CAST(n.n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0) AS _lnx " +
      "FROM df CROSS JOIN n), " +
      Portable.plnSqlCtes("dfx", "idf") + ", " +
      "rw AS (SELECT t.doc_id, t.g, CAST(t.tf AS DOUBLE) * (i._pln + 1.0) AS w " +
      "FROM tf t JOIN idf i ON i.g = t.g), " +
      "nrm AS (SELECT doc_id, sqrt(" + graft.util.Exact.Sql.portableSum("w * w") +
      ") AS nrm FROM rw GROUP BY 1), " +
      "dots AS (SELECT a.doc_id AS a, b.doc_id AS b, " +
      graft.util.Exact.Sql.portableSum("a.w * b.w") + " AS dot " +
      "FROM rw a JOIN rw b ON b.g = a.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT d.a, d.b, " +
      graft.util.Exact.Sql.pinScoreInt("d.dot / (na.nrm * nb.nrm)") + " AS cosine " +
      "FROM dots d JOIN nrm na ON na.doc_id = d.a JOIN nrm nb ON nb.doc_id = d.b " +
      s"WHERE d.dot / (na.nrm * nb.nrm) >= $CosTau") {
    (s, d) =>
      val tf = TextOps.shingles3(documents(s, d))
        .groupBy(col("doc_id"), col("shingle").as("g"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val df = tf.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= CosDfCap)
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      val idf = Portable.pln(df.crossJoin(broadcast(n)),
          (col("n").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)), "idf0")
        .select(col("g"), (col("idf0") + lit(1.0)).as("idf"))
      val rw = tf.join(idf, "g")
        .select(col("doc_id"), col("g"),
          (col("tf").cast("double") * col("idf")).as("w"))
        .localCheckpoint(eager = false) // feeds norms AND both join sides
      val nrm = rw.groupBy("doc_id")
        .agg(sqrt(graft.util.Exact.portableSum(col("w") * col("w"))).as("nrm"))
      val dots = rw.as("a").join(rw.as("b"),
          col("b.g") === col("a.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
        .agg(graft.util.Exact.portableSum(col("a.w") * col("b.w")).as("dot"))
      val cos = col("dot") / (col("na.nrm") * col("nb.nrm"))
      dots.join(nrm.as("na"), col("na.doc_id") === col("a"))
        .join(nrm.as("nb"), col("nb.doc_id") === col("b"))
        .filter(cos >= CosTau)
        .select(col("a"), col("b"), graft.util.Exact.pinScoreInt(cos).as("cosine"))
  }

  /** Zipf fit size: top-20 ranks — TakeOrdered over the vocabulary, so
    * the fit set never scales with the corpus. */
  private val ZipfN = 20

  /** Zipf rank-frequency slope (r9): OLS slope of ln(freq) on ln(rank)
    * over the top-20 corpus words — natural language sits near −1;
    * boilerplate-flooded or synthetic corpora flatten or steepen it, so
    * the slope is a one-number corpus-health signal tracked per crawl
    * batch (the corpus-level companion of q_text_entropy's per-doc
    * score).
    *
    * Scale: word counts are the hash aggregate every corpus-stats op
    * pays; the fit set is TakeOrdered(top-20) — vocabulary-sized work,
    * constant-sized regression. Both lns are portable (pln); the four
    * regression sums ride the 2⁻³⁰ grid (order-free over 20 addends);
    * slope = one fixed-order IEEE expression over those sums, pinned on
    * publish. */
  val textZipf = Q("q_text_zipf", "Zipf rank-frequency OLS slope over top-20 words")(
    "WITH " + TextQueries.tokwBody + ", " +
      "wc AS (SELECT word, count(*) AS c FROM tokw GROUP BY 1), " +
      s"top AS (SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS r " +
      s"FROM wc ORDER BY c DESC, word LIMIT $ZipfN), " +
      "t1 AS (SELECT word, r, c, CAST(c AS DOUBLE) AS _lnx FROM top), " +
      Portable.plnSqlCtes("t1", "lf") + ", " +
      "t2 AS (SELECT word, r, _pln AS y, CAST(r AS DOUBLE) AS _lnx FROM lf), " +
      Portable.plnSqlCtes("t2", "lr") + ", " +
      "pts AS (SELECT _pln AS x, y FROM lr), " +
      "sums AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      graft.util.Exact.Sql.portableSum("x") + " AS sx, " +
      graft.util.Exact.Sql.portableSum("y") + " AS sy, " +
      graft.util.Exact.Sql.portableSum("x * y") + " AS sxy, " +
      graft.util.Exact.Sql.portableSum("x * x") + " AS sxx FROM pts) " +
      "SELECT CAST(n AS BIGINT) AS n_terms, " +
      graft.util.Exact.Sql.pinScoreInt("(n * sxy - sx * sy) / (n * sxx - sx * sx)") +
      " AS slope FROM sums") {
    (s, d) =>
      val wc = TextOps.explodeTokens(documents(s, d))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val top = wc.orderBy(col("c").desc, col("word")).limit(ZipfN)
        .withColumn("r",
          row_number().over(Window.orderBy(col("c").desc, col("word"))))
      val withY = Portable.pln(top, col("c").cast("double"), "y")
      val withX = Portable.pln(withY, col("r").cast("double"), "x")
      val sums = withX.agg(
        count(lit(1)).cast("double").as("n"),
        graft.util.Exact.portableSum(col("x")).as("sx"),
        graft.util.Exact.portableSum(col("y")).as("sy"),
        graft.util.Exact.portableSum(col("x") * col("y")).as("sxy"),
        graft.util.Exact.portableSum(col("x") * col("x")).as("sxx"))
      sums.select(col("n").cast("long").as("n_terms"),
        graft.util.Exact.pinScoreInt(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
  }

  /** Count-min sketch geometry: 4 hash rows × 256 buckets — 1 KB of
    * counters; expected overestimate per probe ≈ corpus_tokens / 256,
    * min over 4 independent rows. */
  private[graft] val CmD = 4
  private[graft] val CmW = 256
  private val HhK = 10

  /** Count-min heavy hitters (r9): frequency estimates for the exact
    * top-10 corpus words from a 4×256 count-min sketch — the MERGEABLE
    * frequency summary that answers point queries in O(1) with bounded
    * overestimate (Cormode & Muthukrishnan 2005), published next to the
    * exact counts so the sketch error is visible in the result itself
    * (the q_agg_distinct_kmv contract, for frequencies instead of
    * cardinality). Hashes are the portable md5-derived 32-bit family
    * (salt 'cm{i}:'), so both engines build the SAME sketch bit-for-bit.
    *
    * Scale story: the counter update is ADDITIVE, so the sketch built
    * from the vocabulary-sized word-count aggregate equals the sketch
    * built from the raw token stream — one d×w-sized frame (1024 rows)
    * regardless of corpus size, mergeable across 1000 executors or 30
    * daily increments by cell-wise addition. The exact top-10 rides
    * TakeOrdered; estimates are a 40-row × broadcast(1024-row) join +
    * min-aggregate. All-integer arithmetic end to end. */
  val textHeavyHitters = Q("q_text_heavy_hitters", "count-min sketch heavy-hitter estimates")({
    def bSql(i: String, w: String) =
      s"('0x' || substr(md5('cm' || CAST($i AS VARCHAR) || ':' || $w), 1, 8))::BIGINT % $CmW"
    "WITH " + TextQueries.tokwBody + ", " +
      "wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM tokw GROUP BY 1), " +
      s"cm AS (SELECT i, ${bSql("i", "word")} AS b, CAST(sum(n) AS BIGINT) AS cnt " +
      s"FROM wc, (SELECT unnest(range(0, $CmD)) AS i) ii GROUP BY 1, 2), " +
      s"top AS (SELECT word, n FROM wc ORDER BY n DESC, word LIMIT $HhK), " +
      s"est AS (SELECT t.word, t.n, min(c.cnt) AS n_est FROM top t " +
      s"JOIN cm c ON c.b = ${bSql("c.i", "t.word")} GROUP BY 1, 2) " +
      "SELECT word, n, n_est, n_est - n AS overcount FROM est"
  }) {
    (s, d) =>
      def bucket(i: Int, w: Column) = TextOps.cmBucket(i, w, CmW)
      def withBuckets(df: DataFrame) = df
        .select(col("word"), col("n"), explode(array((0 until CmD).map(i =>
          struct(lit(i).as("i"), bucket(i, col("word")).as("b"))): _*)).as("ib"))
        .select(col("word"), col("n"), col("ib.i").as("i"), col("ib.b").as("b"))
      val wc = TextOps.explodeTokens(documents(s, d))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds the sketch cells AND the exact top-k
      val cm = withBuckets(wc).groupBy("i", "b").agg(sum("n").as("cnt"))
      val top = wc.orderBy(col("n").desc, col("word")).limit(HhK)
      withBuckets(top).join(broadcast(cm), Seq("i", "b"))
        .groupBy("word", "n").agg(min("cnt").as("n_est"))
        .select(col("word"), col("n"), col("n_est"),
          (col("n_est") - col("n")).as("overcount"))
  }

  /** Per-source KL divergence of the source's unigram distribution from
    * the corpus distribution (r10) — the drift/health signal a
    * multi-source mix tracks per crawl batch: KL ≈ 0 means the source
    * speaks the corpus's language, a spiking KL flags a source gone
    * off-distribution (spam flood, language shift, scraper breakage) —
    * the per-SOURCE companion of q_text_zipf's one-number corpus slope
    * and the distribution-shape complement of q_mix_temperature's size
    * shares. KL(s‖corpus) = Σ_w (cs/ts)·ln((cs·N)/(ts·cw)); every
    * source's support is a subset of the corpus's, so no term needs
    * smoothing. Scale: counts are the (source, word) hash aggregate —
    * vocabulary×sources-bounded, corpus-linear to build; pln runs once
    * per distinct (source, word); the per-source fold rides the
    * binary-grid portable sum and publishes as a grid cell. */
  val textKlSource = Q("q_text_kl_source", "per-source unigram KL divergence from the corpus")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tw AS (SELECT t.word, d.source FROM tokw t JOIN documents d ON d.doc_id = t.doc_id), " +
      "cs AS (SELECT source, word, count(*) AS cs FROM tw GROUP BY 1, 2), " +
      "ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM cs GROUP BY 1), " +
      "cw AS (SELECT word, CAST(sum(cs) AS BIGINT) AS cw FROM cs GROUP BY 1), " +
      "nn AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cw), " +
      "px AS (SELECT c.source, c.cs, t.ts, " +
      "(CAST(c.cs AS DOUBLE) * CAST(n.n AS DOUBLE)) / " +
      "(CAST(t.ts AS DOUBLE) * CAST(w.cw AS DOUBLE)) AS _lnx " +
      "FROM cs c JOIN ts t ON t.source = c.source JOIN cw w ON w.word = c.word " +
      "CROSS JOIN nn n), " +
      Portable.plnSqlCtes("px", "kx") + ", " +
      "s AS (SELECT source, ts, " +
      graft.util.Exact.Sql.portableSum(
        "(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)) * _pln") + " AS kl " +
      "FROM kx GROUP BY 1, 2) " +
      "SELECT source, ts AS n_tokens, " +
      graft.util.Exact.Sql.pinScoreInt("kl") + " AS kl FROM s") {
    (s, d) =>
      val tw = TextOps.explodeTokens(documents(s, d))
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
      // (source, word) counts feed the source totals, the corpus totals
      // AND the scored join: materialize once
      val cs = tw.groupBy("source", "word").agg(count(lit(1)).as("cs"))
        .localCheckpoint(eager = false)
      val ts = cs.groupBy("source").agg(sum("cs").as("ts"))
      val cw = cs.groupBy("word").agg(sum("cs").as("cw"))
      val nn = cw.agg(sum("cw").as("n"))
      val px = cs.join(ts, "source").join(cw, "word").crossJoin(broadcast(nn))
      Portable.pln(px,
          (col("cs").cast("double") * col("n").cast("double")) /
            (col("ts").cast("double") * col("cw").cast("double")), "klt")
        .groupBy("source", "ts")
        .agg(graft.util.Exact.portableSum(
          (col("cs").cast("double") / col("ts").cast("double")) * col("klt")).as("kl"))
        .select(col("source"), col("ts").as("n_tokens"),
          graft.util.Exact.pinScoreInt(col("kl")).as("kl"))
  }

  /** Per-source Jensen-Shannon divergence from the corpus (r10) — the
    * SYMMETRIC, bounded ([0, ln 2]) companion of q_text_kl_source: KL
    * explodes when a source merely lacks corpus vocabulary, JS stays
    * finite and comparable across sources, which is what a mix dashboard
    * ranks by. JS(P‖Q) = ½Σp·ln(p/m) + ½Σq·ln(q/m), m = (p+q)/2.
    *
    * Absent-mass algebra (the scale trick): the q-side sum over words a
    * source NEVER uses would need a sources×vocabulary dense frame; but
    * for p = 0 the addend is q·ln 2 exactly, so that whole tail folds to
    * ln 2·(1 − Σ_{w∈s} q) — computed from the PRESENT pairs only. The
    * frame stays |distinct (source, word)| like KL, corpus-linear.
    *
    * Portability: two chained portable-ln stages (ratios p/m, q/m), all
    * three per-source folds through the grid portableSum, ln 2 is the
    * shared literal Portable.Ln2, one pinned publish. */
  val textJsSource = Q("q_text_js_source", "per-source Jensen-Shannon divergence from the corpus")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tw AS (SELECT t.word, d.source FROM tokw t JOIN documents d ON d.doc_id = t.doc_id), " +
      "cs AS (SELECT source, word, count(*) AS cs FROM tw GROUP BY 1, 2), " +
      "ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts FROM cs GROUP BY 1), " +
      "cw AS (SELECT word, CAST(sum(cs) AS BIGINT) AS cw FROM cs GROUP BY 1), " +
      "nn AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cw), " +
      "b2 AS (SELECT c.source, t.ts, " +
      "CAST(c.cs AS DOUBLE) / CAST(t.ts AS DOUBLE) AS p, " +
      "CAST(w.cw AS DOUBLE) / CAST(n.n AS DOUBLE) AS q " +
      "FROM cs c JOIN ts t ON t.source = c.source JOIN cw w ON w.word = c.word " +
      "CROSS JOIN nn n), " +
      "b3 AS (SELECT *, 0.5 * (p + q) AS m FROM b2), " +
      "p1 AS (SELECT *, p / m AS _lnx FROM b3), " +
      Portable.plnSqlCtes("p1", "k1") + ", " +
      "c1 AS (SELECT source, ts, p, q, m, _pln AS l1 FROM k1), " +
      "p2 AS (SELECT *, q / m AS _lnx FROM c1), " +
      Portable.plnSqlCtes("p2", "k2") + ", " +
      "s AS (SELECT source, ts, " +
      graft.util.Exact.Sql.portableSum("p * l1") + " AS s1, " +
      graft.util.Exact.Sql.portableSum("q * _pln") + " AS s2, " +
      graft.util.Exact.Sql.portableSum("q") + " AS sq FROM k2 GROUP BY 1, 2) " +
      "SELECT source, ts AS n_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        s"((0.5 * s1) + (0.5 * s2)) + ((0.5 * ${Portable.Ln2}) * (1.0 - sq))") +
      " AS js FROM s") {
    (s, d) =>
      val tw = TextOps.explodeTokens(documents(s, d))
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
      val cs = tw.groupBy("source", "word").agg(count(lit(1)).as("cs"))
        .localCheckpoint(eager = false)
      val ts = cs.groupBy("source").agg(sum("cs").as("ts"))
      val cw = cs.groupBy("word").agg(sum("cs").as("cw"))
      val nn = cw.agg(sum("cw").as("n"))
      val b3 = cs.join(ts, "source").join(cw, "word").crossJoin(broadcast(nn))
        .withColumn("p", col("cs").cast("double") / col("ts").cast("double"))
        .withColumn("q", col("cw").cast("double") / col("n").cast("double"))
        .withColumn("m", lit(0.5) * (col("p") + col("q")))
      val w2 = Portable.pln(
        Portable.pln(b3, col("p") / col("m"), "l1"),
        col("q") / col("m"), "l2")
      w2.groupBy("source", "ts")
        .agg(graft.util.Exact.portableSum(col("p") * col("l1")).as("s1"),
          graft.util.Exact.portableSum(col("q") * col("l2")).as("s2"),
          graft.util.Exact.portableSum(col("q")).as("sq"))
        .select(col("source"), col("ts").as("n_tokens"),
          graft.util.Exact.pinScoreInt(
            (lit(0.5) * col("s1") + lit(0.5) * col("s2"))
              + ((lit(0.5) * lit(Portable.Ln2)) * (lit(1.0) - col("sq")))).as("js"))
  }

  /** Gini coefficient of the per-source token mass (r10) — the one-number
    * mix-balance signal (0 = perfectly even sources, →1 = one source is
    * the corpus) read alongside q_mix_temperature's boosts: temperature
    * sampling is the LEVER, Gini is the GAUGE tracked per batch. Exact
    * rank formula G = 2·Σᵢ i·xᵢ / (k·Σx) − (k+1)/k over counts sorted
    * ascending — all-integer sums to two final IEEE divisions, published
    * as a grid cell. The rank window is over the SOURCES table (fixed
    * tiny cardinality, ~20), never the corpus — the single-partition
    * window is bounded by construction, same argument as q_text_zipf's
    * top-20 fit. */
  val aggGiniSource = Q("q_agg_gini_source", "Gini coefficient of per-source token mass")(
    "WITH t AS (SELECT source, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT source, CAST(sum(toks) AS BIGINT) AS x FROM t GROUP BY 1), " +
      "r AS (SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM g), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx, " +
      "CAST(sum(i * x) AS BIGINT) AS six FROM r) " +
      "SELECT k AS n_sources, sx AS total_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "(CAST(2 * six AS DOUBLE) / CAST(k * sx AS DOUBLE)) - " +
          "(CAST(k + 1 AS DOUBLE) / CAST(k AS DOUBLE))") + " AS gini FROM s") {
    (s, d) =>
      val g = documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy("source").agg(sum("toks").as("x"))
      val r = g.withColumn("i",
        row_number().over(Window.orderBy(col("x"), col("source"))).cast("long"))
      r.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum(col("i") * col("x")).as("six"))
        .select(col("k").as("n_sources"), col("sx").as("total_tokens"),
          graft.util.Exact.pinScoreInt(
            ((lit(2L) * col("six")).cast("double") / (col("k") * col("sx")).cast("double")) -
              ((col("k") + 1).cast("double") / col("k").cast("double"))).as("gini"))
  }

  /** SoftDeDup-style duplicate down-weighting (r10): every document keeps
    * its row, weighted 1/n_copies of its normalized-dedup group — the
    * curation alternative to hard dedup (Semantic Deduplication keeps
    * information that near-unique docs carry while a verbatim flood
    * contributes one document's worth of gradient in expectation; the
    * weight column multiplies into the sampler exactly like
    * q_mix_temperature's boost). Same group identity as
    * q_dedup_normalized (contentHash∘normalizeText), so the two publish
    * consistent decisions; one corpus-linear aggregate + one hash join
    * back on the group key; the weight leaves as a grid cell. */
  val dedupWeight = Q("q_dedup_weight", "per-doc duplicate down-weight (1/n_copies)")(
    "WITH h AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh FROM documents), " +
      "g AS (SELECT nh, CAST(count(*) AS BIGINT) AS n_copies FROM h GROUP BY 1) " +
      "SELECT h.doc_id, g.n_copies, " +
      graft.util.Exact.Sql.pinScoreInt("1.0 / g.n_copies") + " AS weight " +
      "FROM h JOIN g ON g.nh = h.nh") {
    (s, d) =>
      val h = documents(s, d).select(col("doc_id"),
        TextOps.contentHash(TextOps.normalizeText(col("text"))).as("nh"))
      val g = h.groupBy("nh").agg(count(lit(1)).as("n_copies"))
      h.join(g, "nh")
        .select(col("doc_id"), col("n_copies"),
          graft.util.Exact.pinScoreInt(lit(1.0) / col("n_copies")).as("weight"))
  }

  /** Duplicate-cluster SIZE distribution (r10): the histogram a dedup
    * run is judged by — how many exact-duplicate groups exist at each
    * multiplicity, how many documents they hold, and what share of the
    * corpus sits in groups of that size. Shares publish as grid cells
    * over one exact integer division. Same group identity as
    * q_dedup_normalized / q_dedup_weight (contentHash∘normalizeText), so
    * the three read as one consistent dedup report.
    *
    * Scale: the group-size agg is the normalized-dedup hash agg
    * (corpus-linear, map-side partial on the content hash); the
    * histogram re-agg runs on the GROUPS frame keyed by size — keyspace
    * bounded by the largest duplicate multiplicity; the scalar total
    * broadcasts back. No windows, no joins on the corpus. */
  val dedupClusterSizes = Q("q_dedup_cluster_sizes", "duplicate-group size histogram + corpus share")(
    "WITH h AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh FROM documents), " +
      "g AS (SELECT nh, CAST(count(*) AS BIGINT) AS sz FROM h GROUP BY 1), " +
      "hist AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_groups FROM g GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents) " +
      "SELECT hist.sz, hist.n_groups, hist.sz * hist.n_groups AS n_docs, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(hist.sz * hist.n_groups AS DOUBLE) / tot.n_docs_total") +
      " AS doc_share FROM hist, tot") {
    (s, d) =>
      val docs = documents(s, d)
      val g = docs
        .select(TextOps.contentHash(TextOps.normalizeText(col("text"))).as("nh"))
        .groupBy("nh").agg(count(lit(1)).as("sz"))
      val hist = g.groupBy("sz").agg(count(lit(1)).as("n_groups"))
      val tot = docs.agg(count(lit(1)).as("n_docs_total"))
      hist.crossJoin(broadcast(tot))
        .select(col("sz"), col("n_groups"),
          (col("sz") * col("n_groups")).as("n_docs"),
          graft.util.Exact.pinScoreInt(
            (col("sz") * col("n_groups")).cast("double") / col("n_docs_total"))
            .as("doc_share"))
  }

  /** Per-source distinct-n n-gram diversity (r10) — the distinct-1/2/3
    * ratios (Li et al.'s distinct-n, the generation-diversity staple)
    * read here as a CORPUS-health gauge: a source whose distinct-3 ratio
    * collapses is emitting templated/looped text (the per-source
    * companion of q_text_repetition's per-doc signals, and the
    * n-gram-shape complement of q_text_kl_source's unigram divergence).
    * One row per (source, n ∈ {1,2,3}): total n-grams, distinct n-grams,
    * and the pinned ratio.
    *
    * Scale: n-gram explode is corpus-linear (≤ 3 rows per token
    * position); the distinct count is an EXPLICIT two-level aggregate —
    * groupBy (source, n, gram) with a map-side partial count (duplicate
    * grams collapse before the shuffle), then a vocabulary-sized second
    * aggregate to (source, n). Spelled this way rather than
    * count+countDistinct in one agg because that form plans an Expand
    * that duplicates every exploded gram row through the shuffle (one
    * copy per aggregate path) — measured 21.6× CPU at ×10 vs 6× for the
    * two-level spelling. Final frame is |sources|×3 rows; no floats
    * until the one pinned division. */
  val textDistinctNgrams = Q("q_text_distinct_ngrams", "per-source distinct-1/2/3 n-gram diversity")(
    "WITH " + TextQueries.tokwBody + ", " +
      "ds AS (SELECT doc_id, source FROM documents), " +
      "g1 AS (SELECT ds.source, 1 AS n, t.word AS g " +
      "FROM tokw t JOIN ds ON ds.doc_id = t.doc_id), " +
      "g2 AS (SELECT ds.source, 2 AS n, sp[i] || ' ' || sp[i+1] AS g " +
      "FROM tok t JOIN ds ON ds.doc_id = t.doc_id WHERE i + 1 <= len(sp)), " +
      "g3 AS (SELECT ds.source, 3 AS n, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] AS g " +
      "FROM tok t JOIN ds ON ds.doc_id = t.doc_id WHERE i + 2 <= len(sp)), " +
      "u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3) " +
      "SELECT source, CAST(n AS BIGINT) AS n, count(*) AS n_total, " +
      "CAST(count(DISTINCT g) AS BIGINT) AS n_distinct, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)") +
      " AS distinct_ratio FROM u GROUP BY 1, 2") {
    (s, d) =>
      // one scan + one tokenize + ONE explode for all three n (the
      // three-way union-of-scans spelling re-read and re-split the
      // corpus 3x — at x10 text lengths the split dominated)
      def grams(n: Int) = when(size(col("sp")) >= n,
        transform(sequence(lit(1), size(col("sp")) - (n - 1)),
          i => struct(lit(n.toLong).as("n"), concat_ws(" ", slice(col("sp"), i, lit(n))).as("g"))))
        .otherwise(array().cast("array<struct<n:bigint,g:string>>"))
      // FanOut at the amplification site (guide §2.5; r15 A/B: 1.85 →
      // 0.95 s): ONE explode feeds all three n-gram sizes (~3 rows per
      // token position), so the widened slim projection is repaid ~60×
      // in downstream work — and the single-consumer shape means the
      // repartition runs exactly once. doc_id rides along purely as the
      // deterministic hash-repartition key (no sort-before-repartition)
      // and is dropped by the very next select.
      graft.util.FanOut(documents(s, d).select("doc_id", "source", "text"),
          col("doc_id"))
        .select(col("source"), TextOps.tokens(col("text")).as("sp"))
        .select(col("source"), explode(concat(grams(1), grams(2), grams(3))).as("ng"))
        .select(col("source"), col("ng.n").as("n"), col("ng.g").as("g"))
        .groupBy("source", "n", "g").agg(count(lit(1)).as("c"))
        .groupBy("source", "n")
        .agg(sum("c").as("n_total"), count(lit(1)).as("n_distinct"))
        .select(col("source"), col("n"), col("n_total"), col("n_distinct"),
          graft.util.Exact.pinScoreInt(
            col("n_distinct").cast("double") / col("n_total").cast("double"))
            .as("distinct_ratio"))
  }

  /** Quality-signal redundancy audit (r11) — the corpus Pearson
    * correlation between document LENGTH (dl, the token count) and the
    * unigram-LM surprisal score, computed over q_text_unigram_logprob's
    * OWN published frame (inlined text oracle-side, shared fn
    * Spark-side — the mutualSql pattern, so the audited signal is
    * exactly the registered one). Perplexity filters are length-biased
    * almost everywhere; this number says HOW much, per corpus snapshot:
    * |corr| near 1 means the expensive LM score is mostly re-measuring
    * length and a cheap length gate would keep nearly the same docs —
    * the audit that decides whether a filter earns its compute.
    *
    * Exactness: x = dl (integer), y = the published grid CELL rescaled
    * by the exact dyadic 2⁻³⁰ — both engine-identical doubles; then the
    * q_agg_corr five-exact-sum recipe, zero-variance guarded, pinned
    * publish. One corpus-sized aggregate over an already-computed
    * frame. */
  val evalSignalCorr = Q("q_eval_signal_corr",
    "length × surprisal Pearson — the quality-signal redundancy audit")({
    def dsum(c: String, scale: Int) = graft.util.Exact.Sql.sum(c, scale)
    "WITH rep AS (" + textUnigramLogprob.oracle.get + "), " +
      "xy AS (SELECT CAST(dl AS DOUBLE) AS x, " +
      "CAST(logprob AS DOUBLE) / 1073741824.0 AS y FROM rep), " +
      "s AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      dsum("x", 8) + " AS sx, " + dsum("y", 8) + " AS sy, " +
      dsum("x * y", 4) + " AS sxy, " +
      dsum("x * x", 4) + " AS sxx, " + dsum("y * y", 4) + " AS syy FROM xy) " +
      "SELECT CAST(n AS BIGINT) AS n_docs, " +
      "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))") +
      " END AS len_surprisal_corr FROM s"
  }) {
    (s, d) =>
      def dsum(c: Column, scale: Int) = graft.util.Exact.exactSum(c, scale)
      val xy = textUnigramLogprob.fn(s, d)
        .select(col("dl").cast("double").as("x"),
          (col("logprob").cast("double") / 1073741824.0).as("y"))
      val st = xy.agg(count(lit(1)).cast("double").as("n"),
        dsum(col("x"), 8).as("sx"), dsum(col("y"), 8).as("sy"),
        dsum(col("x") * col("y"), 4).as("sxy"),
        dsum(col("x") * col("x"), 4).as("sxx"),
        dsum(col("y") * col("y"), 4).as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      st.select(col("n").cast("long").as("n_docs"),
        when(vx > 0 && vy > 0, graft.util.Exact.pinScoreInt(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(vx) * sqrt(vy)))).as("len_surprisal_corr"))
  }

  /** Heaps'-law vocabulary growth curve (r11) — cumulative distinct
    * vocabulary at each DECILE of the corpus in doc-id order, the
    * companion of q_text_zipf (Zipf describes the frequency spectrum,
    * Heaps V ≈ K·nᵝ its growth): the curve a tokenizer-vocabulary or
    * OOV budget is sized from, and the saturation tell — a corpus whose
    * curve flattens early is template-dominated (cross-check
    * q_text_distinct_ngrams), one that never bends is noisy/unclean.
    *
    * Scale: a word's FIRST-occurrence doc is one hash aggregate
    * (min doc_id per word); doc deciles ride ops.Quantiles.exactNtile
    * (two-phase bit-prefix histogram — no corpus sort, the q_win_ntile
    * plan); the cumulative fold is a window over exactly 10 rows.
    * All-integer output. */
  val textVocabGrowth = Q("q_text_vocab_growth",
    "Heaps-law cumulative vocabulary growth by corpus decile")(
    "WITH " + TextQueries.tokwBody + ", " +
      "fw AS (SELECT word, min(doc_id) AS fd FROM tokw GROUP BY 1), " +
      "dd AS (SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile " +
      "FROM (SELECT DISTINCT doc_id FROM tokw)), " +
      "nw AS (SELECT d.decile, CAST(count(*) AS BIGINT) AS new_words " +
      "FROM fw f JOIN dd d ON d.doc_id = f.fd GROUP BY 1), " +
      "dc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM dd GROUP BY 1) " +
      "SELECT dc.decile, " +
      "CAST(sum(dc.n_docs) OVER (ORDER BY dc.decile) AS BIGINT) AS docs_cum, " +
      "CAST(sum(COALESCE(nw.new_words, 0)) OVER (ORDER BY dc.decile) AS BIGINT) AS vocab_cum " +
      "FROM dc LEFT JOIN nw ON nw.decile = dc.decile") {
    (s, d) =>
      val tokw = TextOps.explodeTokens(documents(s, d))
        .localCheckpoint(eager = false) // first-occurrence agg AND the doc universe
      val fw = tokw.groupBy("word").agg(min("doc_id").as("fd"))
      val dd = graft.ops.Quantiles.exactNtile(
        tokw.select("doc_id").distinct().withColumn("_g", lit(1)),
        part = "_g", value = "doc_id", ord = col("doc_id"),
        tiles = 10, outCol = "decile")
        .select("doc_id", "decile")
      val nw = fw.join(dd, col("fd") === col("doc_id"))
        .groupBy("decile").agg(count(lit(1)).as("new_words"))
      val dc = dd.groupBy("decile").agg(count(lit(1)).as("n_docs"))
      // 10-row cumulative fold: the unpartitioned window is bounded by
      // the tile count, never the corpus (the q_text_zipf argument)
      val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
      dc.join(nw, Seq("decile"), "left")
        .select(col("decile"),
          sum("n_docs").over(w).cast("long").as("docs_cum"),
          sum(coalesce(col("new_words"), lit(0L))).over(w).cast("long").as("vocab_cum"))
  }

  /** Per-source duplicate rate with the cross-source split (r11) — the
    * WHERE of duplication, completing the dedup report family
    * (q_dedup_cluster_sizes says how big the groups are; this says which
    * SOURCES produce them): per source, doc count, non-keeper count
    * under the shared contentHash∘normalizeText identity (keeper =
    * min doc_id, the q_curation_report rule), and — the syndication
    * gauge — how many of those duplicates' KEEPERS live in a DIFFERENT
    * source. A source that is mostly cross-source duplicates is a
    * re-crawl/mirror and its acquisition cost is pure waste; a source
    * duplicating against itself has a crawler loop.
    *
    * Scale: the normalized-dedup hash agg + one join back on the group
    * key + one sources-bounded aggregate — the q_dedup_weight plan with
    * a keeper-source lookup (1 extra join keyed on the group hash). */
  val mixSourceDedupRate = Q("q_mix_source_dedup_rate",
    "per-source duplicate rate + cross-source syndication split")(
    "WITH d0 AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL), " +
      "h AS (SELECT doc_id, source, md5(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh FROM d0), " +
      "gk AS (SELECT nh, min(doc_id) AS keeper FROM h GROUP BY 1), " +
      "ks AS (SELECT g.nh, g.keeper, h2.source AS ksource FROM gk g " +
      "JOIN h h2 ON h2.doc_id = g.keeper), " +
      "f AS (SELECT h.source, " +
      "CASE WHEN h.doc_id <> k.keeper THEN 1 ELSE 0 END AS is_dup, " +
      "CASE WHEN h.doc_id <> k.keeper AND h.source <> k.ksource THEN 1 ELSE 0 END AS is_cross " +
      "FROM h JOIN ks k ON k.nh = h.nh) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(is_dup) AS BIGINT) AS n_dups, " +
      "CAST(sum(is_cross) AS BIGINT) AS n_dups_cross, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(sum(is_dup) AS DOUBLE) / CAST(count(*) AS DOUBLE)") + " AS dup_rate " +
      "FROM f GROUP BY 1") {
    (s, d) =>
      val h = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextOps.contentHash(TextOps.normalizeText(col("text"))).as("nh"))
        .localCheckpoint(eager = false) // group keys, keeper lookup, and the fold
      val gk = h.groupBy("nh").agg(min("doc_id").as("keeper"))
      val ks = gk.join(h.select(col("doc_id"), col("source").as("ksource")),
        col("keeper") === col("doc_id")).select("nh", "keeper", "ksource")
      h.join(ks, "nh")
        .select(col("source"),
          (col("doc_id") =!= col("keeper")).cast("long").as("is_dup"),
          (col("doc_id") =!= col("keeper") && col("source") =!= col("ksource"))
            .cast("long").as("is_cross"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dups"),
          sum("is_cross").as("n_dups_cross"))
        .select(col("source"), col("n_docs"), col("n_dups"),
          col("n_dups_cross").as("n_dups_cross"),
          graft.util.Exact.pinScoreInt(
            col("n_dups").cast("double") / col("n_docs").cast("double")).as("dup_rate"))
  }

  /** HyperLogLog bucket/width geometry: m = 64 registers addressed by the
    * low 6 hash bits; the remaining 26 bits feed the leading-zero rank,
    * so rho ∈ [1, 27] (27 = all-zero word). Pinned here so the Spark and
    * oracle texts (and the streaming twin) can never disagree on the
    * register layout. */
  private[graft] val HllM = 64
  private[graft] val HllRemBits = 26 // 32-bit hash minus log2(m)

  /** (bucket, rho) per row of a word-hash frame `dh(h)` — THE register
    * identity, shared by the batch sketch (q_text_vocab_hll) and the
    * streaming maintainer (Streams.hllIngest) so stream-built and
    * batch-built registers are the same function of the text. */
  private[graft] def hllRhoFromHashes(dh: DataFrame): DataFrame =
    dh.select((col("h") % HllM).as("bucket"), expr(s"h div $HllM").as("rem"))
      .select(col("bucket"), when(col("rem") === 0, lit(HllRemBits + 1).cast("long"))
        .otherwise(lit(HllRemBits + 1) - length(bin(col("rem"))).cast("long")).as("rho"))

  /** [[hllRhoFromHashes]] from raw documents (the streaming twin's
    * per-batch entry point). */
  private[graft] def hllRho(docs: DataFrame): DataFrame =
    hllRhoFromHashes(TextOps.explodeTokens(docs)
      .select(TextOps.hash32(col("word")).as("h")).distinct())

  /** HyperLogLog vocabulary-cardinality sketch (r12) — the register-array
    * sibling of q_agg_distinct_kmv, and the sketch that actually ships at
    * 100 TB: 64 registers of max leading-zero rank over the word-hash
    * space, built with one vocabulary-keyed aggregate; registers merge
    * across shards/days by cell-wise MAX (the count-min addition law,
    * with max for idempotence — HllSketchSpec certifies union = sketch of
    * union on live data). Published as the full 64-row register array
    * (bucket spine left-joined, empty registers publish rho 0 — the
    * eval zero-row convention, and the merge identity needs the zeros)
    * plus one summary row carrying the raw-HLL estimate beside the exact
    * distinct so the error is visible in the result (the KMV contract).
    *
    * Exactness: rho comes from the BINARY-STRING length of the 26-bit
    * remainder (`bin()` drops leading zeros in both engines — integer-
    * pure, no log2 edge cases), the indicator sum Σ 2^(-rho) is scaled by
    * 2^27 into an exact BIGINT fold (rho ≤ 27, so every addend is a
    * nonnegative shift), and the raw estimate (alpha_64 = 0.709,
    * alpha·m²·2^27 / S) is one fixed-order IEEE expression. The published
    * estimate applies the STANDARD small-range correction (the regime a
    * fresh shard's sketch always starts in, where raw HLL reads ~2× high):
    * when est_raw ≤ 2.5·m and zero registers exist, est = m·ln(m/V) —
    * linear counting over the V empty registers — with the log through
    * [[graft.util.Portable.pln]] so the branch is bit-identical across
    * engines; the result pins to the 2⁻³⁰ grid. */
  val textVocabHll = Q("q_text_vocab_hll",
    "HyperLogLog register sketch + estimate of the vocabulary cardinality")(
    "WITH " + TextQueries.tokwBody + ", " +
      "dh AS (SELECT DISTINCT ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM tokw), " +
      s"rr AS (SELECT h % $HllM AS bucket, h // $HllM AS rem FROM dh), " +
      s"rho AS (SELECT bucket, CASE WHEN rem = 0 THEN ${HllRemBits + 1} " +
      s"ELSE ${HllRemBits + 1} - length(bin(rem)) END AS rho FROM rr), " +
      s"regs AS (SELECT u.bucket, CAST(COALESCE(max(rho.rho), 0) AS BIGINT) AS r " +
      s"FROM (SELECT unnest(range(0, $HllM)) AS bucket) u " +
      "LEFT JOIN rho ON rho.bucket = u.bucket GROUP BY 1), " +
      s"s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (${HllRemBits + 1} - r)) AS BIGINT) AS ind, " +
      "CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v FROM regs), " +
      "ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM dh), " +
      "pre AS (SELECT s.ind, s.v, ex.exact_distinct, " +
      s"0.709 * ${HllM * HllM}.0 * ${1L << (HllRemBits + 1)}.0 / CAST(s.ind AS DOUBLE) AS est_raw, " +
      s"CASE WHEN s.v > 0 THEN $HllM.0 / CAST(s.v AS DOUBLE) END AS _lnx " +
      "FROM s CROSS JOIN ex), " +
      graft.util.Portable.plnSqlCtes("pre", "lc") + ", " +
      s"fin AS (SELECT exact_distinct, CASE WHEN est_raw <= ${5 * HllM / 2}.0 AND v > 0 " +
      s"THEN $HllM.0 * _pln ELSE est_raw END AS est FROM lc) " +
      "SELECT CAST(bucket AS BIGINT) AS bucket, r, CAST(NULL AS BIGINT) AS est_distinct, " +
      "CAST(NULL AS BIGINT) AS exact_distinct FROM regs " +
      "UNION ALL " +
      s"SELECT CAST(-1 AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS r, " +
      graft.util.Exact.Sql.pinScoreInt("fin.est") +
      " AS est_distinct, fin.exact_distinct FROM fin") {
    (s, d) =>
      import graft.util.Exact
      val dh = TextOps.explodeTokens(documents(s, d))
        .select(TextOps.hash32(col("word")).as("h")).distinct()
        .localCheckpoint() // feeds the registers AND the exact count
      val rho = hllRhoFromHashes(dh) // dh shared with the exact count
      val regs = s.range(HllM).select(col("id").as("bucket"))
        .join(rho.groupBy("bucket").agg(max("rho").as("mr")), Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("mr"), lit(0L)).as("r"))
        .localCheckpoint() // the register rows AND the indicator fold read it
      val ind = regs.agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${HllRemBits + 1} - r AS INT))"))
          .cast("long").as("ind"),
        sum(when(col("r") === 0L, 1L).otherwise(0L)).cast("long").as("v"))
      val ex = dh.agg(count(lit(1)).cast("long").as("exact_distinct"))
      val pre = ind.crossJoin(ex)
        .withColumn("est_raw", lit(0.709) * lit((HllM * HllM).toDouble) *
          lit((1L << (HllRemBits + 1)).toDouble) / col("ind").cast("double"))
      val lc = graft.util.Portable.pln(pre,
        when(col("v") > 0, lit(HllM.toDouble) / col("v").cast("double")), "_pln")
      val summary = lc
        .select(lit(-1L).as("bucket"), lit(null).cast("long").as("r"),
          Exact.pinScoreInt(
            when(col("est_raw") <= lit((5 * HllM / 2).toDouble) && col("v") > 0,
              lit(HllM.toDouble) * col("_pln"))
              .otherwise(col("est_raw"))).as("est_distinct"),
          col("exact_distinct"))
      regs.select(col("bucket"), col("r"),
          lit(null).cast("long").as("est_distinct"),
          lit(null).cast("long").as("exact_distinct"))
        .unionByName(summary)
  }

  /** Coverage checkpoints. Bounded small so the rank frame the Spark
    * side materializes is a top-k, never a vocabulary sort. */
  private val CovTops = Seq(10L, 100L, 1000L)

  /** Vocabulary coverage curve (r12) — what fraction of the corpus TOKEN
    * MASS the top-N words carry (N = 10/100/1000): the number that sizes
    * a tokenizer's vocabulary budget and quantifies how Zipfian the
    * corpus actually is (the integral companion of q_text_zipf's slope).
    * Published beside the vocabulary size and total token count so the
    * curve is self-normalizing.
    *
    * Scale: one vocabulary-keyed count aggregate; the Spark side takes
    * the global top-1000 by (count DESC, word) via orderBy+limit —
    * Spark plans that as TakeOrderedAndProject (per-partition top-k +
    * driver merge of 1000 rows), NOT a vocabulary sort — and the only
    * unpartitioned window ranks that bounded 1000-row frame. The oracle
    * ranks the full vocabulary (DuckDB is single-node; same result by
    * the shared tie rule). Integers until the three pinned divisions. */
  val textVocabCoverage = Q("q_text_vocab_coverage",
    "token-mass coverage of the top-10/100/1000 vocabulary")(
    "WITH " + TextQueries.tokwBody + ", " +
      "wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tokw GROUP BY 1), " +
      "rk AS (SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rn FROM wc), " +
      "tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v FROM wc), " +
      s"ns AS (SELECT CAST(unnest([${CovTops.mkString(", ")}]) AS BIGINT) AS n_top), " +
      "cov AS (SELECT ns.n_top, CAST(COALESCE(sum(CASE WHEN rk.rn <= ns.n_top THEN rk.c END), 0) " +
      "AS BIGINT) AS covered FROM ns LEFT JOIN rk ON rk.rn <= ns.n_top GROUP BY 1) " +
      "SELECT c.n_top, t.v AS vocab_size, t.t AS total_tokens, c.covered, " +
      graft.util.Exact.Sql.pinScoreInt("CAST(c.covered AS DOUBLE) / CAST(t.t AS DOUBLE)") +
      " AS coverage FROM cov c CROSS JOIN tot t") {
    (s, d) =>
      import graft.util.Exact
      import s.implicits._
      val wc = TextOps.explodeTokens(documents(s, d))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .localCheckpoint() // the total AND the top-k read it
      val tot = wc.agg(sum("c").cast("long").as("t"), count(lit(1)).as("v"))
      val maxN = CovTops.max.toInt
      val topk = wc.orderBy(col("c").desc, col("word")).limit(maxN)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("c").desc, col("word"))).cast("long"))
      val ns = CovTops.toDF("n_top")
      val cov = ns.join(topk, col("rn") <= col("n_top"), "left")
        .groupBy("n_top")
        .agg(coalesce(sum("c"), lit(0L)).cast("long").as("covered"))
      cov.crossJoin(broadcast(tot))
        .select(col("n_top"), col("v").as("vocab_size"), col("t").as("total_tokens"),
          col("covered"),
          Exact.pinScoreInt(
            col("covered").cast("double") / col("t").cast("double")).as("coverage"))
  }

  /** Hapax legomena rate per source (r13) — the share of word TYPES that
    * occur exactly once, per source and on a corpus TOTAL row. The
    * vocabulary-health gauge between q_text_vocab_growth (how fast types
    * accumulate) and q_text_distinct_ngrams (how templated the text is):
    * natural language sits near 40–60% hapax; a source far BELOW is
    * boilerplate/templated (types repeat), far ABOVE is OCR noise or
    * garbled encoding (every "type" is a typo). The TOTAL row is
    * computed over CORPUS-wide term counts, not a sum of the per-source
    * rows — a word that is hapax in two sources separately is NOT corpus
    * hapax, which is exactly the cross-source syndication signal.
    *
    * Scale: two (key, word) hash aggregates over the one token explode —
    * vocabulary-sized frames, integer counts, one pinned ratio each. */
  val textHapax = Q("q_text_hapax", "hapax-legomena type rate per source + corpus total")(
    "WITH " + TextQueries.tokwBody + ", " +
      "ds AS (SELECT t.word, d.source FROM tokw t JOIN documents d ON d.doc_id = t.doc_id), " +
      "wc AS (SELECT source, word, count(*) AS c FROM ds GROUP BY 1, 2), " +
      "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types, " +
      "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax FROM wc GROUP BY 1), " +
      "cc AS (SELECT word, count(*) AS c FROM ds GROUP BY 1), " +
      "ct AS (SELECT CAST(count(*) AS BIGINT) AS n_types, " +
      "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax FROM cc) " +
      "SELECT source, n_types, n_hapax, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)") + " AS hapax_rate FROM g " +
      "UNION ALL SELECT 'TOTAL' AS source, n_types, n_hapax, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)") + " AS hapax_rate FROM ct") {
    (s, d) =>
      import graft.util.Exact
      val ds = TextOps.explodeTokens(documents(s, d))
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
        .select("word", "source")
        .localCheckpoint(eager = false) // per-source AND corpus-wide counts
      def hapaxOf(df: DataFrame, keys: Seq[String]): DataFrame = {
        val wc = df.groupBy((keys :+ "word").map(col): _*).agg(count(lit(1)).as("c"))
        wc.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n_types"),
            sum(when(col("c") === 1, 1).otherwise(0)).cast("long").as("n_hapax"))
      }
      val g = hapaxOf(ds, Seq("source"))
      val ct = hapaxOf(ds, Seq.empty).withColumn("source", lit("TOTAL"))
      def out(df: DataFrame) = df.select(col("source"), col("n_types"), col("n_hapax"),
        Exact.pinScoreInt(col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_rate"))
      out(g).unionByName(out(ct))
  }

  /** Prefix-window dedup (r13) — duplicate groups keyed by the FIRST 64
    * chars of the normalized text (md5 over the shared normalize∘hash
    * identity of q_dedup_normalized): catches templated-intro families —
    * syndicated articles, form letters, scraped mirrors whose bodies
    * diverge after the lede — that full-content hashing calls distinct
    * and pair-enumeration dedup prices at O(candidates). Per group with
    * ≥2 docs: copy count, the keeper (min doc_id), and the count of
    * DISTINCT full normalized bodies — n_variants = 1 means the prefix
    * family is really a full-dup family (q_dedup_normalized will catch
    * it); n_variants > 1 is the prefix-only signal this operator exists
    * for. Map-only hash + one groupBy: corpus-linear, no pairs. */
  val dedupPrefix = Q("q_dedup_prefix", "normalized 64-char-prefix duplicate families")({
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
      "' +', ' ', 'g'))"
    s"SELECT md5(substr($norm, 1, 64)) AS prefix_hash, " +
      "CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper, " +
      s"CAST(count(DISTINCT md5($norm)) AS BIGINT) AS n_variants " +
      "FROM documents GROUP BY 1 HAVING count(*) >= 2"
  }) {
    (s, d) =>
      val norm = TextOps.normalizeText(col("text"))
      documents(s, d)
        .select(col("doc_id"),
          TextOps.contentHash(substring(norm, 1, 64)).as("prefix_hash"),
          TextOps.contentHash(norm).as("full_hash"))
        .groupBy("prefix_hash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"),
          countDistinct("full_hash").as("n_variants"))
        .filter(col("n_docs") >= 2)
  }

  /** Word-length histogram over token OCCURRENCES (r13) — the tokenizer-
    * design diagnostic beside q_text_tokens: per character-length bucket
    * (1..15, 16+ capped), occurrence count, distinct-type count, and the
    * pinned corpus share. The length distribution drives BPE vocabulary
    * sizing (long-tail mass ⇒ more merges pay off) and catches
    * concatenation bugs (a spike at 16+ usually means lost whitespace).
    * Map-only explode → one ≤16-key hash aggregate; per-shard histograms
    * merge by addition. */
  val textWordLenHist = Q("q_text_word_len_hist",
    "word-length histogram (chars, 16+ capped) with type counts and shares")(
    "WITH " + TextQueries.tokwBody + ", " +
      "b AS (SELECT least(16, length(word)) AS wlen, word FROM tokw), " +
      "h AS (SELECT wlen, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(count(DISTINCT word) AS BIGINT) AS n_types FROM b GROUP BY 1), " +
      "wt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM h) " +
      "SELECT h.wlen, h.n_tokens, h.n_types, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(h.n_tokens AS DOUBLE) / CAST(wt.tot AS DOUBLE)") + " AS share " +
      "FROM h CROSS JOIN wt") {
    (s, d) =>
      import graft.util.Exact
      val h = TextOps.explodeTokens(documents(s, d))
        .select(least(lit(16), length(col("word"))).as("wlen"), col("word"))
        .groupBy("wlen")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct("word").as("n_types"))
        .localCheckpoint(eager = false) // the total AND the output read it
      val t = h.agg(sum("n_tokens").cast("long").as("tot"))
      h.crossJoin(broadcast(t))
        .select(col("wlen"), col("n_tokens"), col("n_types"),
          Exact.pinScoreInt(
            col("n_tokens").cast("double") / col("tot").cast("double")).as("share"))
  }

  /** Simpson diversity of the unigram distribution per source + corpus
    * (r13) — the collision-probability complement of q_text_entropy:
    * λ = Σ nᵢ(nᵢ−1) / (N(N−1)), the chance two tokens drawn without
    * replacement are the same type. Published as the pinned λ plus the
    * integer type/token counts; 1/λ is the "effective vocabulary" the
    * reader derives. ENTIRELY integer until one final pinned division —
    * no logs, no decimal casts — so it is portable by construction.
    * int64 domain: N < 3e9 is assert_true-guarded (N(N−1) and Σnᵢ(nᵢ−1)
    * ≤ N² both stay under 2⁶³; beyond that swap the sums to
    * DECIMAL(38,0) and the ratio to the portable grid). Vocabulary-sized
    * aggregate per source — the q_text_zipf shuffle shape. */
  val textSimpson = Q("q_text_simpson",
    "Simpson diversity (unigram collision probability) per source + corpus")(
    "WITH " + TextQueries.tokwBody + ", " +
      "ds AS (SELECT t.word, d.source FROM tokw t JOIN documents d ON d.doc_id = t.doc_id), " +
      "wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY 1, 2), " +
      "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types, " +
      "CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(sum(c * (c - 1)) AS BIGINT) AS coll FROM wc GROUP BY 1), " +
      "cc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY 1), " +
      "ct AS (SELECT CAST(count(*) AS BIGINT) AS n_types, " +
      "CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(sum(c * (c - 1)) AS BIGINT) AS coll FROM cc) " +
      "SELECT source, n_types, n_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(coll AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))") +
      " AS simpson FROM g " +
      "UNION ALL SELECT 'TOTAL' AS source, n_types, n_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(coll AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))") +
      " AS simpson FROM ct") {
    (s, d) =>
      import graft.util.Exact
      val ds = TextOps.explodeTokens(documents(s, d))
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
        .select("word", "source")
        .localCheckpoint(eager = false) // per-source AND corpus-wide counts
      def simpsonOf(df: DataFrame, keys: Seq[String]): DataFrame = {
        val wc = df.groupBy((keys :+ "word").map(col): _*)
          .agg(count(lit(1)).as("c"))
        wc.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n_types"),
            sum("c").cast("long").as("n_tokens"),
            sum(col("c") * (col("c") - 1)).cast("long").as("coll"))
      }
      val g = simpsonOf(ds, Seq("source"))
      val ct = simpsonOf(ds, Seq.empty).withColumn("source", lit("TOTAL"))
      def out(df: DataFrame) = df.select(col("source"), col("n_types"), col("n_tokens"),
        when(assert_true(col("n_tokens") < 3000000000L,
            lit("q_text_simpson: token count beyond the int64-exact collision " +
              "domain (swap sums to DECIMAL(38,0) + portable grid)")).isNull,
          Exact.pinScoreInt(col("coll").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - 1).cast("double"))))
          .as("simpson"))
      out(g).unionByName(out(ct))
  }

  /** Theil index of the per-source token mass (r12) — q_agg_gini_source's
    * information-theoretic sibling, and the one the mix designer can
    * DECOMPOSE (Theil is additive across nested groupings, Gini is not):
    * T = Σᵢ (xᵢ/Σx)·ln(k·xᵢ/Σx) over the k sources, 0 = perfectly even,
    * ln k = one source holds everything. Token masses are exact integer
    * sums; the ln is the portable recipe (Portable.pln) over the
    * SOURCES frame — fixed tiny cardinality, so the transcendental work
    * is corpus-size-independent — and the weighted fold is a 2⁻³⁰-grid
    * portable sum, published pinned. Empty sources (x=0) contribute 0 by
    * the x·ln x convention and are filtered before the log. */
  val aggTheilSource = Q("q_agg_theil_source",
    "Theil inequality index of per-source token mass (portable ln, pinned)")(
    "WITH t AS (SELECT source, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks FROM documents), " +
      "g AS (SELECT source, CAST(sum(toks) AS BIGINT) AS x FROM t GROUP BY 1), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx FROM g), " +
      "px AS (SELECT g.source, g.x, s.k, s.sx, " +
      "(CAST(s.k AS DOUBLE) * CAST(g.x AS DOUBLE)) / CAST(s.sx AS DOUBLE) AS _lnx " +
      "FROM g CROSS JOIN s WHERE g.x > 0), " +
      Portable.plnSqlCtes("px", "tl") + ", " +
      "f AS (SELECT max(k) AS k, max(sx) AS sx, " +
      graft.util.Exact.Sql.portableSum(
        "(CAST(x AS DOUBLE) / CAST(sx AS DOUBLE)) * _pln") + " AS theil FROM tl) " +
      "SELECT CAST(k AS BIGINT) AS n_sources, CAST(sx AS BIGINT) AS total_tokens, " +
      graft.util.Exact.Sql.pinScoreInt("theil") + " AS theil FROM f") {
    (s, d) =>
      val g = documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .groupBy("source").agg(sum("toks").as("x"))
      val st = g.agg(count(lit(1)).as("k"), sum("x").as("sx"))
      val px = g.crossJoin(broadcast(st)).filter(col("x") > 0)
      Portable.pln(px,
          (col("k").cast("double") * col("x").cast("double")) / col("sx").cast("double"),
          "tl")
        .agg(max("k").as("k"), max("sx").as("sx"),
          graft.util.Exact.portableSum(
            (col("x").cast("double") / col("sx").cast("double")) * col("tl")).as("theil"))
        .select(col("k").cast("long").as("n_sources"),
          col("sx").cast("long").as("total_tokens"),
          graft.util.Exact.pinScoreInt(col("theil")).as("theil"))
  }

  /** Word burstiness (r12) — the Church–Gale observation that content
    * words CLUMP (a doc mentioning a topic word mentions it again) while
    * function words spread evenly: per top-20 word, the
    * variance-to-mean ratio of its per-document count over ALL documents
    * (zeros included — via the Σc² identity, so absent docs cost
    * nothing). VMR ≈ 1 = Poisson/function word; VMR ≫ 1 = bursty topic
    * word — the signal TF-IDF's df term approximates and dedup's
    * repetition filters exploit. Exact integer moments (Σc, Σc² in
    * HUGEINT/DECIMAL) + two fixed-order divisions, pinned; the top-20
    * cut is the q_text_zipf vocabulary bound. */
  val textBurstiness = Q("q_text_burstiness",
    "top-20 word variance-to-mean ratio over per-doc counts (zeros via identity)")(
    "WITH " + TextQueries.tokwBody + ", " +
      "dwc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM tokw GROUP BY 1, 2), " +
      "wt AS (SELECT word, CAST(sum(c) AS BIGINT) AS cw, " +
      "sum(CAST(c AS HUGEINT) * c) AS cw2, CAST(count(*) AS BIGINT) AS df " +
      "FROM dwc GROUP BY 1), " +
      "top AS (SELECT word, cw, cw2, df, row_number() OVER (ORDER BY cw DESC, word) AS r " +
      "FROM wt ORDER BY cw DESC, word LIMIT 20), " +
      "nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents) " +
      "SELECT word, cw AS n_total, df AS n_docs, " +
      graft.util.Exact.Sql.pinScoreInt(
        "((CAST(cw2 AS DOUBLE) - (CAST(cw AS DOUBLE) * CAST(cw AS DOUBLE)) / " +
          "CAST(nd.nd AS DOUBLE)) / CAST(nd.nd AS DOUBLE)) / " +
          "(CAST(cw AS DOUBLE) / CAST(nd.nd AS DOUBLE))") + " AS vmr " +
      "FROM top CROSS JOIN nd") {
    (s, d) =>
      val dwc = TextOps.explodeTokens(documents(s, d))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      val wt = dwc.groupBy("word")
        .agg(sum("c").cast("long").as("cw"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("cw2"),
          count(lit(1)).as("df"))
      val top = wt.orderBy(col("cw").desc, col("word")).limit(20)
      val nd = documents(s, d).agg(count(lit(1)).as("nd"))
      val cwD = col("cw").cast("double"); val ndD = col("nd").cast("double")
      top.crossJoin(broadcast(nd))
        .select(col("word"), col("cw").as("n_total"), col("df").cast("long").as("n_docs"),
          graft.util.Exact.pinScoreInt(
            ((col("cw2").cast("double") - (cwD * cwD) / ndD) / ndD) / (cwD / ndD))
            .as("vmr"))
  }

  /** Yule's K (r12) — the classic REPETITIVENESS characteristic of a
    * vocabulary: K = 10⁴·(S₂ − S₁)/S₁² with S₁ = Σ m·V(m) (token count)
    * and S₂ = Σ m²·V(m) over the frequency spectrum V(m) — equivalently
    * S₂ = Σ_types c². K is ~stable under corpus growth (unlike raw
    * type/token ratios, which is why it is the lexicometrics standard):
    * natural English prose sits near 100–200; K far above means heavy
    * function-word/template repetition, far below means hapax-flooded
    * noise (OCR garbage). Sits beside q_text_simpson (K is Simpson's D
    * ×10⁴ up to the −S₁ small-sample term), q_text_hapax (the m=1 slice
    * of the same spectrum) and q_text_burstiness (per-DOC clumping vs
    * this corpus-level concentration). Per source + corpus TOTAL row
    * (computed over corpus-wide term counts — K is not additive across
    * sources; the TOTAL row is the syndication-aware number).
    *
    * Scale: one (source, word) hash aggregate over the shared token
    * explode; S₁ exact BIGINT, S₂ exact HUGEINT/DECIMAL, K one
    * fixed-order IEEE expression over them, pinned. Vocabulary-sized
    * frames; no sort. */
  val textYuleK = Q("q_text_yule_k",
    "Yule's K vocabulary-repetitiveness characteristic per source + TOTAL")({
    def kSql(src: String) = "SELECT " + src + " AS source, " +
      "CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_types, " +
      graft.util.Exact.Sql.pinScoreInt(
        "10000.0 * (CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) - " +
          "CAST(sum(c) AS DOUBLE)) / " +
          "(CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))") + " AS yule_k "
    "WITH " + TextQueries.tokwBody + ", " +
      "ds AS (SELECT t.word, d.source FROM tokw t JOIN documents d ON d.doc_id = t.doc_id), " +
      "wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY 1, 2), " +
      "cc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY 1) " +
      kSql("source") + "FROM wc GROUP BY 1 " +
      "UNION ALL " + kSql("'TOTAL'") + "FROM cc"
  }) {
    (s, d) =>
      import graft.util.Exact
      val ds = TextOps.explodeTokens(documents(s, d))
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
        .select("word", "source")
        .localCheckpoint(eager = false) // per-source AND corpus-wide spectra
      def kOf(df: DataFrame, keys: Seq[String]): DataFrame = {
        val wc = df.groupBy((keys :+ "word").map(col): _*).agg(count(lit(1)).as("c"))
        val s1 = sum("c").cast("double")
        val s2 = sum(col("c").cast("decimal(38,0)") * col("c")).cast("double")
        wc.groupBy(keys.map(col): _*)
          .agg(sum("c").cast("long").as("n_tokens"), count(lit(1)).as("n_types"),
            Exact.pinScoreInt(lit(10000.0) * (s2 - s1) / (s1 * s1)).as("yule_k"))
      }
      val g = kOf(ds, Seq("source"))
      val ct = kOf(ds, Seq.empty).withColumn("source", lit("TOTAL"))
        .select("source", "n_tokens", "n_types", "yule_k")
      g.unionByName(ct)
  }

  /** Character-class mix per source (r12) — the script-level composition
    * under the language-ID and encoding audits: exact counts of latin
    * letters, digits, whitespace and everything-else, with pinned
    * shares. Counting is length-difference after class deletion
    * (regexp_replace with explicit character ranges — the Java/RE2
    * agreement subset; no \\s, no unicode properties), so the counts
    * are integers and the only doubles are the published share
    * divisions. A source whose "other" share spikes is mojibake, markup
    * or non-latin text the downstream tokenizer will shred — this is
    * the triage number before q_text_langid_trigram's verdict. Map-only
    * + one sources-sized aggregate. */
  val textScriptMix = Q("q_text_script_mix",
    "per-source character-class mix: latin/digit/whitespace/other + shares")({
    def cnt(cls: String) = s"(length(text) - length(regexp_replace(text, '$cls', '', 'g')))"
    "WITH c AS (SELECT source, CAST(length(text) AS BIGINT) AS total, " +
      s"CAST(${cnt("[a-zA-Z]")} AS BIGINT) AS latin, " +
      s"CAST(${cnt("[0-9]")} AS BIGINT) AS digit, " +
      s"CAST(${cnt("[ ]")} AS BIGINT) AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "g AS (SELECT source, CAST(sum(total) AS BIGINT) AS n_chars, " +
      "CAST(sum(latin) AS BIGINT) AS n_latin, CAST(sum(digit) AS BIGINT) AS n_digit, " +
      "CAST(sum(ws) AS BIGINT) AS n_ws FROM c GROUP BY 1) " +
      "SELECT source, n_chars, n_latin, n_digit, n_ws, " +
      "n_chars - n_latin - n_digit - n_ws AS n_other, " +
      "CASE WHEN n_chars > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_latin AS DOUBLE) / CAST(n_chars AS DOUBLE)") + " END AS latin_share, " +
      "CASE WHEN n_chars > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_chars - n_latin - n_digit - n_ws AS DOUBLE) / " +
          "CAST(n_chars AS DOUBLE)") + " END AS other_share FROM g"
  }) {
    (s, d) =>
      import graft.util.Exact
      def cnt(cls: String) =
        (length(col("text")) - length(regexp_replace(col("text"), cls, ""))).cast("long")
      val c = documents(s, d).filter(col("text").isNotNull)
        .select(col("source"), length(col("text")).cast("long").as("total"),
          cnt("[a-zA-Z]").as("latin"), cnt("[0-9]").as("digit"), cnt("[ ]").as("ws"))
      val g = c.groupBy("source").agg(sum("total").cast("long").as("n_chars"),
        sum("latin").cast("long").as("n_latin"),
        sum("digit").cast("long").as("n_digit"),
        sum("ws").cast("long").as("n_ws"))
      val other = col("n_chars") - col("n_latin") - col("n_digit") - col("n_ws")
      g.select(col("source"), col("n_chars"), col("n_latin"), col("n_digit"),
        col("n_ws"), other.as("n_other"),
        when(col("n_chars") > 0, Exact.pinScoreInt(
          col("n_latin").cast("double") / col("n_chars").cast("double")))
          .as("latin_share"),
        when(col("n_chars") > 0, Exact.pinScoreInt(
          other.cast("double") / col("n_chars").cast("double"))).as("other_share"))
  }

  /** Standardized type-token ratio (r12) — raw TTR falls with document
    * length (longer text repeats more), so cross-doc TTR comparisons are
    * length-confounded; the standard fix (STTR) averages TTR over
    * fixed-size NON-OVERLAPPING 50-token windows, making the number
    * comparable across lengths. Per source: window count, mean STTR
    * (portable-grid fold of per-window distinct/50 ratios — each an
    * exact integer division), and the raw corpus TTR beside it for the
    * length-bias contrast. Partial trailing windows (< 50 tokens) are
    * excluded — the standard convention. One position explode → one
    * (doc, window) distinct aggregate → source rollup; corpus-linear. */
  val textSttr = Q("q_text_sttr",
    "standardized TTR (50-token windows) per source vs raw TTR")(
    "WITH " + TextQueries.tokwBody + ", " +
      "wn AS (SELECT t.doc_id, (t.i - 1) // 50 AS win, t.word FROM tokw t), " +
      "wlen AS (SELECT doc_id, win, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(count(DISTINCT word) AS BIGINT) AS types FROM wn GROUP BY 1, 2), " +
      "full50 AS (SELECT w.doc_id, w.types FROM wlen w WHERE w.n = 50), " +
      "ds AS (SELECT f.types, d.source FROM full50 f " +
      "JOIN documents d ON d.doc_id = f.doc_id), " +
      "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_windows, " +
      graft.util.Exact.Sql.portableSum("CAST(types AS DOUBLE) / 50.0") +
      " AS sttr_sum FROM ds GROUP BY 1), " +
      "raw AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(count(DISTINCT t.word) AS BIGINT) AS n_types FROM tokw t " +
      "JOIN documents d ON d.doc_id = t.doc_id GROUP BY 1) " +
      "SELECT raw.source, raw.n_tokens, raw.n_types, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(raw.n_types AS DOUBLE) / CAST(raw.n_tokens AS DOUBLE)") +
      " AS raw_ttr, COALESCE(g.n_windows, 0) AS n_windows, " +
      "CASE WHEN g.n_windows > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt("g.sttr_sum / CAST(g.n_windows AS DOUBLE)") +
      " END AS sttr FROM raw LEFT JOIN g ON g.source = raw.source") {
    (s, d) =>
      import graft.util.Exact
      val tokw = TextOps.explodeTokens(documents(s, d))
        .localCheckpoint(eager = false) // windows AND the raw TTR read it
      val wlen = tokw
        .select(col("doc_id"), expr("(i - 1) div 50").as("win"), col("word"))
        .groupBy("doc_id", "win")
        .agg(count(lit(1)).as("n"), countDistinct("word").as("types"))
      val ds = wlen.filter(col("n") === 50)
        .join(documents(s, d).select("doc_id", "source"), "doc_id")
      val g = ds.groupBy("source").agg(count(lit(1)).as("n_windows"),
        Exact.portableSum(col("types").cast("double") / 50.0).as("sttr_sum"))
      val raw = tokw.join(documents(s, d).select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_tokens"),
          countDistinct("word").as("n_types"))
      raw.join(g, Seq("source"), "left")
        .select(col("source"), col("n_tokens"), col("n_types"),
          Exact.pinScoreInt(col("n_types").cast("double") /
            col("n_tokens").cast("double")).as("raw_ttr"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          when(col("n_windows") > 0, Exact.pinScoreInt(
            col("sttr_sum") / col("n_windows").cast("double"))).as("sttr"))
  }

  val all: Seq[Q] = Seq(textTfidf, textBm25, textWinnow, ngramBoilerplate, bigramPmi,
    dedupNormalized, textEntropy, dedupWinnow, textUnigramLogprob, textBigramLogprob,
    textPplBucket, textHeldoutLogprob, textTfidfCosine, textZipf, textHeavyHitters,
    textKlSource, textJsSource, aggGiniSource, dedupWeight, textDistinctNgrams,
    dedupClusterSizes, evalSignalCorr, textVocabGrowth, mixSourceDedupRate,
    textVocabHll, textVocabCoverage, textHapax, dedupPrefix, textWordLenHist,
    textSimpson, aggTheilSource, textBurstiness, textYuleK, textScriptMix, textSttr)
}
