package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Building blocks for the LLM-training-data operators (SURVEY.md §2.12):
  * shingling, portable hashing, token stats. Everything is a per-row or
  * explode+aggregate expression pipeline — no UDFs, no driver loops — so
  * each op is one scan plus shuffles on (doc) or (band) keys and scales
  * linearly with corpus size.
  *
  * Hashing is md5-based (not Spark's murmur `hash()`): md5 is defined
  * identically in every engine, which makes results portable — the same
  * property that lets the DuckDB oracle agree lets a 100 TB run resume or
  * migrate engines without re-hashing the corpus.
  */
object TextOps {

  /** Whitespace tokens of a document, preserving order + multiplicity. */
  def tokens(text: Column): Column = split(text, " ")

  /** 32-bit portable hash of a string: first 8 hex digits of md5. */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Portable content hash of a document — THE dedup identity. Batch
    * (Corpus.exactDedup, q_dedup_exact) and streaming (Streams.corpusIngest)
    * dedup must share this definition bit-for-bit or stream- and
    * batch-built corpora diverge. */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Count-min sketch bucket of `word` in hash row `i` (width `w`) —
    * THE sketch cell identity, shared by the batch sketch
    * (q_text_heavy_hitters) and the streaming maintenance
    * (Streams.cmSketchIngest) for the same parity reason as contentHash:
    * counters built by either path must be cell-wise identical, or a
    * sketch folded from both answers nothing. */
  def cmBucket(i: Int, word: Column, w: Int): Column =
    hash32(concat(lit(s"cm$i:"), word)) % w

  /** Canonical text normalization for dedup robust to re-encodings:
    * lowercase, strip non-alphanumerics, collapse space runs, trim. THE
    * normalized-dedup identity is contentHash(normalizeText(text)) —
    * shared by q_dedup_normalized, Corpus.exactDedup(normalized = true)
    * and Streams.corpusIngest(normalized = true) for the same
    * batch/stream-parity reason as contentHash. Runs as the fused
    * single-pass codegen expression (functions.NormalizeAscii — one
    * buffer, no regex NFA passes; equality with the regex spelling in
    * [[normalizeTextRegex]] is pinned by OpsSpec). */
  def normalizeText(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.NormalizeAscii(
      GraftColumnBridge.expression(text)))
  }

  /** The regex spelling of [[normalizeText]] — the DuckDB oracle's text
    * and the equality-pin reference; not used in any hot path. */
  def normalizeTextRegex(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** PII patterns, restricted to syntax Java regex and RE2 interpret
    * identically (character classes, bounded repetition, ASCII \b — no
    * alternation, no backreferences, no lookaround) so the DuckDB oracle
    * and Spark agree on every match boundary. Heuristic by design:
    * 999.999.999.999 "matches" IPv4 — a curation scan wants recall, and
    * octet-range tightening would need alternation with engine-specific
    * leftmost semantics. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Sequential PII redaction, fixed order email → ip → phone (email
    * first so an address' host part can never be half-eaten by the IP
    * pass). THE redaction identity for q_text_pii and platform callers. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      PiiEmail, "<EMAIL>"), PiiIpv4, "<IP>"), PiiPhone, "<PHONE>")

  /** Gopher-rule quality metrics (Rae et al. 2021) as one struct column
    * — THE definition shared by the batch query (q_text_gopher) and the
    * streaming curation twin (Streams.curateIngest), so a stream-curated
    * corpus keeps exactly the documents the batch filter would keep.
    * Pure array arithmetic on the token split: map-only, codegen'd. */
  val GopherStops = Seq("the", "a", "and", "of")
  def gopher(text: Column): Column = {
    val sp = split(text, " ")
    val lines = split(text, "\n")
    val nWords = size(sp)
    val sumLen = aggregate(transform(sp, w => length(w)), lit(0), (acc, x) => acc + x)
    val nAlpha = size(filter(sp, w => w.rlike("[A-Za-z]")))
    val nStop = GopherStops.map(w => array_contains(sp, w).cast("long")).reduce(_ + _)
    val nSym = size(regexp_extract_all(text, lit("#"), lit(0))) +
      size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))
    val nBullet = size(filter(lines, l => l.rlike("^[-*]")))
    val meanLen = sumLen.cast("double") / nWords
    val fracAlpha = nAlpha.cast("double") / nWords
    val symRatio = nSym.cast("double") / nWords
    struct(
      nWords.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      fracAlpha.as("frac_alpha"),
      nStop.as("n_stop"),
      symRatio.as("symbol_ratio"),
      (nBullet.cast("double") / size(lines)).as("frac_bullet"),
      (nWords.between(50, 100000) && meanLen.between(3.0, 10.0) &&
        fracAlpha >= 0.8 && nStop >= 2 && symRatio < 0.1).as("gopher_pass"))
  }

  /** Explode a document into (i, word) rows, i 1-based. */
  def explodeTokens(docs: DataFrame): DataFrame =
    docs.withColumn("sp", tokens(col("text")))
      .select(col("doc_id"), posexplode(col("sp")).as(Seq("pos0", "word")))
      .withColumn("i", col("pos0") + 1).drop("pos0")

  /** Word k-shingles with their 1-based window position, k=3:
    * (doc_id, i, shingle) rows. Position-aware callers (winnowing) need
    * `i`; set-semantics callers use [[shingles3]] which prunes it. */
  def shingles3Pos(docs: DataFrame): DataFrame =
    docs.withColumn("sp", tokens(col("text")))
      .select(col("doc_id"), col("sp"), explode(sequence(lit(1), size(col("sp")))).as("i"))
      .filter(col("i") + 2 <= size(col("sp")))
      .select(col("doc_id"), col("i"),
        concat(element_at(col("sp"), col("i")), lit(" "),
          element_at(col("sp"), col("i") + 1), lit(" "),
          element_at(col("sp"), col("i") + 2)).as("shingle"))

  /** Word k-shingles as (doc_id, shingle) rows, k=3. One row per window
    * position; shingle text joined with single spaces. */
  def shingles3(docs: DataFrame): DataFrame =
    shingles3Pos(docs).select(col("doc_id"), col("shingle"))

  /** Winnowing (MOSS) fingerprint set per document: min 32-bit shingle
    * hash over a w = 4 sliding window of 3-shingle positions, distinct
    * minima. The per-doc ordered window never sorts across documents;
    * q_text_winnow is a straight select and q_dedup_winnow joins these
    * sets for partial-overlap candidates. */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val hh = shingles3Pos(docs)
      .select(col("doc_id"), col("i"), hash32(col("shingle")).as("h"))
    val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
    hh.select(col("doc_id"), min("h").over(w).as("fp"), count(lit(1)).over(w).as("wn"))
      .filter(col("wn") === 4)
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** Prime modulus (> 2³²) of the universal minhash family below. */
  val MinhashP = 4294967311L

  /** The k-th minhash function over a shingle's md5 words: the
    * Carter–Wegman universal family h_k = (h1 + k·h2) mod P, h1/h2 the
    * md5's first two 32-bit words. ONE md5 per shingle serves every k —
    * the corpus scan hashes each shingle once instead of once per
    * signature slot (8× less hashing at 100 TB); md5 keeps the values
    * engine-portable. k·h2 ≤ 7·2³² and the sum stay far inside Long. */
  def minhashK(k: Int, h1: Column, h2: Column): Column =
    min((h1 + lit(k.toLong) * h2) % MinhashP).as(s"mh$k")

  /** Word 2-grams as (doc_id, bigram) rows — the repetition-signal unit
    * (duplicated bigrams ≈ boilerplate / degenerate generation). */
  def bigrams(docs: DataFrame): DataFrame =
    docs.withColumn("sp", tokens(col("text")))
      .select(col("doc_id"), col("sp"), explode(sequence(lit(1), size(col("sp")))).as("i"))
      .filter(col("i") + 1 <= size(col("sp")))
      .select(col("doc_id"),
        concat(element_at(col("sp"), col("i")), lit(" "),
          element_at(col("sp"), col("i") + 1)).as("bigram"))

  /** 32-bit SimHash signature per document: per-bit majority vote of token
    * hashes, computed as 32 agg columns (no 32× row explosion — see
    * q_dedup_simhash). Returns (doc_id, simhash: long). */
  def simhashSig(docs: DataFrame): DataFrame = {
    val words = explodeTokens(docs).withColumn("h32", hash32(col("word")))
    val bitSums = (0 until 32).map { b =>
      sum(when(expr(s"(shiftright(h32, $b) & 1) = 1"), 1).otherwise(-1))
        .cast("long").as(s"s$b")
    }
    val simhash = (0 until 32).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhash.cast("long").as("simhash"))
  }

  /** 64-bit SimHash signature, carried as TWO 32-bit halves
    * (doc_id, sim_lo, sim_hi) — bits 0-31 of the word hash vote into
    * sim_lo, bits 32-63 (the md5's second 32-bit word) into sim_hi.
    * Splitting avoids the sign bit entirely: every value stays in
    * [0, 2³²), so shifts, sums and band extraction are portable across
    * engines with no unsigned-64 gymnastics. sim_lo is bit-identical to
    * the 32-bit `simhashSig` signature (same h1 bits, same votes), so the
    * 64-bit form strictly extends it. Same layout as simhashSig: 64 agg
    * columns, no row explosion — one scan, one shuffle on doc_id. */
  def simhashSig64(docs: DataFrame): DataFrame = {
    val words = explodeTokens(docs)
      .withColumn("_md5", md5(col("word").cast("binary")))
      .withColumn("_h1", conv(substring(col("_md5"), 1, 8), 16, 10).cast("long"))
      .withColumn("_h2", conv(substring(col("_md5"), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until 64).map { b =>
      val src = if (b < 32) "_h1" else "_h2"
      sum(when(expr(s"(shiftright($src, ${b % 32}) & 1) = 1"), 1).otherwise(-1))
        .cast("long").as(s"s$b")
    }
    def half(lo: Int): Column = (lo until lo + 32).map { b =>
      when(col(s"s$b") > 0, lit(1L << (b % 32))).otherwise(lit(0L))
    }.reduce(_ + _)
    words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), half(0).cast("long").as("sim_lo"),
        half(32).cast("long").as("sim_hi"))
  }

  /** A shingle frame extended with the two md5 words the universal
    * minhash family draws from. */
  def shingleHashWords(shingles: DataFrame): DataFrame =
    shingles
      .withColumn("_md5", md5(col("shingle").cast("binary")))
      .withColumn("_h1", conv(substring(col("_md5"), 1, 8), 16, 10).cast("long"))
      .withColumn("_h2", conv(substring(col("_md5"), 9, 8), 16, 10).cast("long"))

  /** Full MinHash signature: (doc_id, mh0..mh7) from word-3-shingles —
    * one md5 per shingle, eight derived universal hashes (see minhashK). */
  def minhashSig(docs: DataFrame): DataFrame = {
    val words = shingleHashWords(shingles3(docs))
    val aggs = (0 to 7).map(k => minhashK(k, col("_h1"), col("_h2")))
    words.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The 4 band keys of a signature frame: (doc_id, band, k1, k2) — the
    * LSH blocking key shared by self-join pairing (minhashPairsFromSig),
    * cross-corpus dedup (q_dedup_incremental) and the streaming ingest's
    * stream-static candidate join. */
  def minhashBands(sig: DataFrame): DataFrame =
    (0 to 3).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
    }.reduce(_ unionByName _)

  /** LSH candidate pairs (doc_a < doc_b, distinct) from a signature frame:
    * 4 bands of 2 minhashes → self-join on the band key. The shuffle key
    * is the band key, so cost is Σ bucket² not corpus². The band frame
    * feeds both join sides, so it is localCheckpoint'ed — uncached, the
    * signature subtree computes twice; a lazy persist() would park blocks
    * in the CacheManager until an explicit unpersist that a query-shaped
    * API has no hook for, while checkpoint blocks free with the frame.
    * Pass `materialize = false` when `sig` is ALREADY a materialized frame
    * (q_minhash_jaccard_est checkpoints the signature itself for its
    * rerank joins): banding is then a cheap map over checkpoint blocks and
    * a second eager materialization — one blocking job + block write per
    * query run — would only add cost. */
  def minhashPairsFromSig(sig: DataFrame, materialize: Boolean = true): DataFrame = {
    val banded = minhashBands(sig)
    val bands = if (materialize) banded.localCheckpoint() else banded
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.k1") === col("b.k1")
        && col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
  }

  /** MinHash-LSH candidate pairs straight from documents. */
  def minhashPairs(docs: DataFrame): DataFrame =
    minhashPairsFromSig(minhashSig(docs))
}
