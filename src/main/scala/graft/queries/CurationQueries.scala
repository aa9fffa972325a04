package graft.queries

import graft.Q
import graft.ops.TextOps
import graft.util.Portable
import graft.util.Tables._
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 north-star: privacy / span-level curation operators
  * over `documents` — PII detection + redaction and duplicated-substring
  * (copied-span) measurement. Together with the whole-doc near-dup
  * family these cover the three granularities a training-data pipeline
  * dedups at: document (minhash/simhash), section (winnow pairs), and
  * span (20-token windows here).
  *
  * Regex portability: every pattern is restricted to the syntax Java
  * regex and RE2 (the oracle engine) interpret identically — character
  * classes, bounded repetition, ASCII `\b`, alternation-free. Both
  * engines scan leftmost, non-overlapping, resuming after each match,
  * so match COUNTS and sequential replacement agree bit-for-bit.
  */
object CurationQueries {

  /** Per-document PII scan + redaction: counts of email / phone / IPv4
    * matches on the raw text, plus the md5 of the text after sequential
    * redaction (email → ip → phone, fixed order on both engines). The
    * hash pins the full redacted output without shipping the corpus
    * back. Counts are computed on the ORIGINAL text, so they are
    * independent of redaction order.
    *
    * Scale: pure map-side projection — no shuffle, no agg; the patterns
    * are foldable literals compiled once per task, and the whole row
    * stays inside one WholeStageCodegen span. A zero-PII corpus still
    * emits one row per doc (counts 0, hash of the unchanged text), so
    * the oracle exercises real values — not empty-vs-empty. */
  val textPii = Q("q_text_pii", "PII detection + redaction (email/phone/IPv4)")(
    "SELECT doc_id, " +
      s"CAST(coalesce(len(regexp_extract_all(text, '${TextOps.PiiEmail}')), 0) AS BIGINT) AS n_email, " +
      s"CAST(coalesce(len(regexp_extract_all(text, '${TextOps.PiiPhone}')), 0) AS BIGINT) AS n_phone, " +
      s"CAST(coalesce(len(regexp_extract_all(text, '${TextOps.PiiIpv4}')), 0) AS BIGINT) AS n_ip, " +
      s"md5(regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'${TextOps.PiiEmail}', '<EMAIL>', 'g'), " +
      s"'${TextOps.PiiIpv4}', '<IP>', 'g'), " +
      s"'${TextOps.PiiPhone}', '<PHONE>', 'g')) AS red_hash " +
      "FROM documents") {
    (s, d) =>
      def n(pat: String) =
        // size(null) is -1 under legacy sizeOfNull: guard null text explicitly
        when(col("text").isNotNull,
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
          .otherwise(lit(0L))
      documents(s, d).select(col("doc_id"),
        n(TextOps.PiiEmail).as("n_email"),
        n(TextOps.PiiPhone).as("n_phone"),
        n(TextOps.PiiIpv4).as("n_ip"),
        md5(TextOps.piiRedact(col("text")).cast("binary")).as("red_hash"))
  }

  /** Span-level duplication measurement: hash every 20-token window of
    * every document; a window hash seen in ≥ 2 DISTINCT documents marks
    * its windows as duplicated spans. Output per doc: window count,
    * duplicated-window count, duplicated fraction (null when the doc is
    * shorter than one window). This is the "dedup at the substring
    * granularity" signal — verbatim quotes / syndicated passages inside
    * otherwise-distinct documents, which whole-doc near-dup and even
    * section-level winnow pairs under-weight.
    *
    * Scale: explode is corpus-linear (one row per token position); the
    * duplicate-window table groups on the window hash — a keyspace
    * proportional to total token count, partial-aggregated before its
    * shuffle. The dup-mark join is against a DEDUPED one-row-per-hash
    * frame, so a boilerplate window shared by a million docs joins 1:1
    * per occurrence — no quadratic candidate term at any frequency (this
    * op marks spans; it never enumerates pairs). */
  val dedupSubstring = Q("q_dedup_substring", "duplicated 20-token span fractions")(
    "WITH " + TextQueries.tokBody + ", " +
      "wins AS (SELECT doc_id, ('0x' || substr(md5(array_to_string(sp[i:i+19], ' ')), 1, 8))::BIGINT AS wh " +
      "FROM tok WHERE i + 19 <= len(sp)), " +
      "dw AS (SELECT wh, 1 AS isdup FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2), " +
      "m AS (SELECT w.doc_id, d.isdup FROM wins w LEFT JOIN dw d USING (wh)), " +
      "pd AS (SELECT doc_id, count(*) AS n_windows, " +
      "CAST(sum(coalesce(isdup, 0)) AS BIGINT) AS n_dup_windows FROM m GROUP BY 1) " +
      "SELECT d.doc_id, CAST(coalesce(pd.n_windows, 0) AS BIGINT) AS n_windows, " +
      "CAST(coalesce(pd.n_dup_windows, 0) AS BIGINT) AS n_dup_windows, " +
      "CASE WHEN pd.n_windows > 0 THEN " +
      "CAST(pd.n_dup_windows AS DOUBLE) / CAST(pd.n_windows AS DOUBLE) END AS dup_frac " +
      "FROM documents d LEFT JOIN pd USING (doc_id)") {
    (s, d) =>
      val W = 20
      // one row per 20-token window start; docs shorter than W emit none
      // (explode drops the empty array) and rejoin as zero-window rows
      val wins = documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("sp"))
        .select(col("doc_id"),
          explode(when(size(col("sp")) >= W,
            transform(sequence(lit(1), size(col("sp")) - (W - 1)),
              i => TextOps.hash32(concat_ws(" ", slice(col("sp"), i, lit(W))))))
            .otherwise(typedLit(Array.empty[Long]))).as("wh"))
        // feeds both the distinct-doc grouping and the mark join: one scan
        .localCheckpoint(eager = false)
      val dw = wins.groupBy("wh").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select(col("wh"), lit(1L).as("isdup"))
      val pd = wins.join(dw, Seq("wh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup_windows"))
      documents(s, d).select("doc_id").join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          when(col("n_windows") > 0,
            col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
            .as("dup_frac"))
  }

  /** Within-document repeated-line removal (the C4-style cleanup pass):
    * drop every line after its first occurrence, preserving order, and
    * report per doc the line count, removed count, and md5 of the
    * deduplicated text. On a corpus with no newlines this is the
    * identity (0 removed, hash of the original) — still one real row
    * per document.
    *
    * Scale: map-only — `array_distinct` preserves first-occurrence
    * order, so the whole pass is a projection with no shuffle. The
    * oracle reproduces that order with a row_number-over-(doc, line)
    * window + ordered string_agg, since its list_distinct does not
    * guarantee order. Null-text docs are excluded on both sides (the
    * contract is WHERE text IS NOT NULL). */
  val textDedupLines = Q("q_text_dedup_lines", "within-doc repeated-line removal (C4)")(
    "WITH ls AS (SELECT doc_id, string_split(text, chr(10)) AS sp FROM documents " +
      "WHERE text IS NOT NULL), " +
      "li AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS i FROM ls), " +
      "ln AS (SELECT doc_id, i, sp[i] AS ln FROM li), " +
      "fo AS (SELECT doc_id, i, ln, " +
      "row_number() OVER (PARTITION BY doc_id, ln ORDER BY i) AS rn FROM ln), " +
      "ded AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS txt, " +
      "count(*) AS n_kept FROM fo WHERE rn = 1 GROUP BY doc_id), " +
      "tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY doc_id) " +
      "SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines, " +
      "CAST(t.n_lines - d.n_kept AS BIGINT) AS n_dup_lines, " +
      "md5(d.txt) AS ded_hash " +
      "FROM tot t JOIN ded d ON d.doc_id = t.doc_id") {
    (s, d) =>
      val sp = split(col("text"), "\n")
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), sp.as("sp"), array_distinct(sp).as("ded"))
        .select(col("doc_id"),
          size(col("sp")).cast("long").as("n_lines"),
          (size(col("sp")) - size(col("ded"))).cast("long").as("n_dup_lines"),
          md5(array_join(col("ded"), "\n").cast("binary")).as("ded_hash"))
  }

  /** Gopher-rule quality filter (Rae et al. 2021, published heuristic
    * set): per-document word count, mean word length, alphabetic-word
    * fraction, distinct-stopword hits, symbol ratio (# and ...), and
    * bullet-line fraction, plus the composite pass flag
    * (50 ≤ words ≤ 100k, 3 ≤ mean len ≤ 10, ≥ 80% alpha words,
    * ≥ 2 distinct stopwords, symbol ratio < 0.1). Thresholds are the
    * paper's; the stopword list is trimmed to words the corpus
    * tokenizer can see.
    *
    * Scale: map-only projection — every metric is array arithmetic on
    * the token split (higher-order filter/aggregate, codegen'd), no
    * explode, no shuffle. All ratios divide exact integers, so the
    * doubles are bit-identical across engines. Null-text docs excluded
    * (same contract as q_text_dedup_lines). */
  val textGopher = Q("q_text_gopher", "Gopher-rule quality filter")(
    "SELECT doc_id, " +
      "CAST(len(sp) AS BIGINT) AS n_words, " +
      "CAST(list_sum(list_transform(sp, x -> len(x))) AS DOUBLE) / len(sp) AS mean_word_len, " +
      "CAST(len(list_filter(sp, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(sp) AS frac_alpha, " +
      "CAST(list_contains(sp, 'the') AS BIGINT) + CAST(list_contains(sp, 'a') AS BIGINT) " +
      "+ CAST(list_contains(sp, 'and') AS BIGINT) + CAST(list_contains(sp, 'of') AS BIGINT) AS n_stop, " +
      "CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) " +
      "/ len(sp) AS symbol_ratio, " +
      "CAST(len(list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '^[-*]'))) AS DOUBLE) " +
      "/ len(string_split(text, chr(10))) AS frac_bullet, " +
      "(len(sp) BETWEEN 50 AND 100000) " +
      "AND (CAST(list_sum(list_transform(sp, x -> len(x))) AS DOUBLE) / len(sp) BETWEEN 3.0 AND 10.0) " +
      "AND (CAST(len(list_filter(sp, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(sp) >= 0.8) " +
      "AND (CAST(list_contains(sp, 'the') AS BIGINT) + CAST(list_contains(sp, 'a') AS BIGINT) " +
      "+ CAST(list_contains(sp, 'and') AS BIGINT) + CAST(list_contains(sp, 'of') AS BIGINT) >= 2) " +
      "AND (CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE) " +
      "/ len(sp) < 0.1) AS gopher_pass " +
      "FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents " +
      "WHERE text IS NOT NULL)") {
    (s, d) =>
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), TextOps.gopher(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))
  }

  /** DSIR-style importance weight (r10) — Data Selection via Importance
    * Resampling (Xie et al. 2023): score every raw document by the mean
    * per-token log-likelihood ratio between a TARGET unigram LM and the
    * RAW-corpus unigram LM, so resampling ∝ exp(weight) tilts the mix
    * toward the target distribution. Target here is the corpus's own
    * `lang = 'en'` slice (the head distribution a curation pass upsamples
    * toward); the raw model is the whole corpus. Target probabilities are
    * add-1 smoothed over the raw vocabulary (p_t = (ct+1)/(Tt+V)) so
    * every raw word scores finitely; the raw model needs no smoothing
    * (its support covers every token by construction). High dsir = "this
    * document reads like the target"; the weight column multiplies into
    * the sampler exactly like q_mix_temperature's boost and
    * q_dedup_weight's down-weight.
    *
    * Scale: the log-ratio is computed ONCE PER VOCABULARY WORD (pln over
    * the joined count table — never per token); corpus scalars (Tt, Tr,
    * V) ride a broadcast 1-row frame; the per-doc fold is the
    * binary-grid portable sum over the (doc, word) tf table and the
    * published mean is pinned — the full drift-proof contract of the
    * perplexity-filter family (q_text_unigram_logprob's plumbing, scoring
    * a RATIO of two LMs instead of one). */
  val mixDsirWeight = Q("q_mix_dsir_weight", "DSIR importance weight vs the en-slice target LM")(
    "WITH " + TextQueries.tokwBody + ", " +
      "tf AS (SELECT doc_id, word, count(*) AS tf FROM tokw GROUP BY 1, 2), " +
      "cr AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cr FROM tf GROUP BY 1), " +
      "ct0 AS (SELECT t.word, CAST(sum(t.tf) AS BIGINT) AS ct FROM tf t " +
      "JOIN documents d ON d.doc_id = t.doc_id AND d.lang = 'en' GROUP BY 1), " +
      "ctt AS (SELECT c.word, c.cr, coalesce(t.ct, 0) AS ct " +
      "FROM cr c LEFT JOIN ct0 t USING (word)), " +
      "sc AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr, " +
      "CAST(count(*) AS BIGINT) AS v FROM ctt), " +
      "px AS (SELECT ctt.word, " +
      "((CAST(ctt.ct AS DOUBLE) + 1.0) * CAST(sc.tr AS DOUBLE)) / " +
      "((CAST(sc.tt AS DOUBLE) + CAST(sc.v AS DOUBLE)) * CAST(ctt.cr AS DOUBLE)) AS _lnx " +
      "FROM ctt CROSS JOIN sc), " +
      Portable.plnSqlCtes("px", "lw") + ", " +
      "s AS (SELECT t.doc_id, " +
      graft.util.Exact.Sql.portableSum("CAST(t.tf AS DOUBLE) * l._pln") + " AS s, " +
      "CAST(sum(t.tf) AS BIGINT) AS dl FROM tf t JOIN lw l ON l.word = t.word GROUP BY 1) " +
      "SELECT doc_id, dl, " +
      graft.util.Exact.Sql.pinScoreInt("s / CAST(dl AS DOUBLE)") + " AS dsir FROM s") {
    (s, d) =>
      // (doc, word) tf feeds the raw counts, the target counts AND the
      // final scored fold: materialize once
      val tf = TextOps.explodeTokens(documents(s, d))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val cr = tf.groupBy("word").agg(sum("tf").as("cr"))
      val ct0 = tf
        .join(documents(s, d).filter(col("lang") === "en").select("doc_id"), "doc_id")
        .groupBy("word").agg(sum("tf").as("ct"))
      // vocabulary-sized word table feeds the scalar totals AND the pln
      val ctt = cr.join(ct0, Seq("word"), "left")
        .select(col("word"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
        .localCheckpoint(eager = false)
      val sc = ctt.agg(sum("ct").as("tt"), sum("cr").as("tr"), count(lit(1)).as("v"))
      val lw = Portable.pln(ctt.crossJoin(broadcast(sc)),
          ((col("ct").cast("double") + 1.0) * col("tr").cast("double")) /
            ((col("tt").cast("double") + col("v").cast("double")) *
              col("cr").cast("double")), "lr")
        .select("word", "lr")
      tf.join(lw, "word").groupBy("doc_id")
        .agg(graft.util.Exact.portableSum(col("tf").cast("double") * col("lr")).as("s"),
          sum("tf").as("dl"))
        .select(col("doc_id"), col("dl"),
          graft.util.Exact.pinScoreInt(col("s") / col("dl").cast("double")).as("dsir"))
  }

  /** Per-document curation REPORT (r10): the "why was this document
    * dropped" audit a data-governance review asks the platform for —
    * every training document with the gate decisions CorpusPipeline
    * takes, as flag columns plus a reason bitmask: bit 1 = non-keeper
    * exact duplicate (normalized hash, keeper = min doc_id — the
    * pipeline's step-2 rule), bit 2 = repetition gate (dup-token frac
    * > 0.7 OR top-bigram frac > 0.18, the step-3 thresholds), bit 4 =
    * benchmark contamination (shingle overlap ≥ 0.5, the step-4
    * threshold), bit 8 = PII present (step 5 — REDACTS, does not drop,
    * so `keep` ignores it). `keep` = no drop bit set.
    *
    * Drift-proofing: every threshold is a RATIONAL, so each flag is an
    * exact integer cross-multiplication ((n_tokens−n_distinct)·10 >
    * 7·n_tokens, …) — no float division anywhere, nothing to pin, no
    * engine can disagree. Scale: four corpus-linear flag frames (hash
    * agg / two-level bigram agg / blocked shingle join / map-only
    * regex), all re-joined on doc_id — the contamination term reuses the
    * q_contamination join shape (bench side shuffled, never broadcast). */
  val curationReport = Q("q_curation_report", "per-doc filter-attribution bitmask + keep decision")(
    "WITH d0 AS (SELECT doc_id, text, source FROM documents WHERE text IS NOT NULL), " +
      "t AS (SELECT doc_id, source, string_split(text, ' ') AS sp FROM d0), " +
      "tok AS (SELECT doc_id, source, sp, unnest(range(1, len(sp)+1)) AS i FROM t), " +
      "tokw AS (SELECT doc_id, sp[i] AS word FROM tok), " +
      "h AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh FROM d0), " +
      "gk AS (SELECT nh, min(doc_id) AS keeper FROM h GROUP BY 1), " +
      "fd AS (SELECT h.doc_id, CASE WHEN h.doc_id <> g.keeper THEN 1 ELSE 0 END AS f_dup " +
      "FROM h JOIN gk g ON g.nh = h.nh), " +
      "wc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM tokw GROUP BY 1, 2), " +
      "ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(count(*) AS BIGINT) AS n_distinct FROM wc GROUP BY 1), " +
      "bg AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] AS bigram FROM tok WHERE i + 1 <= len(sp)), " +
      "bgc AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2), " +
      "bgs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_n " +
      "FROM bgc GROUP BY 1), " +
      "fr AS (SELECT ts.doc_id, CASE WHEN (ts.n_tokens - ts.n_distinct) * 10 > 7 * ts.n_tokens " +
      "OR COALESCE(bgs.top_bigram_n * 100 > 18 * bgs.n_bigrams, FALSE) THEN 1 ELSE 0 END AS f_rep " +
      "FROM ts LEFT JOIN bgs ON bgs.doc_id = ts.doc_id), " +
      "sh AS (SELECT DISTINCT doc_id, source, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] AS shingle " +
      "FROM tok WHERE i + 2 <= len(sp)), " +
      "bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'), " +
      "train AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'), " +
      "st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM train GROUP BY 1), " +
      "ov AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_overlap FROM train tr " +
      "JOIN bench b ON b.shingle = tr.shingle GROUP BY 1), " +
      "fc AS (SELECT st.doc_id, CASE WHEN COALESCE(ov.n_overlap, 0) * 2 >= st.n_shingles " +
      "THEN 1 ELSE 0 END AS f_contam FROM st LEFT JOIN ov ON ov.doc_id = st.doc_id), " +
      s"fp AS (SELECT doc_id, CASE WHEN len(regexp_extract_all(text, '${TextOps.PiiEmail}')) > 0 " +
      s"OR len(regexp_extract_all(text, '${TextOps.PiiPhone}')) > 0 " +
      s"OR len(regexp_extract_all(text, '${TextOps.PiiIpv4}')) > 0 THEN 1 ELSE 0 END AS f_pii FROM d0) " +
      "SELECT d0.doc_id, CAST(fd.f_dup AS BIGINT) AS f_dup, CAST(fr.f_rep AS BIGINT) AS f_rep, " +
      "CAST(COALESCE(fc.f_contam, 0) AS BIGINT) AS f_contam, CAST(fp.f_pii AS BIGINT) AS f_pii, " +
      "CAST(fd.f_dup + 2 * fr.f_rep + 4 * COALESCE(fc.f_contam, 0) + 8 * fp.f_pii AS BIGINT) AS reason_mask, " +
      "CAST(CASE WHEN fd.f_dup = 0 AND fr.f_rep = 0 AND COALESCE(fc.f_contam, 0) = 0 " +
      "THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM d0 JOIN fd ON fd.doc_id = d0.doc_id JOIN fr ON fr.doc_id = d0.doc_id " +
      "LEFT JOIN fc ON fc.doc_id = d0.doc_id JOIN fp ON fp.doc_id = d0.doc_id " +
      "WHERE d0.source <> 'src0'") {
    (s, d) =>
      val d0 = documents(s, d).filter(col("text").isNotNull)
      val h = d0.select(col("doc_id"),
        TextOps.contentHash(TextOps.normalizeText(col("text"))).as("nh"))
      val gk = h.groupBy("nh").agg(min("doc_id").as("keeper"))
      val fdup = h.join(gk, "nh")
        .select(col("doc_id"), (col("doc_id") =!= col("keeper")).cast("long").as("f_dup"))
      val sp = d0.select(col("doc_id"), TextOps.tokens(col("text")).as("sp"))
      val ts = TextOps.explodeTokens(d0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"))
      val bgs = sp.select(col("doc_id"),
          explode(when(size(col("sp")) >= 2,
            transform(sequence(lit(1), size(col("sp")) - 1),
              i => concat_ws(" ", slice(col("sp"), i, lit(2)))))
            .otherwise(typedLit(Array.empty[String]))).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
      val frep = ts.join(bgs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(((col("n_tokens") - col("n_distinct")) * 10 > col("n_tokens") * 7)
            || coalesce(col("top_bigram_n") * 100 > col("n_bigrams") * 18, lit(false)),
            1L).otherwise(0L).as("f_rep"))
      val shd = TextOps.shingles3(d0).distinct()
        .join(d0.select("doc_id", "source"), "doc_id")
      val bench = shd.filter(col("source") === "src0").select("shingle").distinct()
      val tr = shd.filter(col("source") =!= "src0").select("doc_id", "shingle")
      val st = tr.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val ov = tr.join(bench, "shingle").groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlap"))
      val fcon = st.join(ov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("n_overlap"), lit(0L)) * 2 >= col("n_shingles"))
            .cast("long").as("f_contam"))
      def piiHit(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0))) > 0
      val fpii = d0.select(col("doc_id"),
        (piiHit(TextOps.PiiEmail) || piiHit(TextOps.PiiPhone) || piiHit(TextOps.PiiIpv4))
          .cast("long").as("f_pii"))
      d0.filter(col("source") =!= "src0").select("doc_id")
        .join(fdup, "doc_id").join(frep, "doc_id")
        .join(fcon, Seq("doc_id"), "left").join(fpii, "doc_id")
        .select(col("doc_id"), col("f_dup"), col("f_rep"),
          coalesce(col("f_contam"), lit(0L)).as("f_contam"), col("f_pii"),
          (col("f_dup") + lit(2L) * col("f_rep")
            + lit(4L) * coalesce(col("f_contam"), lit(0L))
            + lit(8L) * col("f_pii")).as("reason_mask"),
          when(col("f_dup") === 0L && col("f_rep") === 0L
            && coalesce(col("f_contam"), lit(0L)) === 0L, 1L).otherwise(0L).as("keep"))
  }

  /** Length-curriculum phase assignment (r10): split the corpus into 4
    * training phases by document length quartile — the short→long
    * curriculum (warm up on short documents, grow the context) that
    * sequence-length-warmup schedules implement. The whole computation
    * is INTEGER-pure: quartile thresholds come from cumulative counts
    * over the DISTINCT length values (cum·4 ≥ k·N compares, no
    * division), phase is three integer compares, and the published
    * per-phase stats are counts/min/max/sums — nothing to pin.
    *
    * Scale: per-doc length is map-only; the threshold pass aggregates
    * to the distinct-length frame first (keyspace = distinct document
    * lengths, ≪ corpus — the same bounded-window justification as
    * q_eval_auc's grouped scores), the 3-value threshold row broadcasts
    * back, and the final agg is 4 rows. The same two-pass shape holds at
    * any corpus size because the intermediate is value-space-, not
    * row-space-, sized. */
  val curriculumPhase = Q("q_curriculum_phase", "length-quartile curriculum phases (4)")(
    "WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM documents), " +
      "g AS (SELECT n_tokens, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1), " +
      "cg AS (SELECT n_tokens, CAST(sum(c) OVER (ORDER BY n_tokens) AS BIGINT) AS cum FROM g), " +
      "n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM t), " +
      "th AS (SELECT min(CASE WHEN cg.cum * 4 >= n.nd THEN cg.n_tokens END) AS t1, " +
      "min(CASE WHEN cg.cum * 2 >= n.nd THEN cg.n_tokens END) AS t2, " +
      "min(CASE WHEN cg.cum * 4 >= 3 * n.nd THEN cg.n_tokens END) AS t3 FROM cg, n), " +
      "p AS (SELECT t.n_tokens, CAST(1 " +
      "+ (CASE WHEN t.n_tokens > th.t1 THEN 1 ELSE 0 END) " +
      "+ (CASE WHEN t.n_tokens > th.t2 THEN 1 ELSE 0 END) " +
      "+ (CASE WHEN t.n_tokens > th.t3 THEN 1 ELSE 0 END) AS BIGINT) AS phase " +
      "FROM t, th) " +
      "SELECT phase, CAST(count(*) AS BIGINT) AS n_docs, min(n_tokens) AS min_tokens, " +
      "max(n_tokens) AS max_tokens, CAST(sum(n_tokens) AS BIGINT) AS total_tokens " +
      "FROM p GROUP BY 1") {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, d)
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val g = t.groupBy("n_tokens").agg(count(lit(1)).as("c"))
      // cumulative over DISTINCT lengths only — bounded keyspace window
      val cg = g.withColumn("cum",
        sum("c").over(Window.orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = t.agg(count(lit(1)).as("nd"))
      val th = cg.crossJoin(broadcast(n)).agg(
        min(when(col("cum") * 4 >= col("nd"), col("n_tokens"))).as("t1"),
        min(when(col("cum") * 2 >= col("nd"), col("n_tokens"))).as("t2"),
        min(when(col("cum") * 4 >= col("nd") * 3, col("n_tokens"))).as("t3"))
      val p = t.crossJoin(broadcast(th))
        .select(col("n_tokens"),
          (lit(1L) + (col("n_tokens") > col("t1")).cast("long")
            + (col("n_tokens") > col("t2")).cast("long")
            + (col("n_tokens") > col("t3")).cast("long")).as("phase"))
      p.groupBy("phase").agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("total_tokens"))
  }

  /** C0 controls except tab/LF/CR, plus DEL — characters with no
    * legitimate place in decoded prose. */
  private val CtrlPat = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
  /** U+FFFD REPLACEMENT CHARACTER — a decoder's explicit failure mark. */
  private val ReplPat = "\\x{fffd}"
  private val NonAsciiPat = "[^\\x00-\\x7f]"

  /** Encoding-quality / mojibake audit (r11) — the byte-level health
    * rung BELOW every text heuristic: a crawl shard that arrives
    * double-decoded or truncated mid-codepoint poisons tokenization,
    * language ID and dedup alike, and the cheap tell-tales are (a) C0
    * control characters that no real prose contains (everything except
    * tab/newline/CR, plus DEL) and (b) U+FFFD replacement characters —
    * a decoder's explicit "I gave up" marker. Published per doc: the
    * character length, the two bad-character counts, the non-ASCII
    * count (not bad per se — a health axis read against the labeled
    * lang), an ASCII-share grid cell, and the binary mojibake flag the
    * curation gate consumes.
    *
    * Scale: map-only projection — three regex match-counts per doc, no
    * shuffle, no explode. Patterns use only syntax Java regex and RE2
    * read identically (bounded classes, \x escapes); counts are exact
    * integers, the one ratio rides the pin grid. */
  val textCtrlChars = Q("q_text_ctrl_chars",
    "control/replacement-character encoding-quality audit")(
    "SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars_seen, " +
      s"CAST(len(regexp_extract_all(text, '$CtrlPat')) AS BIGINT) AS n_ctrl, " +
      s"CAST(len(regexp_extract_all(text, '$ReplPat')) AS BIGINT) AS n_repl, " +
      s"CAST(len(regexp_extract_all(text, '$NonAsciiPat')) AS BIGINT) AS n_nonascii, " +
      "CASE WHEN len(text) > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        s"1.0 - CAST(len(regexp_extract_all(text, '$NonAsciiPat')) AS DOUBLE) " +
          "/ CAST(len(text) AS DOUBLE)") +
      " END AS ascii_share, " +
      s"CAST(CASE WHEN len(regexp_extract_all(text, '$CtrlPat')) " +
      s"+ len(regexp_extract_all(text, '$ReplPat')) > 0 THEN 1 ELSE 0 END AS BIGINT) " +
      "AS flag_mojibake " +
      "FROM documents WHERE text IS NOT NULL") {
    (s, d) =>
      def cnt(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_seen"),
          cnt(CtrlPat).as("n_ctrl"), cnt(ReplPat).as("n_repl"),
          cnt(NonAsciiPat).as("n_nonascii"))
        .select(col("doc_id"), col("n_chars_seen"), col("n_ctrl"), col("n_repl"),
          col("n_nonascii"),
          when(col("n_chars_seen") > 0, graft.util.Exact.pinScoreInt(
            lit(1.0) - col("n_nonascii").cast("double") /
              col("n_chars_seen").cast("double"))).as("ascii_share"),
          (col("n_ctrl") + col("n_repl") > 0).cast("long").as("flag_mojibake"))
  }

  /** Cross-document duplicated-SENTENCE fraction (r11) — the RefinedWeb
    * cleanup granularity between q_text_dedup_lines (within-doc lines)
    * and q_dedup_substring (20-token spans): sentences (split on
    * [.!?]+ runs, the q_text_readability boundary rule), lowercased and
    * trimmed, at least 20 characters (below that "yes" and "thanks"
    * dominate and the measure is noise), are duplicated when they occur
    * in ≥ 2 DISTINCT documents. Published per doc: qualifying-sentence
    * count, duplicated count (with multiplicity), and the duplicated
    * fraction as a grid cell — the per-doc signal a boilerplate-strip
    * pass thresholds on.
    *
    * Scale: explode → one (sentence-key) hash aggregate for the
    * document frequency → broadcast-eligible join back (df ≥ 2 keys are
    * few) → per-doc aggregate; corpus-linear, the exact q_ngram_
    * boilerplate shape one level up. Docs with zero qualifying
    * sentences publish n_sents = 0 with a NULL fraction (no denominator),
    * never a dropped row. */
  val dedupSentence = Q("q_dedup_sentence",
    "cross-doc duplicated-sentence fraction per document")(
    "WITH sx AS (SELECT doc_id, " +
      "lower(trim(unnest(string_split_regex(text, '[.!?]+')))) AS sent " +
      "FROM documents WHERE text IS NOT NULL), " +
      "sq AS (SELECT doc_id, sent FROM sx WHERE len(sent) >= 20), " +
      "df AS (SELECT sent, count(DISTINCT doc_id) AS ndocs FROM sq GROUP BY 1), " +
      "pd AS (SELECT s.doc_id, count(*) AS n_sents, " +
      "CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sents " +
      "FROM sq s JOIN df f ON f.sent = s.sent GROUP BY 1) " +
      "SELECT d.doc_id, CAST(coalesce(p.n_sents, 0) AS BIGINT) AS n_sents, " +
      "CAST(coalesce(p.n_dup_sents, 0) AS BIGINT) AS n_dup_sents, " +
      "CASE WHEN p.n_sents > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(p.n_dup_sents AS DOUBLE) / CAST(p.n_sents AS DOUBLE)") +
      " END AS dup_frac " +
      "FROM documents d LEFT JOIN pd p ON p.doc_id = d.doc_id " +
      "WHERE d.text IS NOT NULL") {
    (s, d) =>
      val sq = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(split(col("text"), "[.!?]+")).as("raw"))
        .select(col("doc_id"), lower(trim(col("raw"))).as("sent"))
        .filter(length(col("sent")) >= 20)
        .localCheckpoint(eager = false) // feeds the df count AND the per-doc join
      val df = sq.groupBy("sent").agg(countDistinct("doc_id").as("ndocs"))
      val pd = sq.join(df, "sent")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sents"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_sents"))
      documents(s, d).filter(col("text").isNotNull).select("doc_id")
        .join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_sents"), lit(0L)).as("n_sents"),
          coalesce(col("n_dup_sents"), lit(0L)).as("n_dup_sents"),
          when(col("n_sents") > 0, graft.util.Exact.pinScoreInt(
            col("n_dup_sents").cast("double") / col("n_sents").cast("double")))
            .as("dup_frac"))
  }

  /** Filter-overlap (Venn) histogram over the curation bitmask (r11) —
    * the REDUNDANCY report on top of q_curation_report: how many docs
    * does each flag COMBINATION hit? Two gates that almost always fire
    * together are one gate's worth of signal (drop the expensive one);
    * a combination bucket that is empty at every corpus snapshot is a
    * gate nothing exercises. Rows are one per OBSERVED bitmask value
    * with the bits decoded back out, the doc share as a grid cell, and
    * the keep decision (a pure function of the mask, so min == max).
    *
    * Scale: one ≤16-key hash aggregate over the report frame — the
    * report itself is the cost, and it is shared text/fn with
    * q_curation_report (the mutualSql graph-parametric pattern), so the
    * two can never disagree about what the gates decided. */
  val curationVenn = Q("q_curation_venn",
    "filter-overlap histogram over the curation bitmask")(
    "WITH rep AS (" + curationReport.oracle.get + "), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rep), " +
      "g AS (SELECT reason_mask, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(min(keep) AS BIGINT) AS keep FROM rep GROUP BY 1) " +
      "SELECT g.reason_mask, " +
      "CAST(g.reason_mask % 2 AS BIGINT) AS f_dup, " +
      "CAST((g.reason_mask // 2) % 2 AS BIGINT) AS f_rep, " +
      "CAST((g.reason_mask // 4) % 2 AS BIGINT) AS f_contam, " +
      "CAST((g.reason_mask // 8) % 2 AS BIGINT) AS f_pii, " +
      "g.n_docs, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(g.n_docs AS DOUBLE) / CAST(t.n AS DOUBLE)") + " AS doc_share, " +
      "g.keep FROM g CROSS JOIN t") {
    (s, d) =>
      val rep = curationReport.fn(s, d)
      val g = rep.groupBy("reason_mask")
        .agg(count(lit(1)).as("n_docs"), min("keep").as("keep"))
      val t = rep.agg(count(lit(1)).as("n"))
      g.crossJoin(broadcast(t))
        .select(col("reason_mask"),
          (col("reason_mask") % 2).as("f_dup"),
          expr("(reason_mask div 2) % 2").as("f_rep"),
          expr("(reason_mask div 4) % 2").as("f_contam"),
          expr("(reason_mask div 8) % 2").as("f_pii"),
          col("n_docs"),
          graft.util.Exact.pinScoreInt(
            col("n_docs").cast("double") / col("n").cast("double")).as("doc_share"),
          col("keep"))
  }

  /** Sentence-length profile per source (r12) — mean, p50 and p90
    * sentence length in words over the SAME [.!?]+ splitter as
    * q_dedup_sentence (the sentence convention cannot fork): the
    * chunking-design number (a source whose p90 sentence exceeds the
    * chunk window needs mid-sentence splits — quality loss the curation
    * report should price) and a strong register/genre signal beside the
    * readability score (legal text ~40-word p90, chat ~8).
    *
    * Scale: one sentence explode → one (source, length) histogram;
    * quantiles by the integer cross-multiply rule (2·cum ≥ n,
    * 10·cum ≥ 9·n) over the LENGTH domain per source — the two-phase
    * no-sort layout of q_quantile_weighted; mean from exact BIGINT
    * sums, pinned. */
  val textSentenceLen = Q("q_text_sentence_len",
    "per-source sentence-length profile: mean (pinned), p50, p90 in words")(
    "WITH sx AS (SELECT d.source, " +
      "lower(trim(unnest(string_split_regex(d.text, '[.!?]+')))) AS sent " +
      "FROM documents d WHERE d.text IS NOT NULL), " +
      "sl AS (SELECT source, CAST(len(string_split_regex(sent, '\\s+')) AS BIGINT) " +
      "AS slen FROM sx WHERE len(sent) >= 1), " +
      "h AS (SELECT source, slen, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY 1, 2), " +
      "t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, " +
      "CAST(sum(slen * c) AS BIGINT) AS sw FROM h GROUP BY 1), " +
      "cw AS (SELECT h.source, h.slen, t.n, t.sw, " +
      "CAST(sum(h.c) OVER (PARTITION BY h.source ORDER BY h.slen " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum " +
      "FROM h JOIN t ON t.source = h.source) " +
      "SELECT source, max(n) AS n_sents, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(max(sw) AS DOUBLE) / CAST(max(n) AS DOUBLE)") + " AS mean_len, " +
      "min(CASE WHEN 2 * cum >= n THEN slen END) AS p50_len, " +
      "min(CASE WHEN 10 * cum >= 9 * n THEN slen END) AS p90_len " +
      "FROM cw GROUP BY 1") {
    (s, d) =>
      import graft.util.Exact
      import org.apache.spark.sql.expressions.Window
      val sl = documents(s, d).filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), "[.!?]+")).as("raw"))
        .select(col("source"), lower(trim(col("raw"))).as("sent"))
        .filter(length(col("sent")) >= 1)
        .select(col("source"), size(split(col("sent"), "\\s+")).cast("long").as("slen"))
      val h = sl.groupBy("source", "slen").agg(count(lit(1)).as("c"))
      val t = h.groupBy("source").agg(sum("c").cast("long").as("n"),
        sum(col("slen") * col("c")).cast("long").as("sw"))
      val wc = Window.partitionBy("source").orderBy("slen")
        .rowsBetween(Window.unboundedPreceding, 0)
      h.join(broadcast(t), "source")
        .withColumn("cum", sum("c").over(wc).cast("long"))
        .groupBy("source")
        .agg(max("n").as("n_sents"),
          Exact.pinScoreInt(max("sw").cast("double") / max("n").cast("double"))
            .as("mean_len"),
          min(when(col("cum") * 2 >= col("n"), col("slen"))).as("p50_len"),
          min(when(col("cum") * 10 >= col("n") * 9, col("slen"))).as("p90_len"))
  }

  val all: Seq[Q] = Seq(textPii, dedupSubstring, textDedupLines, textGopher, mixDsirWeight,
    curriculumPhase, curationReport, textCtrlChars, dedupSentence, curationVenn,
    textSentenceLen)
}
