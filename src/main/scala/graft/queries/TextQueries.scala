package graft.queries

import graft.Q
import graft.ops.{Multimodal, TextOps}
import graft.util.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.12 north-star: training-data text operators over
  * `documents` — exact/MinHash/SimHash/Jaccard dedup, language-ID
  * heuristic, quality scoring, token counting, fingerprinting, and the
  * multimodal binary-column metadata path.
  *
  * Scale notes: every pipeline is explode → hash → aggregate/self-join on
  * a bounded key (doc, band, bit). Candidate generation is always blocked
  * (LSH bands, same-source + length window) so no op is quadratic in the
  * corpus; md5-based hashing is engine-portable (see TextOps).
  */
object TextQueries {

  /** r15 MEASURED REVERSAL of the module-wide documents FanOut shadow
    * (first tried per VERDICT r14 #6, then A/B'd per query against the
    * bare scan): widening the scan costs ~30-50 ms of CPU
    * per added task across every downstream stage (local measurement:
    * q_dedup_exact 1.8 → 10.2 s CPU, 0.42 → 0.96 s wall with the shadow;
    * q_dedup_containment 6.2 → 47.8 s CPU; q_dedup_ngram_jaccard,
    * q_dedup_edit_verify, q_text_quality all slower), and only operators
    * whose per-input-byte amplification is extreme win it back
    * (q_text_langid_trigram's ~300× char-trigram explode: 3.9 → 2.7 s
    * WITH fan-out). So FanOut is applied at the AMPLIFICATION SITE on the
    * slim pre-explode projection (langid_trigram below,
    * q_text_distinct_ngrams in CorpusStatsQueries), never module-wide —
    * the caller knows the amplification; the scan does not. */

  /** Shared DuckDB CTE bodies (no leading WITH so callers can prepend
    * WITH / WITH RECURSIVE): tokenization, shingling, minhash-LSH pairs and
    * the simhash signature — reused by CorpusQueries' oracles so the
    * candidate-generation SQL is written exactly once. */
  private[queries] val tokBody =
    "t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents), " +
      "tok AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS i FROM t)"

  private[queries] val shinglesBody = tokBody +
    ", sh AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] AS shingle " +
    "FROM tok WHERE i + 2 <= len(sp))"

  private[queries] val tokwBody = tokBody +
    ", tokw AS (SELECT doc_id, i, sp[i] AS word FROM tok)"

  /** One md5 per shingle; the 8 signature slots are the universal family
    * (h1 + k·h2) mod P over the md5's two 32-bit words — mirrors
    * TextOps.minhashK exactly (same md5 bytes, same modulus). */
  private[queries] val minhashPairsBody = {
    val mh = (0 to 7).map(k =>
      s"min((h1 + $k * h2) % ${graft.ops.TextOps.MinhashP}) AS mh$k").mkString(", ")
    shinglesBody +
      ", shh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1, " +
      "('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 FROM sh), " +
      s"sig AS (SELECT doc_id, $mh FROM shh GROUP BY doc_id), " +
      "bands AS (" +
      "SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig UNION ALL " +
      "SELECT doc_id, 1 AS band, mh2 AS k1, mh3 AS k2 FROM sig UNION ALL " +
      "SELECT doc_id, 2 AS band, mh4 AS k1, mh5 AS k2 FROM sig UNION ALL " +
      "SELECT doc_id, 3 AS band, mh6 AS k1, mh7 AS k2 FROM sig), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 " +
      "AND a.doc_id < b.doc_id)"
  }

  private[queries] val simhashSigBody = tokwBody +
    ", h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h32 FROM tokw), " +
    "bits AS (SELECT doc_id, b, CAST(sum(CASE WHEN ((h32 >> b) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s " +
    "FROM h, (SELECT unnest(range(0, 32)) AS b) bs GROUP BY doc_id, b), " +
    "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) " +
    "AS simhash FROM bits GROUP BY doc_id)"

  /** 64-bit signature as two 32-bit halves — mirrors TextOps.simhashSig64
    * (same md5 words, same per-bit majority votes). Keeping each half
    * below 2³² sidesteps signed-64 overflow on both engines. */
  private[queries] val simhashSig64Body = tokwBody +
    ", h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h1, " +
    "('0x' || substr(md5(word), 9, 8))::BIGINT AS h2 FROM tokw), " +
    "bits AS (SELECT doc_id, b, CAST(sum((CASE WHEN b < 32 THEN (h1 >> b) & 1 " +
    "ELSE (h2 >> (b - 32)) & 1 END) * 2 - 1) AS BIGINT) AS s " +
    "FROM h, (SELECT unnest(range(0, 64)) AS b) bs GROUP BY doc_id, b), " +
    "sig AS (SELECT doc_id, " +
    "CAST(sum(CASE WHEN s > 0 AND b < 32 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS sim_lo, " +
    "CAST(sum(CASE WHEN s > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0::BIGINT END) AS BIGINT) AS sim_hi " +
    "FROM bits GROUP BY doc_id)"

  private val shinglesSql = "WITH " + shinglesBody + " "

  private val tokwSql = "WITH " + tokwBody + " "

  /** Exact dedup: content-hash groupBy, keep lowest id
    * (dropDuplicates-by-hash; the scalable form of `df.drop_duplicates`). */
  val dedupExact = Q("q_dedup_exact", "exact dedup by content hash")(
    "SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper " +
      "FROM documents GROUP BY 1") {
    (s, d) => documents(s, d)
      .groupBy(TextOps.contentHash(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
  }

  /** MinHash+LSH near-dup candidates: word-3-shingles → one md5 each →
    * 8 universal-hash minhashes → 4 bands of 2 → pairs sharing a band.
    * The shuffle key is the band key, so cost is Σ bucket² not corpus² —
    * the standard web-scale dedup layout. */
  val dedupMinhash = Q("q_dedup_minhash", "MinHash-LSH candidate pairs")(
    "WITH " + minhashPairsBody + " SELECT doc_a, doc_b FROM pairs") {
    (s, d) => TextOps.minhashPairs(documents(s, d))
  }

  /** Signature-only Jaccard estimation over the LSH candidates: the
    * fraction of agreeing minhashes is an unbiased estimate of the true
    * Jaccard — the verify step a 100 TB dedup runs WITHOUT re-reading the
    * raw text (signatures are ~10³× smaller than documents). One join of
    * the pair list against the signature table on each side. */
  val minhashJaccardEst = Q("q_minhash_jaccard_est", "minhash-agreement Jaccard estimate")({
    val agree = (0 to 7).map(k => s"(CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    "WITH " + minhashPairsBody +
      s" SELECT p.doc_a, p.doc_b, CAST($agree AS BIGINT) AS n_agree, " +
      s"CAST($agree AS DOUBLE) / 8 AS jaccard_est " +
      "FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b"
  }) {
    (s, d) =>
      // signature computed once, read three times (band pairing + both
      // sides of the agreement join); localCheckpoint (not persist) so the
      // blocks free with the frame. LAZY: the eager form runs a separate
      // blocking materialization job at query-construction time (measured
      // 4.6× at sf0.1, VERDICT r4); lazy materializes the blocks inside
      // the query's own first action and every later consumer reads them.
      val sig = TextOps.minhashSig(documents(s, d)).localCheckpoint(eager = false)
      val pairs = TextOps.minhashPairsFromSig(sig, materialize = false)
      val nAgree = (0 to 7).map(k =>
        when(col(s"a.mh$k") === col(s"b.mh$k"), 1).otherwise(0)).reduce(_ + _)
      pairs
        .join(sig.as("a"), col("a.doc_id") === col("doc_a"))
        .join(sig.as("b"), col("b.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), nAgree.cast("long").as("n_agree"),
          (nAgree.cast("double") / 8).as("jaccard_est"))
  }

  /** MinHash-LSH dedup recall (r12) — the dedup family's instance of the
    * every-approximate-variant-publishes-its-measured-cost contract the
    * ANN family already keeps (q_eval_recall_lsh/_pq/_int8/...): on the
    * FIXED doc_id < 500 audit universe (the vid < 10 convention — exact
    * ground truth stays bounded while the banding under audit is the
    * full registered pipeline), compute exact 3-shingle Jaccard for
    * every in-universe pair, call J ≥ 0.5 a true duplicate via the
    * INTEGER cross-multiply form 2·|A∩B| ≥ |A∪B| (no doubles compared),
    * and measure what fraction the registered 4×2 banding catches
    * (recall) and how clean its candidate list is at that threshold
    * (precision). A banding change that silently drops recall now moves
    * a published number instead of an invisible candidate set.
    *
    * Scale: ground truth is universe² (bounded, shingle-keyed join);
    * the LSH side is the registered banding restricted to the universe. */
  val dedupLshRecall = Q("q_dedup_lsh_recall",
    "recall/precision of MinHash-LSH banding vs exact Jaccard>=0.5 on the audit universe")(
    "WITH " + minhashPairsBody + ", " +
      "ush AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id < 500), " +
      "usz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ush GROUP BY 1), " +
      "uin AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ab " +
      "FROM ush a JOIN ush b ON b.shingle = a.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "tru AS (SELECT da, db FROM uin JOIN usz x ON x.doc_id = da " +
      "JOIN usz y ON y.doc_id = db WHERE 2 * ab >= x.n + y.n - ab), " +
      "lsh AS (SELECT doc_a, doc_b FROM pairs WHERE doc_a < 500 AND doc_b < 500), " +
      "ct AS (SELECT CAST(count(*) AS BIGINT) AS n_caught FROM tru t " +
      "JOIN lsh l ON l.doc_a = t.da AND l.doc_b = t.db), " +
      "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru), " +
      "nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh) " +
      "SELECT nt.n_true, nl.n_lsh, ct.n_caught, " +
      "CASE WHEN nt.n_true > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(ct.n_caught AS DOUBLE) / CAST(nt.n_true AS DOUBLE)") +
      " END AS recall, " +
      "CASE WHEN nl.n_lsh > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(ct.n_caught AS DOUBLE) / CAST(nl.n_lsh AS DOUBLE)") +
      " END AS precision_tau FROM nt CROSS JOIN nl CROSS JOIN ct") {
    (s, d) =>
      import graft.util.Exact
      val docs = documents(s, d)
      val sig = TextOps.minhashSig(docs).localCheckpoint(eager = false)
      val lsh = TextOps.minhashPairsFromSig(sig, materialize = false)
        .filter(col("doc_a") < 500 && col("doc_b") < 500)
        .localCheckpoint(eager = false) // the catch join AND its own count
      val ush = TextOps.shingles3(docs.filter(col("doc_id") < 500)).distinct()
        .localCheckpoint(eager = false) // sizes AND both sides of the pair join
      val usz = ush.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val uin = ush.as("a").join(ush.as("b"),
          col("b.shingle") === col("a.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("ab"))
      val tru = uin
        .join(usz.select(col("doc_id").as("da"), col("n").as("nx")), "da")
        .join(usz.select(col("doc_id").as("db"), col("n").as("ny")), "db")
        .filter(col("ab") * 2 >= col("nx") + col("ny") - col("ab"))
        .select("da", "db")
        .localCheckpoint(eager = false) // the catch join AND its own count
      val ct = tru.join(lsh,
          col("doc_a") === col("da") && col("doc_b") === col("db"))
        .agg(count(lit(1)).as("n_caught"))
      val nt = tru.agg(count(lit(1)).as("n_true"))
      val nl = lsh.agg(count(lit(1)).as("n_lsh"))
      nt.crossJoin(broadcast(nl)).crossJoin(broadcast(ct))
        .select(col("n_true"), col("n_lsh"), col("n_caught"),
          when(col("n_true") > 0, Exact.pinScoreInt(
            col("n_caught").cast("double") / col("n_true").cast("double"))).as("recall"),
          when(col("n_lsh") > 0, Exact.pinScoreInt(
            col("n_caught").cast("double") / col("n_lsh").cast("double")))
            .as("precision_tau"))
  }

  /** Near-dup source overlap matrix (r12) — WHERE the duplication lives:
    * the registered LSH candidate pairs rolled up to (source, source)
    * cells (canonically ordered), with each cell's share of all
    * candidate pairs and a within-source flag. Off-diagonal mass is
    * cross-source syndication (mirrors, scrapes, wire copy) — the
    * signal that decides whether dedup should run before or after
    * source-level mixing; diagonal mass is in-source templating. Costs
    * two doc→source broadcast-scale joins over the pair list the dedup
    * already builds; output is |sources|²-bounded. */
  val mixOverlapMatrix = Q("q_mix_overlap_matrix",
    "near-dup candidate-pair counts per (source, source) cell + shares")(
    "WITH " + minhashPairsBody + ", " +
      "ds AS (SELECT doc_id, source FROM documents), " +
      "sp AS (SELECT least(a.source, b.source) AS src_a, " +
      "greatest(a.source, b.source) AS src_b " +
      "FROM pairs p JOIN ds a ON a.doc_id = p.doc_a " +
      "JOIN ds b ON b.doc_id = p.doc_b), " +
      "g AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs " +
      "FROM sp GROUP BY 1, 2), " +
      "tots AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM g) " +
      "SELECT src_a, src_b, n_pairs, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE)") + " AS share, " +
      "CASE WHEN src_a = src_b THEN 1 ELSE 0 END AS within_source " +
      "FROM g CROSS JOIN tots") {
    (s, d) =>
      import graft.util.Exact
      val docs = documents(s, d)
      val pairs = TextOps.minhashPairs(docs)
      val ds = docs.select("doc_id", "source")
      val sp = pairs
        .join(ds.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(ds.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
      val g = sp.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .localCheckpoint(eager = false) // cells AND the total read it
      val t = g.agg(sum("n_pairs").cast("long").as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          Exact.pinScoreInt(
            col("n_pairs").cast("double") / col("tot").cast("double")).as("share"),
          when(col("src_a") === col("src_b"), 1).otherwise(0).as("within_source"))
  }

  /** LSH banding-design sweep (r12) — the b×r TRADEOFF measured instead
    * of assumed: the same 8-slot minhash signature banded three ways
    * (8×1: any-slot agreement, catch-all; 4×2: the registered design;
    * 2×4: strict), each scored against exact Jaccard ≥ 0.5 truth on the
    * fixed doc_id < 500 audit universe (q_dedup_lsh_recall's chain).
    * The S-curve P(candidate) = 1 − (1 − J^r)^b is theory; this is the
    * corpus's own answer — re-banding becomes a read of three rows, not
    * three pipeline re-runs. Signature build shared; each banding is a
    * band-key self-join on the bounded universe. */
  val dedupBandSweep = Q("q_dedup_band_sweep",
    "recall/precision of 8x1, 4x2, 2x4 minhash bandings vs exact Jaccard>=0.5")({
    val b8 = (0 to 7).map(k =>
      s"SELECT doc_id, $k AS band, mh$k AS k1 FROM usig").mkString(" UNION ALL ")
    val b2 = Seq(0, 4).map(o =>
      s"SELECT doc_id, $o AS band, mh$o AS k1, mh${o + 1} AS k2, " +
        s"mh${o + 2} AS k3, mh${o + 3} AS k4 FROM usig").mkString(" UNION ALL ")
    "WITH " + minhashPairsBody + ", " +
      "usig AS (SELECT * FROM sig WHERE doc_id < 500), " +
      "ush AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id < 500), " +
      "usz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ush GROUP BY 1), " +
      "uin AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS ab " +
      "FROM ush a JOIN ush b ON b.shingle = a.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "tru AS (SELECT da, db FROM uin JOIN usz x ON x.doc_id = da " +
      "JOIN usz y ON y.doc_id = db WHERE 2 * ab >= x.n + y.n - ab), " +
      "ntr AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru), " +
      s"bands8 AS ($b8), " +
      "p8 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bands8 a " +
      "JOIN bands8 b ON a.band = b.band AND a.k1 = b.k1 AND a.doc_id < b.doc_id), " +
      "p4 AS (SELECT doc_a AS da, doc_b AS db FROM pairs " +
      "WHERE doc_a < 500 AND doc_b < 500), " +
      s"bands2 AS ($b2), " +
      "p2 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bands2 a " +
      "JOIN bands2 b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 " +
      "AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id) " +
      Seq(("8x1", "p8"), ("4x2", "p4"), ("2x4", "p2")).map { case (name, p) =>
        s"SELECT '$name' AS banding, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM $p) AS n_cand, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM tru t JOIN $p c " +
          "ON c.da = t.da AND c.db = t.db) AS n_caught, ntr.n_true, " +
          "CASE WHEN ntr.n_true > 0 THEN " +
          graft.util.Exact.Sql.pinScoreInt(
            s"CAST((SELECT count(*) FROM tru t JOIN $p c ON c.da = t.da AND c.db = t.db) " +
              "AS DOUBLE) / CAST(ntr.n_true AS DOUBLE)") + " END AS recall, " +
          s"CASE WHEN (SELECT count(*) FROM $p) > 0 THEN " +
          graft.util.Exact.Sql.pinScoreInt(
            s"CAST((SELECT count(*) FROM tru t JOIN $p c ON c.da = t.da AND c.db = t.db) " +
              s"AS DOUBLE) / CAST((SELECT count(*) FROM $p) AS DOUBLE)") +
          " END AS precision_tau FROM ntr"
      }.mkString(" UNION ALL ")
  }) {
    (s, d) =>
      import graft.util.Exact
      import s.implicits._
      val docs = documents(s, d)
      val usig = TextOps.minhashSig(docs).filter(col("doc_id") < 500)
        .localCheckpoint(eager = false) // three banding self-joins read it
      val ush = TextOps.shingles3(docs.filter(col("doc_id") < 500)).distinct()
        .localCheckpoint(eager = false)
      val usz = ush.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val uin = ush.as("a").join(ush.as("b"),
          col("b.shingle") === col("a.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("ab"))
      val tru = uin
        .join(usz.select(col("doc_id").as("da"), col("n").as("nx")), "da")
        .join(usz.select(col("doc_id").as("db"), col("n").as("ny")), "db")
        .filter(col("ab") * 2 >= col("nx") + col("ny") - col("ab"))
        .select("da", "db")
        .localCheckpoint(eager = false) // joined by all three bandings
      def pairsOf(bands: org.apache.spark.sql.DataFrame,
          keys: Seq[String]): org.apache.spark.sql.DataFrame = {
        val eqs: List[org.apache.spark.sql.Column] =
          (col("a.band") === col("b.band")) ::
            keys.map(k => col(s"a.$k") === col(s"b.$k")).toList
        val cond = eqs.reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
        bands.as("a").join(bands.as("b"), cond)
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      }
      val bands8 = (0 to 7).map(k => usig.select(col("doc_id"), lit(k).as("band"),
        col(s"mh$k").as("k1"))).reduceLeft(_ unionAll _)
      val bands2 = Seq(0, 4).map(o => usig.select(col("doc_id"), lit(o).as("band"),
        col(s"mh$o").as("k1"), col(s"mh${o + 1}").as("k2"),
        col(s"mh${o + 2}").as("k3"), col(s"mh${o + 3}").as("k4")))
        .reduceLeft(_ unionAll _)
      val p8 = pairsOf(bands8, Seq("k1"))
      val p4 = TextOps.minhashPairsFromSig(TextOps.minhashSig(docs), materialize = false)
        .filter(col("doc_a") < 500 && col("doc_b") < 500)
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
      val p2 = pairsOf(bands2, Seq("k1", "k2", "k3", "k4"))
      val nTrue = tru.agg(count(lit(1)).as("n_true"))
      def row(name: String, p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val cand = p.agg(count(lit(1)).as("n_cand"))
        val caught = tru.join(p, Seq("da", "db")).agg(count(lit(1)).as("n_caught"))
        cand.crossJoin(broadcast(caught)).crossJoin(broadcast(nTrue))
          .select(lit(name).as("banding"), col("n_cand"), col("n_caught"),
            col("n_true"),
            when(col("n_true") > 0, Exact.pinScoreInt(
              col("n_caught").cast("double") / col("n_true").cast("double")))
              .as("recall"),
            when(col("n_cand") > 0, Exact.pinScoreInt(
              col("n_caught").cast("double") / col("n_cand").cast("double")))
              .as("precision_tau"))
      }
      row("8x1", p8).unionByName(row("4x2", p4)).unionByName(row("2x4", p2))
  }

  /** SimHash: 32-bit signature via per-bit majority vote of token hashes —
    * near-dups differ in few bits. explode(tokens)×32 bits, two
    * aggregations; linear in corpus size. */
  /** One agg column per bit instead of a 32× row explosion: same per-bit
    * majority sums (integer math, oracle unchanged), 1/32nd the rows —
    * see TextOps.simhashSig. */
  val dedupSimhash = Q("q_dedup_simhash", "32-bit SimHash signatures")(
    "WITH " + simhashSigBody + " SELECT doc_id, simhash FROM sig") {
    (s, d) => TextOps.simhashSig(documents(s, d))
  }

  /** N-gram Jaccard similarity over blocked candidate pairs (same source,
    * |length diff| ≤ 8, sharing ≥ 1 facet slot): |A∩B| / |A∪B| on
    * distinct shingle sets. The length window was ±2 through r6; the
    * driver corpus holds near-dups at char deltas 3-8 but NONE within ±2,
    * so the oracle gate compared empty-to-empty for two rounds (VERDICT r6
    * #5). ±8 keeps the window a constant-bounded residual (no cost-shape
    * change — the facet still carries the scaling argument) while making
    * the gate certify real pairs.
    *
    * Blocking keyspace (r5 introduced the content facet; r6 widened it to
    * a SKETCH): (source, length-bucket) alone has FIXED cardinality, so
    * the candidate count carries a corpus²/(sources × buckets) term — ~9×
    * cost at 10× rows in the r4 sf1 run, quadratic beyond. The key adds a
    * CONTENT facet whose cardinality grows with the corpus's
    * distinct-shingle count, so keyspace ∝ corpus and the per-bucket pair
    * rate stays constant at any scale.
    *
    * Facet (r6, re-banded r13): an 8-slot minhash bottom-sketch —
    * universal-family slots 8..15 over the shingle md5 words (slots 0..7
    * belong to the LSH signature; disjoint slots keep the two operators'
    * blocking independent). r6's rule — candidate when ANY single slot
    * agrees — admits a j-similar pair with probability 1−(1−j)⁸ ≈ 8j at
    * small j, and the sf1→sf10 probe showed why that is a REAL quadratic
    * at scale: a clique of m same-length documents with near-zero-but-
    * nonzero overlap (template/boilerplate families; in the fixture, the
    * word-permuted replicas of one base doc) contributes ~8j·m² candidate
    * pairs — measured 103× pairs at ×10 rows (22.6k → 2.33M). r13
    * re-bands the same 8 slots into ALL C(8,2) = 28 ordered slot PAIRS
    * (LSH banding with r = 2): a pair is a candidate when BOTH slots of
    * any pair-key agree, so admission is 1−(1−j²)²⁸ ≈ 28j² at small j
    * while near-dup recall barely moves: miss = (1−j²)²⁸ = 3.2e-4 at
    * j = 0.5, 2e-7 at j = 0.7 (the r6 rule's 0.4% at j = 0.5 was
    * actually WORSE; at the j = 0.3 contract edge both rules sit at
    * ~6-7% miss). Measured post-reband: admissions fall 22× at BOTH
    * scales (sf1 22.6k → 1.0k, sf10 2.33M → 104k pairs), second-decade
    * CPU 17.4× → 8.7× (777.9 → 465.5 s at sf10), first decade 9.5× →
    * 7.5× — recall on the planted near-dup corpus unchanged
    * (NgramFacetSpec re-measures). The residual fixture growth is the
    * cross-replica permuted-copy clique (same-length, j ≈ 0.02 pairs
    * admitted at the ~1% = 28j² rate): an S-curve tail every banding
    * has; its real-corpus analog — template families — is what the
    * upstream boilerplate filter (q_text_boilerplate) removes, and the
    * hot-key bound NgramFacetSpec pins caps any single key's blow-up.
    * The facet remains part of the candidate CONTRACT (oracle in
    * lockstep): pairs with j ≈ 0 — which is every pair the banding
    * prunes — are not near-duplicates and carry no information for a
    * dedup pass. Docs with no shingles (<3 tokens) were never scored
    * (the size join is inner). */
  /** The r13 banding: every unordered pair of the 8 facet slots. */
  private[graft] val FacetSlotPairs: Seq[(Int, Int)] =
    for { a <- 8 to 15; b <- (a + 1) to 15 } yield (a, b)

  val dedupNgramJaccard = Q("q_dedup_ngram_jaccard", "sketch-blocked 3-gram Jaccard")(
    shinglesSql +
      ", fh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1, " +
      "('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 " +
      "FROM (SELECT DISTINCT doc_id, shingle FROM sh)), " +
      "sigf AS (SELECT doc_id, " +
      (8 to 15).map(k => s"min((h1 + $k * h2) % ${graft.ops.TextOps.MinhashP}) AS mh$k")
        .mkString(", ") +
      " FROM fh GROUP BY 1), " +
      "fac AS (" +
      FacetSlotPairs.zipWithIndex.map { case ((k1, k2), p) =>
        s"SELECT doc_id, $p AS slot, mh$k1 AS fv1, mh$k2 AS fv2 FROM sigf"
      }.mkString(" UNION ALL ") + "), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM documents a " +
      "JOIN documents b ON a.source = b.source AND abs(a.n_chars - b.n_chars) <= 8 " +
      "AND a.doc_id < b.doc_id " +
      "JOIN fac fa ON fa.doc_id = a.doc_id " +
      "JOIN fac fb ON fb.doc_id = b.doc_id AND fb.slot = fa.slot " +
      "AND fb.fv1 = fa.fv1 AND fb.fv2 = fa.fv2), " +
      "shd AS (SELECT DISTINCT doc_id, shingle FROM sh), " +
      "sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni FROM cand c " +
      "JOIN shd x ON x.doc_id = c.doc_a JOIN shd y ON y.doc_id = c.doc_b " +
      "AND y.shingle = x.shingle GROUP BY 1, 2) " +
      "SELECT c.doc_a, c.doc_b, " +
      "CAST(COALESCE(i.ni, 0) AS DOUBLE) / (sa.nsh + sb.nsh - COALESCE(i.ni, 0)) AS jaccard " +
      "FROM cand c JOIN sizes sa ON sa.doc_id = c.doc_a " +
      "JOIN sizes sb ON sb.doc_id = c.doc_b " +
      "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b") {
    (s, d) =>
      val docs = documents(s, d)
      val shd = TextOps.shingles3(docs).distinct().localCheckpoint()
      // the content facet: an 8-slot minhash bottom-sketch of the shingle
      // set (slots 8..15), unpivoted to (doc_id, slot, fv) rows. Computed
      // over the DISTINCT shingles (min is multiplicity-blind) so the md5
      // work rides the already-checkpointed shd frame.
      val sigf = TextOps.shingleHashWords(shd).groupBy("doc_id")
        .agg(TextOps.minhashK(8, col("_h1"), col("_h2")),
          (9 to 15).map(k => TextOps.minhashK(k, col("_h1"), col("_h2"))): _*)
      val fac = sigf.select(col("doc_id"), explode(array(
          FacetSlotPairs.zipWithIndex.map { case ((k1, k2), p) =>
            struct(lit(p).as("slot"), col(s"mh$k1").as("fv1"),
              col(s"mh$k2").as("fv2"))
          }: _*)).as("f"))
        .select(col("doc_id"), col("f.slot").as("slot"),
          col("f.fv1").as("fv1"), col("f.fv2").as("fv2"))
      // Candidate generation joins on the EQUI key (source, length-bucket,
      // slot, fv) rather than source alone: a popular source would
      // otherwise form one giant sort-merge key scanned quadratically by
      // the length residual, and without the facet the (source, bucket)
      // keyspace is FIXED, leaving a corpus²/keyspace candidate term.
      // Bucket width 16 ≥ 2·(max diff): two docs with |Δn_chars| ≤ 8 land
      // in the same or adjacent buckets, so emitting side A at {k-1, k,
      // k+1} and side B at {k} finds every qualifying (pair, slot) match
      // exactly once; the DISTINCT below collapses multi-slot agreement.
      // The |Δ| ≤ 8 residual then only runs inside width-16 buckets sliced
      // by facet value — bounded work per key, no skew blow-up.
      val bucket = floor(col("n_chars") / 16)
      val aSide = docs.select(col("doc_id").as("doc_a"), col("source"),
          col("n_chars").as("ca"))
        .join(fac.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn("bucket", explode(array(floor(col("ca") / 16) - 1,
          floor(col("ca") / 16), floor(col("ca") / 16) + 1)))
      val bSide = docs.select(col("doc_id").as("doc_b"), col("source"),
          col("n_chars").as("cb"), bucket.as("bucket"))
        .join(fac.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      // checkpoint the reused intermediates: `cand` feeds the intersection
      // AND the final assembly; `shd` feeds the facet, both sides of the
      // shingle intersection and the size aggregate — uncached each
      // consumer recomputes the full explode/distinct subtree
      // (localCheckpoint, not persist: blocks free with the frames)
      val cand = aSide.join(bSide, Seq("source", "bucket", "slot", "fv1", "fv2"))
        .filter(abs(col("ca") - col("cb")) <= 8 && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
        .localCheckpoint()
      val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      // hash-PREFIXED intersection keys (r13, the q_contamination trick):
      // joining on (xxhash64(shingle), shingle) is result-identical — the
      // hash is a function of the string — but the sort-merge resolves
      // almost every comparison on an 8-byte long instead of a ~25-byte
      // UTF8 compare. Engine-internal only; the oracle's string join is
      // untouched.
      val shh = shd.withColumn("hs", xxhash64(col("shingle")))
      val inter = cand
        .join(shh.as("x"), col("x.doc_id") === col("doc_a"))
        .join(shh.as("y"), col("y.doc_id") === col("doc_b")
          && col("y.hs") === col("x.hs")
          && col("y.shingle") === col("x.shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
      cand
        .join(sizes.as("sa"), col("sa.doc_id") === col("doc_a"))
        .join(sizes.as("sb"), col("sb.doc_id") === col("doc_b"))
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          (coalesce(col("ni"), lit(0)).cast("double") /
            (col("sa.nsh") + col("sb.nsh") - coalesce(col("ni"), lit(0)))).as("jaccard"))
  }

  /** Language-ID heuristic: stopword-hit ratio over tokens
    * (n-gram/stopword family; real models plug into the same shape). */
  val textLangid = Q("q_text_langid", "stopword-ratio language ID")(
    tokwSql +
      "SELECT doc_id, " +
      "CAST(sum(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits, " +
      "count(*) AS n_tokens, " +
      "CAST(sum(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS stop_ratio, " +
      "CASE WHEN CAST(sum(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.02 " +
      "THEN 'en' ELSE 'und' END AS pred_lang FROM tokw GROUP BY doc_id") {
    (s, d) =>
      val hit = when(col("word").isin("the", "a"), 1).otherwise(0)
      TextOps.explodeTokens(documents(s, d)).groupBy("doc_id")
        .agg(sum(hit).cast("long").as("stop_hits"), count(lit(1)).as("n_tokens"))
        .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
        .withColumn("pred_lang", when(col("stop_ratio") >= 0.02, "en").otherwise("und"))
  }

  /** Per-lang profile size of the trigram LID. */
  private val TriP = 30

  /** Char-trigram language ID (r12) — the Cavnar–Trenkle n-gram-profile
    * classifier next to the stopword heuristic (q_text_langid): each
    * language's profile is its top-30 character trigrams by corpus
    * frequency (tie-break: trigram ASC), each doc is scored by the
    * OVERLAP of its distinct trigram set with every profile, and the
    * argmax (tie-break: lang ASC) is the prediction — published as the
    * same confusion-matrix shape as q_text_langid_confusion, against the
    * labeled lang column. Unlike the stopword score, this works for any
    * language with no word segmentation at all — the LID that survives
    * CJK and mojibake at 100 TB.
    *
    * Scale: the trigram explode is corpus-CHARACTER-linear (map-only);
    * the profile build is a vocabulary-keyed aggregate + a langs-sized
    * top-30 window; scoring joins each doc's distinct trigrams to the
    * broadcast-sized (langs × 30) profile; the argmax window partitions
    * by doc_id. Everything integer until the one confusion-rate division. */
  val textLangidTrigram = Q("q_text_langid_trigram",
    "char-trigram-profile language ID confusion matrix (Cavnar-Trenkle)")(
    "WITH tri AS (SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri FROM " +
      "(SELECT doc_id, text, unnest(range(1, greatest(length(text) - 1, 1))) AS i " +
      "FROM documents)), " +
      "lp AS (SELECT d.lang, t.tri, count(*) AS c FROM tri t " +
      "JOIN documents d ON d.doc_id = t.doc_id GROUP BY 1, 2), " +
      s"prof AS (SELECT lang AS cand, tri FROM (SELECT lp.*, " +
      s"row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS rn FROM lp) " +
      s"WHERE rn <= $TriP), " +
      "dt AS (SELECT DISTINCT doc_id, tri FROM tri), " +
      "sc AS (SELECT dt.doc_id, p.cand, count(*) AS score FROM dt " +
      "JOIN prof p ON p.tri = dt.tri GROUP BY 1, 2), " +
      "langs AS (SELECT DISTINCT lang AS cand FROM documents), " +
      "allsc AS (SELECT d.doc_id, l.cand, COALESCE(sc.score, 0) AS score " +
      "FROM documents d CROSS JOIN langs l " +
      "LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.cand = l.cand), " +
      "pred AS (SELECT doc_id, cand AS pred_lang FROM (SELECT allsc.*, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn " +
      "FROM allsc) WHERE rn = 1), " +
      "cells AS (SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n " +
      "FROM pred p JOIN documents d ON d.doc_id = p.doc_id GROUP BY 1, 2), " +
      "tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1) " +
      "SELECT c.lang, c.pred_lang, c.n, CAST(c.n AS DOUBLE) / t.n_lang AS rate " +
      "FROM cells c JOIN tot t ON t.lang = c.lang") {
    (s, d) =>
      val docs = documents(s, d)
      // One explode total (r14, VERDICT r13 #3). The r12 design cached the
      // raw character-sized explode (OOM'd sf10: a single-input-split scan
      // makes it ONE unsplittable multi-GB block); r13 uncached it and
      // recomputed it for both consumers (2.02× wall). This pass aggregates
      // the explode ONCE to per-doc distinct trigram counts (`dtc`) and
      // derives BOTH the profile build and the scoring side from it:
      //   lp  = Σ c by (lang, tri)  — occurrence counts, identical to
      //         counting the raw explode;
      //   dt  = dtc's key set       — already distinct (doc_id, tri).
      // dtc is vocabulary-per-doc-sized (map-side combine collapses the
      // occurrence stream inside the scan task), lands POST-SHUFFLE in
      // shuffle.partitions spillable blocks — no single-giant-block OOM —
      // and parallelizes every downstream stage past the serial scan.
      // The trigram is built INSIDE a transform() array so the generate
      // emits (doc_id, tri) without copying the full text per output row.
      // fannedOut: the explode amplifies each input byte ~1× into an
      // output ROW — on a narrow scan (one tiny file / one row group) the
      // whole character stream would otherwise compute in a single task
      // (util.FanOut; provable no-op on a many-split 100 TB scan).
      // Keyed on doc_id: hash repartition, no sort-before-repartition.
      val tri = graft.util.FanOut(docs.select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"),
          // CASE-null for docs under 3 chars: explode drops the null row
          // (Spark's sequence(1, 0) would DESCEND, not be empty)
          explode(expr(
            "CASE WHEN length(text) >= 3 THEN " +
              "transform(sequence(1, length(text) - 2), " +
              "i -> substring(text, CAST(i AS INT), 3)) END")).as("tri"))
      val dtc = tri.groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val lp = dtc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "tri").agg(sum("c").as("c"))
      val wL = Window.partitionBy("lang").orderBy(col("c").desc, col("tri"))
      val prof = lp.withColumn("rn", row_number().over(wL)).filter(col("rn") <= TriP)
        .select(col("lang").as("cand"), col("tri"))
      // dtc's key set IS the per-doc distinct trigram set: the broadcast
      // profile join + count gives the overlap score directly (the r13
      // semi-filter-then-distinct and this are result-identical; here the
      // distinct was already paid by the dtc aggregate).
      val sc = dtc.join(broadcast(prof), "tri")
        .groupBy("doc_id", "cand").agg(count(lit(1)).as("score"))
      val langs = docs.select(col("lang").as("cand")).distinct()
      val allsc = docs.select("doc_id").crossJoin(broadcast(langs))
        .join(sc, Seq("doc_id", "cand"), "left")
        .select(col("doc_id"), col("cand"), coalesce(col("score"), lit(0L)).as("score"))
      val wD = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand"))
      val pred = allsc.withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
        .select(col("doc_id"), col("cand").as("pred_lang"))
      // materialize CELLS, not the explode (r14, VERDICT r13 #3): cells is
      // consumed by the final select AND by `tot`, and with nothing cached
      // the whole subtree — including BOTH character-sized explodes (the
      // profile build and the scoring probe) — executed twice, doubling
      // the r13 regression. cells is langs × langs rows: caching it is
      // free at any corpus scale and halves the explode count, while the
      // character-sized frames stay uncached (the sf10 OOM fix stands).
      val cells = pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      val tot = cells.groupBy("lang").agg(sum("n").as("n_lang"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          (col("n").cast("double") / col("n_lang")).as("rate"))
  }

  /** Quality scoring: length/stopword/word-shape components → [0,1] score
    * (the filter stage of a pretraining pipeline). */
  val textQuality = Q("q_text_quality", "document quality score")(
    tokwSql +
      ", st AS (SELECT doc_id, " +
      "CAST(sum(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits, " +
      "count(*) AS n_tokens FROM tokw GROUP BY doc_id) " +
      "SELECT d.doc_id, d.n_chars, st.n_tokens, " +
      "CAST(d.n_chars - (st.n_tokens - 1) AS DOUBLE) / st.n_tokens AS avg_token_len, " +
      "(0.5 * least(1.0, CAST(d.n_chars AS DOUBLE) / 500.0)) " +
      "+ (0.3 * least(1.0, (CAST(st.stop_hits AS DOUBLE) / st.n_tokens) * 10.0)) " +
      "+ (CASE WHEN CAST(d.n_chars - (st.n_tokens - 1) AS DOUBLE) / st.n_tokens " +
      "BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score " +
      "FROM documents d JOIN st ON st.doc_id = d.doc_id") {
    (s, d) =>
      val hit = when(col("word").isin("the", "a"), 1).otherwise(0)
      val st = TextOps.explodeTokens(documents(s, d)).groupBy("doc_id")
        .agg(sum(hit).cast("long").as("stop_hits"), count(lit(1)).as("n_tokens"))
      val avgLen = (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens")
      documents(s, d).join(st, "doc_id")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          avgLen.as("avg_token_len"),
          ((lit(0.5) * least(lit(1.0), col("n_chars").cast("double") / lit(500.0)))
            + (lit(0.3) * least(lit(1.0),
                (col("stop_hits").cast("double") / col("n_tokens")) * lit(10.0)))
            + when(avgLen.between(3.0, 8.0), 0.2).otherwise(0.0)).as("quality_score"))
  }

  /** Token counting: whitespace tokens + a bytes/4 BPE-style estimate
    * (the cost model of a training-data pipeline). */
  val textTokens = Q("q_text_tokens", "token counts")(
    "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS ws_tokens, " +
      "(n_chars + 3) // 4 AS bpe_est FROM documents") {
    (s, d) => documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
      expr("(n_chars + 3) div 4").as("bpe_est"))
  }

  /** Positional fingerprint: Σ hash32(word)·(pos-weight) mod p — a
    * rolling-hash-family document signature, exact in int64. */
  val textFingerprint = Q("q_text_fingerprint", "positional rolling fingerprint")(
    tokwSql +
      ", h AS (SELECT doc_id, i, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h32 FROM tokw) " +
      "SELECT doc_id, CAST(sum((h32 * ((i % 16) + 1)) % 1000000007) AS BIGINT) AS fingerprint " +
      "FROM h GROUP BY doc_id") {
    (s, d) => TextOps.explodeTokens(documents(s, d))
      .withColumn("h32", TextOps.hash32(col("word")))
      .groupBy("doc_id")
      .agg(sum((col("h32") * ((col("i") % 16) + 1)) % 1000000007L).cast("long")
        .as("fingerprint"))
  }

  /** Multimodal binary-column path: text→bytes stands in for an image/
    * audio payload; metadata extraction (sizes, stub frame geometry) runs
    * as per-row expressions. The typed decode-stub pipeline with real
    * batch shape lives in ops.Multimodal (not SQL-expressible). */
  val mmBinaryMeta = Q("q_mm_binary_meta", "binary payload metadata stub")(
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "ascii(substr(text, 1, 1)) AS first_code, " +
      "CAST((octet_length(encode(text)) % 64) + 16 AS BIGINT) AS frame_w, " +
      "CAST((octet_length(encode(text)) // 100) + 1 AS BIGINT) AS n_frames FROM documents") {
    (s, d) =>
      val payload = encode(col("text"), "UTF-8")
      documents(s, d).select(col("doc_id"),
        octet_length(payload).cast("long").as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("first_code"),
        ((octet_length(payload) % 64) + 16).cast("long").as("frame_w"),
        (expr("octet_length(encode(text, 'UTF-8')) div 100") + 1).cast("long").as("n_frames"))
  }

  /** Frame sampling over the typed decode path: mediaTable → per-partition
    * extractFeatures (the codec-amortizing mapPartitions batch) →
    * sampleFrames(stride=2) — one row per sampled frame index. The oracle
    * replays the decode stub's deterministic frame arithmetic in SQL, so
    * the whole typed pipeline (Encoders, mapPartitions, explode) is
    * hash-gated, not just shape-tested.
    *
    * Scale: map-only — no shuffle anywhere; the frames explosion is
    * bounded by n_frames/stride per row, and a metadata-only consumer
    * never deserializes the payload column past extractFeatures. */
  val mmFrameSample = Q("q_mm_frame_sample", "typed decode → frame sampling (stride 2)")(
    "SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS kind, " +
      "CAST(unnest(range(0, (octet_length(encode(text)) // 100) + 1, 2)) AS BIGINT) AS frame_idx " +
      "FROM documents WHERE text IS NOT NULL") {
    (s, d) =>
      val media = Multimodal.mediaTable(s, d).filter(col("payload").isNotNull)
      Multimodal.sampleFrames(Multimodal.extractFeatures(media), stride = 2)
        .select(col("media_id"), col("kind"), col("frame_idx").cast("long").as("frame_idx"))
  }

  /** Audio chunk-window geometry (r12) — the time-domain member of the
    * multimodal plumbing family: every audio payload is cut into 2000 ms
    * windows at 1000 ms hop through the typed decode chain
    * (Multimodal.extractFeatures → chunkWindows), the segmentation an
    * ASR / audio-embedding pipeline runs before its model. The duration
    * column is the decode stub's (1 byte ≈ 1 ms stand-in — the honest
    * offline-codec policy of the whole mm family); a real demuxer
    * replaces one column and the window arithmetic — which the oracle
    * replays exactly (same ⌊max(dur−W,0)/H⌋+1 form as q_text_chunk) —
    * is untouched. Map-only; the explosion is bounded by dur/hop. */
  val mmAudioChunks = Q("q_mm_audio_chunks",
    "typed audio chunk windows (2000 ms window, 1000 ms hop)")(
    "WITH a AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS dur " +
      "FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 1), " +
      "c AS (SELECT doc_id, dur, unnest(range(0, " +
      "CAST(1 + floor(greatest(dur - 2000, 0) / 1000.0) AS BIGINT))) AS chunk_id FROM a) " +
      "SELECT doc_id AS media_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
      "CAST(chunk_id * 1000 AS BIGINT) AS t_start_ms, " +
      "CAST(least(chunk_id * 1000 + 2000, dur) AS BIGINT) AS t_end_ms FROM c") {
    (s, d) =>
      val media = Multimodal.mediaTable(s, d).filter(col("payload").isNotNull)
      Multimodal.chunkWindows(Multimodal.extractFeatures(media),
        windowMs = 2000L, hopMs = 1000L)
  }

  /** Resize geometry contract over the typed per-partition scaler:
    * bounding-box 32×32, aspect preserved, strided-byte resample sized to
    * the output pixel count. The oracle replays the geometry arithmetic
    * (IEEE double scale + floor-truncation) bit-for-bit; payload length is
    * gated, payload bytes stay on the Spark side (md5-free — the sampled
    * bytes themselves are covered by OpsSpec).
    *
    * Scale: map-only like the decoder; a real scaler drops into the same
    * mapPartitions slot with once-per-task init. */
  val mmResizeMeta = Q("q_mm_resize_meta", "typed resize geometry (32×32 box)")(
    "WITH g AS (SELECT doc_id, octet_length(encode(text)) AS n, " +
      "(octet_length(encode(text)) % 64) + 16 AS w, " +
      "(octet_length(encode(text)) % 48) + 16 AS h " +
      "FROM documents WHERE text IS NOT NULL), " +
      "sc AS (SELECT doc_id, n, w, h, " +
      "least(1.0, least(32.0 / w, 32.0 / h)) AS scale FROM g), " +
      "geo AS (SELECT doc_id, n, " +
      "greatest(1, CAST(floor(w * scale) AS INT)) AS out_w, " +
      "greatest(1, CAST(floor(h * scale) AS INT)) AS out_h FROM sc) " +
      "SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS kind, out_w, out_h, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE greatest(1, least(n, out_w * out_h)) END AS BIGINT) " +
      "AS out_bytes FROM geo") {
    (s, d) =>
      val media = Multimodal.mediaTable(s, d).filter(col("payload").isNotNull)
      Multimodal.resize(media, maxW = 32, maxH = 32).toDF()
        .select(col("media_id"), col("kind"),
          col("width").as("out_w"), col("height").as("out_h"),
          octet_length(col("payload")).cast("long").as("out_bytes"))
  }

  /** Asymmetric shingle CONTAINMENT over the MinHash-LSH candidate
    * pairs: |Sh(a)∩Sh(b)| / |Sh(a)| (and /|Sh(b)|) on DISTINCT
    * 3-shingles. Jaccard misses the quote/aggregator case — a short
    * document fully contained in a long one has tiny Jaccard but
    * containment ≈ 1 — and containment-of-the-smaller is the measure
    * web-corpus dedup actually keys keep/drop decisions on (Broder's
    * containment, the resemblance/containment pair). Candidates come
    * from the SAME banded-LSH blocking as q_dedup_minhash (Σ bucket²,
    * never corpus²); the exact intersection join is keyed on
    * (doc, shingle) and runs only over candidate pairs; integer counts,
    * one correctly-rounded division per published ratio. */
  val dedupContainment = Q("q_dedup_containment", "shingle containment over LSH candidates")(
    "WITH " + minhashPairsBody + ", " +
      "shd AS (SELECT DISTINCT doc_id, shingle FROM sh), " +
      "sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1), " +
      "shared AS (SELECT p.doc_a, p.doc_b, count(*) AS n_shared " +
      "FROM pairs p JOIN shd a ON a.doc_id = p.doc_a " +
      "JOIN shd b ON b.doc_id = p.doc_b AND b.shingle = a.shingle GROUP BY 1, 2) " +
      "SELECT s.doc_a, s.doc_b, s.n_shared, " +
      "CAST(s.n_shared AS DOUBLE) / sa.nsh AS cont_a, " +
      "CAST(s.n_shared AS DOUBLE) / sb.nsh AS cont_b " +
      "FROM shared s JOIN sizes sa ON sa.doc_id = s.doc_a " +
      "JOIN sizes sb ON sb.doc_id = s.doc_b " +
      "WHERE CAST(s.n_shared AS DOUBLE) / sa.nsh >= 0.5 " +
      "OR CAST(s.n_shared AS DOUBLE) / sb.nsh >= 0.5") {
    (s, d) =>
      val docs = documents(s, d)
      // distinct shingles feed the sizes AND both sides of the
      // intersection join: materialize once (lazy)
      val shd = TextOps.shingles3(docs).distinct().localCheckpoint(eager = false)
      val pairs = TextOps.minhashPairs(docs)
      val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      // ARRAY-INTERSECT intersection (r14): the naive pairs×shingles
      // expansion was the plan's largest intermediate — the ×100 probe
      // measured its shuffle at 59 MB → 5.3 GB with a 17 GB spill onset
      // (28× CPU against linear candidates), and a hash-prefixed join
      // key bought only ~5% because the expansion-sized SMJ sort AND the
      // expansion-sized groupBy shuffle both remained. This shape removes
      // both: each doc's DISTINCT shingles collapse to one array of
      // xxhash64 cells (8 B/shingle), two candidate-linear joins attach
      // the two arrays, and |A∩B| is size(array_intersect) computed
      // per-row with NO post-join shuffle at all. Exactness is two-tier,
      // not probabilistic: hashes claimed by >1 distinct shingle
      // corpus-wide (expected none; a broadcast-sized frame by
      // construction) are EXCLUDED from the arrays and their shingles
      // counted exactly through the old string-keyed expansion, which
      // then runs over a near-empty input. Engine-internal only; the
      // oracle's string-equality join is untouched.
      val shh = shd.withColumn("hs", xxhash64(col("shingle")))
      val coll = shh.groupBy("hs").agg(countDistinct(col("shingle")).as("nstr"))
        .filter(col("nstr") > 1).select("hs")
      val arrs = shh.join(broadcast(coll), Seq("hs"), "left_anti")
        .groupBy("doc_id").agg(collect_list(col("hs")).as("harr"))
      val base = pairs
        .join(arrs.select(col("doc_id").as("doc_a"), col("harr").as("ha")), Seq("doc_a"), "left")
        .join(arrs.select(col("doc_id").as("doc_b"), col("harr").as("hb")), Seq("doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(size(array_intersect(col("ha"), col("hb"))), lit(0))
            .cast("long").as("n0"))
      val dirty = shh.join(broadcast(coll), Seq("hs"))
      val extra = pairs
        .join(dirty.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
        .join(dirty.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("nx"))
      val shared = base
        .join(extra, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          (col("n0") + coalesce(col("nx"), lit(0L))).as("n_shared"))
        .filter(col("n_shared") > 0)
      shared
        .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("nsh_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nsh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") / col("nsh_a")).as("cont_a"),
          (col("n_shared").cast("double") / col("nsh_b")).as("cont_b"))
        .filter(col("cont_a") >= 0.5 || col("cont_b") >= 0.5)
  }

  /** Incremental cross-corpus dedup — the production shape: a NEW batch
    * (sources src0/src1 stand in for today's crawl) is near-dup-checked
    * against the existing REFERENCE corpus (every other source) and each
    * new doc gets a keep/drop verdict. Signature-only end to end: band
    * keys block new×ref candidates (never new×new or ref×ref — the
    * reference was already deduped when it was ingested), and the verdict
    * is the 8-slot minhash-agreement Jaccard estimate ≥ 0.5 — no text is
    * re-read. At 100 TB the reference signature table is a precomputed
    * static artifact ~10³× smaller than the corpus; per batch, only the
    * new docs are shingled/hashed, and the band join costs
    * Σ bucket_new × bucket_ref. Docs with no candidate emit
    * n_candidates = 0, null estimate, keep = true. */
  val dedupIncremental = Q("q_dedup_incremental", "new-batch vs reference-corpus signature dedup")({
    val agree = (0 to 7).map(k => s"(CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    "WITH " + minhashPairsBody + ", " +
      "news AS (SELECT doc_id FROM documents WHERE source IN ('src0', 'src1')), " +
      "cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id FROM bands a " +
      "JOIN news na ON na.doc_id = a.doc_id " +
      "JOIN bands b ON b.band = a.band AND b.k1 = a.k1 AND b.k2 = a.k2 " +
      "LEFT JOIN news nb ON nb.doc_id = b.doc_id WHERE nb.doc_id IS NULL), " +
      s"est AS (SELECT c.new_id, CAST($agree AS DOUBLE) / 8 AS jaccard_est " +
      "FROM cand c JOIN sig a ON a.doc_id = c.new_id JOIN sig b ON b.doc_id = c.ref_id), " +
      "per_new AS (SELECT new_id, count(*) AS n_candidates, " +
      "max(jaccard_est) AS max_jaccard_est FROM est GROUP BY 1) " +
      "SELECT n.doc_id, COALESCE(p.n_candidates, 0) AS n_candidates, " +
      "p.max_jaccard_est AS max_jaccard_est, " +
      "(p.max_jaccard_est IS NULL OR p.max_jaccard_est < 0.5) AS keep " +
      "FROM news n LEFT JOIN per_new p ON p.new_id = n.doc_id"
  }) {
    (s, d) =>
      val docs = documents(s, d)
      val sig = TextOps.minhashSig(docs).localCheckpoint(eager = false)
      val srcs = docs.select("doc_id", "source")
      val isNew = col("source").isin("src0", "src1")
      val banded = (0 to 3).map { b =>
        sig.select(col("doc_id"), lit(b).as("band"),
          col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))
      }.reduce(_ unionByName _)
      val bandsTag = banded.join(srcs, "doc_id")
      val aB = bandsTag.filter(isNew)
        .select(col("doc_id").as("new_id"), col("band"), col("k1"), col("k2"))
      val bB = bandsTag.filter(!isNew)
        .select(col("doc_id").as("ref_id"), col("band"), col("k1"), col("k2"))
      val cand = aB.join(bB, Seq("band", "k1", "k2"))
        .select("new_id", "ref_id").distinct()
      val nAgree = (0 to 7).map(k =>
        when(col(s"a.mh$k") === col(s"b.mh$k"), 1).otherwise(0)).reduce(_ + _)
      val est = cand.join(sig.as("a"), col("a.doc_id") === col("new_id"))
        .join(sig.as("b"), col("b.doc_id") === col("ref_id"))
        .select(col("new_id"), (nAgree.cast("double") / 8).as("jaccard_est"))
      val perNew = est.groupBy("new_id").agg(count(lit(1)).as("n_candidates"),
        max("jaccard_est").as("max_jaccard_est"))
      val newIds = srcs.filter(isNew).select("doc_id")
      newIds.join(perNew, newIds("doc_id") === perNew("new_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("max_jaccard_est"),
          (col("max_jaccard_est").isNull || col("max_jaccard_est") < 0.5).as("keep"))
  }

  /** Cross-media duplicate-FRAME detection (r8): content-hash each
    * sampled frame's byte window (the decode stub's frame unit: 100
    * payload bytes at the frame offset; a real codec emits pixel/PCM
    * buffers through the same column) and group identical frames across
    * ALL media — the video-dedup primitive (repeated intros, test
    * patterns, still segments collapse to one stored frame + references).
    * Trailing sub-window offsets are excluded: an empty byte slice is a
    * stub artifact, not a frame. One hash groupBy — corpus-frame-linear,
    * the same scale shape as q_dedup_exact. Byte/char slicing parity with
    * the oracle holds because the fixture is ASCII (checked: 0 multibyte
    * docs); a binary lake hashes the payload bytes directly. */
  val mmFrameDedup = Q("q_mm_frame_dedup", "cross-media duplicate frame groups")(
    "WITH f AS (SELECT doc_id AS media_id, " +
      "unnest(range(0, (octet_length(encode(text)) // 100) + 1, 2)) AS frame_idx, " +
      "text, octet_length(encode(text)) AS nb FROM documents WHERE text IS NOT NULL), " +
      "h AS (SELECT media_id, md5(substr(text, CAST(frame_idx * 100 + 1 AS BIGINT), 100)) AS fhash " +
      "FROM f WHERE frame_idx * 100 < nb) " +
      "SELECT fhash, count(*) AS n_frames, " +
      "CAST(count(DISTINCT media_id) AS BIGINT) AS n_media, " +
      "min(media_id) AS keeper_media FROM h GROUP BY 1 HAVING count(*) > 1") {
    (s, d) =>
      val media = Multimodal.mediaTable(s, d).filter(col("payload").isNotNull).toDF()
      val frames = Multimodal.sampleFrames(
        Multimodal.extractFeatures(Multimodal.mediaTable(s, d)
          .filter(col("payload").isNotNull)), stride = 2)
        .select(col("media_id"), col("frame_idx"))
      frames.join(media.select(col("media_id"), col("payload")), "media_id")
        .filter(col("frame_idx") * 100 < octet_length(col("payload")))
        .select(col("media_id"),
          md5(col("payload").substr((col("frame_idx") * 100 + 1).cast("int"), lit(100)))
            .as("fhash"))
        .groupBy("fhash")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct("media_id").as("n_media"),
          min("media_id").as("keeper_media"))
        .filter(col("n_frames") > 1)
  }

  /** Flesch-style readability estimate (r10) — the classic
    * surface-statistics quality signal (Flesch 1948; Kincaid's reformulation
    * drives the same three counts), the READABILITY rung of the quality
    * ladder next to q_text_quality's shape ratios and q_text_gopher's
    * pass rules: score = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). Sentences are [.!?]+ runs (clamped at 1 so
    * unpunctuated docs stay defined); syllables are the standard
    * vowel-group heuristic ([aeiouy]+ runs over the lowercased text) — a
    * deterministic estimator, not a dictionary. Counts publish alongside
    * the pinned score so a downstream threshold can re-derive any
    * variant formula (FKGL etc.) without re-reading text.
    *
    * Scale: pure map-side projection — two regexp scans + one split per
    * row, no shuffle, whole row inside one WholeStageCodegen span; the
    * score is three correctly-rounded IEEE ops in one written order,
    * published as a grid cell. Regex parity: both classes are the
    * alternation-free ASCII subset CurationQueries documents. */
  val textReadability = Q("q_text_readability", "Flesch readability estimate (vowel-group syllables)")(
    "WITH b AS (SELECT doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
      "CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sents, " +
      "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll " +
      "FROM documents WHERE text IS NOT NULL) " +
      "SELECT doc_id, n_words, n_sents, n_syll, " +
      graft.util.Exact.Sql.pinScoreInt(
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) " +
          "- 84.6 * (CAST(n_syll AS DOUBLE) / CAST(greatest(1, n_words) AS DOUBLE))") +
      " AS flesch FROM b") {
    (s, d) =>
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          greatest(lit(1L),
            size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
            .as("n_sents"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syll"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          graft.util.Exact.pinScoreInt(
            lit(206.835) -
              lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double")) -
              lit(84.6) * (col("n_syll").cast("double") /
                greatest(lit(1L), col("n_words")).cast("double"))).as("flesch"))
  }

  /** Edit-distance VERIFICATION of the MinHash-LSH candidates (r10) — the
    * re-rank rung between the signature-only estimate
    * (q_minhash_jaccard_est) and a keep/drop verdict: per candidate pair,
    * the character Levenshtein distance on the 120-char text PREFIX and
    * the normalized similarity 1 − d/max_len. Prefix truncation is the
    * contract, not a shortcut: it caps the per-pair DP at 120² cells so
    * verification cost is bounded per candidate regardless of document
    * length (a full-text edit distance is quadratic in doc length and
    * belongs offline); near-dup prefixes are where template/mirror
    * duplicates agree first. Both engines' levenshtein is plain
    * character edit distance, identical on the ASCII fixture.
    *
    * Scale: candidate volume is the banded-LSH Σ bucket² (never corpus²);
    * the two text-prefix joins are doc_id equi-joins; the DP runs inside
    * the projection — no extra shuffle beyond the candidate build. */
  val dedupEditVerify = Q("q_dedup_edit_verify", "Levenshtein verification of LSH candidates (120-char prefix)")(
    "WITH " + minhashPairsBody + ", " +
      "tx AS (SELECT doc_id, substr(text, 1, 120) AS t FROM documents), " +
      "lv AS (SELECT p.doc_a, p.doc_b, " +
      "CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist, " +
      "CAST(greatest(1, greatest(len(a.t), len(b.t))) AS BIGINT) AS max_len " +
      "FROM pairs p JOIN tx a ON a.doc_id = p.doc_a JOIN tx b ON b.doc_id = p.doc_b) " +
      "SELECT doc_a, doc_b, edit_dist, max_len, " +
      graft.util.Exact.Sql.pinScoreInt(
        "1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE)") +
      " AS edit_sim FROM lv") {
    (s, d) =>
      val docs = documents(s, d)
      val tx = docs.select(col("doc_id"), substring(col("text"), 1, 120).as("t"))
      TextOps.minhashPairs(docs)
        .join(tx.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
        .join(tx.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          greatest(lit(1L),
            greatest(length(col("ta")), length(col("tb"))).cast("long")).as("max_len"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("max_len"),
          graft.util.Exact.pinScoreInt(
            lit(1.0) - col("edit_dist").cast("double") / col("max_len").cast("double"))
            .as("edit_sim"))
  }

  /** Modality-mix composition report (r11) — the q_source_mix of the
    * MEDIA table: per modality (image/audio/video), media count, total
    * payload bytes, frame mass, the largest single asset, mean asset
    * size, and each modality's share of corpus bytes. The first page of
    * any multimodal-dataset card ("X TB video, Y TB images…") and the
    * number storage/shuffle sizing is planned from. The Spark side runs
    * the REAL typed chain (mediaTable → mapPartitions extractFeatures →
    * grouped fold) so the Encoders/batch path is what the gate
    * certifies; the oracle replays the decode stub's byte arithmetic.
    *
    * Scale: map-only decode (codec init once per task) + one
    * 3-key hash aggregate × a broadcast 1-row total — output is
    * |modalities| rows at any corpus size. */
  val mmModalityMix = Q("q_mm_modality_mix", "per-modality composition report")(
    "WITH f AS (SELECT CASE WHEN doc_id % 3 = 0 THEN 'image' " +
      "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
      "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
      "CAST((octet_length(encode(text)) // 100) + 1 AS BIGINT) AS n_frames " +
      "FROM documents WHERE text IS NOT NULL), " +
      "g AS (SELECT kind, CAST(count(*) AS BIGINT) AS n_media, " +
      "CAST(sum(n_bytes) AS BIGINT) AS total_bytes, " +
      "CAST(sum(n_frames) AS BIGINT) AS total_frames, " +
      "CAST(max(n_bytes) AS BIGINT) AS max_bytes FROM f GROUP BY 1), " +
      "t AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS corpus_bytes FROM g) " +
      "SELECT kind, n_media, total_bytes, total_frames, max_bytes, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(total_bytes AS DOUBLE) / CAST(n_media AS DOUBLE)") + " AS mean_bytes, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(total_bytes AS DOUBLE) / CAST(t.corpus_bytes AS DOUBLE)") +
      " AS byte_share FROM g CROSS JOIN t") {
    (s, d) =>
      val feats = Multimodal.extractFeatures(
        Multimodal.mediaTable(s, d).filter(col("payload").isNotNull))
      val g = feats.groupBy("kind").agg(count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        sum("n_frames").cast("long").as("total_frames"),
        max("n_bytes").as("max_bytes"))
      val t = g.agg(sum("total_bytes").as("corpus_bytes"))
      g.crossJoin(broadcast(t))
        .select(col("kind"), col("n_media"), col("total_bytes"), col("total_frames"),
          col("max_bytes"),
          graft.util.Exact.pinScoreInt(col("total_bytes").cast("double") /
            col("n_media").cast("double")).as("mean_bytes"),
          graft.util.Exact.pinScoreInt(col("total_bytes").cast("double") /
            col("corpus_bytes").cast("double")).as("byte_share"))
  }

  /** Tokenizer fertility proxy (r12) — subword pieces per whitespace
    * word, the number that says how expensive a corpus is to tokenize
    * (high-fertility text — code, non-Latin scripts, mojibake — costs
    * more sequence length per word and skews token budgets computed
    * from word counts): pieces = maximal letter runs + single digits +
    * single non-alphanumeric glyphs (a deterministic BPE-ish proxy; the
    * alternation's branches are disjoint character classes, so Java's
    * leftmost-first and RE2's leftmost-longest agree match for match),
    * fertility = pieces / ws_tokens pinned. Map-only, codegen'd, no
    * shuffle. */
  val textFertility = Q("q_text_fertility",
    "per-doc subword pieces, whitespace words, pinned fertility ratio")(
    "SELECT doc_id, " +
      "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) " +
      "AS pieces, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS DOUBLE) " +
          "/ CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)") +
      " AS fertility FROM documents") {
    (s, d) =>
      val pieces = size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\\\s]', 0)"))
      val ws = size(split(trim(col("text")), "\\s+"))
      documents(s, d).select(col("doc_id"),
        pieces.cast("long").as("pieces"), ws.cast("long").as("ws_tokens"),
        graft.util.Exact.pinScoreInt(
          pieces.cast("double") / ws.cast("double")).as("fertility"))
  }

  val all: Seq[Q] = Seq(dedupExact, dedupMinhash, minhashJaccardEst, dedupSimhash,
    dedupNgramJaccard, dedupContainment, dedupIncremental, textLangid, textQuality,
    textTokens, textFingerprint, mmBinaryMeta, mmFrameSample, mmResizeMeta, mmFrameDedup,
    textReadability, dedupEditVerify, mmModalityMix, textLangidTrigram,
    mmAudioChunks, textFertility, dedupLshRecall, mixOverlapMatrix, dedupBandSweep)
}
