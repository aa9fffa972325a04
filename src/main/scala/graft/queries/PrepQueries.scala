package graft.queries

import graft.Q
import graft.util.Exact
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-BATCH preparation operators (SURVEY.md §2.12 north-star,
  * round 9): the steps between a curated corpus and a training run —
  * overlapping token-window chunking, concat-and-chunk sequence packing,
  * int8 embedding quantization, and the top principal component of the
  * embedding table via distributed power iteration.
  *
  * Scale notes, op by op:
  *   - q_text_chunk is map-only (split → bounded explode → slice): no
  *     shuffle at any corpus size; output rows ≈ tokens/stride.
  *   - q_pack_sequences needs a GLOBAL (per-language) running token
  *     offset — an inherently sequential prefix. The plan is the classic
  *     two-phase parallel prefix: per-BIN subtotals (bin = doc_id div 64,
  *     monotone in the pack order) prefix-summed on a bins-sized frame,
  *     broadcast back, then a per-bin window supplies the within-bin
  *     residual — no data-sized single-partition sort anywhere (the same
  *     layout as q_agg_quantile_sketch's exact side).
  *   - q_emb_quantize_int8 is two d-sized aggregates around one map-only
  *     quantization pass (the per-dim stats broadcast back).
  *   - q_emb_pca_power iterates t ∈ 1..3: one MAP-ONLY fused dot
  *     (centered array × broadcast component, decimal_dot — no exploded
  *     corpus×d join rides any shuffle) + one d-keyed hash aggregate;
  *     every inter-iteration artifact is d-sized. The centered corpus is
  *     materialized once and reused by all three iterations.
  */
object PrepQueries {

  /** r15 measured reversal of the module-wide documents FanOut shadow:
    * see the TextQueries header note — the pack/chunk paths amplify only
    * ~10-50× and the widened scan's per-task overhead cost more than the
    * parallelism returned (q_pack_sequences 0.43 → 1.12 s wall / 0.9 →
    * 14 s CPU with the shadow, q_pack_efficiency +0.31 s in the full
    * bench). FanOut remains a site-level tool for extreme amplification
    * (see TextQueries / CorpusStatsQueries). */


  /** Chunk/pack geometry: token windows of ChunkC with stride ChunkS
    * (ChunkC − ChunkS overlap); packed training sequences of PackL
    * whitespace tokens; PackBin docs per prefix bin. Pinned here so the
    * Spark and oracle texts can never disagree on the geometry. */
  private val ChunkC = 12
  private val ChunkS = 8
  private val PackL  = 256
  private val PackBin = 64

  /** Overlapping token-window chunking — the "context window" splitter of
    * a pretraining/RAG pipeline: every document becomes
    * ceil(max(n−C,0)/S)+1 windows of C tokens at stride S (the final
    * window may be short, never empty). Map-only; the chunk count and all
    * offsets are integer arithmetic on the token count, so the explode is
    * bounded and exact in both engines (token counts sit far below 2⁵³,
    * where the floor-of-double-division form is exact). */
  val textChunk = Q("q_text_chunk", s"token-window chunking (C=$ChunkC, stride=$ChunkS)")(
    "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp FROM documents), " +
      "tn AS (SELECT doc_id, sp, CAST(len(sp) AS BIGINT) AS n FROM t), " +
      "ch AS (SELECT doc_id, sp, n, unnest(range(0, " +
      s"CAST(1 + floor((greatest(n - $ChunkC, 0) + ${ChunkS - 1}) / $ChunkS.0) AS BIGINT))) AS chunk_id FROM tn) " +
      "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
      s"CAST(chunk_id * $ChunkS + 1 AS BIGINT) AS tok_start, " +
      s"CAST(len(list_slice(sp, chunk_id*$ChunkS+1, least(chunk_id*$ChunkS+$ChunkC, n))) AS BIGINT) AS n_tok, " +
      s"array_to_string(list_slice(sp, chunk_id*$ChunkS+1, least(chunk_id*$ChunkS+$ChunkC, n)), ' ') AS chunk_text " +
      "FROM ch") {
    (s, d) =>
      val t = documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("sp"))
        .withColumn("n", size(col("sp")).cast("long"))
      val nch = (lit(1L) + floor((greatest(col("n") - ChunkC, lit(0L)) + lit(ChunkS - 1).cast("long"))
        / lit(ChunkS.toDouble))).cast("long")
      val start = (col("chunk_id") * ChunkS + 1)
      t.select(col("doc_id"), col("sp"),
        explode(sequence(lit(0L), nch - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"), start.as("tok_start"),
          size(slice(col("sp"), start.cast("int"), lit(ChunkC))).cast("long").as("n_tok"),
          array_join(slice(col("sp"), start.cast("int"), lit(ChunkC)), " ").as("chunk_text"))
  }

  /** Concat-and-chunk sequence packing: per language, documents are laid
    * end-to-end in doc_id order and cut into PackL-token training
    * sequences; each doc gets its global token offset, its starting pack,
    * and how many pack boundaries it spans. All integer arithmetic (the
    * `div` form never leaves int64), so the published packing is exact.
    *
    * The oracle computes the offset as one per-language window cumsum;
    * the Spark plan is the distributed two-phase prefix (bin subtotals +
    * within-bin window) — bit-identical because integer addition is
    * associative, and no per-language data-sized sequential pass exists
    * at any scale. (The bins-sized prefix itself is one window over
    * corpus/64 rows per language; at 10¹¹-doc scale the same two-phase
    * trick recurses onto the bin frame — mechanical, not needed here.) */
  /** ONE oracle definition of the per-doc token offset (shared by
    * q_pack_sequences and q_pack_efficiency so the packing geometry can
    * never fork between the assignment and its utilization audit). */
  private val packCteSql =
    "WITH t AS (SELECT doc_id, lang, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens FROM documents), " +
      "c AS (SELECT *, CAST(sum(ws_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
      "ROWS UNBOUNDED PRECEDING) - ws_tokens AS BIGINT) AS start_off FROM t) "

  /** Spark twin: (doc_id, lang, ws_tokens, start_off) via the two-phase
    * distributed prefix (ops.Corpus.packOffsets — shared with the
    * streaming packer, Streams.packIngest). */
  private def packFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.ops.Corpus.packOffsets(
      documents(s, d).select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens")),
      PackBin)
      .select("doc_id", "lang", "ws_tokens", "start_off")

  val packSequences = Q("q_pack_sequences", s"concat-and-chunk packing into $PackL-token sequences")(
    packCteSql +
      s"SELECT doc_id, lang, ws_tokens, start_off, start_off // $PackL AS pack_id, " +
      s"((start_off + ws_tokens - 1) // $PackL) - (start_off // $PackL) + 1 AS pack_span FROM c") {
    (s, d) =>
      packFrame(s, d)
        .select(col("doc_id"), col("lang"), col("ws_tokens"), col("start_off"),
          expr(s"start_off div $PackL").as("pack_id"),
          (expr(s"(start_off + ws_tokens - 1) div $PackL")
            - expr(s"start_off div $PackL") + 1).as("pack_span"))
  }

  /** Per-pack utilization audit of the packing above: each doc is
    * exploded over the packs its token span touches (bounded by its own
    * span count — linear total, since spans sum to tokens/PackL + docs),
    * then one (lang, pack) aggregate counts docs, starting docs, and
    * filled tokens. fill_frac = filled/PackL is a dyadic division (PackL
    * a power of two), so the published double is exact — every pack but
    * each language's last should show 1.0. */
  val packEfficiency = Q("q_pack_efficiency", "per-pack fill/utilization of the sequence packing")(
    packCteSql +
      s", e AS (SELECT doc_id, lang, ws_tokens, start_off, start_off // $PackL AS p0, " +
      s"(start_off + ws_tokens - 1) // $PackL AS p1 FROM c), " +
      "x AS (SELECT doc_id, lang, ws_tokens, start_off, unnest(range(p0, p1 + 1)) AS pack_id FROM e), " +
      "f AS (SELECT lang, pack_id, count(*) AS n_docs, " +
      s"CAST(sum(CASE WHEN start_off >= pack_id * $PackL THEN 1 ELSE 0 END) AS BIGINT) AS n_starting, " +
      s"CAST(sum(least(start_off + ws_tokens, (pack_id + 1) * $PackL) - " +
      s"greatest(start_off, pack_id * $PackL)) AS BIGINT) AS filled FROM x GROUP BY 1, 2) " +
      s"SELECT lang, pack_id, n_docs, n_starting, filled, " +
      s"CAST(filled AS DOUBLE) / $PackL.0 AS fill_frac FROM f") {
    (s, d) =>
      val e = packFrame(s, d)
        .withColumn("p0", expr(s"start_off div $PackL"))
        .withColumn("p1", expr(s"(start_off + ws_tokens - 1) div $PackL"))
      e.select(col("lang"), col("ws_tokens"), col("start_off"),
        explode(sequence(col("p0"), col("p1"))).as("pack_id"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("start_off") >= col("pack_id") * PackL, 1L).otherwise(0L)).as("n_starting"),
          sum(least(col("start_off") + col("ws_tokens"), (col("pack_id") + 1) * PackL)
            - greatest(col("start_off"), col("pack_id") * PackL)).as("filled"))
        .select(col("lang"), col("pack_id"), col("n_docs"), col("n_starting"), col("filled"),
          (col("filled").cast("double") / lit(PackL.toDouble)).as("fill_frac"))
  }

  /** Length-bucket boundaries for padding-batch planning: powers of two
    * from 16 to 4096, with one overflow bucket above (real pipelines
    * chunk longer docs upstream — q_text_chunk). Pinned so the Spark and
    * oracle folded-when chains can never disagree. */
  private val LenBuckets = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
  private val LenOverflow = 8192L

  /** Length bucketing for PADDED batching (r12) — the other packing
    * discipline next to concat-and-chunk (q_pack_sequences): group docs
    * into power-of-two token-length buckets and publish, per (lang,
    * bucket), the doc/token counts, the padded token capacity
    * (n_docs × bucket_max), and the pad-waste fraction — the number a
    * training team reads to choose between padding and packing, and the
    * bucket histogram a dynamic-batching loader is built from. The
    * bucket key is a folded-when chain over pinned integer boundaries
    * (integer-pure, engine-portable, and — unlike a log2 form — no
    * boundary ulp cases); the only published double is one pinned
    * division. One map pass + one (lang, bucket)-keyed aggregate;
    * buckets merge across shards by addition (sketch property). */
  val packLengthBuckets = Q("q_pack_length_buckets",
    "power-of-two token-length buckets with padded-batch waste")({
    val caseSql = LenBuckets.map(b => s"WHEN n <= $b THEN $b").mkString(" ")
    "WITH t AS (SELECT lang, " +
      "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n FROM documents), " +
      s"b AS (SELECT lang, CASE $caseSql ELSE $LenOverflow END AS bucket_max, n FROM t), " +
      "g AS (SELECT lang, bucket_max, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n) AS BIGINT) AS sum_tokens FROM b GROUP BY 1, 2) " +
      "SELECT lang, bucket_max, n_docs, sum_tokens, " +
      "CAST(n_docs * bucket_max AS BIGINT) AS padded_tokens, " +
      graft.util.Exact.Sql.pinScoreInt(
        "CAST(n_docs * bucket_max - sum_tokens AS DOUBLE) / CAST(n_docs * bucket_max AS DOUBLE)") +
      " AS pad_waste FROM g"
  }) {
    (s, d) =>
      val n = size(split(trim(col("text")), "\\s+")).cast("long")
      val bucket = LenBuckets.foldRight(lit(LenOverflow): Column) {
        case (b, rest) => when(col("n") <= b, b).otherwise(rest)
      }
      documents(s, d).select(col("lang"), n.as("n"))
        .withColumn("bucket_max", bucket)
        .groupBy("lang", "bucket_max")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"))
        .select(col("lang"), col("bucket_max"), col("n_docs"), col("sum_tokens"),
          (col("n_docs") * col("bucket_max")).as("padded_tokens"),
          Exact.pinScoreInt(
            (col("n_docs") * col("bucket_max") - col("sum_tokens")).cast("double") /
              (col("n_docs") * col("bucket_max")).cast("double")).as("pad_waste"))
  }

  /** The oracle's exploded-embedding prologue (local twin of
    * VectorQueries' vecsSql, without the norm CTE). */
  private val embExplodeSql =
    "WITH v AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e, " +
      "unnest(range(1, len(embedding)+1)) AS i FROM embeddings), "

  /** Spark twin: (i, e) rows, i 1-based long like the oracle's range. */
  private def embExplode(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(transform(col("embedding"), _.cast("double"))))
      .toDF("vec_id", "p", "e")
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("e"))

  /** Per-dimension affine int8 scalar quantization — the embedding
    * compression step of a 100 TB vector store (4× over float32 before
    * PQ): code = clamp(round((e−mn)/sc)), sc = (mx−mn)/255. Published
    * per-dim: the range, code extremes, saturation count, and max/mean
    * absolute reconstruction error. Every float op is a fixed sequence of
    * correctly-rounded IEEE primitives on both engines (floor(x+0.5)
    * instead of round() — round's half-rule is engine-defined, floor's
    * isn't); max() is order-free and the mean rides the decimal-exact
    * sum, so the 64-row result is bit-stable. Constant dims (mx = mn)
    * pin code 0 rather than divide by zero. */
  val embQuantizeInt8 = Q("q_emb_quantize_int8", "per-dim int8 affine quantization + recon error")(
    embExplodeSql +
      "st AS (SELECT i, min(e) AS mn, max(e) AS mx, count(*) AS n FROM v GROUP BY 1), " +
      "q AS (SELECT v.i, v.e, st.mn, st.mx, (st.mx - st.mn) / 255.0 AS sc, " +
      "CASE WHEN st.mx > st.mn THEN least(CAST(floor((v.e - st.mn) / ((st.mx - st.mn) / 255.0) + 0.5) AS BIGINT), 255) " +
      "ELSE 0 END AS code FROM v JOIN st ON st.i = v.i), " +
      "r AS (SELECT i, code, abs(e - (mn + code * sc)) AS err FROM q) " +
      "SELECT i, min(code) AS min_code, max(code) AS max_code, " +
      "CAST(sum(CASE WHEN code = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi, " +
      "max(err) AS max_abs_err, " +
      "CAST(SUM(CAST(err AS DECIMAL(38,8))) AS DOUBLE) / count(*) AS mean_abs_err " +
      "FROM r GROUP BY 1") {
    (s, d) =>
      val v = embExplode(embeddings(s, d))
      val st = v.groupBy("i").agg(min("e").as("mn"), max("e").as("mx"))
      val q = v.join(broadcast(st), Seq("i"))
        .withColumn("sc", (col("mx") - col("mn")) / lit(255.0))
        .withColumn("code", when(col("mx") > col("mn"),
          least(floor((col("e") - col("mn")) / col("sc") + lit(0.5)), lit(255L)))
          .otherwise(lit(0L)))
        .withColumn("err", abs(col("e") - (col("mn") + col("code") * col("sc"))))
      q.groupBy("i").agg(
        min("code").as("min_code"), max("code").as("max_code"),
        sum(when(col("code") === 255, 1L).otherwise(0L)).as("n_hi"),
        max("err").as("max_abs_err"),
        (Exact.exactSum(col("err")) / count(lit(1))).as("mean_abs_err"))
  }

  private val PcaIters = 3

  /** One oracle power-iteration block: dot per vector against the
    * previous component, per-dim re-projection, norm, normalize — every
    * float sum through the decimal-exact detour (products at scale 8,
    * squares at scale 4 per the Exact.DSq rationale). */
  private def pcaIterCte(t: Int): String = {
    val prev = if (t == 1) "v0" else s"vv${t - 1}"
    s"d$t AS (SELECT x.vec_id, CAST(SUM(CAST(x.c * $prev.vv AS DECIMAL(38,8))) AS DOUBLE) AS dot " +
      s"FROM x JOIN $prev ON $prev.i = x.i GROUP BY 1), " +
      s"s$t AS (SELECT x.i, CAST(SUM(CAST(x.c * d$t.dot AS DECIMAL(38,8))) AS DOUBLE) AS sv " +
      s"FROM x JOIN d$t ON d$t.vec_id = x.vec_id GROUP BY 1), " +
      s"n$t AS (SELECT sqrt(CAST(SUM(CAST(sv*sv AS DECIMAL(38,4))) AS DOUBLE)) AS nrm FROM s$t), " +
      s"vv$t AS (SELECT i, sv / n$t.nrm AS vv FROM s$t, n$t), "
  }

  /** The full oracle training prologue — explode, mean, centered frame,
    * deterministic start, all PcaIters iteration blocks. ONE text spliced
    * by q_emb_pca_power and q_emb_pca_project so the trained component
    * can never fork between them. */
  private val pcaCtesSql =
    embExplodeSql +
      "mu AS (SELECT i, CAST(SUM(CAST(e AS DECIMAL(38,8))) AS DOUBLE)/count(*) AS mu FROM v GROUP BY 1), " +
      "x AS (SELECT v.vec_id, v.i, v.e - mu.mu AS c FROM v JOIN mu ON mu.i = v.i), " +
      "v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS vv FROM mu), " +
      (1 to PcaIters).map(pcaIterCte).mkString

  /** Spark twin of the training prologue: returns (mu rows (i, mu),
    * materialized centered corpus (vec_id, c_arr), final component rows
    * (i, vv)). Shared by both registered PCA queries. */
  private def pcaParts(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftColumnBridge
    def ddot(a: Column, b: Column) = GraftColumnBridge.column(graft.functions.DecimalDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
    val base = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("ev"))
    val mu = embExplode(embeddings(s, d)).groupBy("i")
      .agg((Exact.exactSum(col("e")) / count(lit(1))).as("mu")).localCheckpoint()
    // d-sized frames travel as ONE packed array row (the fold-assignment
    // broadcast shape): array_sort on struct(i, ·) orders by i
    val muPack = mu.select(struct(col("i"), col("mu")).as("m"))
      .agg(array_sort(collect_list(col("m"))).as("ms"))
      .select(transform(col("ms"), _.getField("mu")).as("mu_arr"))
    val packed = base.crossJoin(broadcast(muPack))
      .select(col("vec_id"), zip_with(col("ev"), col("mu_arr"), (x, m) => x - m).as("c_arr"))
      .localCheckpoint() // all iterations re-read the centered corpus
    def step(vPack: DataFrame): DataFrame = {
      val withDot = packed.crossJoin(broadcast(vPack))
        .select(col("c_arr"), ddot(col("c_arr"), col("v_arr")).as("dot"))
      val sF = withDot.select(col("dot"), posexplode(col("c_arr")))
        .toDF("dot", "p", "c")
        .groupBy((col("p") + 1).cast("long").as("i"))
        .agg(Exact.exactSum(col("c") * col("dot")).as("sv"))
      val nrm = sF.agg(sqrt(Exact.exactSum(col("sv") * col("sv"), 4)).as("nrm"))
      sF.crossJoin(broadcast(nrm))
        .select(col("i"), (col("sv") / col("nrm")).as("vv")).localCheckpoint()
    }
    val v0 = muPack.select(transform(col("mu_arr"), _ => lit(0.125)).as("v_arr"))
    val vT = (1 to PcaIters).foldLeft((v0, Option.empty[DataFrame])) {
      case ((vPack, _), _) =>
        val vNext = step(vPack)
        (packVArr(vNext), Some(vNext))
    }._2.get
    (mu, packed, vT)
  }

  /** Pack (i, vv) rows into one sorted-array row (v_arr) for broadcast. */
  private def packVArr(vf: DataFrame): DataFrame =
    vf.select(struct(col("i"), col("vv")).as("x"))
      .agg(array_sort(collect_list(col("x"))).as("xs"))
      .select(transform(col("xs"), _.getField("vv")).as("v_arr"))

  /** Top principal component of the (centered) embedding table by
    * $PcaIters power iterations from the deterministic all-0.125 start —
    * distributed PCA without ever materializing the d×d covariance: each
    * iteration computes C·v as Σ_rows (x−μ)·((x−μ)·v).
    *
    * Spark plan: the per-row dot is decimal_dot over the PACKED centered
    * array against the broadcast component (map-only — the corpus never
    * rides a shuffle for the dot); the per-dim re-projection is one
    * posexplode → d-keyed hash aggregate; norm and normalize are d-sized.
    * The oracle replays the identical arithmetic as chained CTE blocks
    * (the Lloyd-replay discipline of q_dedup_semantic): decimal-exact
    * sums make every iteration's component bit-identical across engines,
    * and sqrt/divide are single correctly-rounded IEEE ops. Sign is
    * pinned by the all-positive start. */
  val embPcaPower = Q("q_emb_pca_power", s"top principal component via $PcaIters power iterations")(
    pcaCtesSql +
      "muf AS (SELECT i, mu FROM mu) " +
      s"SELECT muf.i, muf.mu, vv$PcaIters.vv AS loading " +
      s"FROM muf JOIN vv$PcaIters ON vv$PcaIters.i = muf.i") {
    (s, d) =>
      val (mu, _, vT) = pcaParts(s, d)
      mu.join(vT, "i").select(col("i"), col("mu"), col("vv").as("loading"))
  }

  /** Projection onto the trained component: per-vector principal score
    * (the 1-d embedding of the corpus's dominant direction) and the
    * squared reconstruction residual ‖x−μ‖² − score² — the "how much of
    * this vector the component does NOT explain" outlier signal. One
    * map-only decimal_dot pass per published column over the already-
    * materialized centered corpus; the oracle replays the identical
    * training then projects through the same decimal-exact sums. */
  val embPcaProject = Q("q_emb_pca_project", "principal-component score + reconstruction residual")(
    pcaCtesSql +
      s"proj AS (SELECT x.vec_id, CAST(SUM(CAST(x.c * vv$PcaIters.vv AS DECIMAL(38,8))) AS DOUBLE) AS score " +
      s"FROM x JOIN vv$PcaIters ON vv$PcaIters.i = x.i GROUP BY 1), " +
      "cn AS (SELECT vec_id, CAST(SUM(CAST(c*c AS DECIMAL(38,8))) AS DOUBLE) AS cn2 FROM x GROUP BY 1) " +
      "SELECT p.vec_id, p.score, greatest(0.0, cn.cn2 - p.score*p.score) AS resid " +
      "FROM proj p JOIN cn ON cn.vec_id = p.vec_id") {
    (s, d) =>
      import org.apache.spark.sql.GraftColumnBridge
      def ddot(a: Column, b: Column) = GraftColumnBridge.column(graft.functions.DecimalDot(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
      val (_, packed, vT) = pcaParts(s, d)
      packed.crossJoin(broadcast(packVArr(vT)))
        .select(col("vec_id"),
          ddot(col("c_arr"), col("v_arr")).as("score"),
          ddot(col("c_arr"), col("c_arr")).as("cn2"))
        .select(col("vec_id"), col("score"),
          greatest(lit(0.0), col("cn2") - col("score") * col("score")).as("resid"))
  }

  /** Per-dimension whitening / standardization audit (r10): z-score
    * every embedding component against its dimension's population
    * mean/std, then publish per-VECTOR the whitened squared norm (as the
    * raw 2⁻³⁰ grid-cell SUM — an integer, order-free), the pinned max
    * |z|, and the count of dimensions beyond 3σ. For a well-conditioned
    * embedding table the whitened norm² concentrates near d and n_out3
    * near 0 — the post-whitening health check run before cosine/PQ
    * machinery that assumes roughly isotropic inputs. Constant
    * dimensions (sd = 0) whiten to 0 rather than divide by zero.
    *
    * Portability: per-dim mean/std ride the decimal-exact sums (the
    * q_agg_mean_std contract); each z is a fixed sequence of
    * correctly-rounded ops; the norm² addends are floored onto the grid
    * and summed as INTEGERS (order-free); max is order-free; the 3σ
    * compare sees bit-identical z on both engines. Scale: one d-sized
    * stats aggregate broadcast back + one map-side pass + one
    * vec_id-keyed aggregate — corpus-linear, no windows. */
  val embWhiten = Q("q_emb_whiten", "per-dim whitening: norm cell + max |z| + 3-sigma dims per vector")(
    embExplodeSql +
      "st AS (SELECT i, " + Exact.Sql.avg("e") + " AS mu, " +
      Exact.Sql.stddevPop("e") + " AS sd FROM v GROUP BY 1), " +
      "w AS (SELECT v.vec_id, CASE WHEN st.sd > 0 THEN (v.e - st.mu) / st.sd " +
      "ELSE 0.0 END AS w FROM v JOIN st ON st.i = v.i) " +
      "SELECT vec_id, " +
      "CAST(SUM(CAST(floor(w * w * 1073741824.0) AS BIGINT)) AS BIGINT) AS wn2_cell, " +
      Exact.Sql.pinScoreInt("max(abs(w))") + " AS max_absz, " +
      "CAST(sum(CASE WHEN abs(w) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out3 " +
      "FROM w GROUP BY 1") {
    (s, d) =>
      val v = embExplode(embeddings(s, d))
      val st = v.groupBy("i").agg(Exact.exactAvg(col("e")).as("mu"),
        Exact.exactStddevPop(col("e")).as("sd"))
      val w = v.join(broadcast(st), "i")
        .select(col("vec_id"),
          when(col("sd") > 0, (col("e") - col("mu")) / col("sd"))
            .otherwise(lit(0.0)).as("w"))
      w.groupBy("vec_id").agg(
        sum(floor(col("w") * col("w") * lit(1073741824.0)).cast("long")).as("wn2_cell"),
        Exact.pinScoreInt(max(abs(col("w")))).as("max_absz"),
        sum(when(abs(col("w")) > 3.0, 1L).otherwise(0L)).as("n_out3"))
  }

  /** BPE training primitive (r10): the FIRST merge step of byte-pair
    * encoding — adjacent symbol-pair counts over the character-level
    * symbolization of the corpus vocabulary, weighted by word frequency
    * (Sennrich et al.'s algorithm counts pairs on the word-type table,
    * not the running text — the corpus appears only through the word
    * counts). Published: the top-20 merge candidates with their weighted
    * pair counts and ranks; a tokenizer trainer loops this step, merging
    * rank 1 and re-counting.
    *
    * Scale: the pair enumeration runs on the VOCABULARY (word-type)
    * table, not the corpus — the corpus-sized work is one (word) hash
    * agg with map-side partial; everything after is |vocab| × word_len
    * rows. The final ranking window is over the distinct-pair keyspace —
    * bounded by charset² (a few hundred rows), the same bounded-window
    * justification as q_agg_gini_source. Ties break on the pair string,
    * matching the deterministic-merge-order requirement of a
    * reproducible tokenizer. */
  val bpeMergePairs = Q("q_bpe_merge_pairs", "BPE first-merge-step weighted pair counts (top 20)")(
    "WITH " + TextQueries.tokwBody +
      ", wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM tokw GROUP BY 1), " +
      "wp AS (SELECT word, wc, unnest(range(1, len(word))) AS i FROM wc), " +
      "pc AS (SELECT substr(word, i, 2) AS pair, CAST(sum(wc) AS BIGINT) AS n_pair " +
      "FROM wp GROUP BY 1), " +
      "r AS (SELECT pair, n_pair, CAST(row_number() OVER " +
      "(ORDER BY n_pair DESC, pair) AS BIGINT) AS rank FROM pc) " +
      "SELECT rank, pair, n_pair FROM r WHERE rank <= 20") {
    (s, d) =>
      val wc = graft.ops.TextOps.explodeTokens(documents(s, d))
        .groupBy("word").agg(count(lit(1)).as("wc"))
      // sequence(1, len-1) only when len >= 2: Spark's sequence DESCENDS
      // when stop < start, so the guard is load-bearing, not cosmetic.
      val pairs = wc.select(col("wc"),
        explode(when(length(col("word")) >= 2,
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2))))
          .otherwise(typedLit(Array.empty[String]))).as("pair"))
      val pc = pairs.groupBy("pair").agg(sum("wc").as("n_pair"))
      val w = Window.orderBy(col("n_pair").desc, col("pair"))
      pc.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("pair"), col("n_pair"))
  }

  /** Intrinsic-dimensionality estimate of the embedding table (r11) —
    * the participation ratio PR = (Σᵢ σᵢ²)² / Σᵢ σᵢ⁴ over the per-dim
    * variances (the diagonal variance spectrum; with decorrelated dims
    * it counts how many dimensions carry real signal: 64 isotropic dims
    * → PR = 64, one dominant dim → PR → 1). The one-number anisotropy
    * collapse gauge read WITH q_emb_whiten (per-vector z-health) and
    * q_emb_pca_power (the top component itself): a PR crash between
    * embedding-model versions means cosine and PQ geometry silently
    * degraded. top_var_share pins the same story from the other end.
    *
    * Scale: one d-keyed exact-moment aggregate over the exploded table
    * (the q_emb_quantize_int8 shape), then a d-row fold — corpus-linear,
    * output is one row. The d-row folds ride the portable grid (their
    * order is partition-dependent); everything published is a grid
    * cell. */
  val embIntrinsicDim = Q("q_emb_intrinsic_dim",
    "participation-ratio intrinsic dimensionality of the embeddings")(
    embExplodeSql +
      "st AS (SELECT i, COUNT(e) AS n, " + Exact.Sql.sum("e") + " AS s, " +
      Exact.Sql.sum("e*e", 4) + " AS sq FROM v GROUP BY 1), " +
      "vr AS (SELECT i, greatest(0.0, (sq - s*s/n) / n) AS vx FROM st), " +
      "f AS (SELECT CAST(count(*) AS BIGINT) AS n_dims, " +
      Exact.Sql.portableSum("vx") + " AS sv, " +
      Exact.Sql.portableSum("vx*vx") + " AS sv2, max(vx) AS mx FROM vr) " +
      "SELECT n_dims, " + Exact.Sql.pinScoreInt("sv") + " AS total_var, " +
      "CASE WHEN sv2 > 0 THEN " + Exact.Sql.pinScoreInt("(sv * sv) / sv2") +
      " END AS participation_ratio, " +
      "CASE WHEN sv > 0 THEN " + Exact.Sql.pinScoreInt("mx / sv") +
      " END AS top_var_share FROM f") {
    (s, d) =>
      val v = embExplode(embeddings(s, d))
      val st = v.groupBy("i").agg(count("e").as("n"),
        Exact.exactSum(col("e")).as("s"),
        Exact.exactSum(col("e") * col("e"), 4).as("sq"))
      val vr = st.select(greatest(lit(0.0),
        (col("sq") - col("s") * col("s") / col("n")) / col("n")).as("vx"))
      vr.agg(count(lit(1)).as("n_dims"),
        Exact.portableSum(col("vx")).as("sv"),
        Exact.portableSum(col("vx") * col("vx")).as("sv2"),
        max(col("vx")).as("mx"))
        .select(col("n_dims"), Exact.pinScoreInt(col("sv")).as("total_var"),
          when(col("sv2") > 0, Exact.pinScoreInt(
            (col("sv") * col("sv")) / col("sv2"))).as("participation_ratio"),
          when(col("sv") > 0, Exact.pinScoreInt(col("mx") / col("sv")))
            .as("top_var_share"))
  }

  /** Explained-variance share of the top principal component (r11) —
    * the number PCA is RUN for: λ₁ (the variance of the trained
    * component's projection scores) over the total per-dim variance
    * mass, both taken from REGISTERED operators (q_emb_pca_project's
    * score frame and q_emb_intrinsic_dim's total, inlined oracle-side /
    * shared fn Spark-side — the audit-the-registered pattern). Read
    * with the participation ratio: PR says how many directions carry
    * signal, this says how much the single biggest one carries — a
    * var_explained spike between embedding versions is the anisotropy
    * collapse q_emb_whiten flags per vector, summarized in one number.
    * By PCA optimality λ₁ ≥ every single dimension's variance, so
    * var_explained ≥ q_emb_intrinsic_dim's top_var_share — an invariant
    * the spec pins.
    *
    * Scale: one corpus-sized moment fold over the existing score frame
    * + the d-sized variance fold; output is one row. */
  val embVarExplained = Q("q_emb_var_explained",
    "explained-variance share of the top principal component")(
    "WITH rep AS (" + embPcaProject.oracle.get + "), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      Exact.Sql.sum("score") + " AS sx, " +
      Exact.Sql.sum("score * score", 4) + " AS sq FROM rep), " +
      "iv AS (" + embIntrinsicDim.oracle.get + "), " +
      "f AS (SELECT n, greatest(0.0, (sq - sx * sx / n) / n) AS lam1, " +
      "CAST(iv.total_var AS DOUBLE) / 1073741824.0 AS tv FROM st CROSS JOIN iv) " +
      "SELECT CAST(n AS BIGINT) AS n_vecs, " +
      Exact.Sql.pinScoreInt("lam1") + " AS lambda1, " +
      "CASE WHEN tv > 0 THEN " + Exact.Sql.pinScoreInt("lam1 / tv") +
      " END AS var_explained FROM f") {
    (s, d) =>
      val st = embPcaProject.fn(s, d).agg(
        count(lit(1)).cast("double").as("n"),
        Exact.exactSum(col("score"), 8).as("sx"),
        Exact.exactSum(col("score") * col("score"), 4).as("sq"))
      val tv = embIntrinsicDim.fn(s, d)
        .select((col("total_var").cast("double") / 1073741824.0).as("tv"))
      st.crossJoin(broadcast(tv))
        .select(col("n").cast("long").as("n_vecs"),
          Exact.pinScoreInt(greatest(lit(0.0),
            (col("sq") - col("sx") * col("sx") / col("n")) / col("n"))).as("lambda1"),
          when(col("tv") > 0, Exact.pinScoreInt(greatest(lit(0.0),
            (col("sq") - col("sx") * col("sx") / col("n")) / col("n")) / col("tv")))
            .as("var_explained"))
  }

  /** Random-projection target dimensionality. */
  private val RpK = 8

  /** Deterministic ±1 random projection (r12) — the Johnson-Lindenstrauss
    * dimensionality-reduction step ahead of ANN / clustering at 100 TB:
    * y_j = Σ_i x_i · s_ij with s_ij = ±1 by the PARITY of the portable
    * hash of ("rp:i:j") — a sign matrix both engines (and any future
    * re-scoring job) can regenerate from nothing, so the projection needs
    * no stored model artifact and shards project independently. Published
    * in long form (vec_id, j, y): each y is ONE decimal-exact dot of the
    * embedding against the j-th broadcast sign row (the codegen'd
    * decimal_dot fold — identical addend multiset to the oracle's
    * exploded-join SUM, so bit-equal under any partitioning). Map-only:
    * corpus × k rows out, no shuffle anywhere; the k×d sign matrix is a
    * driver-built literal (corpus-independent, 8×64 doubles). */
  val embRandProj = Q("q_emb_rand_proj",
    s"deterministic ±1 sign random projection to $RpK dims (long form)")(
    "WITH v AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e, " +
      "unnest(range(1, len(embedding)+1)) AS i FROM embeddings), " +
      s"js AS (SELECT unnest(range(1, ${RpK + 1})) AS j), " +
      "r AS (SELECT d.i, js.j, CASE WHEN (('0x' || substr(md5('rp:' || CAST(d.i AS VARCHAR) " +
      "|| ':' || CAST(js.j AS VARCHAR)), 1, 8))::BIGINT % 2) = 0 THEN 1.0 ELSE -1.0 END AS s " +
      "FROM (SELECT DISTINCT i FROM v) d CROSS JOIN js) " +
      "SELECT v.vec_id, CAST(r.j AS BIGINT) AS j, " +
      "CAST(SUM(CAST(v.e * r.s AS DECIMAL(38,8))) AS DOUBLE) AS y " +
      "FROM v JOIN r ON r.i = v.i GROUP BY 1, 2") {
    (s, d) =>
      val base = embeddings(s, d)
      val dims = base.select(size(col("embedding")).as("d")).head().getInt(0)
      def h32(str: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(str.getBytes("UTF-8"))
        java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
      }
      val signRows = (1 to RpK).map { j =>
        (j.toLong, (1 to dims).map(i =>
          if (h32(s"rp:$i:$j") % 2 == 0) 1.0 else -1.0))
      }
      import s.implicits._
      val sdf = signRows.toDF("j", "sj")
      base.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("ev"))
        .crossJoin(broadcast(sdf))
        .select(col("vec_id"), col("j"), expr("decimal_dot(ev, sj)").as("y"))
  }

  /** JL distortion audit of the registered projection (r12) — the gauge
    * that PRICES q_emb_rand_proj before anyone searches in 8 dims (the
    * recall-gauge discipline applied to a transformation instead of an
    * index): per label-blocked pair, squared distances in the original
    * and projected spaces and their normalized ratio d2p / (k·d2o) —
    * E[ratio] = 1 for a ±1 sign projection, and the per-pair spread IS
    * the JL distortion actually realized on this corpus. Both distances
    * are decimal-exact dots of difference vectors; the ratio is one
    * pinned IEEE expression (NULL for identical vectors — nothing to
    * distort). Pair volume is the label blocking's (the
    * q_dedup_embed_cosine contract: bounded, salted); the oracle inlines
    * the REGISTERED projection oracle as a derived table, so this gauge
    * certifies the projection users actually run. */
  val evalRandProj = Q("q_eval_rand_proj",
    "per-pair JL distortion of the registered ±1 random projection")(
    "WITH v AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e, " +
      "unnest(range(1, len(embedding)+1)) AS i FROM embeddings), " +
      "proj AS (SELECT * FROM (" + embRandProj.oracle.get + ")), " +
      "pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM embeddings a " +
      "JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), " +
      "od AS (SELECT pr.va, pr.vb, " +
      "CAST(SUM(CAST((x.e - y.e) * (x.e - y.e) AS DECIMAL(38,8))) AS DOUBLE) AS d2o " +
      "FROM pairs pr JOIN v x ON x.vec_id = pr.va " +
      "JOIN v y ON y.vec_id = pr.vb AND y.i = x.i GROUP BY 1, 2), " +
      "pd AS (SELECT pr.va, pr.vb, " +
      "CAST(SUM(CAST((pa.y - pb.y) * (pa.y - pb.y) AS DECIMAL(38,8))) AS DOUBLE) AS d2p " +
      "FROM pairs pr JOIN proj pa ON pa.vec_id = pr.va " +
      "JOIN proj pb ON pb.vec_id = pr.vb AND pb.j = pa.j GROUP BY 1, 2) " +
      "SELECT od.va, od.vb, " +
      graft.util.Exact.Sql.pinScoreInt("od.d2o") + " AS d2_orig, " +
      graft.util.Exact.Sql.pinScoreInt("pd.d2p") + " AS d2_proj, " +
      "CASE WHEN od.d2o > 0 THEN " +
      graft.util.Exact.Sql.pinScoreInt(s"pd.d2p / ($RpK.0 * od.d2o)") +
      " END AS distortion " +
      "FROM od JOIN pd ON pd.va = od.va AND pd.vb = od.vb") {
    (s, d) =>
      import graft.util.Exact
      val proj = embRandProj.fn(s, d)
      val yArr = proj.groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(j, y))), p -> p.y)").as("yv"))
      val base = embeddings(s, d)
      val a = base.select(col("vec_id").as("va"), col("label"),
        transform(col("embedding"), _.cast("double")).as("ea"))
      val b = base.select(col("vec_id").as("vb"), col("label"),
        transform(col("embedding"), _.cast("double")).as("eb"))
      val diffSq = "zip_with(ea, eb, (x, y) -> x - y)"
      val pdiffSq = "zip_with(ya, yb, (x, y) -> x - y)"
      graft.ops.VectorOps.saltedBlockJoin(a, b, "label", col("va"), 8)
        .filter(col("va") < col("vb"))
        .join(yArr.select(col("vec_id").as("va"), col("yv").as("ya")), Seq("va"))
        .join(yArr.select(col("vec_id").as("vb"), col("yv").as("yb")), Seq("vb"))
        .select(col("va"), col("vb"),
          expr(s"decimal_dot($diffSq, $diffSq)").as("d2o"),
          expr(s"decimal_dot($pdiffSq, $pdiffSq)").as("d2p"))
        .select(col("va"), col("vb"),
          Exact.pinScoreInt(col("d2o")).as("d2_orig"),
          Exact.pinScoreInt(col("d2p")).as("d2_proj"),
          when(col("d2o") > 0, Exact.pinScoreInt(
            col("d2p") / (lit(RpK.toDouble) * col("d2o")))).as("distortion"))
  }

  /** Deterministic MLM masking plan (r12) — the BERT-style 15%
    * token-masking schedule as a DATA artifact instead of a loader-side
    * RNG: token (doc, position) is masked iff the portable 32-bit hash
    * of "mlm:doc:pos" lands below 15/100 — so the plan is reproducible
    * on any engine, any partitioning, any rerun (the q_split_shards /
    * q_emb_rand_proj no-stored-state contract), and an epoch's mask set
    * can be AUDITED (this query) rather than trusted. Published per doc:
    * token count, masked count, pinned realized rate — the corpus-level
    * check that the schedule really is 15% and not biased by doc length.
    * NULL-text docs are excluded on both engines (no tokens to mask).
    *
    * Scale: map-only explode → one doc-keyed hash aggregate with
    * map-side partials; no joins, no stored model, shards mask
    * independently. */
  val prepMlmMask = Q("q_prep_mlm_mask",
    "deterministic 15% MLM masking plan per doc (portable hash, no RNG state)")(
    "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS sp " +
      "FROM documents WHERE text IS NOT NULL), " +
      "tok AS (SELECT doc_id, unnest(range(1, len(sp)+1)) AS i FROM t), " +
      "m AS (SELECT doc_id, CASE WHEN ('0x' || substr(md5('mlm:' || " +
      "CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT " +
      "% 100 < 15 THEN 1 ELSE 0 END AS msk FROM tok) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(sum(msk) AS BIGINT) AS n_masked, " +
      Exact.Sql.pinScoreInt(
        "CAST(sum(msk) AS DOUBLE) / CAST(count(*) AS DOUBLE)") +
      " AS mask_rate FROM m GROUP BY 1") {
    (s, d) =>
      import graft.ops.TextOps
      val tok = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"))
      tok.select(col("doc_id"),
          when(TextOps.hash32(concat(lit("mlm:"), col("doc_id").cast("string"),
            lit(":"), col("i").cast("string"))) % 100 < 15, 1).otherwise(0).as("msk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("msk").cast("long").as("n_masked"))
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          Exact.pinScoreInt(col("n_masked").cast("double") /
            col("n_tokens").cast("double")).as("mask_rate"))
  }

  /** Context-window fit curve (r12) — for each candidate training
    * context length (512 / 1024 / 2048 / 4096 tokens): how many docs fit
    * WHOLE, what share of docs that is, and what share of corpus TOKEN
    * MASS lives in fitting docs — the two numbers that decide between
    * truncation loss (doc share low) and padding waste (mass share high
    * at a too-large window), read as one curve instead of four
    * re-counts. The q_pack_length_buckets histogram gives the
    * distribution; this gives the DECISION view against the actual
    * window sizes a trainer chooses from. Spine LEFT-join zero-row
    * convention; one token-count map pass + a 4-row broadcast spine. */
  val prepContextFit = Q("q_prep_context_fit",
    "docs and token mass fitting whole into 512/1k/2k/4k contexts")(
    "WITH t AS (SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) " +
      "AS toks FROM documents WHERE text IS NOT NULL), " +
      "w AS (SELECT unnest([512, 1024, 2048, 4096]) AS ctx), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(toks) AS BIGINT) AS n_tokens FROM t), " +
      "f AS (SELECT w.ctx, CAST(count(*) AS BIGINT) AS fit_docs, " +
      "CAST(sum(t.toks) AS BIGINT) AS fit_tokens FROM t CROSS JOIN w " +
      "WHERE t.toks <= w.ctx GROUP BY 1) " +
      "SELECT CAST(w.ctx AS BIGINT) AS ctx, tot.n_docs, tot.n_tokens, " +
      "COALESCE(f.fit_docs, 0) AS fit_docs, COALESCE(f.fit_tokens, 0) AS fit_tokens, " +
      Exact.Sql.pinScoreInt(
        "CAST(COALESCE(f.fit_docs, 0) AS DOUBLE) / CAST(tot.n_docs AS DOUBLE)") +
      " AS doc_share, " +
      Exact.Sql.pinScoreInt(
        "CAST(COALESCE(f.fit_tokens, 0) AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)") +
      " AS token_share FROM w LEFT JOIN f ON f.ctx = w.ctx CROSS JOIN tot") {
    (s, d) =>
      import s.implicits._
      val t = documents(s, d).filter(col("text").isNotNull)
        .select(size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .localCheckpoint(eager = false) // totals AND the sweep read it
      val w = Seq(512L, 1024L, 2048L, 4096L).toDF("ctx")
      val tot = t.agg(count(lit(1)).as("n_docs"), sum("toks").cast("long").as("n_tokens"))
      val f = t.crossJoin(broadcast(w)).filter(col("toks") <= col("ctx"))
        .groupBy("ctx").agg(count(lit(1)).as("fit_docs"),
          sum("toks").cast("long").as("fit_tokens"))
      w.join(f, Seq("ctx"), "left").crossJoin(broadcast(tot))
        .select(col("ctx"), col("n_docs"), col("n_tokens"),
          coalesce(col("fit_docs"), lit(0L)).as("fit_docs"),
          coalesce(col("fit_tokens"), lit(0L)).as("fit_tokens"),
          Exact.pinScoreInt(coalesce(col("fit_docs"), lit(0L)).cast("double") /
            col("n_docs").cast("double")).as("doc_share"),
          Exact.pinScoreInt(coalesce(col("fit_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("token_share"))
  }

  val all: Seq[Q] = Seq(textChunk, packSequences, packEfficiency, embQuantizeInt8,
    embPcaPower, embPcaProject, bpeMergePairs, embWhiten, embIntrinsicDim,
    embVarExplained, packLengthBuckets, embRandProj, evalRandProj, prepMlmMask,
    prepContextFit)
}
