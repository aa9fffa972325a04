package graft

import graft.lake.Lake
import graft.ops.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data platform entry point — the corpus twin of
  * `graft.Pipelines` (which orchestrates the reference's market-data
  * chain): one fail-fast main that turns a raw document corpus into a
  * curated training mix over Lake layers.
  *
  *   1. Bronze: raw corpus persisted as-is
  *   2. Dedup (Silver): within-doc repeated-line removal (C4 cleanup,
  *      so documents differing only in boilerplate-line repetition
  *      collapse) → normalized exact dedup (case/punct/whitespace
  *      re-encodings collapse) → MinHash-LSH near-dup clustering →
  *      per-cluster keeper selection
  *   3. Quality gate: Gopher-style repetition thresholds plus a token-
  *      entropy floor (template/spam), with a circuit breaker — losing
  *      more than `maxLossPct` of the corpus aborts the chain (bad
  *      thresholds or a poisoned batch must not silently wipe the
  *      dataset)
  *   4. Contamination gate: drop the benchmark source's documents
  *      entirely (eval data must never reach the training mix) plus any
  *      training document overlapping the benchmark's n-gram set
  *   5. PII redaction: email/phone/IPv4 scrubbed from every surviving
  *      document (late, after the gates — no cycles spent redacting
  *      text that filtering was about to drop)
  *   6. Gold: per-language token-budget curation → the training mix
  *   7. Gold: concat-and-chunk sequence packing — the q_pack_sequences
  *      layout over the curated mix, so the lake's final artifact is
  *      directly consumable as fixed-length training sequences
  *
  * Every stage reads the previous stage's LAKE artifact, so a 100 TB run
  * restarts from the last completed layer. Each layer boundary costs one
  * Spark job: counters come from the write (`Lake.write`) and readbacks
  * reuse the written schema (`Lake.read`). The breaker mirrors the
  * reference's quality-gate abort semantics (data_quality_gate.py:101-110)
  * applied to corpus curation.
  */
object CorpusPipeline {

  /** Run report. INTERNAL shape, not a versioned API: fields are added
    * as the chain gains layers (r9 added goldPacks and run()'s packLen
    * without deprecation); external callers should read named fields,
    * never pattern-match or construct positionally. */
  final case class Summary(bronzeRows: Long, afterExact: Long, afterNearDup: Long,
    removedByQuality: Long, removedByContamination: Long, piiDocs: Long,
    goldRows: Long, goldTokens: Long, goldPacks: Long)

  private def log(msg: String): Unit =
    println(s"[corpus-pipeline] $msg")

  def run(spark: SparkSession, raw: DataFrame, lakeRoot: String,
      benchSource: String = "src0", maxDupTokenFrac: Double = 0.7,
      maxTopBigramFrac: Double = 0.18, maxContamFrac: Double = 0.5,
      langBudget: Long = 3000, maxLossPct: Double = 80.0,
      minEntropy: Option[Double] = Some(0.5), packLen: Int = 256,
      compactTargetBytes: Option[Long] = None): Summary = {
    val lake = new Lake(spark, lakeRoot)

    // every layer is one write job whose row count (and, for gold, token
    // total) is observed on that job — nothing re-counts the lake
    log("step 1/7: raw corpus -> bronze")
    val bronzeRows = lake.write(raw, "bronze", "documents").rows
    val bronze = lake.read("bronze", "documents")

    log("step 2/7: line cleanup + exact (normalized) + near-dup dedup -> silver")
    // read three times (count, cluster input, keeper anti-join): persist
    val exact = Corpus.exactDedup(Corpus.dedupLines(bronze), normalized = true).persist()
    val afterExact = exact.count()
    val afterNearDup = lake.write(Corpus.nearDupDedup(exact), "silver", "deduped").rows
    exact.unpersist()

    log("step 3/7: repetition + entropy quality gate")
    // the gate's own count trips the breaker before the layer is written
    val (quality, removedByQuality) =
      Corpus.qualityFilter(lake.read("silver", "deduped"),
        maxDupTokenFrac, maxTopBigramFrac, minEntropy)
    val lossPct = 100.0 * removedByQuality / math.max(afterNearDup, 1L)
    if (lossPct > maxLossPct)
      throw new IllegalStateException(
        f"corpus circuit breaker: quality gate removed $lossPct%.1f%% " +
          f"(> $maxLossPct%.1f%%) — aborting before gold is touched")
    lake.write(quality, "silver", "quality")

    log("step 4/7: benchmark contamination gate")
    val (clean, removedByContamination) =
      Corpus.contaminationFilter(lake.read("silver", "quality"),
        benchSource, maxContamFrac)
    lake.write(clean, "silver", "clean")

    log("step 5/7: PII redaction")
    val (redacted, pii) = Corpus.redactPii(lake.read("silver", "clean"))
    lake.write(redacted, "silver", "redacted")
    val piiDocs = pii.get(Corpus.PiiChanged).asInstanceOf[Long]

    log("step 6/7: per-language token budget -> gold training mix")
    val gold = Corpus.tokenBudget(lake.read("silver", "redacted"), langBudget)
    val goldOut = lake.write(gold, "gold", "training_mix",
      observe = Seq(coalesce(sum("ws_tokens"), lit(0L)).as("tokens")))
    val goldTokens = goldOut[Long]("tokens")

    log("step 7/7: concat-and-chunk packing -> gold training sequences")
    // the q_pack_sequences layout over the CURATED mix (null-text rows
    // carry no tokens and are excluded — a pack is a token run)
    val packed = Corpus.packOffsets(
      lake.read("gold", "training_mix").filter(col("ws_tokens").isNotNull)
        .select(col("doc_id"), col("lang"), col("ws_tokens")))
      .select(col("doc_id"), col("lang"), col("ws_tokens"), col("start_off"),
        expr(s"start_off div $packLen").as("pack_id"),
        (expr(s"(start_off + ws_tokens - 1) div $packLen")
          - expr(s"start_off div $packLen") + 1).as("pack_span"))
    lake.write(packed, "gold", "packed_sequences")
    val goldPacks = lake.read("gold", "packed_sequences")
      .select("lang", "pack_id").distinct().count()

    // optional epilogue (r12): execute the small-file compaction the plan
    // operator (q_file_compaction_plan) only PLANS — the many incremental
    // writes above leave the gold layer as small files; compact() rewrites
    // each leaf to ~target-sized files with a row-count check before the
    // swap, leaving every query over the layer unchanged.
    compactTargetBytes.foreach { target =>
      Seq("training_mix", "packed_sequences").foreach { artifact =>
        val st = lake.compact("gold", artifact, target)
        log(s"epilogue: compacted gold/$artifact " +
          s"${st.filesBefore} -> ${st.filesAfter} files " +
          s"(${st.leavesRewritten} leaves, ${st.rowsVerified} rows verified)")
      }
    }

    log("corpus pipeline completed successfully")
    Summary(bronzeRows, afterExact, afterNearDup, removedByQuality,
      removedByContamination, piiDocs, goldOut.rows, goldTokens, goldPacks)
  }

  /** `runMain graft.CorpusPipeline <sfDir> <lakeRoot>` against the driver
    * testdata's documents table. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val lakeRoot = if (args.length > 1) args(1) else
      java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val spark = graft.util.Sessions.local()
    val s = run(spark, graft.util.Tables.documents(spark, sfDir), lakeRoot)
    log(s"summary: $s (lake at $lakeRoot)")
    spark.stop()
  }
}
