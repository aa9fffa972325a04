package graft

/** Cache hygiene (r4): registered queries must not leak session state.
  * Intra-query reuse points are localCheckpoint'ed, never persist()'ed —
  * persist registers the plan in the session CacheManager, which holds it
  * until an explicit unpersist no query-shaped API can issue, so a
  * long-lived session accretes dead cached blocks. localCheckpoint blocks
  * hang off the result frame's lineage and the ContextCleaner frees them
  * once the frame is garbage; the CacheManager stays empty throughout.
  */
class CacheHygieneSpec extends SparkSpec {

  /** Every query whose implementation materializes an intermediate
    * (minhash signatures/bands, ngram candidates, cosine pre-screen,
    * IVF assignment, LSH sketch, contamination shingles, CC labels). */
  private val materializingQueries = Seq(
    "q_dedup_minhash", "q_minhash_jaccard_est", "q_dedup_ngram_jaccard",
    "q_dedup_simhash_pairs", "q_ann_cosine_topk", "q_ann_ivf",
    "q_ann_lsh", "q_ann_lsh_probe", "q_contamination", "q_dedup_cluster",
    "q_dedup_keep_best", "q_tokens_budget", "q_quantile_group", "q_win_ntile")

  test("no registered query leaves CacheManager entries behind") {
    materializingQueries.foreach { id =>
      SparkEntry.queries(id)(spark, sf).write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$id left plan-cache entries in the session CacheManager")
    }
  }

  test("checkpoint blocks drain once result frames are unreachable") {
    val sc = spark.sparkContext
    materializingQueries.foreach { id =>
      SparkEntry.queries(id)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    // the frames above are unreachable now; the ContextCleaner releases
    // their checkpoint blocks after GC — poll briefly (cleaner is async)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var remaining = sc.getPersistentRDDs.size
    while (remaining > 0 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      remaining = sc.getPersistentRDDs.size
    }
    assert(remaining == 0,
      s"$remaining persistent RDDs still registered after GC + cleaner drain")
  }

  test("CorpusPipeline.run releases its persisted dedup input when step 2 throws") {
    val root = java.nio.file.Files.createTempDirectory("graft_hygiene").toString
    // a file where the silver layer's directory belongs: bronze is
    // written, then step 2's write of silver/deduped fails
    assert(new java.io.File(s"$root/silver").createNewFile())
    intercept[Exception](
      CorpusPipeline.run(spark, graft.util.Tables.documents(spark, sf), root))
    assert(new java.io.File(s"$root/bronze/documents").exists())
    assert(spark.sharedState.cacheManager.isEmpty,
      "step 2's persisted frame is still in the session CacheManager")
  }
}
