package graft.util

import org.apache.spark.sql.SparkSession

/** One place for engine tuning so Verify / Bench / tests / user code get
  * identical sessions.
  *
  * Scale rationale (targets a 1000-executor cluster; locally one core
  * per available processor unless SPARK_GRAFT_CPUS says otherwise):
  * - shuffle.partitions = 2× the session's cores (see [[shuffleParts]])
  *   and AQE ON to coalesce the small ones back.
  * - WindowExec/SMJ buffers: Spark spills window/join buffers to disk
  *   after 4096 rows per partition — pathological for month-partitioned
  *   windows where a task legitimately holds 10⁴-10⁶ rows. We raise the
  *   in-memory threshold; executors sized for that (documented in README).
  * - UTC timezone everywhere: the reference day-normalizes tz-naive UTC
  *   (pipeline_helpers.py:213) and the DuckDB oracle agrees.
  * - nanosAsLong: testdata events.ts is parquet TIMESTAMP(NANOS); Spark 4
  *   otherwise refuses the file (Tables.events converts to µs).
  */
object Sessions {
  /** Shuffle partitions = 2× the core count, AQE coalescing folds the
    * small ones back (r15, guide §2.2/§9 "size spark.sql.shuffle
    * .partitions ... and let AQE coalesce"). Same-day A/B on the heaviest
    * shuffle in the registry (q_ann_nn_descent's candidate tail at sf10,
    * min-of-3, this JVM): cores-matched = 71.1 s wall / 1739 s CPU /
    * 28 GB spill; 2× = 50.9 s / 1167 s / 28 GB; 4× = 96.4 s / 1742 s /
    * 0.4 GB. 2× wins wall AND CPU outright — the extra width covers the
    * stage tail without 4×'s task overhead; 4× eliminates the spill but
    * pays ~2× wall for it (in one 16 GB local JVM, spill is a cheap
    * page-cache round trip — guide §5 "some spill is fine"). The value
    * scales with the session's cores, not this machine. */
  private def shuffleParts(cores: String): String = {
    val c = try math.max(1, cores.toInt) catch {
      case _: NumberFormatException => Runtime.getRuntime.availableProcessors()
    }
    (2 * c).toString
  }

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shuffleParts(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // pandas-semantics: invalid casts coerce to null (`errors='coerce'`),
      // no runtime errors mid-pipeline (Spark 4 defaults ANSI on)
      .config("spark.sql.ansi.enabled", "false")
      // bucketed-table writes (q_join_bucketed) land in tmp, not the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      // Generated-class cache (STATIC conf, default 100 entries): a
      // registry of 376 distinct queries holds thousands of distinct
      // codegen fragments, so at the default size every query re-Janino-
      // compiles (and re-JITs) its whole-stage fragments on every
      // execution after the first hundred entries evict — pure fixed
      // overhead per query in any long-lived session (a production driver
      // serving a query mix hits the identical thrash; this is not a
      // bench-shape knob). Sized to hold the full registry's fragments.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "4194304")
      .config("spark.sql.windowExec.buffer.spill.threshold", "2147483647")
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "4194304")
      .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "2147483647")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // engine-native functions available to expr()/SQL in every session
    graft.functions.DecimalDot.register(s)
    s
  }
}
