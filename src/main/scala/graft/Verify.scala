package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query ids — dev-only filter;
    // the driver always calls with two args and dumps everything]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.util.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST (r12): the driver's compare needs it to score
    // ANY query, so writing it after the dump loop meant a mid-run JVM
    // death (OOM, wall-clock kill) zeroed the whole round's correctness
    // instead of keeping the queries already dumped. It is cheap,
    // depends on nothing the loop computes, and a partial dump with the
    // full oracle map degrades to per-query misses, not an empty record.
    writeOracleJson(outDir)
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    val total = todo.size
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // Dump queries CONCURRENTLY (r13): 374 sequential dumps take ~6 min
    // at sf0.01 — most of it per-job scheduling latency, not CPU, since
    // each query only touches sf0.01-sized inputs. SparkSession is
    // thread-safe for concurrent job submission and every query writes
    // to its own dest, so a small submit pool overlaps the scheduling
    // gaps and cuts the wall ~4x. Pool is bounded (default 6) so
    // concurrent shuffles can't blow the single-JVM memory budget.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val tasks = todo.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          // Remove any previous dump FIRST: a failed query must never
          // leave a stale (previous-run) parquet behind for the oracle
          // compare to pass green on.
          val dest = Paths.get(s"$outDir/$name")
          def rmrf(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
          }
          rmrf(dest)
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(dest.toString)
            System.err.println(s"[verify] ${done.incrementAndGet()}/$total $name ok")
          } catch { case scala.util.control.NonFatal(e) =>
            // NonFatal ONLY (ADVICE r13): an OutOfMemoryError or other
            // fatal JVM error must abort the whole run (propagated through
            // task.get() below), not keep 5 more dump threads running
            // against a possibly-corrupted JVM and report per-query misses.
            rmrf(dest)
            failed.add(name)
            System.err.println(s"[verify] ${done.incrementAndGet()}/$total $name FAILED: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // one SHORT machine-readable summary line on stdout (r13): tells the
    // driver (and humans tailing the log) at a glance whether the dump
    // itself completed, independent of the DuckDB compare that follows.
    import scala.jdk.CollectionConverters._
    val failedJson = failed.asScala.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"verify_n":$total,"verify_failed":$failedJson}""")
    // rc stays 0 with PER-QUERY failures: the driver's DuckDB compare
    // scores each query individually — a nonzero rc could be read as
    // "the whole dump failed" and zero the round instead of degrading to
    // per-query misses. But when EVERY query failed the dump genuinely is
    // whole-run broken (bad sfDir, unreadable testdata), and rc 0 would
    // disguise it as 375 individual degradations (ADVICE r13).
    spark.stop()
    if (total > 0 && failed.size == total) sys.exit(1)
  }

  /** JSON string literal, escaping backslash, quote and ALL control chars
    * (<0x20): a tab or CR in a SQL string would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeOracleJson(outDir: String): Unit = {
    // one entry PER LINE (r13): 374 oracle SQL strings on a single line
    // is several hundred KB — the same shape of oversized one-liner that
    // truncated the driver's bench capture in r10-r12. json.load treats
    // the newlines as whitespace; any line-buffered reader stays happy.
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${q(k)}: ${q(v)}" }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
