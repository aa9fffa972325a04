package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import graft.tools.Measure

/** Benchmark main — driver contract: ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  * Each query runs in full into the `noop` sink. A warmup pass first: JIT
  * + codegen compile dominate cold single-query times at small scale and
  * say nothing about steady-state throughput. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local()
    // ERROR-only: hundreds of WindowExec "No Partition Defined" WARNs
    // (domain-bounded windows, DESIGN §4) buried the summary line.
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
    // only NonFatal failures are the query's own; a fatal JVM error (OOM,
    // linkage) ends the run instead of being timed as a "failed" query
    names.foreach(n => try Measure.noop(spark, sfDir, n) catch { case NonFatal(_) => () })
    // most sf0.1 queries are latency-bound: task-time / wall, the realized
    // core count, shows what wall cannot. Each measured run has its own
    // job tag, so its ledger tally is exactly that query's.
    val ledger = new Measure.Ledger(spark)
    // two measured passes, keep the per-query minimum: a single pass is
    // hostage to GC pauses / background load. A failing query must NOT
    // report its time-to-failure as a cost (an early throw would "improve"
    // the total): it records -1, is listed as failed and left out of the
    // total, and its last cause goes to BENCH_DETAIL.json.
    val causes = scala.collection.mutable.Map.empty[String, String]
    def tag(pass: Int, name: String) = s"bench-$pass-$name"
    def pass(p: Int): Map[String, Option[(Double, String)]] = names.map { name =>
      val s = Measure.run(spark, tag(p, name))(Measure.noop(spark, sfDir, name))
      s.failure.foreach { e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        causes(name) = e.toString
      }
      name -> (if (s.ok) Some(s.wallS -> tag(p, name)) else None)
    }.toMap
    val p1 = pass(1); val p2 = pass(2)
    ledger.settle()
    // per id: the min wall and its pass's tag (same steady-state rationale)
    val best = names.map(n => n -> (for { a <- p1(n); b <- p2(n) } yield Seq(a, b).minBy(_._1)))
    val results = best.map { case (n, v) => n -> v.map(_._1) }
    val tallies = best.collect { case (n, Some((_, t))) => n -> ledger.tally(t) }.toMap
    val byTagMs = names.flatMap(n => Seq(1, 2).map(p => ledger.tally(tag(p, n)).runMs)).sum
    System.err.println(s"[bench] executor ms: min passes ${tallies.values.map(_.runMs).sum}, " +
      s"both passes by tag $byTagMs, ledger total ${ledger.total.runMs}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.getOrElse(-1.0) }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // STDOUT line stays SHORT (the driver harness once truncated a ~15 KB
    // line mid-JSON): the summary plus the slowest 12 queries. The full
    // map goes to BENCH_DETAIL.json and the BENCH_LOCAL.jsonl tee below.
    val slowPairs = results.collect { case (k, Some(v)) => (k, v) }
      .sortBy(-_._2).take(12)
    val slow = slowPairs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val slowTt = slowPairs
      .map { case (k, _) => "\"" + k + "\":" + tallies(k).runMs / 1e3 }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":${results.count(_._2.isEmpty)},"failed":$failed,"queries":$slow,"tasktime":$slowTt,"detail":"BENCH_DETAIL.json"}"""
    println(line)
    // files resolve against the repo root (build-injected property), not
    // cwd: an sbt launched elsewhere would scatter the versioned record
    val root = sys.props.getOrElse("graft.repo.root", ".")
    try {
      // sbt's log prefixes and interleaving have defeated the driver's
      // parser of the stdout line; the same summary goes to a BARE file.
      Files.writeString(Paths.get(s"$root/BENCH_SUMMARY.json"), line + "\n")
      def detailMap(kv: Seq[(String, Any)]) =
        kv.map { case (k, v) => "    \"" + k + "\": " + v }.mkString("{\n", ",\n", "\n  }")
      // per id from the min-wall pass's tag; -1 for a failed id
      def perId(missing: Any)(f: Measure.Tally => Any) =
        detailMap(names.map(n => n -> tallies.get(n).fold(missing)(f)))
      val causeDetail = detailMap(causes.toSeq.sorted.map { case (k, c) => k -> Verify.q(c) })
      val detail = results.map { case (k, v) => "  \"" + k + "\": " + v.getOrElse(-1.0) }.mkString(s"""{\n  "at": "${java.time.Instant.now()}",\n  "sf": "$sfDir",\n  "total_s": $total,\n  "failed": $failed,\n  "failure_causes": $causeDetail,\n  "task_time_sec": ${perId(-1.0)(_.runMs / 1e3)},\n  "jobs": ${perId(-1)(_.jobs)},\n  "stages": ${perId(-1)(_.stages)},\n""", ",\n", "\n}\n")
      Files.writeString(Paths.get(s"$root/BENCH_DETAIL.json"), detail)
    } catch { case NonFatal(e) => System.err.println(s"[bench] detail write failed: $e") }
    // append the FULL per-query record: the driver's bench artifact
    // truncates its tail, so BENCH_LOCAL.jsonl is the complete record
    try {
      val full = s"""{"at":"${java.time.Instant.now()}","metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
      Files.write(Paths.get(s"$root/BENCH_LOCAL.jsonl"), (full + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case NonFatal(e) => System.err.println(s"[bench] tee failed: $e") }
    spark.stop()
  }
}
