package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import graft.SparkEntry

/** `runMain graft.tools.ScaleBench <srcDir> <scaledDir> [ids... | all]`:
  * the ×10 scale re-measurement of DESIGN.md §4 as one command. Generates
  * `<scaledDir>` with ScaleUp ×10 unless it holds a lineitem.parquet; each
  * id (default: the scale-audit set below) runs warmup + 3 reps at both
  * scales and prints the min-wall rep's markdown row; the invocation appends
  * one JSON line, failed ids listed, to SCALE_LOCAL.jsonl at the repo root.
  * A LINEAR operator costs 10× CPU at 10× rows; wall below 10× is
  * parallelism; CPU far above ~13× means a super-linear design term. */
object ScaleBench {
  private val DefaultIds = Seq(
    "q_dedup_semantic", "q_dedup_semantic_hier", "q_ann_ivf_trained",
    "q_ann_lsh_stacked", "q_dedup_cluster", "q_dedup_keep_best",
    "q_dedup_ngram_jaccard", "q_contamination",
    "q_text_entropy", "q_text_unigram_logprob")

  def main(args: Array[String]): Unit = {
    val (src, dst) = (args(0), args(1))
    // `all` = the whole registry (sorted) — the full-suite scaling audit
    val ids =
      if (args.length > 2 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args.drop(2).toSeq
      else DefaultIds

    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      println(s"[scalebench] generating $dst = ScaleUp x10 of $src")
      ScaleUp.main(Array(src, dst, "10"))
    }

    val spark = graft.util.Sessions.local()
    // scale claims cite MEASURED spill: the ledger sums spill and shuffle
    // bytes per rep's job tag; the row keeps the min-wall rep's values
    val ledger = new Measure.Ledger(spark)

    /** Untimed warmup (rep 0), then 3 measured runs of `id` over
      * `dir`: the min-wall rep with its tally, or the first failure. */
    def measure(id: String, dir: String, side: String): Either[Throwable, (Measure.Sample, Measure.Tally)] = {
      val runs = (0 to 3).map(r => s"scale-$side$r-$id")
        .map(tag => Measure.run(spark, tag)(Measure.noop(spark, dir, id)) -> tag)
      runs.flatMap(_._1.failure).headOption.toLeft {
        val (best, tag) = runs.tail.minBy(_._1.wallS)
        ledger.settle()
        best -> ledger.tally(tag)
      }
    }

    def mb(bytes: Long): Long = bytes >> 20
    val rows = ids.map { id =>
      val r = for { a <- measure(id, src, "a"); b <- measure(id, dst, "b") } yield (a, b)
      r.left.foreach(e => System.err.println(s"[scalebench] $id failed: $e"))
      r.foreach { case ((a, ta), (b, tb)) =>
        println(f"| $id | ${a.wallS}%.2f | ${b.wallS}%.2f | ${b.wallS / a.wallS}%.1f× | " +
          f"${b.cpuS / a.cpuS}%.1f× (${a.cpuS}%.1f→${b.cpuS}%.1f s) | " +
          f"spill ${mb(ta.memSpill)}→${mb(tb.memSpill)} MB mem, ${mb(ta.diskSpill)}→${mb(tb.diskSpill)} MB disk, " +
          f"shuffle ${mb(ta.shuffleWrite)}→${mb(tb.shuffleWrite)} MB |")
      }
      id -> r
    }

    def fields(sf: String, s: Measure.Sample, t: Measure.Tally) =
      f""""${sf}_wall":${s.wallS}%.3f,"${sf}_cpu":${s.cpuS}%.2f,"${sf}_spill_mem_mb":${mb(t.memSpill)},""" +
        f""""${sf}_spill_disk_mb":${mb(t.diskSpill)},"${sf}_shuffle_mb":${mb(t.shuffleWrite)}"""
    val queries = rows.collect { case (id, Right(((a, ta), (b, tb)))) =>
      s""""$id":{${fields("sf01", a, ta)},${fields("sf1", b, tb)}}"""
    }.mkString(",")
    val failed = rows.collect { case (id, Left(_)) => "\"" + id + "\"" }.mkString(",")
    val json = s"""{"at":"${java.time.Instant.now()}","src":"$src","dst":"$dst",""" +
      s""""queries":{$queries},"failed":[$failed]}"""
    try {
      val root = sys.props.getOrElse("graft.repo.root", ".")
      Files.write(Paths.get(s"$root/SCALE_LOCAL.jsonl"), (json + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } catch { case NonFatal(e) => System.err.println(s"[scalebench] tee failed: $e") }
    println(json)
    spark.stop()
  }
}
