package graft.tools

import graft.SparkEntry

/** `runMain graft.tools.Explain <sfDir> <reps> <id...>`: time and explain
  * registered queries; a failing id prints `<id> FAILED: <cause>`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val spark = graft.util.Sessions.local()
    println("jvm-args: " + java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toString)
    args.drop(2).foreach { id =>
      def run(label: String): Option[Measure.Sample] = {
        val s = Measure.run(spark, s"explain-$label-$id")(Measure.noop(spark, sfDir, id))
        s.failure.foreach(e => println(s"$id FAILED: $e"))
        Some(s).filter(_.ok)
      }
      // one untimed warmup first (same protocol as Bench): codegen compile
      // + JIT dominate a cold first execution and say nothing about
      // steady-state throughput. Its cost is still printed, not hidden.
      // The formatted plan precedes the warmup line (tools/split_plans.py).
      run("warmup").foreach { w =>
        if (sys.env.contains("GRAFT_EXPLAIN")) SparkEntry.queries(id)(spark, sfDir).explain("formatted")
        println(f"$id warmup: ${w.wallS}%.2f s (untimed)")
        (1 to reps).foreach(i => run(s"rep$i").foreach { r =>
          println(f"$id rep$i: ${r.wallS}%.2f s wall, ${r.cpuS}%.1f s cpu " +
            f"(${r.cpuS / r.wallS}%.1f cores), ${r.gcMs} ms gc")
        })
      }
    }
    spark.stop()
  }
}
