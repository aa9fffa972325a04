package graft

import java.nio.file.Files

import graft.tools.Measure
import graft.util.Tables

/** Stage budget of the two lake chains at sf0.01: every Spark job a chain
  * submits carries the chain's job tag, and the count of those jobs stays
  * at or under the budget. Under AQE each shuffle stage is its own job,
  * so the count is the chain's stage-chain length — the latency floor of
  * a small-data run. A change that adds a job must raise the budget on
  * purpose. */
class ChainBudgetSpec extends SparkSpec {

  /** The sf0.01 fixture, a sibling of the shared sf0.001 one. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  private def tmp(): String = Files.createTempDirectory("graft_budget").toString

  test("both lake chains at sf0.01 stay within their job budgets") {
    val ledger = new Measure.Ledger(spark)
    def jobsOf(tag: String)(body: => Unit): Int = {
      Measure.run(spark, tag)(body).failure.foreach(throw _)
      ledger.settle()
      ledger.tally(tag).jobs
    }
    try {
      val market = jobsOf("budget-market") {
        import spark.implicits._
        val mapping = Seq.empty[(String, String)].toDF("from_id", "to_id")
        Pipelines.run(spark, Pipelines.bronzeFromEvents(spark, sf01), mapping, tmp())
      }
      val corpus = jobsOf("budget-corpus") {
        CorpusPipeline.run(spark, Tables.documents(spark, sf01), tmp(),
          compactTargetBytes = Some(64L * 1024 * 1024))
      }
      assert(market <= 19, s"market chain ran $market jobs")
      assert(corpus <= 48, s"corpus chain ran $corpus jobs")
    } finally ledger.close()
  }
}
