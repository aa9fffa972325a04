package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.util.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** Stage budget of the two lake chains at sf0.01: every Spark job a chain
  * submits carries the chain's job tag, and the count of those jobs stays
  * at or under the budget. Under AQE each shuffle stage is its own job,
  * so the count is the chain's stage-chain length — the latency floor of
  * a small-data run. A change that adds a job must raise the budget on
  * purpose. */
class ChainBudgetSpec extends SparkSpec with Eventually {

  /** The sf0.01 fixture, a sibling of the shared sf0.001 one. */
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"

  private def tmp(): String = Files.createTempDirectory("graft_budget").toString

  /** Runs `body` with job tag `tag` and returns the ids of the jobs it
    * submitted. A marker job submitted after `body` bounds the
    * asynchronous listener events: once its start is seen, every earlier
    * job start has been delivered. */
  private def jobsOf(tag: String)(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).foreach(t => seen.add(t -> e.jobId))
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      val marker = s"$tag-marker"
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      eventually(timeout(30.seconds)) {
        assert(seen.asScala.exists(_._1 == marker))
      }
      seen.asScala.collect { case (`tag`, id) => id }.toSeq.sorted
    } finally sc.removeSparkListener(listener)
  }

  test("both lake chains at sf0.01 stay within their job budgets") {
    val market = jobsOf("budget-market") {
      import spark.implicits._
      val mapping = Seq.empty[(String, String)].toDF("from_id", "to_id")
      Pipelines.run(spark, Pipelines.bronzeFromEvents(spark, sf01), mapping, tmp())
    }
    val corpus = jobsOf("budget-corpus") {
      CorpusPipeline.run(spark, Tables.documents(spark, sf01), tmp(),
        compactTargetBytes = Some(64L * 1024 * 1024))
    }
    assert(market.size <= 19, s"market chain ran ${market.size} jobs")
    assert(corpus.size <= 48, s"corpus chain ran ${corpus.size} jobs")
  }
}
