package graft

import java.util.concurrent.ConcurrentHashMap

import graft.tools.Measure
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The measurement core: per-tag task metrics are exact, and only a
  * non-fatal throw becomes a failed sample. */
class MeasureSpec extends SparkSpec {

  test("per-tag task time, jobs and stages sum exactly to the ledger's whole-run totals") {
    val ids = Seq("q_agg_value_counts", "q_agg_mean_std", "q_agg_rollup")
    val recount = new ConcurrentHashMap[String, Integer]()
    val recounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.job.tags", "").split(",")
          .foreach(t => recount.merge(t, 1, _ + _))
    }
    spark.sparkContext.addSparkListener(recounter)
    val ledger = new Measure.Ledger(spark)
    try {
      ids.foreach(id => assert(Measure.run(spark, s"exact-$id")(Measure.noop(spark, sf, id)).ok, id))
      ledger.settle()
      val tallies = ids.map(id => id -> ledger.tally(s"exact-$id"))
      assert(tallies.map(_._2).reduce(_ + _) == ledger.total)
      tallies.foreach { case (id, t) =>
        assert(t.jobs == recount.get(s"exact-$id").intValue, id)
        assert(t.runMs > 0 && t.stages >= 2 && t.shuffleWrite > 0, s"$id: $t")
      }
    } finally {
      ledger.close()
      spark.sparkContext.removeSparkListener(recounter)
    }
  }

  test("a non-fatal throw is returned with its cause; a fatal error propagates") {
    val boom = new IllegalStateException("boom")
    assert(Measure.run(spark, "measure-fail")(throw boom).failure.contains(boom))
    assert(Measure.run(spark, "measure-next")(spark.range(100).count()).ok)
    intercept[LinkageError](Measure.run(spark, "measure-fatal")(throw new LinkageError("fatal")))
    assert(spark.sparkContext.getJobTags().isEmpty)
  }
}
