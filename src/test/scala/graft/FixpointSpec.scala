package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

/** Pins the contract of the one iterate-to-fixpoint loop: one Spark job
  * per round, the stop rule, the rounds cap, the stored state's row count,
  * and the observed report.
  */
class FixpointSpec extends SparkSpecBase {

  /** `x + 1` over `spark.range(8)` — a step with no exchange, so a round is
    * exactly its checkpoint job — plus a bookkeeping column Fixpoint must
    * not store. Stops once the maximum reaches `stopAt`. Returns the run
    * and the Spark jobs it started.
    */
  private def countUp(maxRounds: Int, stopAt: Long): (Fixpoint.Result, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val init = spark.range(8).select(col("id").as("x"))
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val run = Fixpoint.iterate(init, maxRounds, Seq(max(col("x")).as("top"))) {
        (state, _) => state.select((col("x") + 1).as("x"), lit(0).as("scratch"))
      } { (_, _, m) => m("top") == stopAt }
      ListenerBusDrain(spark.sparkContext)
      (run, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("one job per round, and it stops when done holds") {
    val (run, jobs) = countUp(maxRounds = 10, stopAt = 12L)
    assert(run.rounds === 5)
    assert(run.converged)
    assert(jobs === 5)
    assert(run.state.columns.toSeq === Seq("x"))
    // the stored state is sized by its counted rows, not by plan estimate
    assert(run.state.queryExecution.optimizedPlan.stats.rowCount ===
      Some(BigInt(8)))
    assert(run.state.agg(min(col("x")), max(col("x"))).head() ===
      org.apache.spark.sql.Row(5L, 12L))
  }

  test("at maxRounds it reports not converged") {
    val (run, jobs) = countUp(maxRounds = 3, stopAt = -1L)
    assert(run.rounds === 3)
    assert(!run.converged)
    assert(jobs === 3)
    assert(run.state.agg(max(col("x"))).head().getLong(0) === 10L)
  }

  test("the report is readable from observedMetrics after the query runs") {
    val (run, _) = countUp(maxRounds = 10, stopAt = 9L)
    val df = run.report(run.state, "fixpointSpec", lit(7).as("extra"))
    df.collect()
    val m = df.queryExecution.observedMetrics("fixpointSpec")
    assert(m.getAs[Int]("rounds") === 2)
    assert(m.getAs[Boolean]("converged"))
    assert(m.getAs[Int]("extra") === 7)
  }
}
