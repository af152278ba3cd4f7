package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graft.PlanBridge

/** The one iterate-to-fixpoint loop of the iterative operators. Round `r`
  * (from 1) builds `next = step(state, r)`, observes its `rows` and the
  * caller's `signal` on it, projects it to the initial state's columns
  * (bookkeeping columns are never stored) and materializes it with one
  * eager `localCheckpoint`: one job per round, a plan one round deep, and
  * a state sized by `rows` so the planner can broadcast it when small. It
  * stops when `done(state, next, metrics)` holds or after `maxRounds`.
  */
private[graft] object Fixpoint {

  /** The last state, the rounds run, and whether `done` held (`false`:
    * the rounds cap ended the run).
    */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean) {

    /** `df` observed as `name` with `rounds`, `converged` and `extra`,
      * read from `df.queryExecution.observedMetrics` once `df` has run.
      */
    def report(df: DataFrame, name: String, extra: Column*): DataFrame =
      df.observe(name, lit(rounds).as("rounds"),
        lit(converged).as("converged") +: extra: _*)
  }

  def iterate(init: DataFrame, maxRounds: Int, signal: Seq[Column])(
      step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, DataFrame, Map[String, Any]) => Boolean): Result = {
    val stateCols = init.columns.toSeq.map(col)
    @scala.annotation.tailrec
    def run(state: DataFrame, round: Int): Result =
      if (round > maxRounds) Result(state, maxRounds, converged = false)
      else {
        val obs = Observation(s"fixpoint_round_$round")
        val checkpointed = step(state, round)
          .observe(obs, count(lit(1)).as("rows"), signal: _*)
          .select(stateCols: _*).localCheckpoint()
        val metrics = obs.get
        val next = PlanBridge.withRowCount(checkpointed,
          metrics("rows").asInstanceOf[Long])
        if (done(state, next, metrics)) Result(next, round, converged = true)
        else run(next, round + 1)
      }
    run(init, 1)
  }
}
