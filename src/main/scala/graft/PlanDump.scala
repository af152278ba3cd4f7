package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution

/** Dev/measurement main (optimization rounds): dumps
  * `explain("formatted")` for each bench query to one text file per query,
  * so plan shapes (Exchange count, join strategy, PushedFilters,
  * ReadSchema, WholeStageCodegen spans) can be diffed before/after an
  * optimization without re-running Spark by hand.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [comma-list of names]
  * Dumps the BENCH form of each query (presentation sort stripped) — the
  * form whose cost the driver measures.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    System.setProperty("spark.log.level", "ERROR")
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.benchQueries.filter(kv => names(kv._1))
      case None        => SparkEntry.benchQueries
    }
    // SPARK_GRAFT_PLAN_EXECUTED=1: run the query and dump its final
    // executed plan (see executedPlan), which the static explain cannot show
    val executed = sys.env.get("SPARK_GRAFT_PLAN_EXECUTED").contains("1")
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt =
          if (executed) executedPlan(df)
          // queryExecution.explainString gives the same text explain()
          // prints, without capturing stdout
          else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Runs `df` under its own `QueryExecution` and returns that execution's
    * final executed-plan string. With AQE on, that is the re-optimized
    * plan — materialized query stages, reused stages (`ReusedExchange`),
    * `AQEShuffleRead`, runtime join rewrites — which the read-side
    * `df.queryExecution` never reaches (its `AdaptiveSparkPlan` does not
    * execute and stays `isFinalPlan=false`).
    */
  def executedPlan(df: DataFrame): String = {
    val qe = df.queryExecution.sparkSession.sessionState
      .executePlan(df.queryExecution.logical)
    SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.execute().foreach(_ => ()))
    qe.executedPlan.toString
  }
}
