package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.GraftLogOps

/** Row-level DML on a table whose DECIMAL column was widened in place
  * (`ALTER COLUMN m TYPE DECIMAL(18,2)` over files that store the
  * DECIMAL(9,2) physical). Parquet's row-group filter conversion checks
  * only a decimal's scale, so a wide literal pushed into a narrow file
  * truncates into a wrong 32-bit bound and skips row groups that hold
  * matches. The DML read keeps decimal predicates out of the reader's
  * row-group filter, as the connector's scan does:
  *
  *  - DELETE and UPDATE, copy-on-write and merge-on-read, touch every
  *    narrow row a wide literal matches;
  *  - the executed plans of the DML reads push no filter on the
  *    decimal column.
  */
class GraftLogDecimalDmlSpec extends SparkSpecBase
    with AdaptiveSparkPlanHelper {

  private val wide = lit(new java.math.BigDecimal("1234567890123456.78"))

  /** 200 narrow rows (m = 0..199 at DECIMAL(9,2)), the column widened
    * to DECIMAL(18,2), then one wide row (k = 1000).
    */
  private def mkWidened(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    spark.range(0, 200)
      .selectExpr("id AS k", "CAST(id AS DECIMAL(9,2)) AS m")
      .coalesce(1)
      .write.format("graftlog").option("path", root)
      .option("schema", "k BIGINT, m DECIMAL(9,2)")
      .mode("append").save()
    val parent = root.substring(0, root.lastIndexOf('/'))
    val table = root.substring(root.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent)
    spark.sql(s"ALTER TABLE graft.`$table` ALTER COLUMN m TYPE DECIMAL(18,2)")
    spark.range(0, 1)
      .selectExpr("CAST(1000 AS BIGINT) AS k",
        "CAST(1234567890123456.78 AS DECIMAL(18,2)) AS m")
      .write.format("graftlog").option("path", root)
      .option("schema", "k BIGINT, m DECIMAL(18,2)")
      .mode("append").save()
    root
  }

  private def snap(root: String) =
    spark.read.format("graftlog").option("path", root).load()

  /** The executed plans of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The pushed filters of every parquet scan in `plans`. */
  private def pushed(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    })

  Seq(GraftLogOps.DeleteModeCow, GraftLogOps.DeleteModeMor).foreach { mode =>
    test(s"$mode DELETE with a wide decimal literal deletes the narrow " +
        "rows it matches, and its read pushes no decimal filter") {
      val root = mkWidened(s"graft_decdml_del_$mode")
      assert(snap(root).filter(col("m") < wide).count() === 200L)
      val plans = plansOf(
        GraftLogOps.deleteFromLog(spark, root, col("m") < wide, mode))
      assert(snap(root).count() === 1L)
      assert(snap(root).head().getLong(0) === 1000L)
      val scans = pushed(plans)
      assert(scans.nonEmpty, "the DML read ran no parquet scan")
      assert(scans.forall(!_.matches(""".*\bm\b.*""")), scans.toString)
    }

    test(s"$mode UPDATE with a wide decimal literal updates the narrow " +
        "rows it matches, and its read pushes no decimal filter") {
      val root = mkWidened(s"graft_decdml_upd_$mode")
      val plans = plansOf(GraftLogOps.updateLog(spark, root,
        col("m") < wide, Map("k" -> (col("k") + 10000L)), mode))
      assert(snap(root).count() === 201L)
      assert(snap(root).filter(col("k") >= 10000L).count() === 200L)
      assert(snap(root).filter(col("k") === 1000L).count() === 1L)
      val scans = pushed(plans)
      assert(scans.nonEmpty, "the DML read ran no parquet scan")
      assert(scans.forall(!_.matches(""".*\bm\b.*""")), scans.toString)
    }
  }
}
