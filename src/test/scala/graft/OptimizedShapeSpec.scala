package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.window.WindowExec

/** Round-16 optimization round: pins the PLAN SHAPES the single-pass
  * rewrites bought, so a refactor cannot silently reintroduce the
  * duplicate passes. Each count is over LEAF RELATIONS of the optimized
  * logical plan — the number of times the physical layer will read an
  * input (AQE stage reuse can dedupe only canonically identical
  * exchanges, which these shapes no longer rely on; see
  * OPTIMIZATION_r16.md for the executed-plan evidence behind each
  * bound). Values themselves stay pinned by the DuckDB oracle gate —
  * these specs guard the SHAPE.
  */
class OptimizedShapeSpec extends SparkSpecBase {

  private def allRelations(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r
    }.size

  /** The physical plan's unpartitioned windows (`Window.partitionBy()`,
    * which run in ONE task), each paired with whether some path from it
    * down to a leaf crosses no aggregate — i.e. whether it can see an
    * input of scan size rather than aggregate size.
    */
  private def unpartitionedWindows(df: DataFrame): Seq[Boolean] = {
    def unaggregated(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case leaf if leaf.children.isEmpty => true
      case other => other.children.exists(unaggregated)
    }
    df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => unaggregated(w.child)
    }
  }

  test("freshness and drift run their unpartitioned windows only above " +
      "an aggregate") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, lit}
    // control: the same window straight over the scan is flagged
    val raw = Tables.events(spark, sfDir)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    assert(unpartitionedWindows(raw) == Seq(true))
    Seq("q_freshness" -> operators.EventOps.freshness(spark, sfDir),
        "q_drift_tv" -> operators.Drift.driftTv(spark, sfDir)).foreach {
      case (name, df) =>
        val windows = unpartitionedWindows(df)
        assert(windows.nonEmpty, s"$name has no unpartitioned window left")
        assert(!windows.contains(true),
          s"$name runs an unpartitioned window over an unaggregated input")
    }
  }

  test("funnel reads the event table exactly once") {
    val df = operators.EventOps.funnel(spark, sfDir)
    assert(allRelations(df) == 1,
      "the single-scan window-chain funnel regressed to multiple passes")
  }

  test("freshness reads the event table exactly once") {
    val df = operators.EventOps.freshness(spark, sfDir)
    assert(allRelations(df) == 1)
  }

  test("cdcApply reads orders exactly once") {
    val df = operators.Relational.cdcApply(spark, sfDir)
    assert(allRelations(df) == 1)
  }

  test("lmScore tokenizes the corpus exactly once at runtime") {
    // the logical plan still expands each docCounts reference into its
    // own subtree; the single-scan guarantee is an AQE stage-reuse
    // property (every arm sits on the canonically identical docCounts
    // exchange), so the pin is on the EXECUTED final plan
    val fin = PlanDump.executedPlan(
      functions.TextAnalysis.lmScore(spark, sfDir))
      .split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(fin).size
    val reuses = "ReusedExchange".r.findAllIn(fin).size
    assert(scans == 1,
      s"expected one corpus scan after stage reuse, saw $scans ($reuses reuses)")
    assert(reuses >= 2, s"docCounts exchange no longer reused: $reuses")
  }

  test("bm25 reads the corpus at most twice (stats arm + tf arm)") {
    val df = functions.TextAnalysis.bm25(spark, sfDir)
    assert(allRelations(df) <= 2)
  }

  test("fkAudit reads each child table once per relationship") {
    val df = operators.Relational.fkAudit(spark, sfDir)
    // 6 relationships x (1 child + 1 parent) = 12 leaf relations; the
    // predecessor read each child twice (18)
    assert(allRelations(df) == 12)
  }

  test("dqAudit keeps the orders checks on one aggregate pass") {
    val df = operators.Warehouse.dqAudit(spark, sfDir)
    // orders agg + fk arm's orders + customer + lineitem range = 4
    assert(allRelations(df) == 4)
  }

  test("funnel stage semantics survive the window rewrite") {
    // a hand-checkable micro-funnel: user 1 completes all four stages in
    // order; user 2 sees 'view' BEFORE any signup (must not count past
    // stage 1 — strictly-after semantics); user 3 signs up and views at
    // the SAME ts (strict > excludes the simultaneous view)
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "signup", 1000L), (1L, "view", 2000L), (1L, "click", 3000L),
      (1L, "purchase", 4000L),
      (2L, "view", 500L), (2L, "signup", 600L),
      (3L, "signup", 700L), (3L, "view", 700L))
    val e = spark.createDataFrame(rows)
      .toDF("user_id", "event_type", "ts_ms")
    // exercise the same chained-window logic through a private-path
    // replica: recompute expected reach counts by hand
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val staged = e
      .withColumn("t1", min(when(col("event_type") === "signup",
        col("ts_ms"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" &&
        col("ts_ms") > col("t1"), col("ts_ms"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "click" &&
        col("ts_ms") > col("t2"), col("ts_ms"))).over(w))
      .withColumn("t4", min(when(col("event_type") === "purchase" &&
        col("ts_ms") > col("t3"), col("ts_ms"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"),
        max("t3").as("t3"), max("t4").as("t4"))
      .agg(count(col("t1")).as("u1"), count(col("t2")).as("u2"),
        count(col("t3")).as("u3"), count(col("t4")).as("u4"))
      .head()
    assert(staged.getLong(0) == 3) // users 1, 2, 3 all signed up
    assert(staged.getLong(1) == 1) // only user 1 viewed strictly after
    assert(staged.getLong(2) == 1)
    assert(staged.getLong(3) == 1)
  }
}
