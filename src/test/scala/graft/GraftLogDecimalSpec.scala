package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogScan}

/** Round-13: DecimalType through the connector — the reference's own
  * money DDL is DECIMAL(10,2), and the table format must not inherit
  * the engine's documented double deviation. All three physical
  * encodings (INT32 ≤9 digits, INT64 ≤18, FIXED_LEN_BYTE_ARRAY above),
  * exact min/max manifest statistics with file skip, manifest-served
  * aggregate pushdown, and interchange with Spark's own reader.
  */
class GraftLogDecimalSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftLogScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[GraftLogScan]
    }.head

  private val ddl = "id BIGINT, small DECIMAL(7,2), money DECIMAL(12,2), " +
    "big DECIMAL(30,6)"

  private def decDf(from: Long, until: Long) =
    spark.range(from, until).selectExpr(
      "id",
      "CAST(id * 1.25 - 10 AS DECIMAL(7,2)) AS small",
      "CASE WHEN id % 10 = 0 THEN CAST(NULL AS DECIMAL(12,2)) " +
        "ELSE CAST(id * 987654.32 AS DECIMAL(12,2)) END AS money",
      "CAST(id AS DECIMAL(30,6)) * CAST(-1234567890.123456 " +
        "AS DECIMAL(30,6)) AS big")

  test("decimal round-trip at all three physical widths, through BOTH " +
      "readers and Spark's own reader, with exact values") {
    val root = Files.createTempDirectory("graft_decimal").toString
    decDf(0, 500).write.format("graftlog").option("path", root)
      .option("schema", ddl).mode("append").save()
    val back = spark.read.format("graftlog").option("path", root).load()
    assert(back.schema.toDDL ===
      "id BIGINT,small DECIMAL(7,2),money DECIMAL(12,2),big DECIMAL(30,6)")
    val orig = decDf(0, 500)
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty,
      "decimal round-trip drifted")
    // interchange: Spark's reader agrees (standard physical encodings)
    val native = spark.read.parquet(GraftLog.dataFiles(conf, root, 1): _*)
    assert(native.exceptAll(orig).isEmpty && orig.exceptAll(native).isEmpty,
      "Spark's own reader disagrees on decimal encodings")
    // a specific exact value survives the trip (no double detour)
    val r = back.filter(col("id") === 7L).collect().head
    assert(r.getDecimal(2).toPlainString === "6913580.24",
      r.getDecimal(2).toPlainString)
  }

  test("decimal manifest statistics: exact min/max bounds drive the file " +
      "skip and the manifest-served aggregate pushdown") {
    val root = Files.createTempDirectory("graft_decstats").toString
    // 4 range-clustered files on id → disjoint decimal ranges per file
    decDf(0, 1000)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      .write.format("graftlog").option("path", root)
      .option("schema", ddl).mode("append").save()
    // file skip on a decimal predicate (residual-only pushdown; the
    // skip decision is pure manifest arithmetic)
    val sel = spark.read.format("graftlog").option("path", root).load()
      .filter(col("small") > lit(new java.math.BigDecimal("1100.00")))
    val kept = scanOf(sel).toBatch.planInputPartitions().length
    assert(kept === 1, s"decimal stats skip kept $kept of 4")
    assert(sel.count() === decDf(0, 1000)
      .filter(col("small") > 1100.0).count())
    // manifest-served MIN/MAX: one partition, zero data bytes
    val agg = spark.read.format("graftlog").option("path", root).load()
      .agg(min(col("small")).as("mn"), max(col("money")).as("mx"),
        count(col("money")).as("n"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("GraftLogAggScan"), "decimal MIN/MAX did not push")
    val row = agg.collect().head
    assert(row.getDecimal(0).toPlainString === "-10.00")
    assert(row.getDecimal(1).toPlainString === "986666665.68",
      row.getDecimal(1).toPlainString) // id=999 → 999 * 987654.32
    assert(row.getLong(2) === 900L) // 100 of 1000 are null
  }

  test("widening appends a decimal column; old files null-fill; decimal " +
      "stays refused as a GROUPED aggregate input (falls back to scan)") {
    val root = Files.createTempDirectory("graft_decwiden").toString
    spark.range(0, 40).selectExpr("id")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT").mode("append").save()
    spark.range(40, 60)
      .selectExpr("id", "CAST(id AS DECIMAL(10,2)) AS price")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, price DECIMAL(10,2)")
      .mode("append").save()
    val latest = spark.read.format("graftlog").option("path", root).load()
    assert(latest.schema.toDDL === "id BIGINT,price DECIMAL(10,2)")
    assert(latest.filter(col("price").isNull).count() === 40L)
    // exact SUM over the widened column (Spark-side aggregation)
    val s = latest.agg(sum(col("price"))).collect().head.getDecimal(0)
    assert(s.toPlainString === "990.00", s.toPlainString)
  }
}
