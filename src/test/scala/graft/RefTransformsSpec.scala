package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.operators.RefTransforms

/** Unit coverage for the reference transform chain, pinned to the edge rows
  * in FIXTURES.md §A2: F1 drops, P1-P3 coercions, P5 strict-< boundaries,
  * P10 title-casing.
  */
class RefTransformsSpec extends SparkSpecBase with TableDrivenPropertyChecks {
  import spark.implicits._

  private def bucketOf(a: java.lang.Double): String = {
    val df = Seq(Tuple1(Option(a).map(_.doubleValue))).toDF("amount")
    df.select(RefTransforms.categorizeAmount(col("amount"))).head.getString(0)
  }

  test("P5 bucket boundaries are strict <, null -> unknown (lambda_function.py:154-167)") {
    val cases = Table(
      ("amount", "bucket"),
      (null: java.lang.Double, "unknown"),
      (java.lang.Double.valueOf(0.0), "small"),
      (java.lang.Double.valueOf(24.99), "small"),
      (java.lang.Double.valueOf(25.0), "medium"),   // boundary goes UP
      (java.lang.Double.valueOf(99.99), "medium"),
      (java.lang.Double.valueOf(100.0), "large"),
      (java.lang.Double.valueOf(499.99), "large"),
      (java.lang.Double.valueOf(500.0), "very_large"),
      (java.lang.Double.valueOf(-26.0), "medium"),  // bucketed on abs
      (java.lang.Double.valueOf(-600.0), "very_large"))
    forAll(cases) { (a, expected) => assert(bucketOf(a) === expected) }
  }

  test("P5 UDF variant agrees with the when/otherwise chain everywhere") {
    val probe = Seq[Option[Double]](None, Some(0), Some(24.999), Some(25),
      Some(-25), Some(99.999), Some(100), Some(-100), Some(499.999),
      Some(500), Some(-500), Some(1e9), Some(-1e9))
      .toDF("amount")
    val both = probe.select(
      RefTransforms.categorizeAmount(col("amount")).as("expr"),
      RefTransforms.categorizeAmountUdf(col("amount")).as("udf"))
    assert(both.filter(col("expr") =!= col("udf")).count() === 0)
  }

  test("F1 drops rows with null critical keys; coercions null out garbage") {
    val df = Seq(
      ("T1", "2024-07-01", "2024-07-01 10:00:00", "42.5", "food", "d", "expense", "checking", "Online"),
      (null, "2024-07-02", "2024-07-02 10:00:00", "10.0", "food", "d", "expense", "checking", "Online"),
      ("T3", "2024-07-03", "2024-07-03 10:00:00", null, "food", "d", "expense", "checking", "Online"),
      ("T4", "not-a-date", "not-a-ts", "not-a-number", "food", "d", "expense", "checking", "Online"))
      .toDF("transaction_id", "date", "timestamp", "amount", "category",
        "description", "transaction_type", "account", "location")
    val out = RefTransforms.transformTransactions(df, "test.csv")
    // null id and null amount dropped (pandas dropna semantics)
    assert(out.count() === 2)
    val t4 = out.filter(col("transaction_id") === "T4").head
    assert(t4.getAs[Any]("amount") == null)       // P1 coerce
    assert(t4.getAs[Any]("date") == null)         // P2 coerce
    assert(t4.getAs[Any]("timestamp") == null)    // P3 coerce
    assert(t4.getAs[String]("amount_category") === "unknown")
    val t1 = out.filter(col("transaction_id") === "T1").head
    assert(t1.getAs[Double]("amount_abs") === 42.5)
    assert(t1.getAs[String]("amount_category") === "medium")
    assert(t1.getAs[String]("day_of_week") === "Monday")
    assert(t1.getAs[Long]("month") === 7L)
    assert(t1.getAs[String]("processed_by") === "lambda-etl-pipeline")
    assert(t1.getAs[String]("source_file") === "test.csv")
  }

  test("P10 cleanText trims and title-cases") {
    val df = Seq("  heLLo woRld  ", "BUILDING", "a").toDF("t")
    val out = df.select(RefTransforms.cleanText(col("t"))).as[String].collect()
    assert(out === Array("Hello World", "Building", "A"))
  }

  test("cents() is exact integer arithmetic on representative money values") {
    val df = Seq(0.01, 1.5, 999.99, -42.13, 12345.67).toDF("v")
    val out = df.select(RefTransforms.cents(col("v"))).as[Long].collect()
    // floor(x*100+0.5): half rounds toward +inf — same IEEE ops in DuckDB
    assert(out === Array(1L, 150L, 99999L, -4213L, 1234567L))
  }
}
