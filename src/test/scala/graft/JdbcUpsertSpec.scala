package graft

import java.sql.{Date, Timestamp}
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.JdbcUpsert

/** Round-trips the reference's 17-column DDL + conflict semantics
  * (lambda_function.py:176-271) against embedded Derby over real JDBC:
  * parallel staged write, one MERGE, ON-CONFLICT updates limited to
  * amount + processed_timestamp.
  */
class JdbcUpsertSpec extends SparkSpecBase {
  import spark.implicits._

  private val url   = "jdbc:derby:memory:graftjdbc;create=true"
  private val table = "portfolio_transactions"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Full 17-column batch; amount/category vary per row, processed_timestamp
    * is the batch's logical write time (drives within-batch LWW).
    */
  private def batch(rows: Seq[(String, Double, String)], pts: String): DataFrame =
    rows.toDF("transaction_id", "amount", "category")
      .withColumn("date", lit(Date.valueOf("2024-07-01")))
      .withColumn("timestamp", lit(Timestamp.valueOf("2024-07-01 10:00:00")))
      .withColumn("amount_abs", abs(col("amount")))
      .withColumn("amount_category", lit("small"))
      .withColumn("description", lit("Desc"))
      .withColumn("transaction_type", lit("expense"))
      .withColumn("account", lit("checking"))
      .withColumn("location", lit("Online"))
      .withColumn("day_of_week", lit("Monday"))
      .withColumn("month", lit(7L))
      .withColumn("year", lit(2024L))
      .withColumn("processed_timestamp", lit(Timestamp.valueOf(pts)))
      .withColumn("processed_by", lit("graft"))
      .withColumn("source_file", lit("test.csv"))

  test("staged MERGE upsert: insert, conflict-update amount only, idempotent") {
    JdbcUpsert.upsert(
      batch(Seq(("T1", 10.0, "food"), ("T2", 20.0, "travel")),
        "2024-07-01 12:00:00"), url, table, props)
    // conflict on T2: amount changes, category does NOT (reference updates
    // only amount + processed_timestamp on conflict); T3 is a fresh insert
    JdbcUpsert.upsert(
      batch(Seq(("T2", 99.0, "changed"), ("T3", 30.0, "gear")),
        "2024-07-01 13:00:00"), url, table, props)
    val state = spark.read.jdbc(url, table, props)
      .select(col("transaction_id"),
        col("amount").cast("double").as("amount"), col("category"))
      .as[(String, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state === Map(
      "T1" -> ((10.0, "food")),
      "T2" -> ((99.0, "travel")), // amount updated, category preserved
      "T3" -> ((30.0, "gear"))))
    // within-batch LWW on processed_timestamp: later timestamp wins
    JdbcUpsert.upsert(
      batch(Seq(("T1", 50.0, "x"), ("T1", 77.0, "x")), "2024-07-01 14:00:00")
        .withColumn("processed_timestamp",
          when(col("amount") === 77.0,
            lit(Timestamp.valueOf("2024-07-01 15:00:00")))
            .otherwise(col("processed_timestamp"))),
      url, table, props)
    val t1 = spark.read.jdbc(url, table, props)
      .filter(col("transaction_id") === "T1")
      .select(col("amount").cast("double")).as[Double].collect()
    assert(t1.toSeq === Seq(77.0))
    // re-applying a batch is idempotent (same MERGE, same end state)
    JdbcUpsert.upsert(
      batch(Seq(("T3", 30.0, "gear")), "2024-07-01 16:00:00"),
      url, table, props)
    assert(spark.read.jdbc(url, table, props).count() === 3)
  }

  test("reference-sized batches (≥ 20 rows, fractional cents) insert, " +
      "then conflict-update") {
    val t = "txn_sized"
    // three-decimal amounts: the DECIMAL(10,2) target truncates them, so
    // the staged values must already be DECIMAL(10,2) for Derby's MERGE
    // to assign them (a DOUBLE staging column fails once the batch has
    // more than five rows)
    val rows = (0 until 24).map(i =>
      (f"S$i%03d", (i * 1.337 - 7.005) * (if (i % 2 == 0) 1 else -1),
        "food"))
    JdbcUpsert.upsert(batch(rows, "2024-07-01 12:00:00"), url, t, props)
    JdbcUpsert.upsert(
      batch(rows.map { case (k, a, c) => (k, a + 100.0, c) },
        "2024-07-01 13:00:00"), url, t, props)
    val got = spark.read.jdbc(url, t, props)
      .select(col("transaction_id"), col("amount").cast("double"))
      .as[(String, Double)].collect().toMap
    assert(got.size === 24)
    // Derby truncates to two decimals on the staging insert
    val want = rows.map { case (k, a, _) =>
      k -> BigDecimal(a + 100.0).setScale(2, BigDecimal.RoundingMode.DOWN)
        .toDouble }.toMap
    assert(got === want)
  }

  test("transform-chain batches (no processed_timestamp) upsert cleanly") {
    val t = "txn_chain"
    val chain = batch(Seq(("C1", 5.0, "food")), "2024-07-01 12:00:00")
      .drop("processed_timestamp")
    JdbcUpsert.upsert(chain, url, t, props)
    JdbcUpsert.upsert(chain.withColumn("amount", lit(6.5)), url, t, props)
    val got = spark.read.jdbc(url, t, props)
      .select(col("amount").cast("double")).as[Double].collect()
    assert(got.toSeq === Seq(6.5))
  }

  test("insert-only batches (no updatable columns) merge without error") {
    val t  = "txn_insert_only"
    val df = batch(Seq(("I1", 1.0, "x"), ("I1", 1.0, "x")),
      "2024-07-01 12:00:00").drop("amount", "processed_timestamp")
    JdbcUpsert.upsert(df, url, t, props) // exercises the no-SET MERGE form
    JdbcUpsert.upsert(df, url, t, props) // idempotent re-apply
    assert(spark.read.jdbc(url, t, props).count() === 1) // deduped + merged
  }

  test("invalid rows are side-output, the rest of the batch still lands") {
    val t = "txn_tolerant"
    val dirty = batch(
      Seq(("V1", 1.0, "ok"), ("BAD", 2.0, "oversized"), ("V2", 3.0, "ok"),
        ("OVER", 1.23e8, "overflow")),
      "2024-07-01 12:00:00")
      // a 501-char source_file overflows VARCHAR(500) — the reference logs
      // and skips such rows inside its insert loop
      .withColumn("source_file",
        when(col("transaction_id") === "BAD", lit("x" * 501))
          .otherwise(col("source_file")))
    val rejected = JdbcUpsert.upsert(dirty, url, t, props)
    assert(rejected.select("transaction_id").as[String].collect().toSet ===
      Set("BAD", "OVER"))
    val landed = spark.read.jdbc(url, t, props)
      .select("transaction_id").as[String].collect().toSet
    assert(landed === Set("V1", "V2"))
  }

  test("concurrent upserts into one target use distinct staging tables") {
    val t  = "txn_concurrent"
    val b1 = batch(Seq(("P1", 1.0, "a")), "2024-07-01 12:00:00")
    val b2 = batch(Seq(("P2", 2.0, "b")), "2024-07-01 12:00:00")
    val f1 = scala.concurrent.Future(JdbcUpsert.upsert(b1, url, t, props))(
      scala.concurrent.ExecutionContext.global)
    val f2 = scala.concurrent.Future(JdbcUpsert.upsert(b2, url, t, props))(
      scala.concurrent.ExecutionContext.global)
    import scala.concurrent.duration._
    scala.concurrent.Await.result(f1, 120.seconds)
    scala.concurrent.Await.result(f2, 120.seconds)
    val landed = spark.read.jdbc(url, t, props)
      .select("transaction_id").as[String].collect().toSet
    assert(landed === Set("P1", "P2"))
  }

  test("fromEnv gates on connection settings like the reference") {
    assert(JdbcUpsert.fromEnv(Map.empty).isEmpty)
    val got = JdbcUpsert.fromEnv(Map(
      "GRAFT_JDBC_URL" -> url, "GRAFT_JDBC_DRIVER" -> "d"))
    assert(got.map(_._1).contains(url))
    assert(got.exists(_._2.getProperty("driver") == "d"))
  }

  test("the LWW tie-break hash distinguishes null patterns") {
    // xxhash64 skips null children, so a hash of raw casts would give
    // (a=NULL, b="x") and (a="x", b=NULL) the SAME value — two distinct
    // rows tying on the "deterministic" tie-break and falling back to
    // partition order. The shared fullRowHash makes the null pattern
    // part of the hash; both merge paths (JDBC upsert + streaming
    // warehouse MERGE) use this one definition.
    val rows = Seq(
      (1L, Option.empty[String], Option("x")),
      (1L, Option("x"), Option.empty[String]),
      (1L, Option("x"), Option("x")))
      .toDF("transaction_id", "a", "b")
    val hashes = rows
      .select(JdbcUpsert.fullRowHash(rows.columns.toSeq).as("h"))
      .as[Long].collect()
    assert(hashes.distinct.length === 3)
  }
}
