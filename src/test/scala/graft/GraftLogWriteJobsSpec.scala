package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLogOps, JsonArraySink}

/** Pins how many Spark jobs one lakehouse write costs at the reference's
  * unit of work, where every job is fixed latency rather than data work:
  * a small-source merge in each write shape, and one landed file through
  * the JSON array sink.
  */
class GraftLogWriteJobsSpec extends SparkSpecBase {
  import spark.implicits._

  /** 400 rows, Hive-partitioned on bucket = id mod 4. */
  private def mkTable(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    spark.range(0, 400)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, v DOUBLE")
      .option("partitionBy", "bucket").mode("append").save()
    root
  }

  /** Five scattered updates and two inserts. */
  private def source =
    Seq((1L, 1L, -1.0), (17L, 1L, -17.0), (33L, 1L, -33.0),
      (2L, 2L, -2.0), (18L, 2L, -18.0),
      (1001L, 1L, -1001.0), (1002L, 2L, -1002.0))
      .toDF("id", "bucket", "v")

  private def landed(root: String): Unit = {
    val t = spark.read.format("graftlog").option("path", root).load()
    assert(t.count() === 402L)
    assert(t.filter(col("id") === 17L).select(col("v")).as[Double].head()
      === -17.0)
  }

  test("a small-source copy-on-write merge runs at most five Spark jobs") {
    val root = mkTable("graft_jobs_cow")
    val (v, n) = jobs(GraftLogOps.mergeIntoLog(spark, root, source,
      Seq("id"), GraftLogOps.DeleteModeCow))
    assert(v === 2)
    assert(n <= 5, s"$n jobs")
    landed(root)
  }

  test("a small-source merge-on-read merge runs at most seven Spark jobs") {
    val root = mkTable("graft_jobs_mor")
    val (v, n) = jobs(GraftLogOps.mergeIntoLog(spark, root, source,
      Seq("id"), GraftLogOps.DeleteModeMor))
    assert(v === 2)
    assert(n <= 7, s"$n jobs")
    landed(root)
  }

  test("JsonArraySink.write lands one file in one Spark job") {
    val dir = Files.createTempDirectory("graft_jobs_json").toString
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "name")
    val (n, j) = jobs(JsonArraySink.write(df, s"$dir/out.json",
      "raw-data/f.csv", "2024-07-01T12:00:00"))
    assert(n === 3L)
    assert(j <= 1, s"$j jobs")
  }
}
