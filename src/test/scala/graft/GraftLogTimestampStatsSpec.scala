package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogOps}

/** Every data file the engine writes carries manifest min/max for its
  * TIMESTAMP columns — DELETE rewrites (copy-on-write, and the dense
  * rewrites of merge-on-read) and compaction included, not only
  * appends — so the stats file skip keeps working on a timestamp
  * predicate after maintenance. (A writer that stores TIMESTAMP as
  * INT96 records no statistics for it.)
  */
class GraftLogTimestampStatsSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  test("DELETE in both modes and OPTIMIZE keep TIMESTAMP min/max in " +
      "every add row, and a timestamp filter still skips files") {
    val root = Files.createTempDirectory("graft_ts_stats").toString
    // two appends of four buckets each; bucket k holds hours
    // [100k, 100k + 100) after the base instant, so each bucket's files
    // cover a disjoint timestamp range
    def append(from: Long): Unit =
      spark.range(from, from + 400).selectExpr("id",
          "(id % 400) DIV 100 AS bucket",
          "timestamp_micros(1700000000000000 + (id % 400) * 3600000000)" +
            " AS ts")
        .write.format("graftlog").option("path", root)
        .option("schema", "id BIGINT, bucket BIGINT, ts TIMESTAMP")
        .option("partitionBy", "bucket").mode("append").save()
    append(0)
    append(400)
    // copy-on-write: rewrites both bucket-0 files
    GraftLogOps.deleteFromLog(spark, root, col("id") % 400 < 10,
      GraftLogOps.DeleteModeCow)
    // merge-on-read: 90% of one bucket-1 file (a dense rewrite) and one
    // row of a bucket-2 file (a deletion vector)
    GraftLogOps.deleteFromLog(spark, root,
      (col("id") >= 500 && col("id") < 590) || col("id") === 250,
      GraftLogOps.DeleteModeMor)
    GraftLogOps.compactLog(spark, root)
    val latest = GraftLog.latestVersion(conf, root)
    assert(latest === 5)
    val adds = (1 to latest).flatMap(v =>
      GraftLog.versionRows(conf, root, v).filter(_.action == "add")
        .map(r => (v, r)))
    assert(adds.map(_._1).distinct === Seq(1, 2, 3, 4, 5),
      "every version adds files")
    adds.foreach { case (v, r) =>
      val st = GraftLog.fileEntry(root, r).stats
      assert(st.exists(s => s.min.contains("ts") && s.max.contains("ts")),
        s"v$v add ${r.file} carries no ts min/max: ${r.stats}")
    }
    val df = spark.read.format("graftlog").option("path", root).load()
    assert(df.count() === 800L - 20 - 90 - 1)
    val all = df.rdd.getNumPartitions
    val late = df.filter(col("ts") >= to_timestamp(
      lit("2023-11-27 10:13:20")))
    assert(late.count() === 200L)
    assert(late.rdd.getNumPartitions < all,
      s"the ts filter planned ${late.rdd.getNumPartitions} of $all " +
        "partitions")
  }
}
