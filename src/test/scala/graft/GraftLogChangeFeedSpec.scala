package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.sources.{GraftLog, GraftLogOps}

/** The batch change feed and the streaming tail read one log the same
  * way. Over a fixture log with appends, merge-on-read UPDATE, MERGE
  * and DELETE (deletion vectors, update pre/postimage classes), a
  * compaction, a copy-on-write DELETE of a masked file and files above
  * a small `maxPartitionBytes` (byte-range splits):
  *
  *  - the streaming change feed, drained with `Trigger.AvailableNow` one
  *    version per batch and unbounded, equals the batch change feed over
  *    the same range as a multiset of rows, `_change_type` and
  *    `_commit_version`, with and without a data filter;
  *  - the snapshot tail's appended rows equal the batch feed's adds
  *    (inserts and update postimages);
  *  - a removed data file that is gone refuses the range at planning,
  *    with one message, on both paths.
  */
class GraftLogChangeFeedSpec extends SparkSpecBase {

  private val ddl = "id BIGINT, bucket BIGINT, v DOUBLE"

  private def append(root: String, from: Long, until: Long): Unit =
    spark.range(from, until).coalesce(1)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", ddl).mode("append").save()

  /** v1..v7: appends (v3 one 40 000-row file), a merge-on-read UPDATE
    * (v4) and MERGE (v5), a compaction (v6) and an append (v7).
    */
  private def mkLog(prefix: String): String = {
    import spark.implicits._
    val root = Files.createTempDirectory(prefix).toString
    append(root, 0, 200)
    append(root, 200, 400)
    append(root, 400, 40400)
    GraftLogOps.updateLog(spark, root, col("id") % 16 === 5,
      Map("v" -> (col("v") * 10)), GraftLogOps.DeleteModeMor)
    val source = Seq((7L, 3L, -1.0), (207L, 3L, -1.0), (407L, 3L, -1.0),
      (90000L, 0L, -1.0), (90001L, 1L, -1.0)).toDF("id", "bucket", "v")
    GraftLogOps.mergeIntoLog(spark, root, source, Seq("id"),
      GraftLogOps.DeleteModeMor)
    GraftLogOps.compactLog(spark, root)
    append(root, 60000, 60100)
    root
  }

  /** `body` with `spark.sql.files.maxPartitionBytes` at 64 KiB, so the
    * fixture's large files read as several byte ranges.
    */
  private def withSmallSplits[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "65536")
    try body finally spark.conf.set(key, prev)
  }

  private def feed(root: String): DataFrame =
    spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()

  private def sorted(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted

  /** A stream over `root` (one version per batch when `maxVersions` is
    * set).
    */
  private def stream(root: String, cdc: Boolean,
      maxVersions: Option[Int]): DataFrame = {
    val r = spark.readStream.format("graftlog").option("path", root)
      .option("readChangeFeed", cdc)
    maxVersions.fold(r)(n => r.option("maxVersionsPerTrigger", n)).load()
  }

  /** Every row `df` emits after `filter`, drained to the end with
    * `Trigger.AvailableNow` from `checkpoint` (a fresh one by default);
    * and the batch count.
    */
  private def drain(df: DataFrame, filter: Option[Column],
      checkpoint: String = Files.createTempDirectory("graft_cf_ckp")
        .toString): (Seq[Row], Int) = {
    val rows = mutable.ArrayBuffer[Row]()
    var batches = 0
    filter.fold(df)(df.filter).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches += 1
        rows ++= b.collect()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    (rows.toSeq, batches)
  }

  private val filters: Seq[Option[Column]] =
    Seq(None, Some(col("id") < 300L))

  test("the streaming change feed equals the batch change feed over " +
      "DV'd, compacted, copy-on-write and byte-range-split versions, " +
      "one version per trigger and unbounded, with and without a " +
      "data filter") {
    val root = mkLog("graft_cf_parity")
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 9,
      GraftLogOps.DeleteModeMor) // v8: plain deletes by vector
    GraftLogOps.deleteFromLog(spark, root,
      col("id") >= 60050L && col("id") < 70000L,
      GraftLogOps.DeleteModeCow) // v9: rewrites v7's masked file
    append(root, 70000, 70050) // v10
    val latest = GraftLog.latestVersion(
      spark.sessionState.newHadoopConf(), root)
    assert(latest === 10)
    withSmallSplits {
      assert(feed(root).rdd.getNumPartitions > latest,
        "the large files did not split")
      val kinds = feed(root).select(GraftLog.ChangeTypeCol).distinct()
        .collect().map(_.getString(0)).toSet
      assert(kinds === Set("insert", "delete", "update_preimage",
        "update_postimage"), kinds.toString)
      filters.foreach { f =>
        val batch = f.fold(feed(root))(feed(root).filter).collect().toSeq
        assert(batch.nonEmpty)
        Seq(Some(1), None).foreach { n =>
          val (streamed, batches) = drain(stream(root, cdc = true, n), f)
          if (n.isDefined) assert(batches === latest)
          assert(sorted(streamed) === sorted(batch),
            s"filter=$f maxVersionsPerTrigger=$n")
        }
      }
    }
  }

  test("the snapshot tail's appended rows equal the batch change " +
      "feed's adds (inserts and update postimages)") {
    val root = mkLog("graft_cf_tail")
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 9,
      GraftLogOps.DeleteModeMor) // v8: a vector commit appends nothing
    withSmallSplits {
      filters.foreach { f =>
        val adds = feed(root).filter(col(GraftLog.ChangeTypeCol)
            .isin("insert", "update_postimage"))
          .select("id", "bucket", "v")
        val want = f.fold(adds)(adds.filter).collect().toSeq
        Seq(Some(1), None).foreach { n =>
          val (streamed, _) = drain(stream(root, cdc = false, n), f)
          assert(sorted(streamed) === sorted(want),
            s"filter=$f maxVersionsPerTrigger=$n")
        }
      }
    }
  }

  test("a removed data file that is gone refuses the change feed at " +
      "planning with one message, batch and streaming alike") {
    val root = Files.createTempDirectory("graft_cf_gone").toString
    append(root, 0, 200)   // v1
    append(root, 200, 400) // v2
    // a tail loaded now plans v3 in its own micro-batch, not in the
    // statistics of the scan it was loaded with
    val tail = stream(root, cdc = true, None)
    val conf = spark.sessionState.newHadoopConf()
    val v1File = GraftLog.liveEntries(conf, root, 1).head
    GraftLogOps.deleteFromLog(spark, root, col("id") < 20L,
      GraftLogOps.DeleteModeCow) // v3: removes v1's file
    assert(!GraftLog.liveEntries(conf, root, 3).contains(v1File))
    val path = new org.apache.hadoop.fs.Path(s"$root/$v1File")
    assert(path.getFileSystem(conf).delete(path, false))
    def refusal(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case i: IllegalStateException => i.getMessage
      }.getOrElse(fail("no planning refusal in the failure", e))
    val batch = refusal(intercept[Exception](feed(root).collect()))
    assert(batch.contains(s"version 3 removes $v1File but the file is gone"),
      batch)
    val streamed = refusal(intercept[StreamingQueryException](
      drain(tail, None)))
    assert(streamed === batch)
  }

  test("a checkpointed change feed that consumed a removing version " +
      "restarts after the removed file is gone, and reads on") {
    val root = Files.createTempDirectory("graft_cf_restart").toString
    val ckp = Files.createTempDirectory("graft_cf_restart_ckp").toString
    val conf = spark.sessionState.newHadoopConf()
    append(root, 0, 200)   // v1
    append(root, 200, 400) // v2
    assert(drain(stream(root, cdc = true, None), None, ckp)._1.size === 400)
    val v1File = GraftLog.liveEntries(conf, root, 1).head
    GraftLogOps.deleteFromLog(spark, root, col("id") < 20L,
      GraftLogOps.DeleteModeCow) // v3: removes v1's file
    assert(!GraftLog.liveEntries(conf, root, 3).contains(v1File))
    val (v3Rows, _) = drain(stream(root, cdc = true, None), None, ckp)
    // copy-on-write: the removed file's rows leave, its kept rows return
    assert(v3Rows.groupBy(_.getAs[String](GraftLog.ChangeTypeCol))
      .map { case (k, rs) => k -> rs.size } ===
      Map("delete" -> 200, "insert" -> 180))
    val path = new org.apache.hadoop.fs.Path(s"$root/$v1File")
    assert(path.getFileSystem(conf).delete(path, false))
    append(root, 400, 450) // v4
    val (resumed, batches) =
      drain(stream(root, cdc = true, None), None, ckp)
    assert(batches === 1)
    assert(sorted(resumed) === sorted((400L until 450L).map(i =>
      Row(i, i % 4, (i * 10).toDouble, "insert", 4L))))
    // a range that still covers the removal refuses at planning, with
    // the batch feed's message
    def refusal(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case i: IllegalStateException => i.getMessage
      }.getOrElse(fail("no planning refusal in the failure", e))
    val batch = refusal(intercept[Exception](feed(root).collect()))
    assert(batch.contains(s"version 3 removes $v1File but the file is gone"),
      batch)
    assert(refusal(intercept[StreamingQueryException](
      drain(stream(root, cdc = true, None), None))) === batch)
  }
}
