package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftLog, GraftLogOps}

/** A merge source of at most [[GraftLogOps.MaxInlineKeys]] rows is
  * matched through its key set collected on the driver; a larger one
  * through joins. The two must be indistinguishable: a source of
  * `MaxInlineKeys + 1` rows lands the snapshot and change feed of the
  * `MaxInlineKeys`-row source plus its one extra insert, in both write
  * shapes, for a composite key and a single key, with a NULL key in the
  * table and in the source. Duplicate keys refuse on both sides.
  */
class GraftLogMergeGateSpec extends SparkSpecBase {

  private type R = (Option[Long], String, Long, Long)

  private val Schema = StructType(Seq(
    StructField("k1", LongType), StructField("k2", StringType),
    StructField("v", LongType), StructField("p", LongType)))

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map {
      case (k1, k2, v, p) => Row(k1.map(Long.box).orNull, k2, v, p) }: _*),
      Schema)

  /** 3,001 rows over four partitions p = k1 mod 4: k1 0..1499 under k2
    * "a" and "b", plus one row whose k1 is NULL.
    */
  private val base: Seq[R] =
    (for { i <- 0L until 1500L; k2 <- Seq("a", "b") }
      yield (Some(i), k2, i * 10 + (if (k2 == "a") 0 else 1), i % 4)) :+
      ((None, "a", -1L, 0L))

  private def mkTable(): String = {
    val root = Files.createTempDirectory("graft_gate").toString
    frame(base).write.format("graftlog").option("path", root)
      .option("schema", "k1 BIGINT, k2 STRING, v BIGINT, p BIGINT")
      .option("partitionBy", "p").mode("append").save()
    root
  }

  /** `n` rows: updates of (k1, "a") for k1 < 900 — under the composite
    * key 30% of every file, under k1 alone 60% — fresh-key inserts, and
    * one row whose k1 is NULL, which can match nothing.
    */
  private def source(n: Int): Seq[R] =
    (0L until 900L).map(i => (Some(i), "a", -i - 7, i % 4)) ++
      (0 until n - 901).map(j => (Some(5000L + j), "c", j.toLong,
        (5000L + j) % 4)) :+
      ((None, "b", 7L, 0L))

  /** Last-writer-wins: a key with a NULL part matches nothing. */
  private def lww(keys: Seq[String], src: Seq[R]): Seq[R] = {
    def key(r: R): Option[(Long, String)] =
      r._1.map(k => (k, if (keys.contains("k2")) r._2 else ""))
    val hit = src.flatMap(key).toSet
    base.filterNot(r => key(r).exists(hit)) ++ src
  }

  private def sorted(rs: Seq[R]): Seq[R] = rs.sortBy(_.toString)

  private def asR(r: Row, at: Int): R =
    (if (r.isNullAt(at)) None else Some(r.getLong(at)), r.getString(at + 1),
      r.getLong(at + 2), r.getLong(at + 3))

  private def rows(root: String): Seq[R] =
    sorted(spark.read.format("graftlog").option("path", root).load()
      .select("k1", "k2", "v", "p").collect().map(asR(_, 0)).toSeq)

  private def feed(root: String, v: Int): Seq[(String, R)] =
    spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === v.toLong)
      .select(GraftLog.ChangeTypeCol, "k1", "k2", "v", "p")
      .collect().map(r => (r.getString(0), asR(r, 1))).toSeq
      .sortBy(_.toString)

  private val Small = GraftLogOps.MaxInlineKeys
  private val Large = GraftLogOps.MaxInlineKeys + 1

  for {
    keys <- Seq(Seq("k1", "k2"), Seq("k1"))
    mode <- Seq(GraftLogOps.DeleteModeCow, GraftLogOps.DeleteModeMor)
  } test(s"$mode merge on ${keys.mkString("+")}: MaxInlineKeys and " +
      "MaxInlineKeys + 1 source rows land the same snapshot and change " +
      "feed, up to the extra insert") {
    val small = mkTable()
    val large = mkTable()
    assert(GraftLogOps.mergeIntoLog(spark, small, frame(source(Small)),
      keys, mode) === 2)
    assert(GraftLogOps.mergeIntoLog(spark, large, frame(source(Large)),
      keys, mode) === 2)
    val Seq(extra) = source(Large).diff(source(Small))
    assert(rows(small) === sorted(lww(keys, source(Small))))
    assert(rows(large) === sorted(rows(small) :+ extra))
    val fs = feed(small, 2)
    assert(feed(large, 2) === (fs :+ (("insert", extra))).sortBy(_.toString))
    if (keys.size == 2 && mode == GraftLogOps.DeleteModeMor) {
      // every file is sparsely touched, so the feed classifies: the
      // NULL-keyed source row is an insert, never a postimage
      def n(t: String) = fs.count(_._1 == t)
      assert(n("update_preimage") === 900)
      assert(n("update_postimage") === 900)
      assert(n("insert") === 100)
      assert(fs.exists(f => f._1 == "insert" && f._2._1.isEmpty))
    }
  }

  test("duplicate source keys refuse on both sides of the gate, NULL " +
      "keys comparing equal as `distinct` compares them") {
    for {
      n <- Seq(Small, Large)
      dup <- Seq[Seq[R] => Seq[R]](
        rs => rs.updated(1, rs.head.copy(_3 = 1L)),
        rs => rs.updated(950, (None, "b", 8L, 0L)))
    } {
      val root = mkTable()
      val e = intercept[IllegalArgumentException] {
        GraftLogOps.mergeIntoLog(spark, root, frame(dup(source(n))),
          Seq("k1", "k2"))
      }
      assert(e.getMessage.contains("unique"), e.getMessage)
      assert(GraftLog.latestVersion(spark.sessionState.newHadoopConf(),
        root) === 1)
    }
  }

  test("a compaction bin holding two deletion-vector files and a clean " +
      "file in one task resurrects no masked row and loses no live row") {
    val root = Files.createTempDirectory("graft_gate_bin").toString
    // three single-file appends, read largest first: A, clean C, B
    Seq((0L, 300L), (1000L, 1200L), (2000L, 2100L)).foreach {
      case (lo, hi) =>
        spark.range(lo, hi).coalesce(1)
          .selectExpr("id", "id * 3 AS v")
          .write.format("graftlog").option("path", root)
          .option("schema", "id BIGINT, v BIGINT").mode("append").save()
    }
    // sparse masks on A and B at different positions
    val masked = (col("id") < 300L && col("id") % 10 === 3L) ||
      (col("id") >= 2000L && col("id") % 10 === 7L)
    GraftLogOps.deleteFromLog(spark, root, masked, GraftLogOps.DeleteModeMor)
    val conf = spark.sessionState.newHadoopConf()
    assert(GraftLog.liveState(conf, root, 4).dvs.size === 2)
    val want = ((0L until 300L).filter(_ % 10 != 3) ++ (1000L until 1200L) ++
      (2000L until 2100L).filter(_ % 10 != 7)).map(i => (i, i * 3))
    val v = GraftLogOps.compactLog(spark, root)
    assert(v === 5)
    // one bin, written by one task, holds every row
    assert(GraftLog.liveEntries(conf, root, v).size === 1)
    assert(GraftLog.liveState(conf, root, v).dvs.isEmpty)
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === want)
  }
}
