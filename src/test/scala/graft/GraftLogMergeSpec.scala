package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogOps, GraftLogWrite}

/** Row-level MERGE / DELETE on the transaction log: only the files that
  * actually contain matched rows are rewritten, as ONE zero-rename
  * remove+add version; the post-op snapshot equals the LWW/DELETE
  * semantics row-for-row, and the change feed shows exactly the
  * rewritten rows. Refusals: schema drift, duplicate merge keys, and
  * legacy (stats-less) logs.
  */
class GraftLogMergeSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  /** 100 rows, Hive-partitioned on bucket = id mod 4 → 4 part-files
    * whose manifest stats carry min=max=bucket.
    */
  private def mkTable(): String = {
    val root = Files.createTempDirectory("graft_merge").toString
    spark.range(0, 100)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, v DOUBLE")
      .option("partitionBy", "bucket").mode("append").save()
    root
  }

  test("mergeIntoLog rewrites ONLY the files containing matched keys, " +
      "as one zero-rename remove+add version; the snapshot equals LWW " +
      "row-for-row and the change feed shows exactly the rewritten rows") {
    import spark.implicits._
    val root = mkTable()
    // update ids 1 and 5 (both in the bucket=1 file), insert id 1001
    val source = Seq((1L, 1L, -1.0), (5L, 1L, -5.0), (1001L, 1L, -1001.0))
      .toDF("id", "bucket", "v")
    val v = GraftLogOps.mergeIntoLog(spark, root, source, Seq("id"))
    assert(v === 2)
    // exactly ONE file removed — the bucket=1 file; buckets 0/2/3 keep
    // their original files untouched
    val removes = GraftLog.versionRows(conf, root, 2)
      .filter(_.action == "remove")
    assert(removes.size === 1, removes.map(_.file).mkString(", "))
    assert(removes.head.file.contains("bucket=1"), removes.head.file)
    // post-merge snapshot = the LWW result, row for row
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val want = ((0L until 100L).map(i => (i, i % 4,
      if (i == 1 || i == 5) -i.toDouble else i * 10.0)) :+
      ((1001L, 1L, -1001.0))).sortBy(_._1)
    assert(got === want)
    // change feed of the merge version: delete rows are EXACTLY the old
    // bucket=1 file's rows; insert rows its rewrite (kept + source)
    val cdc = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === 2L)
    val deleted = cdc.filter(col(GraftLog.ChangeTypeCol) === "delete")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted === (0L until 100L).filter(_ % 4 == 1))
    val inserted = cdc.filter(col(GraftLog.ChangeTypeCol) === "insert")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(inserted ===
      ((0L until 100L).filter(_ % 4 == 1) :+ 1001L).sorted)
  }

  test("merge refusals and no-ops: an empty source commits nothing; " +
      "duplicate source keys refuse; schema drift refuses; a legacy " +
      "(stats-less) log refuses row-level ops") {
    import spark.implicits._
    val root = mkTable()
    val empty = spark.range(0)
      .selectExpr("id", "id AS bucket", "CAST(id AS DOUBLE) AS v")
    assert(GraftLogOps.mergeIntoLog(spark, root, empty, Seq("id")) === 1)
    assert(GraftLog.latestVersion(conf, root) === 1)
    val dup = Seq((1L, 1L, 0.0), (1L, 1L, 9.0)).toDF("id", "bucket", "v")
    val e1 = intercept[IllegalArgumentException] {
      GraftLogOps.mergeIntoLog(spark, root, dup, Seq("id"))
    }
    assert(e1.getMessage.contains("unique"), e1.getMessage)
    assert(GraftLog.latestVersion(conf, root) === 1)
    val drift = Seq((1L, "x")).toDF("id", "name")
    val e2 = intercept[IllegalArgumentException] {
      GraftLogOps.mergeIntoLog(spark, root, drift, Seq("id"))
    }
    assert(e2.getMessage.contains("must match the"), e2.getMessage)
    // a manifest whose add row carries no rows/bytes was not written
    // through the commit protocol — the manifest read refuses it, so
    // row-level ops refuse before anything is staged or committed
    val legacy = Files.createTempDirectory("graft_merge_legacy").toString
    GraftLogWrite.writeManifestRows(conf,
      new org.apache.hadoop.fs.Path(s"$legacy/_log/v1/manifest.parquet"),
      Seq(GraftLog.ManifestRow("schema", "id BIGINT, bucket BIGINT, v DOUBLE"),
        GraftLog.ManifestRow("add", "data_a/part-0.parquet")))
    new org.apache.hadoop.fs.Path(legacy).getFileSystem(conf)
      .create(new org.apache.hadoop.fs.Path(s"$legacy/_log/v1._ok"))
      .close()
    val e3 = intercept[IllegalArgumentException] {
      GraftLogOps.deleteFromLog(spark, legacy, col("id") === 1L)
    }
    assert(e3.getMessage.contains("without rows/bytes") &&
      e3.getMessage.contains(legacy), e3.getMessage)
    assert(GraftLog.latestVersion(conf, legacy) === 1)
  }

  test("SQL DELETE FROM runs the row-level delete for expressible and " +
      "inexpressible predicates alike (one remove+add version, " +
      "CDC-visible); TRUNCATE empties the table") {
    val root = mkTable()
    val parent = root.substring(0, root.lastIndexOf('/'))
    val name = root.substring(root.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent)
    spark.sql(s"DELETE FROM graft.`$name` WHERE bucket = 2")
    assert(GraftLog.latestVersion(conf, root) === 2)
    val got = spark.sql(s"SELECT id FROM graft.`$name`")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L until 100L).filterNot(_ % 4 == 2))
    // the delete version is one remove (the bucket=2 file) + adds; the
    // change feed shows it
    val removes = GraftLog.versionRows(conf, root, 2)
      .filter(_.action == "remove")
    assert(removes.size === 1, removes.map(_.file).mkString(", "))
    assert(removes.head.file.contains("bucket=2"), removes.head.file)
    // an inexpressible predicate prunes no file on statistics; the
    // match pass still rewrites only the files holding matched rows
    // (GraftLogSqlDmlSpec pins that in detail)
    spark.sql(s"DELETE FROM graft.`$name` WHERE id % 2 = 0")
    assert(GraftLog.latestVersion(conf, root) === 3)
    assert(spark.sql(s"SELECT id FROM graft.`$name`")
      .collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 100L).filter(i => i % 2 == 1 && i % 4 != 2))
    // TRUNCATE = delete-all: every file removed, the table reads empty,
    // history stays time-travelable
    spark.sql(s"TRUNCATE TABLE graft.`$name`")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$name`")
      .collect().head.getLong(0) === 0L)
    assert(spark.read.format("graftlog").option("path", root)
      .option("version", 1).load().count() === 100L)
  }

  test("row-level ops on a WIDENED table: the rewrite reads pre-" +
      "widening files under the TABLE schema (appended column null-" +
      "filled), for merge, delete, and compaction alike") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_merge_widen").toString
    spark.range(0, 50).selectExpr("id")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT").mode("append").save()
    spark.range(50, 60).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, v DOUBLE").mode("append").save()
    // the merge touches keys living in a PRE-widening file
    val source = Seq((5L, Some(-5.0)), (999L, Some(-999.0)))
      .toDF("id", "v")
    assert(GraftLogOps.mergeIntoLog(spark, root, source, Seq("id")) === 3)
    def snapshot(): Seq[(Long, Option[Double])] =
      spark.read.format("graftlog").option("path", root).load()
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1).toSeq
    val want = ((0L until 50L).map(i =>
      (i, if (i == 5) Some(-5.0) else None)) ++
      (50L until 60L).map(i => (i, Some(i.toDouble))) :+
      ((999L, Some(-999.0)))).sortBy(_._1)
    assert(snapshot() === want)
    // delete on the widened column: NULL-condition (pre-widening) rows
    // are kept, matching rows leave
    GraftLogOps.deleteFromLog(spark, root, col("v") > 55.0)
    assert(snapshot() === want.filterNot(_._2.exists(_ > 55.0)))
    // compaction across both generations preserves the null-fill
    val before = snapshot()
    graft.sources.GraftLogOps.compactLog(spark, root)
    assert(snapshot() === before)
  }

  test("compactLog is PARTITION-AWARE: small files bin WITHIN their " +
      "partition-value group, every post-OPTIMIZE file keeps min==max " +
      "on the partition column, and a partition-predicate scan skips " +
      "exactly as many files after compaction as before; groups with " +
      "one small file are untouched, and a compacted log is a no-op") {
    val root = mkTable() // 4 bucket files (one each) — v1
    // second append: 4 more files, one per bucket → every group has 2
    spark.range(100, 200)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("partitionBy", "bucket").mode("append").save()
    assert(GraftLog.dataFiles(conf, root, 2).size === 8)
    val v3 = graft.sources.GraftLogOps.compactLog(spark, root)
    assert(v3 === 3)
    // 8 small files → 4 output files, ONE per bucket group
    val after = GraftLog.liveAdds(conf, root, 3)
    assert(after.size === 4, after.map(_.file).mkString(", "))
    // partition locality survived: every compacted file's bucket
    // bounds are min==max — the manifest-stats skip is intact
    after.foreach { r =>
      val st = graft.sources.GraftLogStats.parseStats(r.stats.get).get
      assert(st.min("bucket") === st.max("bucket"),
        s"${r.file}: bucket bounds ${st.min("bucket")}..${st.max("bucket")}")
    }
    // a bucket = 3 scan touches exactly ONE file after OPTIMIZE (it
    // touched two of eight before — compaction IMPROVED the skip, and
    // crucially did not erode it to a full-table read)
    def mayMatchCount(v: Int): Int =
      GraftLog.liveAdds(conf, root, v).count { r =>
        val st = graft.sources.GraftLogStats.parseStats(r.stats.get).get
        graft.sources.GraftLogStats.mayMatch(
          spark.read.format("graftlog").option("path", root).load().schema,
          st, r.rows, org.apache.spark.sql.sources.EqualTo("bucket", 3L))
      }
    assert(mayMatchCount(2) === 2)
    assert(mayMatchCount(3) === 1)
    // content preserved exactly
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
      .toSeq
    assert(got === (0L until 200L).map(i => (i, i * 10.0)))
    // every group now holds ONE file below the threshold → no-op
    assert(graft.sources.GraftLogOps.compactLog(spark, root) === 3)
    assert(GraftLog.latestVersion(conf, root) === 3)
  }

  test("per-file MERGE candidate pruning: a 2-key source spanning the " +
      "key domain prunes to exactly the 2 files holding those keys — " +
      "not every file between them") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_prune").toString
    // 4 files RANGE-partitioned on id: [0,24] [25,49] [50,74] [75,99]
    spark.range(0, 100)
      .selectExpr("id", "CAST(id / 25 AS BIGINT) AS grp",
        "CAST(id AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, grp BIGINT, v DOUBLE")
      .option("partitionBy", "grp").mode("append").save()
    val entries = GraftLog.liveAdds(conf, root, 1)
      .map(r => (r.file, GraftLog.fileEntry(root, r)))
    assert(entries.size === 4)
    val src = Seq((3L, 0L, -3.0), (97L, 3L, -97.0)).toDF("id", "grp", "v")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, grp BIGINT, v DOUBLE")
    val candidates = graft.sources.GraftLogOps
      .pruneCandidates(schema, entries, src, Seq("id"))
      .map(_._1).sorted
    assert(candidates.size === 2, candidates.mkString(", "))
    assert(candidates.exists(_.contains("grp=0")), candidates)
    assert(candidates.exists(_.contains("grp=3")), candidates)
    // and the merge itself rewrites exactly those two files
    val v2 = GraftLogOps.mergeIntoLog(spark, root, src, Seq("id"))
    assert(v2 === 2)
    val removes = GraftLog.versionRows(conf, root, 2)
      .filter(_.action == "remove").map(_.file).sorted
    assert(removes === candidates)
  }

  test("concurrent merges on disjoint keys BOTH land without caller " +
      "intervention: the loser of the claim/conflict race re-plans " +
      "against the new snapshot and retries (bounded OCC auto-retry)") {
    import spark.implicits._
    val root = mkTable()
    val srcA = Seq((1L, 1L, -1.0)).toDF("id", "bucket", "v")
    val srcB = Seq((2L, 2L, -2.0)).toDF("id", "bucket", "v")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(srcA, srcB).map { src =>
      new Thread(() => {
        gate.await()
        try results.add(GraftLogOps.mergeIntoLog(spark, root, src,
          Seq("id")))
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors.toString)
    assert(results.size === 2)
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSeq.sorted === Seq(2, 3))
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(1L) === -1.0 && got(2L) === -2.0)
    assert(got.size === 100)
  }

  test("MERGE is write-SERIALIZABLE, not merely snapshot-isolated: a " +
      "commit whose read snapshot was invalidated by a concurrently-" +
      "ADDED file that may hold its merge keys refuses (the add-" +
      "conflict revalidation under the claim), and the bounded retry " +
      "re-plans so the LWW invariant holds anyway") {
    import spark.implicits._
    val root = mkTable()
    // mechanism: a commit prepared at readVersion=1 must refuse when
    // v2 added a file whose stats may hold key id=150
    spark.range(150, 151)
      .selectExpr("id", "id % 4 AS bucket", "CAST(0 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("partitionBy", "bucket").mode("append").save() // v2
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, bucket BIGINT, v DOUBLE")
    val conflictTest: graft.sources.GraftLog.ManifestRow => Boolean =
      r => graft.sources.GraftLogStats.parseStats(r.stats.get).exists(
        st => graft.sources.GraftLogStats.mayMatch(schema, st, r.rows,
          org.apache.spark.sql.sources.EqualTo("id", 150L)))
    val e = intercept[graft.sources.GraftLogConflictException] {
      graft.sources.GraftLogWrite.commitStaged(conf, root,
        s"$root/data/w_test_x", Nil, Some(schema),
        addConflict = Some((1, conflictTest)))
    }
    assert(e.getMessage.contains("read-write conflict"), e.getMessage)
    // no claim leaked: the next ordinary commit still lands
    assert(GraftLogOps.mergeIntoLog(spark, root,
      Seq((150L, 2L, -150.0)).toDF("id", "bucket", "v"), Seq("id")) === 3)
    val got = spark.read.format("graftlog").option("path", root).load()
      .filter(col("id") === 150L).collect()
    assert(got.length === 1 && got.head.getDouble(2) === -150.0)
  }

  test("deleteFromLog: matched rows leave, NULL-condition rows are " +
      "KEPT (SQL DELETE semantics), a no-match delete commits nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_del").toString
    Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, v DOUBLE").mode("append").save()
    val v2 = GraftLogOps.deleteFromLog(spark, root, col("v") > 2.0)
    assert(v2 === 2)
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L)) // id 3 deleted; id 2 (NULL cond) kept
    // idempotent: the same delete again matches nothing → no new version
    assert(GraftLogOps.deleteFromLog(spark, root, col("v") > 2.0) === 2)
    assert(GraftLog.latestVersion(conf, root) === 2)
  }
}
