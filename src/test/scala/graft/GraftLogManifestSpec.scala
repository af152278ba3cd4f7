package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftLog, GraftLogScan, GraftLogWrite}

/** Round-12 connector surface: manifest-embedded file statistics (zero
  * plan-time data-file footer I/O), the append schema contract, the
  * refusal of manifests not written through the commit protocol,
  * per-file INT96 pushdown safety on mixed-encoding logs, Hive-layout
  * partitioned writes whose pruning IS the stats skip, CDC reads (batch
  * fold-to-snapshot and the streaming tail over a compaction), the
  * vectorized read path, and the atomic streaming-epoch marker.
  */
class GraftLogManifestSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def scanOf(df: org.apache.spark.sql.DataFrame): GraftLogScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[GraftLogScan]
    }.head

  test("a connector-written table plans with ZERO data-file footer " +
      "opens: schema, statistics and the file skip all come from the " +
      "manifest — and the skip still prunes files") {
    val root = Files.createTempDirectory("graft_manstats").toString
    // 4 range-clustered part-files (one per write task)
    spark.range(1000).selectExpr("id", "concat('s-', id) AS name")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, name STRING").mode("append").save()
    val all = spark.read.format("graftlog").option("path", root).load()
    assert(all.schema.fieldNames.toSeq === Seq("id", "name"))
    val allScan = scanOf(all)
    assert(allScan.toBatch.planInputPartitions().length === 4)
    assert(allScan.estimateStatistics().numRows.getAsLong === 1000L)
    assert(allScan.estimateStatistics().sizeInBytes.getAsLong > 0L)
    // selective long predicate → only the last range file survives
    val sel = spark.read.format("graftlog").option("path", root).load()
      .filter(col("id") > 900L)
    val selScan = scanOf(sel)
    val kept = selScan.toBatch.planInputPartitions().length
    assert(kept === 1, s"manifest stats skip kept $kept of 4")
    assert(sel.collect().map(_.getLong(0)).sorted.toSeq === (901L to 999L))
    // string equality outside every file's [min,max] → zero files
    val none = spark.read.format("graftlog").option("path", root).load()
      .filter(col("name") === "zzz")
    assert(scanOf(none).toBatch.planInputPartitions().isEmpty)
    assert(none.count() === 0L)
  }

  test("append schema contract: a drifted schema refuses loudly BEFORE " +
      "any task runs, and the log is unchanged") {
    val root = Files.createTempDirectory("graft_manschema").toString
    spark.range(10).selectExpr("id", "id * 0.5 AS score")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, score DOUBLE").mode("append").save()
    assert(GraftLog.latestVersion(conf, root) === 1)
    // the DataFrame API path resolves the query against the TABLE
    // schema (from the manifest, not the user option) before the
    // builder ever runs, so a drifted FILE is unrepresentable:
    //  - a non-storable type refuses in analysis;
    //  - a coercible type (string→double) is CAST to the table type;
    //  - a missing nullable column is NULL-FILLED (SQL-standard insert
    //    semantics) — the committed file still carries the full table
    //    schema.
    intercept[Exception] {
      spark.range(5).selectExpr("id", "array(id) AS score")
        .write.format("graftlog").option("path", root)
        .mode("append").save()
    }
    assert(GraftLog.latestVersion(conf, root) === 1, "log grew on refusal")
    spark.range(100, 105).selectExpr("id")
      .write.format("graftlog").option("path", root)
      .mode("append").save()
    assert(GraftLog.latestVersion(conf, root) === 2)
    val after = spark.read.format("graftlog").option("path", root).load()
    assert(after.schema.toDDL === "id BIGINT,score DOUBLE")
    assert(after.count() === 15L)
    assert(after.filter(col("score").isNull).count() === 5L,
      "missing nullable column must null-fill under the table schema")
    // the connector's OWN contract (defense in depth for any write path
    // that reaches the builder directly): exact name+type match, else a
    // named refusal
    def info(ddl: String) =
      new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def schema(): StructType = StructType.fromDDL(ddl)
        override def queryId(): String = "t"
        override def options() =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap())
      }
    val table = StructType.fromDDL("id BIGINT, score DOUBLE")
    val wrap = new org.apache.spark.util.SerializableConfiguration(conf)
    val e = intercept[IllegalStateException] {
      new graft.sources.GraftLogWriteBuilder(root,
        info("id BIGINT, score STRING"), wrap, Some(table)).build()
    }
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    // matching schema builds fine
    new graft.sources.GraftLogWriteBuilder(root,
      info("id BIGINT, score DOUBLE"), wrap, Some(table)).build()
  }

  test("mixed INT96/INT64 timestamp encodings: a filter pushed because " +
      "the FIRST file is INT64 is dropped per-file for the INT96 one — " +
      "the scan neither errors nor loses rows") {
    val root = Files.createTempDirectory("graft_manmixed").toString
    def rows(from: Long, until: Long) = spark.range(from, until)
      .selectExpr("id", "timestamp_micros(id * 1000000L) AS ts")
    def commit(from: Long, until: Long): Unit =
      commitParquet(root, rows(from, until).schema)(dir =>
        rows(from, until).coalesce(1).write.parquet(dir))
    // v1: ids 0..499 as INT64 micros (NOT Spark's INT96 default)
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    def withTsType(t: String)(body: => Unit): Unit =
      try { spark.conf.set("spark.sql.parquet.outputTimestampType", t); body }
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    withTsType("TIMESTAMP_MICROS")(commit(0, 500))
    // v2: ids 500..999 written as legacy INT96
    withTsType("INT96")(commit(500, 1000))
    val df = spark.read.format("graftlog").option("path", root).load()
      .filter(col("ts") >= lit(java.time.Instant.ofEpochSecond(250L)))
    // the filter IS pushed (planning reads the manifest, not footers)...
    assert(scanOf(df).pushedDesc.exists(_.contains("ts")),
      scanOf(df).description())
    // ...and the INT96 file still decodes: 250..999 all present
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (250L to 999L))
  }

  test("partitioned write: Hive k=v layout on disk, values still in the " +
      "files, and partition pruning is the ordinary manifest-stats skip") {
    val root = Files.createTempDirectory("graft_manpart").toString
    spark.range(300)
      .selectExpr("id", "CAST(pmod(id, 3) AS INT) AS bucket",
        "concat('r-', id) AS tag")
      .coalesce(2)
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket INT, tag STRING")
      .option("partitionBy", "bucket")
      .mode("append").save()
    // layout: data/w_<query>_<uuid>/bucket=<v>/part-*.parquet — written
    // in place (publication is the manifest row, zero commit renames)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val writeDir = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/data")).map(_.getPath)
      .filter(_.getName.startsWith("w_")).head
    val dirs = fs.listStatus(writeDir).map(_.getPath.getName).sorted
    assert(dirs.toSeq === Seq("bucket=0", "bucket=1", "bucket=2"))
    val all = spark.read.format("graftlog").option("path", root).load()
    assert(all.count() === 300L)
    // the write REQUIRES clustering+ordering by the partition columns,
    // so each partition value lands in exactly one task = one file
    // (not tasks × values small files)
    val allParts = scanOf(all).toBatch.planInputPartitions().length
    assert(allParts === 3, s"one file per partition value, got $allParts")
    val one = spark.read.format("graftlog").option("path", root).load()
      .filter(col("bucket") === 1)
    val kept = scanOf(one).toBatch.planInputPartitions().length
    assert(kept === 1, s"partition pruning kept $kept of $allParts")
    val got = one.collect()
    assert(got.length === 100 && got.forall(_.getInt(1) == 1))
  }

  test("CDC batch read: the change feed folds to the latest snapshot, " +
      "versions and change types are tagged, and the range is selectable") {
    val root = operators.Maintenance.txnTableDir(spark, sfDir)
    val cdc = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
    assert(cdc.schema.fieldNames.takeRight(2).toSeq ===
      Seq("_change_type", "_commit_version"))
    // fold: inserts minus deletes per key, applied in version order.
    // v2 is a remove-all/add-all transition and v3 a compaction, so the
    // fold result must equal snapshot v3 exactly.
    val latest = GraftLog.latestVersion(conf, root)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderkey")
      .orderBy(col("_commit_version").desc,
        // within one version, remove-then-add semantics: insert wins
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val folded = cdc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("_change_type") === "insert")
      .drop("rn", "_change_type", "_commit_version")
    val snap = operators.Maintenance.readVersion(spark, root, latest)
    assert(folded.exceptAll(snap).isEmpty && snap.exceptAll(folded).isEmpty,
      "CDC fold != latest snapshot")
    // per-version counts: v1 = insert-only, v2/v3 = delete + insert
    val counts = cdc.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val aCount = operators.Maintenance.readVersion(spark, root, 1).count()
    val bCount = operators.Maintenance.readVersion(spark, root, 2).count()
    assert(counts((1L, "insert")) === aCount)
    assert(counts((2L, "delete")) === aCount)
    assert(counts((2L, "insert")) === bCount)
    assert(counts((3L, "delete")) === bCount)
    assert(counts((3L, "insert")) === bCount)
    // startingVersion narrows the range
    val fromV3 = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).option("startingVersion", 3).load()
    assert(fromV3.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet === Set(3L))
  }

  test("CDC streaming tail consumes a compaction (remove+add) as " +
      "delete+insert rows instead of refusing") {
    val root = Files.createTempDirectory("graft_mancdcs").toString
    val ckp = Files.createTempDirectory("graft_mancdcs_ckp").toString
    val out = Files.createTempDirectory("graft_mancdcs_out").toString
    val data = spark.range(0, 100).selectExpr("id", "id * 7 AS v")
    def commit(removes: Seq[String]): Seq[String] =
      commitParquet(root, data.schema, removes)(dir =>
        data.coalesce(1).write.parquet(dir))
    val f1 = commit(Nil) // v1
    // compaction: rewrite f1's content as a new file
    commit(removes = f1) // v2
    spark.readStream.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.parquet(out)
    val byVt = got.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(byVt === Map((1L, "insert") -> 100L, (2L, "delete") -> 100L,
      (2L, "insert") -> 100L), byVt.toString)
  }

  test("columnar reader is the default batch path (plan shows " +
      "ColumnarToRow), equals the row reader value-for-value, and " +
      "null handling matches") {
    val root = Files.createTempDirectory("graft_mancol").toString
    // nullable columns of every supported family
    spark.range(2000).selectExpr(
        "id",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS INT) END AS i",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id * 0.25 END AS d",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE concat('v-', id) END AS s",
        "id % 2 = 0 AS b",
        "CASE WHEN id % 11 = 0 THEN NULL " +
          "ELSE timestamp_micros(id * 1000L) END AS ts",
        "CAST(date_add(DATE'2020-01-01', CAST(id % 300 AS INT)) " +
          "AS DATE) AS dt")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, i INT, d DOUBLE, s STRING, " +
        "b BOOLEAN, ts TIMESTAMP, dt DATE")
      .mode("append").save()
    val colDf = spark.read.format("graftlog").option("path", root).load()
      .filter(col("id") >= 100L)
    assert(colDf.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      colDf.queryExecution.executedPlan.toString.take(1200))
    // the same rows, nulls included, as Spark's reader over the files
    def native = spark.read.parquet(GraftLog.dataFiles(conf, root, 1): _*)
    val a = colDf.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = native.filter(col("id") >= 100L)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.length === 1900 && a.toSeq === b.toSeq)
    // pruned projection
    def two(df: org.apache.spark.sql.DataFrame) =
      df.select(sum(col("d")).as("sd"), count(col("s")).as("cs"))
        .collect().head
    assert(two(spark.read.format("graftlog").option("path", root).load())
      === two(native))
  }

  test("review hardening: reserved CDC names refuse on write but read " +
      "as DATA from a table whose schema records them (CDC over it " +
      "refuses); a manifest not written through the commit protocol " +
      "refuses at load() naming the root and the file; the manifest " +
      "cache keys on mtime so a recreated table is never served stale; " +
      "an unsorted partitioned writer stays memory-safe via suffixed " +
      "files") {
    import spark.implicits._
    // 1. reserved names refuse on the write path
    intercept[Exception] {
      spark.range(3).selectExpr("id", "'x' AS _change_type")
        .write.format("graftlog").option("path",
          Files.createTempDirectory("graft_manresv").toString)
        .option("schema", "id BIGINT, _change_type STRING")
        .mode("append").save()
    }
    // 2. a table whose RECORDED schema uses the name (committed
    // directly, bypassing the writer's check) reads it as data
    val legacyRoot = Files.createTempDirectory("graft_manlegacy").toString
    val fs = new org.apache.hadoop.fs.Path(legacyRoot).getFileSystem(conf)
    val named = spark.range(5)
      .selectExpr("id", "concat('u-', id) AS _change_type")
    commitParquet(legacyRoot, named.schema)(dir =>
      named.coalesce(1).write.parquet(dir))
    val legacy = spark.read.format("graftlog").option("path", legacyRoot)
      .load().collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(legacy.toSeq === (0L until 5L).map(i => (i, s"u-$i")),
      "user column named _change_type must read as stored data")
    intercept[Exception] {
      spark.read.format("graftlog").option("path", legacyRoot)
        .option("readChangeFeed", true).load()
    }
    // 2b. a manifest not written through the commit protocol refuses at
    // load(), naming the root and the file — never misread:
    def loadMsgs(root: String): Seq[String] = {
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      msgs(intercept[Exception] {
        spark.read.format("graftlog").option("path", root).load()
      })
    }
    //  - Spark-written (action, file) rows in place of manifest.parquet
    val sparkRoot = Files.createTempDirectory("graft_manforeign").toString
    Seq(("add", "data_a")).toDF("action", "file").coalesce(1)
      .write.mode("overwrite").parquet(s"$sparkRoot/_log/v1")
    fs.create(new org.apache.hadoop.fs.Path(s"$sparkRoot/_log/v1._ok"),
      true).close()
    assert(loadMsgs(sparkRoot).exists(m => m.contains(sparkRoot) &&
      m.contains("_log/v1/manifest.parquet")),
      loadMsgs(sparkRoot).mkString(" | "))
    //  - a manifest.parquet whose add row has no rows/bytes
    val bareRoot = Files.createTempDirectory("graft_manbare").toString
    GraftLogWrite.writeManifestRows(conf,
      new org.apache.hadoop.fs.Path(s"$bareRoot/_log/v1/manifest.parquet"),
      Seq(GraftLog.ManifestRow("schema", "id BIGINT"),
        GraftLog.ManifestRow("add", "data_a/part-0.parquet")))
    fs.create(new org.apache.hadoop.fs.Path(s"$bareRoot/_log/v1._ok"),
      true).close()
    assert(loadMsgs(bareRoot).exists(m => m.contains(bareRoot) &&
      m.contains("_log/v1/manifest.parquet") &&
      m.contains("data_a/part-0.parquet") &&
      m.contains("without rows/bytes")), loadMsgs(bareRoot).mkString(" | "))
    //  - a _log holding only text manifests of another protocol
    val textRoot = Files.createTempDirectory("graft_mantext").toString
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$textRoot/_log"))
    val o = fs.create(
      new org.apache.hadoop.fs.Path(s"$textRoot/_log/v1.txt"), false)
    o.write("add data_a\ncommit 1\n".getBytes("UTF-8")); o.close()
    assert(GraftLog.latestVersion(conf, textRoot) === 0)
    assert(loadMsgs(textRoot).exists(m => m.contains(textRoot) &&
      m.contains("v1.txt")), loadMsgs(textRoot).mkString(" | "))
    // 3. cache staleness: drop and recreate the SAME path — the reader
    // must see the new table, not cached manifests
    val reRoot = Files.createTempDirectory("graft_manredo").toString
    def create(n: Long): Unit =
      spark.range(n).selectExpr("id")
        .write.format("graftlog").option("path", reRoot)
        .option("schema", "id BIGINT").mode("append").save()
    create(10)
    assert(spark.read.format("graftlog").option("path", reRoot).load()
      .count() === 10L)
    fs.delete(new org.apache.hadoop.fs.Path(reRoot), true)
    Thread.sleep(5) // distinct directory mtime
    create(20)
    assert(spark.read.format("graftlog").option("path", reRoot).load()
      .count() === 20L, "stale manifest cache served the old table")
    // 4. an UNSORTED partitioned writer (defensive path: the required
    // ordering was bypassed) closes per run and suffixes revisited
    // directories — never two open writers, never a name collision
    val wRoot = Files.createTempDirectory("graft_manunsorted").toString
    val writer = graft.sources.GraftLogWriterFactory(s"$wRoot/_staging",
      StructType.fromDDL("id BIGINT, k INT"), Seq("k"),
      new org.apache.spark.util.SerializableConfiguration(conf))
      .createWriter(0, 0)
    (0 until 20).foreach { i =>
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      row.update(0, i.toLong); row.update(1, i % 2) // alternating k
      writer.write(row)
    }
    val cm = writer.commit()
      .asInstanceOf[graft.sources.GraftLogCommitMessage]
    assert(cm.files.length === 20, // one file per k-run
      s"expected 20 single-run files, got ${cm.files.length}")
    assert(cm.files.map(_.file).distinct.length === 20, "name collision")
    val back = spark.read.parquet(cm.files.map(_.file): _*)
    assert(back.count() === 20L)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 20L))
  }

  test("documented widening: an explicit extended option(schema) append " +
      "commits under the new schema, old files null-fill the new " +
      "columns, time travel returns each version's own schema, and " +
      "non-widening changes still refuse") {
    val root = Files.createTempDirectory("graft_manwiden").toString
    spark.range(10).selectExpr("id")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT").mode("append").save()
    // widened append: id + tag
    spark.range(10, 30).selectExpr("id", "concat('t-', id) AS tag")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, tag STRING").mode("append").save()
    val latest = spark.read.format("graftlog").option("path", root).load()
    assert(latest.schema.fieldNames.toSeq === Seq("id", "tag"))
    val rows = latest.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1)
    assert(rows.length === 30)
    assert(rows.take(10).forall(_._2 == null), "old files must null-fill")
    assert(rows.drop(10).forall { case (id, t) => t == s"t-$id" })
    // filters on the widened column: pushed predicate must not break
    // the old file (column absent there — predicate dropped per-file)
    assert(latest.filter(col("tag") === "t-15").count() === 1L)
    assert(latest.filter(col("tag").isNotNull).count() === 20L)
    // time travel: version 1 has its own schema
    val v1 = spark.read.format("graftlog").option("path", root)
      .option("version", 1).load()
    assert(v1.schema.fieldNames.toSeq === Seq("id"))
    assert(v1.count() === 10L)
    // non-widenings refuse: type change, reorder, rename
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    Seq("id STRING, tag STRING",           // type change
        "tag STRING, id BIGINT",           // reorder
        "id BIGINT, label STRING, id2 INT" // rename of existing 'tag'?
                                           // no: tag dropped = not prefix
    ).foreach { ddl =>
      val e = intercept[Exception] {
        spark.range(3).selectExpr("id")
          .write.format("graftlog").option("path", root)
          .option("schema", ddl).mode("append").save()
      }
      assert(msgs(e).exists(m => m.contains("widen") ||
        m.contains("schema mismatch")), s"$ddl: ${msgs(e).mkString(" | ")}")
    }
    assert(graft.sources.GraftLog.latestVersion(conf, root) === 2)
  }

  test("large files split into byte-range partitions (row groups " +
      "assigned by midpoint): every row read exactly once, on both the " +
      "columnar and row paths, legacy and manifest-stats entries alike") {
    val root = Files.createTempDirectory("graft_mansplit").toString
    // one ~1.5MB file with MANY small row groups, written by Spark's
    // own parquet writer and committed with its manifest statistics
    val data = spark.range(200000).selectExpr("id", "id * 3 AS v")
    commitParquet(root, data.schema)(dir =>
      data.coalesce(1).write.option("parquet.block.size", "65536")
        .parquet(dir))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      def read() = spark.read.format("graftlog")
        .option("path", root).load()
      val parts = scanOf(read()).toBatch.planInputPartitions()
      assert(parts.length > 2, s"no split: ${parts.length} partitions")
      assert(parts.forall(_.asInstanceOf[graft.sources.GraftLogInputPartition]
        .range.isDefined))
      val ids = read().collect().map(_.getLong(0)).sorted
      assert(ids.length === 200000,
        s"read ${ids.length} rows (lost or doubled row groups at range " +
          "boundaries)")
      assert(ids.toSeq === (0L until 200000L))
      // a filtered ranged read still returns exactly the matching rows
      val f = read().filter(col("id") >= 150000L)
      assert(f.collect().map(_.getLong(0)).sorted.toSeq ===
        (150000L until 200000L))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("aggregate pushdown: un-grouped COUNT/MIN/MAX are served from " +
      "the manifest (one partition, zero plan-time footer opens, exact " +
      "values incl. all-null columns); inexact shapes scan normally") {
    val root = Files.createTempDirectory("graft_managg").toString
    spark.range(1, 5001).selectExpr(
        "id",
        "CASE WHEN id % 4 = 0 THEN NULL ELSE id * 0.5 END AS d",
        "CAST(NULL AS BIGINT) AS empty_col",
        "CAST(date_add(DATE'2021-03-01', CAST(id % 100 AS INT)) AS DATE)" +
          " AS dt")
      .repartition(4)
      .write.format("graftlog").option("path", root)
      .option("schema",
        "id BIGINT, d DOUBLE, empty_col BIGINT, dt DATE")
      .mode("append").save()
    val agg = spark.read.format("graftlog").option("path", root).load()
      .agg(count(lit(1)).as("n"), count(col("d")).as("nd"),
        min(col("id")).as("mn"), max(col("id")).as("mx"),
        min(col("empty_col")).as("me"),
        min(col("dt")).as("mind"), max(col("dt")).as("maxd"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogAggScan"), plan.take(1500))
    val r = agg.collect().head
    assert(r.getLong(0) === 5000L)
    assert(r.getLong(1) === 3750L) // ids divisible by 4 are null
    assert(r.getLong(2) === 1L && r.getLong(3) === 5000L)
    assert(r.isNullAt(4), "min of an all-null column must be null")
    assert(r.getDate(5).toString === "2021-03-01")
    assert(r.getDate(6).toString === "2021-06-08") // +99 days
    // inexact/unservable shapes fall back to the ordinary scan:
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val minDouble = spark.read.format("graftlog").option("path", root)
      .load().agg(min(col("d")).as("m"))
    assert(!planOf(minDouble).contains("GraftLogAggScan"),
      "float bounds are not exact values — must not push")
    assert(minDouble.collect().head.getDouble(0) === 0.5)
    val grouped = spark.read.format("graftlog").option("path", root)
      .load().groupBy(pmod(col("id"), lit(2))).count()
    assert(!planOf(grouped).contains("GraftLogAggScan"))
    val filtered = spark.read.format("graftlog").option("path", root)
      .load().filter(col("id") > 10L).agg(count(lit(1)))
    assert(!planOf(filtered).contains("GraftLogAggScan"))
    assert(filtered.collect().head.getLong(0) === 4990L)
  }

  test("streaming tail is vacuum-safe and rate-limitable: a cold start " +
      "of a vacuumed log refuses unless startingVersion acknowledges " +
      "the gap, a checkpoint below the watermark refuses loudly, and " +
      "maxVersionsPerTrigger bounds each micro-batch") {
    val root = Files.createTempDirectory("graft_mantailvac").toString
    def commit(from: Long, until: Long): Unit = {
      val data = spark.range(from, until).selectExpr("id")
      commitParquet(root, data.schema)(dir =>
        data.coalesce(1).write.parquet(dir))
    }
    commit(0, 100)   // v1
    commit(100, 200) // v2
    commit(200, 300) // v3
    // vacuum to keepFrom=2: versions below 2 are expired
    operators.Maintenance.vacuumLog(spark, root, keepFrom = 2)
    assert(GraftLog.vacuumWatermark(conf, root) === 2)
    val out = Files.createTempDirectory("graft_mantailvac_out").toString
    val ckp = Files.createTempDirectory("graft_mantailvac_ckp").toString
    // UNACKNOWLEDGED cold start of a vacuumed log: refuse loudly —
    // versions 1..wm-1 are expired, and silently starting at the
    // watermark would omit rows those versions added (the identical
    // gap a below-watermark checkpoint already refuses on)
    def mkStream(start: Option[Int]) = {
      val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
      new graft.sources.GraftLogMicroBatchStream(graft.sources.GraftLogScan(
        root, 3, schema, schema, Array.empty, Array.empty,
        new org.apache.spark.util.SerializableConfiguration(conf),
        cdc = false, cdcStart = 1, streamStart = start))
    }
    val cold = intercept[IllegalStateException] { mkStream(None).initialOffset() }
    assert(cold.getMessage.contains("startingVersion") &&
      cold.getMessage.contains("expired"), cold.getMessage)
    // an acknowledgment BELOW the watermark is equally refused
    val low = intercept[IllegalStateException] {
      mkStream(Some(1)).initialOffset()
    }
    assert(low.getMessage.contains("expired"), low.getMessage)
    var batches = 0
    spark.readStream.format("graftlog").option("path", root)
      .option("maxVersionsPerTrigger", 1)
      .option("startingVersion", 2).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        b.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // acknowledged start at the watermark: v2 and v3 arrive as one
    // version per batch
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (100L until 300L),
      s"expected versions 2..3 only, got ${ids.length} rows")
    assert(batches === 2, s"maxVersionsPerTrigger=1 gave $batches batches")
    // a checkpoint that has fallen below the watermark refuses loudly
    val e = intercept[IllegalStateException] {
      mkStream(None).planInputPartitions(graft.sources.GraftLogOffset(0),
        graft.sources.GraftLogOffset(3))
    }
    assert(e.getMessage.contains("watermark") &&
      e.getMessage.contains("silent data loss"), e.getMessage)
  }

  test("streaming epoch marker is atomic with the version commit: a " +
      "marker WITHOUT its _ok is torn (redo), a marker WITH it is a " +
      "replay (no-op)") {
    val root = Files.createTempDirectory("graft_manepoch").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val ddl = StructType.fromDDL("id BIGINT")
    val sink = new graft.sources.GraftLogStreamingWrite(root, ddl, Nil,
      "q", new org.apache.spark.util.SerializableConfiguration(conf))
    // files stage where the sink's OWN factory would put them (the
    // per-ATTEMPT write-scoped directory — a replayed epoch after
    // restart gets a fresh one, so its cleanup can never reach files a
    // manifest references)
    val stagingBase = sink
      .createStreamingWriterFactory(null)
      .asInstanceOf[graft.sources.GraftLogStreamingWriterFactory]
      .stagingBase
    def stage(epoch: Long, ids: Seq[Long]) =
      graft.sources.GraftLogCommitMessage(
        Seq(stageIds(s"${stagingBase}_$epoch", ids)))
    // TORN: a marker claiming v1 exists but v1 was never committed
    val marker = new org.apache.hadoop.fs.Path(s"$root/_log/_epoch_q_7")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_log"))
    val o = fs.create(marker, true)
    o.write("1".getBytes("UTF-8")); o.close()
    sink.commit(7L, Array(stage(7, Seq(1L, 2L, 3L))))
    assert(GraftLog.latestVersion(conf, root) === 1, "torn marker blocked redo")
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 3L)
    // REPLAY: same epoch again — version count must not grow, and the
    // drop must delete ONLY the replay's own files: the committed
    // file must still exist and a NON-aggregate read (which opens the
    // data files, not just the manifest) must still see every row
    sink.commit(7L, Array(stage(7, Seq(1L, 2L, 3L))))
    assert(GraftLog.latestVersion(conf, root) === 1, "replayed epoch committed twice")
    val committed = GraftLog.dataFiles(conf, root, 1)
    assert(committed.forall(f =>
      fs.exists(new org.apache.hadoop.fs.Path(f))),
      "replay drop deleted a committed data file")
    assert(spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // REPLAY FROM A RESTARTED APP: a fresh sink instance (new attempt
    // id) replays the same epoch — same contract, across instances
    val sink2 = new graft.sources.GraftLogStreamingWrite(root, ddl, Nil,
      "q", new org.apache.spark.util.SerializableConfiguration(conf))
    val base2 = sink2.createStreamingWriterFactory(null)
      .asInstanceOf[graft.sources.GraftLogStreamingWriterFactory]
      .stagingBase
    def stage2(epoch: Long, ids: Seq[Long]) =
      graft.sources.GraftLogCommitMessage(
        Seq(stageIds(s"${base2}_$epoch", ids)))
    sink2.commit(7L, Array(stage2(7, Seq(1L, 2L, 3L))))
    assert(GraftLog.latestVersion(conf, root) === 1)
    assert(spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
      "cross-restart replay lost committed rows")
    // a NEW epoch commits v2
    sink2.commit(8L, Array(stage2(8, Seq(4L))))
    assert(GraftLog.latestVersion(conf, root) === 2)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 4L)
  }

  test("connector commits publish by MANIFEST, not rename: a many-file " +
      "write performs zero renames, and crash-before-marker leaves " +
      "nothing any reader or next writer can see") {
    val root = Files.createTempDirectory("graft_manorename").toString
    spark.range(5000).selectExpr("id").repartition(20)
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT").mode("append").save()
    // the committed files live where the tasks WROTE them (write-scoped
    // unique names under data/), referenced by the manifest in place
    val files = GraftLog.dataFiles(conf, root, 1)
    assert(files.length === 20)
    assert(files.forall(_.contains("/data/w_")), files.head)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 5000L)
    // crash-before-marker simulation: orphan data files + a manifest
    // for v2, but no _ok — the version is torn and invisible, and the
    // next writer claims v2 cleanly over it... except the manifest dir
    // would collide; the claim protocol is what prevents two writers
    // from preparing the same number, so simulate the orphan-data case
    // (crash BEFORE the claim): files under data/ that no manifest
    // references are simply never read
    spark.range(9000, 9100).selectExpr("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/data/w_crashed_write")
    assert(GraftLog.latestVersion(conf, root) === 1)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 5000L, "orphaned (uncommitted) files became visible")
    spark.range(5000, 5100).selectExpr("id")
      .write.format("graftlog").option("path", root).mode("append").save()
    assert(GraftLog.latestVersion(conf, root) === 2)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 5100L)
  }
}
