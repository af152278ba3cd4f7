package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.Maintenance
import graft.sources.{GraftLog, GraftLogScan}

/** The `graftlog` DataSourceV2 connector: versioned snapshot reads as a
  * real engine surface — column pruning reaching the parquet
  * projection, filter pushdown reaching the scan, version/watermark
  * refusal at load(), and value-equality with the manifest-fold ground
  * truth.
  */
class GraftLogSourceSpec extends SparkSpecBase {

  private lazy val txnRoot = Maintenance.txnTableDir(spark, sfDir)
  private lazy val occRoot = Maintenance.occTableDir(spark, sfDir)

  test("snapshot reads via format(graftlog) equal the manifest-fold " +
      "ground truth at every version, and torn commits stay invisible") {
    val conf = spark.sessionState.newHadoopConf()
    (1 to GraftLog.latestVersion(conf, txnRoot)).foreach { v =>
      val got = spark.read.format("graftlog").option("path", txnRoot)
        .option("version", v).load()
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      val want = spark.read.parquet(
          GraftLog.dataFiles(conf, txnRoot, v): _*)
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"version $v")
      assert(got.nonEmpty)
    }
  }

  test("column pruning reaches the connector scan: a 2-column query " +
      "reads a 2-column schema, and the pushed filter is visible") {
    val df = Maintenance.readVersion(spark, txnRoot, 2)
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") > 100L)
    // no exchange in a scan+filter plan, so the scan node is collectable
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    val gs = scans.head.asInstanceOf[GraftLogScan]
    assert(gs.readSchema().fieldNames.toSet ===
      Set("o_orderkey", "o_totalprice"), gs.description())
    assert(gs.pushedDesc.exists(_.contains("GreaterThan")),
      gs.description())
    assert(gs.staticFilters.nonEmpty)
    // and the pushed read returns exactly the residual-filter rows
    val keys = df.collect().map(_.getLong(0))
    assert(keys.nonEmpty && keys.forall(_ > 100L))
    // planner-visible stats: exact footer row count, pruned-scaled bytes
    val stats = gs.estimateStatistics()
    assert(stats.numRows.getAsLong ===
      Maintenance.readVersion(spark, txnRoot, 2).count())
    assert(stats.sizeInBytes.getAsLong > 0L)
  }

  test("the aggregate-shaped q_occ_log plan prunes to its 2 live " +
      "columns") {
    val plan = Maintenance.occLog(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogScan"), plan.take(1500))
    assert(plan.contains("readSchema=[o_orderpriority,o_totalprice]") ||
      plan.contains("readSchema=[o_totalprice,o_orderpriority]"),
      plan.take(1500))
    assert(!plan.contains("o_custkey"), "pruning missed: " + plan.take(1500))
  }

  test("version discipline at load(): absent version reads latest, a " +
      "non-committed version refuses, an expired one names the watermark") {
    val conf = spark.sessionState.newHadoopConf()
    val latest = GraftLog.latestVersion(conf, txnRoot)
    val viaLatest = spark.read.format("graftlog")
      .option("path", txnRoot).load().count()
    val viaExplicit = spark.read.format("graftlog")
      .option("path", txnRoot).option("version", latest).load().count()
    assert(viaLatest === viaExplicit && viaLatest > 0)
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graftlog").option("path", txnRoot)
        .option("version", latest + 5).load()
    }
    assert(e1.getMessage.contains("not committed"), e1.getMessage)
    val vacRoot = Maintenance.vacuumedTableDir(spark, sfDir)
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graftlog").option("path", vacRoot)
        .option("version", 1).load()
    }
    assert(e2.getMessage.contains("watermark"), e2.getMessage)
  }

  test("empty projection (bare count) still iterates rows, and the " +
      "q_occ_log live set matches the post-race manifest fold") {
    val n = spark.read.format("graftlog").option("path", occRoot)
      .load().count()
    val conf = spark.sessionState.newHadoopConf()
    val latest = GraftLog.latestVersion(conf, occRoot)
    assert(latest === 3) // v1, writer A's v2, writer B's rebased v3
    val want = spark.read.parquet(Maintenance
        .liveFiles(spark, occRoot, latest).map(f => s"$occRoot/$f"): _*)
      .count()
    assert(n === want && n > 0)
  }

  test("legacy INT96 timestamps decode value-exactly (julian-day+nanos " +
      "conversion equals Spark's native reader) and take no pushdown") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_log96").toString
    val data = spark.range(500).selectExpr("id",
      "timestamp_micros(id * CAST(987654321 AS BIGINT)) AS ts")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    val files = try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      commitParquet(root, data.schema)(dir => data.write.parquet(dir))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val got = spark.read.format("graftlog").option("path", root).load()
    assert(got.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val want = spark.read.parquet(files.map(f => s"$root/$f"): _*)
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val gm = got.collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(gm.size === 500 && gm === want)
    // a filter on the INT96 column takes no pushdown in the reader (no
    // usable row-group ordering — it drops the predicate for this
    // file's INT96 chunk) but must still evaluate correctly as residual
    val f = got.filter(col("ts") >=
      org.apache.spark.sql.functions.expr(
        "timestamp_micros(250L * CAST(987654321 AS BIGINT))"))
    assert(f.count() === 250L)
  }

  test("file-level stats skip: a selective key predicate over a " +
      "range-clustered version schedules only the matching files, and " +
      "runtime filters (the DPP hook) prune files the same way") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_logskip").toString
    // 4 range-clustered files: ids 0..999 split into contiguous quarters
    val data = spark.range(1000).selectExpr("id", "id * 3 AS v")
    commitParquet(root, data.schema)(dir =>
      data.repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
        .write.parquet(dir))
    def scanOf(df: org.apache.spark.sql.DataFrame): GraftLogScan =
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan.asInstanceOf[GraftLogScan]
      }.head
    val unfiltered = spark.read.format("graftlog").option("path", root)
      .load()
    val allParts = scanOf(unfiltered).toBatch.planInputPartitions().length
    assert(allParts === 4, s"fixture should land 4 files, got $allParts")
    // static skip: id > 900 lives in the last range file only
    val selective = spark.read.format("graftlog").option("path", root)
      .load().filter(col("id") > 900L)
    val sScan = scanOf(selective)
    val sParts = sScan.toBatch.planInputPartitions().length
    assert(sParts < 4 && sParts >= 1,
      s"stats skip did not prune: $sParts of $allParts")
    assert(selective.collect().map(_.getLong(0)).sorted.toSeq ===
      (901L to 999L))
    // runtime-filter contract (what Spark's DPP hands the scan after a
    // join's build side resolves): filter() prunes files conservatively
    val rtScan = scanOf(spark.read.format("graftlog").option("path", root)
      .load())
    assert(rtScan.filterAttributes().map(_.describe()).toSet ===
      Set("id", "v"))
    rtScan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("id", 100L)))
    val rtParts = rtScan.toBatch.planInputPartitions()
    assert(rtParts.length < 4 && rtParts.nonEmpty,
      s"runtime filter did not prune: ${rtParts.length}")
    // conservative: every matching row is still inside the kept files
    val keptFiles = rtParts.map(
      _.asInstanceOf[graft.sources.GraftLogInputPartition].file)
    val keptIds = spark.read.parquet(keptFiles: _*)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((0L until 100L).forall(keptIds.contains))
  }

  test("END-TO-END dynamic pruning: a selective join injects a " +
      "dynamicpruning runtime filter INTO the connector scan, and the " +
      "joined result is exact") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_logdpp").toString
    val data = spark.range(100000).selectExpr("id", "id * 3 AS v")
    commitParquet(root, data.schema)(dir =>
      data.repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
        .write.parquet(dir))
    val fact = spark.read.format("graftlog").option("path", root).load()
    val dim = spark.range(20).selectExpr("id AS d_id")
      .filter(col("d_id") < 3)
    val joined = fact.join(dim, col("id") === col("d_id"))
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    assert(got.toSeq === (0L until 3L).map(i => (i, i * 3)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogScan") &&
      plan.contains("dynamicpruningexpression"),
      "no runtime filter reached the connector scan:\n" + plan.take(1500))
  }

  test("streaming tail: each committed version is a micro-batch, a " +
      "restart resumes from the checkpointed version offset, and a " +
      "non-append version fails loudly") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_logtail").toString
    val ckp = Files.createTempDirectory("graft_logtail_ckp").toString
    def commit(from: Long, until: Long,
        removes: Seq[String] = Nil): Seq[String] = {
      val data = spark.range(from, until).selectExpr("id", "id * 7 AS v")
      commitParquet(root, data.schema, removes)(dir =>
        data.coalesce(1).write.parquet(dir))
    }
    commit(0, 100)              // v1
    val f2 = commit(100, 200)   // v2
    val out = Files.createTempDirectory("graft_logtail_out").toString
    def drain(): Unit =
      spark.readStream.format("graftlog").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    val after2 = spark.read.parquet(out).collect()
      .map(r => r.getLong(0)).sorted
    assert(after2.toSeq === (0L until 200L), s"got ${after2.length} rows")
    // a new commit lands while the stream is down; restart picks up
    // ONLY version 3 (the checkpoint holds offset 2)
    commit(200, 300)            // v3
    drain()
    val after3 = spark.read.parquet(out).collect()
      .map(r => r.getLong(0)).sorted
    assert(after3.toSeq === (0L until 300L),
      s"restart emitted ${after3.length} rows (duplicates = offset lost)")
    // a maintenance rewrite (remove) is NOT representable as appends —
    // the tail must refuse, not silently re-emit
    commit(100, 200, removes = f2) // v4
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("not append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("not append-only")),
      e.getMessage)
  }

  test("write path: mode(append) commits one version per write, the " +
      "first write bootstraps via option(schema), and a torn claim " +
      "never becomes visible") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_logwrite").toString
    val ddl = "id BIGINT, name STRING, score DOUBLE"
    def append(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("id",
          "concat('n-', id) AS name", "id * 0.5 AS score")
        .write.format("graftlog").option("path", root)
        .option("schema", ddl).mode("append").save()
    append(0, 100)   // bootstrap -> v1
    append(100, 250) // -> v2
    val conf = spark.sessionState.newHadoopConf()
    assert(GraftLog.latestVersion(conf, root) === 2)
    val v1 = spark.read.format("graftlog").option("path", root)
      .option("version", 1).load()
    assert(v1.count() === 100L)
    val all = spark.read.format("graftlog").option("path", root).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(all.length === 250)
    assert(all(42) === ((42L, "n-42", 21.0)))
    // round-trip THROUGH Spark's own reader too (written files are
    // plain parquet, not a private format; manifest paths locate them)
    val native = spark.read.parquet(
      GraftLog.dataFiles(conf, root, 2): _*)
    assert(native.count() === 250L)
    // a torn claim (claim file without manifest+marker) stays invisible
    // AND blocks the next writer LOUDLY — skipping the number would
    // leave a hole that "torn commits end the log" makes permanent
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(conf)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/_log/v3._claim"),
      false).close()
    assert(GraftLog.latestVersion(conf, root) === 2)
    val e = intercept[Exception] { append(250, 300) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("claimed but not committed")),
      msgs(e).mkString(" | "))
    // explicit recovery (the writer is known dead): delete the stale
    // claim, then the append lands as v3 with no hole
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_log/v3._claim"),
      false)
    append(250, 300)
    assert(GraftLog.latestVersion(conf, root) === 3)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 300L)
  }

  test("commit publishes ONLY the committed files: a loser task " +
      "attempt's file left in staging is dropped, not published") {
    import java.nio.file.Files
    import graft.sources.GraftLogWrite
    val root = Files.createTempDirectory("graft_logcommit").toString
    val staging = s"$root/data/w_test_commit"
    val conf = spark.sessionState.newHadoopConf()
    val winner = stageIds(staging, Seq(1L, 2L, 3L))
    stageIds(staging, Seq(1L, 2L, 3L)) // retried loser attempt
    val ddl = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val v = GraftLogWrite.commitStaged(conf, root, staging, Seq(winner),
      Some(ddl))
    assert(v === 1)
    val got = spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L),
      s"loser attempt published: ${got.mkString(",")}")
    assert(GraftLog.dataFiles(conf, root, 1) === Seq(winner.file),
      "the manifest references a file the commit did not name")
  }

  test("streaming sink: every epoch is one committed version, and the " +
      "written log tails back out with the streaming source") {
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_sink_src").toString
    val root = Files.createTempDirectory("graft_sink_log").toString
    val ckp = Files.createTempDirectory("graft_sink_ckp").toString
    def land(name: String, from: Long, until: Long): Unit = {
      val stage = Files.createTempDirectory("graft_sink_stage").toString
      spark.range(from, until).selectExpr("id", "id * 11 AS v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(srcDir, name))
    }
    land("a.parquet", 0, 50)
    land("b.parquet", 50, 120)
    def drain(): Unit =
      spark.readStream
        .schema("id BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .writeStream.format("graftlog")
        .option("path", root).option("schema", "id BIGINT, v BIGINT")
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    val conf = spark.sessionState.newHadoopConf()
    // one version per micro-batch (maxFilesPerTrigger=1 -> 2 epochs)
    assert(GraftLog.latestVersion(conf, root) === 2)
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 120L)
    // restart with a new landing: exactly one more version, no replays
    land("c.parquet", 120, 200)
    drain()
    assert(GraftLog.latestVersion(conf, root) === 3)
    val ids = spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 200L), s"${ids.length} rows")
  }

  test("pushed row-group predicate filters correctly across types " +
      "(long, string, timestamp_ntz) — pushdown equals post-scan filter") {
    val full = Maintenance.readVersion(spark, txnRoot, 2).collect()
    def filtered(c: org.apache.spark.sql.Column): Long =
      Maintenance.readVersion(spark, txnRoot, 2).filter(c).count()
    val wantPrio = full.count(_.getString(5) == "9-RECLASS")
    assert(filtered(col("o_orderpriority") === "9-RECLASS")
      === wantPrio.toLong)
    val wantKey = full.count(_.getLong(0) <= 500L)
    assert(filtered(col("o_orderkey") <= 500L) === wantKey.toLong)
    val someTs = full.head.getAs[java.time.LocalDateTime]("o_orderdate")
    val wantTs = full.count(r =>
      !r.getAs[java.time.LocalDateTime]("o_orderdate").isAfter(someTs))
    assert(filtered(col("o_orderdate") <= lit(someTs)) === wantTs.toLong)
  }

  test("streaming tail reads VECTORIZED: every micro-batch plan carries " +
      "ColumnarToRow over the connector scan and the drained rows equal " +
      "the batch read; a nested projection falls back to the row reader") {
    import java.nio.file.Files
    import spark.implicits._
    // returns the LAST micro-batch's physical plan (the foreachBatch
    // DataFrame itself arrives pre-executed as an ExistingRDD — the
    // real scan plan lives in the stream's IncrementalExecution)
    def drain(root: String, ckp: String,
        rows: scala.collection.mutable.ArrayBuffer[Seq[Any]]): String = {
      val q = spark.readStream.format("graftlog").option("path", root)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rows ++= b.collect().map(_.toSeq)
          ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].explainInternal(false)
    }

    // flat projection: the vectorized path, same factory as batch
    val root = Files.createTempDirectory("graft_tailvec").toString
    Seq(0, 1).foreach { p =>
      spark.range(0, 200).filter(pmod(col("id"), lit(2)) === p)
        .selectExpr("id", "id * 3 AS v")
        .write.format("graftlog").option("path", root)
        .option("schema", "id BIGINT, v BIGINT").mode("append").save()
    }
    val rows = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val plan = drain(root,
      Files.createTempDirectory("graft_tailvec_ckp").toString, rows)
    assert(plan.contains("ColumnarToRow"), plan.take(1500))
    val want = spark.read.format("graftlog").option("path", root).load()
      .collect().map(_.toSeq.map(_.asInstanceOf[Long]))
      .sortBy(_.head).toSeq
    assert(rows.map(_.map(_.asInstanceOf[Long])).sortBy(_.head).toSeq
      === want)
    assert(want.length === 200)

    // nested projection: Spark's reader is vectorized for nested
    // columns too — same rows, the same ColumnarToRow span
    val root2 = Files.createTempDirectory("graft_tailvec_nested").toString
    Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)),
        (3L, Seq(5.0f, 6.0f)))
      .toDF("id", "emb")
      .write.format("graftlog").option("path", root2)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>")
      .mode("append").save()
    val rows2 = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val plan2 = drain(root2,
      Files.createTempDirectory("graft_tailvec_nested_ckp").toString,
      rows2)
    assert(plan2.contains("ColumnarToRow"), plan2.take(1500))
    assert(rows2.map(r => (r.head.asInstanceOf[Long],
        r(1).asInstanceOf[scala.collection.Seq[Float]].toList))
      .sortBy(_._1).toList
      === List((1L, List(1.0f, 2.0f)), (2L, List(3.0f, 4.0f)),
        (3L, List(5.0f, 6.0f))))
  }
}
