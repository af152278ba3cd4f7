package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.TxnGenerator
import graft.streaming.Streams

/** Drives the Structured Streaming surface end-to-end: file-source ETL with
  * AvailableNow (the reference's event-per-file model), watermarked
  * event-time windows, session windows, and custom keyed state.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** Simulates a crash inside a state sink's commit of `batchId`: the
    * batch's data is written but its commit record is lost, so a replay
    * must converge instead of double-applying. The crash lands after the
    * batch's epoch marker and before its version's `_ok`; the stale
    * claim is then recovered as documented (deleted).
    */
  private def tear(stateRoot: String, batchId: Long): Unit = {
    val log = new org.apache.hadoop.fs.Path(stateRoot, "_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = fs.listStatus(log).map(_.getPath)
      .filter(p => p.getName.startsWith("_epoch_") &&
        p.getName.endsWith(s"_$batchId")).toSeq match {
      case Seq(m) => m
      case ms => fail(s"expected one marker for batch $batchId, got $ms")
    }
    val in = fs.open(marker)
    val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    fs.delete(new org.apache.hadoop.fs.Path(log, s"v$v._ok"), false)
    fs.delete(new org.apache.hadoop.fs.Path(log, s"v$v._claim"), false)
  }

  private def readLog(root: String) =
    spark.read.format("graftlog").option("path", root).load()

  test("file-source ETL pipeline: land CSVs, stream-transform, parquet out") {
    val in  = tmp("graft_stream_in")
    val out = tmp("graft_stream_out")
    val ckp = tmp("graft_stream_ckp")
    // land two "S3 files" the way the reference's uploader would
    TxnGenerator.generate(spark, 50)
      .write.mode("overwrite").option("header", "true").csv(in)
    val q = Streams.fileEtlPipeline(spark, in, out, ckp)
    q.awaitTermination()
    val result = spark.read.parquet(out)
    assert(result.count() === 50)
    assert(result.columns.contains("amount_category"))
    assert(result.filter(col("amount_category") === "unknown").count() === 0)
    // P14 multi-file lineage: every row carries the basename of the CSV it
    // was scanned from, not a directory-level literal
    val sources = result.select("source_file").distinct()
      .as[String].collect()
    assert(sources.nonEmpty && sources.forall(_.endsWith(".csv")))
    assert(sources.forall(!_.contains("/")))
    // idempotent restart: AvailableNow over the same checkpoint adds nothing
    val q2 = Streams.fileEtlPipeline(spark, in, out, ckp)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 50)
  }

  test("etl pipeline enriches against a static dim and its observed " +
      "metrics total exactly once across a checkpoint restart") {
    val in  = tmp("graft_enr_in")
    val out = tmp("graft_enr_out")
    val ckp = tmp("graft_enr_ckp")
    def land(name: String, rows: Seq[(String, String, String)]): Unit = {
      val csv = ("transaction_id,date,timestamp,amount,category,description," +
        "transaction_type,account,location\n") +
        rows.map { case (id, amt, cat) =>
          s"$id,2024-07-01,2024-07-01 10:00:00,$amt,$cat,d,expense,checking,Online"
        }.mkString("\n")
      Files.writeString(java.nio.file.Paths.get(in, name), csv)
    }
    // transform initcaps category, so the dim keys the CLEANED values —
    // the dim also deliberately misses "Fuel" to pin the left-join contract
    val dim = Seq(("Food", "essential"), ("Rent", "housing"))
      .toDF("category", "category_group")
    def observedTotals(q: org.apache.spark.sql.streaming.StreamingQuery)
        : (Long, Long) =
      q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get(Streams.EtlObservation)))
        .foldLeft((0L, 0L)) { case ((n, c), row) =>
          (n + row.getAs[Long]("n_rows"), c + row.getAs[Long]("amount_cents"))
        }

    land("a.csv", Seq(("T1", "10.0", "food"), ("T2", "20.0", "fuel")))
    val q1 = Streams.fileEtlPipeline(spark, in, out, ckp, dim = Some(dim))
    q1.awaitTermination()
    val (n1, cents1) = observedTotals(q1)
    assert((n1, cents1) === (2L, 3000L))
    val r1 = spark.read.parquet(out)
    assert(r1.count() === 2)
    assert(r1.filter(col("transaction_id") === "T1")
      .select("category_group").as[String].head() === "essential")
    // dim miss: the fact survives with a null enrichment, never dropped
    assert(r1.filter(col("transaction_id") === "T2")
      .select("category_group").collect().head.isNullAt(0))

    // restart over the same checkpoint with one new file: the observed
    // totals of run 2 cover ONLY the new file (exactly-once), and the two
    // runs' totals compose to the whole-input truth
    land("b.csv", Seq(("T3", "5.5", "rent")))
    val q2 = Streams.fileEtlPipeline(spark, in, out, ckp, dim = Some(dim))
    q2.awaitTermination()
    val (n2, cents2) = observedTotals(q2)
    assert((n2, cents2) === (1L, 550L))
    val all = spark.read.parquet(out)
    assert(all.count() === n1 + n2)
    assert(all.agg(sum(graft.operators.RefTransforms.cents(col("amount"))))
      .as[Long].head() === cents1 + cents2)
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked tumbling windows aggregate event-time correctly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    // AvailableNow snapshots offsets at start — data must land first
    input.addData((ts(5), 1L, 1.0), (ts(15), 1L, 2.0), (ts(59), 2L, 3.0))
    val q = Streams.windowedCounts(events).writeStream
      .format("memory").queryName("windowed")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("windowed").collect()
    assert(rows.length === 1) // all three in the 10:00 hour window
    assert(rows.head.getAs[Long]("n") === 3L)
    assert(rows.head.getAs[Long]("value_cents") === 600L)
  }

  test("session windows split on the 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    // user 1: two events 5 min apart (one session), then a 40-min gap (new)
    input.addData((ts(0), 1L, 1.0), (ts(5), 1L, 1.0), (ts(45), 1L, 1.0))
    val q = Streams.sessionCounts(events).writeStream
      .format("memory").queryName("sessions")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("sessions").collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Long]("n_events")).sorted === Array(1L, 2L))
  }

  test("foreachBatch upsert sink: last writer wins across arriving files") {
    val in  = tmp("graft_ups_in")
    val out = tmp("graft_ups_out") + "/table"
    val ckp = tmp("graft_ups_ckp")
    def land(name: String, rows: Seq[(String, String)]): Unit = {
      val csv = ("transaction_id,date,timestamp,amount,category,description," +
        "transaction_type,account,location\n") +
        rows.map { case (id, amt) =>
          s"$id,2024-07-01,2024-07-01 10:00:00,$amt,food,d,expense,checking,Online"
        }.mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(in, name), csv)
    }
    land("a.csv", Seq("T1" -> "10.0", "T2" -> "20.0"))
    Streams.fileUpsertPipeline(spark, in, out, ckp).awaitTermination()
    def liveFiles: Seq[String] = graft.operators.Maintenance.liveFiles(
      spark, out, graft.sources.GraftLog.latestVersion(
        spark.sessionState.newHadoopConf(), out))
    val before = liveFiles
    land("b.csv", Seq("T2" -> "99.0", "T3" -> "30.0")) // T2 updated
    Streams.fileUpsertPipeline(spark, in, out, ckp).awaitTermination()
    // through the log: a plain parquet read would also read removed files
    val state = readLog(out)
      .select("transaction_id", "amount").as[(String, Double)]
      .collect().toMap
    assert(state === Map("T1" -> 10.0, "T2" -> 99.0, "T3" -> 30.0))
    // incremental: every file holding no key of batch b is still live
    val keysB = Set("T2", "T3")
    val untouchedBefore = before.filter { f =>
      spark.read.parquet(s"$out/$f").select("transaction_id").as[String]
        .collect().forall(k => !keysB.contains(k))
    }
    assert(untouchedBefore.nonEmpty, "test needs a file batch b cannot touch")
    val after = liveFiles.toSet
    untouchedBefore.foreach { f =>
      assert(after.contains(f), s"untouched file was rewritten: $f")
    }
  }

  test("streaming MV maintenance merges batches; replayed batch ids are no-ops") {
    val in    = tmp("graft_mv_in")
    val state = tmp("graft_mv_state") + "/mv"
    val ckp   = tmp("graft_mv_ckp")
    def land(name: String, rows: Seq[(String, String, String)]): Unit = {
      val csv = ("transaction_id,date,timestamp,amount,category,description," +
        "transaction_type,account,location\n") +
        rows.map { case (id, amt, cat) =>
          s"$id,2024-07-01,2024-07-01 10:00:00,$amt,$cat,d,expense,checking,Online"
        }.mkString("\n")
      Files.writeString(java.nio.file.Paths.get(in, name), csv)
    }
    land("a.csv", Seq(("T1", "10.00", "food"), ("T2", "20.50", "food"),
      ("T3", "5.25", "travel")))
    Streams.mvPipeline(spark, in, state, ckp).awaitTermination()
    def snap: Map[String, (Long, Long, Long, Long)] =
      Streams.mvState(spark, state)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    assert(snap === Map(
      "food"   -> ((2L, 3050L, 1000L, 2050L)),
      "travel" -> ((1L, 525L, 525L, 525L))))
    // second landing + restart: history (a.csv) is NOT re-read, yet the
    // merged state equals the full recompute over both files
    land("b.csv", Seq(("T4", "4.00", "food"), ("T5", "100.00", "grocery")))
    Streams.mvPipeline(spark, in, state, ckp).awaitTermination()
    assert(snap === Map(
      "food"    -> ((3L, 3450L, 400L, 2050L)),
      "travel"  -> ((1L, 525L, 525L, 525L)),
      "grocery" -> ((1L, 10000L, 10000L, 10000L))))
    // replay safety: re-applying an already-committed batch id must not
    // double-count (the batch's marker is the commit record)
    val replay = spark.read.schema(Streams.transactionSchema)
      .option("header", "true").csv(s"$in/b.csv")
    Streams.applyMvBatch(replay, 1L, state)
    assert(snap("food") === ((3L, 3450L, 400L, 2050L)),
      "replayed batch id was applied twice")
    // a NEW batch id with the same data does merge (proving the guard is
    // the marker, not inability to merge)
    Streams.applyMvBatch(replay, 99L, state)
    assert(snap("grocery") === ((2L, 20000L, 10000L, 10000L)))
    // crash-window replay: version written but marker missing (the crash
    // between sink write and commit) — the re-apply must CONVERGE to the
    // same state, not double-count, because it merges from the previous
    // COMMITTED version and overwrites the orphan
    tear(state, 99L)
    Streams.applyMvBatch(replay, 99L, state)
    assert(snap("grocery") === ((2L, 20000L, 10000L, 10000L)),
      "partial-commit replay double-counted")
  }

  test("ProcessingTime run ingests files as they land; restart over the " +
      "same checkpoint resumes exactly-once") {
    val in  = tmp("graft_cont_in")
    val out = tmp("graft_cont_out") + "/table"
    val ckp = tmp("graft_cont_ckp")
    def land(name: String, rows: Seq[(String, String)]): Unit = {
      val csv = ("transaction_id,date,timestamp,amount,category,description," +
        "transaction_type,account,location\n") +
        rows.map { case (id, amt) =>
          s"$id,2024-07-01,2024-07-01 10:00:00,$amt,food,d,expense,checking,Online"
        }.mkString("\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name), csv)
    }
    // poll the target until the expected key->amount state appears (reads
    // can transiently fail mid-overwrite — retry until the deadline)
    def awaitState(expect: Map[String, Double], timeoutMs: Long = 90000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var last: Option[Map[String, Double]] = None
      while (System.currentTimeMillis() < deadline &&
          !last.contains(expect)) {
        last =
          try Some(readLog(out)
            .select("transaction_id", "amount").as[(String, Double)]
            .collect().toMap)
          catch { case _: Exception => None }
        if (!last.contains(expect)) Thread.sleep(250)
      }
      assert(last.contains(expect), s"timed out; last state: $last")
    }
    land("a.csv", Seq("T1" -> "10.0", "T2" -> "20.0"))
    // run-forever mode: the query stays up and discovers files as they land
    val q = Streams.fileUpsertPipeline(spark, in, out, ckp,
      Trigger.ProcessingTime("250 milliseconds"))
    try {
      awaitState(Map("T1" -> 10.0, "T2" -> 20.0))
      land("b.csv", Seq("T2" -> "99.0", "T3" -> "30.0"))
      awaitState(Map("T1" -> 10.0, "T2" -> 99.0, "T3" -> 30.0))
    } finally q.stop()
    // files landing while the query is DOWN are picked up on restart from
    // the same checkpoint, and already-processed files are not re-merged
    land("c.csv", Seq("T3" -> "77.0"))
    Streams.fileUpsertPipeline(spark, in, out, ckp).awaitTermination()
    awaitState(Map("T1" -> 10.0, "T2" -> 99.0, "T3" -> 77.0), 5000)
  }

  test("file -> transform -> warehouse MERGE topology, exactly-once with " +
      "per-batch dirty-row tolerance") {
    val in  = tmp("graft_wh_in")
    val ckp = tmp("graft_wh_ckp")
    val url = "jdbc:derby:memory:graftwh;create=true"
    val t   = "wh_txns"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val header = "transaction_id,date,timestamp,amount,category,description," +
      "transaction_type,account,location"
    // W2's description would overflow VARCHAR(200) — reference logs+skips
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "a.csv"),
      s"""$header
         |W1,2024-07-01,2024-07-01 10:00:00,10.0,food,ok,expense,checking,Online
         |W2,2024-07-01,2024-07-01 10:00:00,20.0,food,${"x" * 201},expense,checking,Online
         |""".stripMargin)
    var rejectedIds = Set.empty[String]
    Streams.fileWarehousePipeline(spark, in, url, t, props, ckp,
      onRejected = (r, _) => rejectedIds ++=
        r.select("transaction_id").collect().map(_.getString(0)))
      .awaitTermination()
    assert(rejectedIds === Set("W2"))
    def landed = spark.read.jdbc(url, t, props)
      .select("transaction_id").collect().map(_.getString(0)).toSet
    assert(landed === Set("W1"))
    // restart over the same checkpoint with a new file: only the new batch
    // merges; W3 appears, W1 stays single (MERGE idempotence + checkpoint)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "b.csv"),
      s"""$header
         |W3,2024-07-02,2024-07-02 10:00:00,30.0,travel,ok,expense,credit,Airport
         |""".stripMargin)
    Streams.fileWarehousePipeline(spark, in, url, t, props, ckp)
      .awaitTermination()
    assert(landed === Set("W1", "W3"))
    assert(spark.read.jdbc(url, t, props).count() === 2)
  }

  test("streaming dedup drops watermark-window re-deliveries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("event_id", "ts", "value")
    // event 1 delivered twice (at-least-once source), event 2 once
    input.addData((1L, ts(0), 5.0), (1L, ts(1), 5.0), (2L, ts(2), 7.0))
    val q = Streams.dedupStream(events).writeStream
      .format("memory").queryName("deduped")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("deduped").select("event_id").as[Long].collect()
    assert(ids.sorted === Array(1L, 2L))
  }

  test("streaming drift monitor: in-mix window reads ~zero TV, a " +
      "composition shift alerts, integers match the batch formula") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val events = input.toDF().toDF("event_id", "event_type", "ts")
    val baseline = Map("click" -> 3L, "view" -> 1L) // 75/25 mix
    def at(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")
    // window hour 9: exactly the baseline mix (3 clicks, 1 view) → TV 0
    // window hour 10: all views plus one NULL-typed (malformed) event —
    // the NULL must land in the catch-all slot, not vanish from the
    // totals (`=!=` is NULL for NULL, the silent-drop hazard)
    input.addData(
      (1L, "click", at(9, 1)), (2L, "click", at(9, 2)),
      (3L, "click", at(9, 3)), (4L, "view", at(9, 4)),
      (5L, "view", at(10, 1)), (6L, "view", at(10, 2)),
      (8L, null, at(10, 3)))
    // advance the watermark past both windows so append mode emits them
    input.addData((7L, "click", at(12, 0)))
    val q = Streams.driftMonitor(events, baseline).writeStream
      .format("memory").queryName("drift")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("drift")
      .select("window_start", "total", "tv_num", "tv_ppm")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1),
        r.getDecimal(2).longValueExact(), r.getLong(3)))
      .sortBy(_._1).toList
    val h9 = got.find(_._1.startsWith("2024-01-01 09")).get
    val h10 = got.find(_._1.startsWith("2024-01-01 10")).get
    // hour 9 is the baseline mix exactly: numerator 0
    assert(h9._2 == 4L && h9._3 == 0L && h9._4 == 0L)
    // hour 10: n=(0 clicks, 2 views, 1 null→catch-all), N=3, Nb=4 →
    // num = |0·4 − 3·3| + |2·4 − 1·3| + |1·4 − 0·3| = 18,
    // tv = 18/(2·3·4) = 0.75; total=3 proves the NULL row was counted
    assert(h10._2 == 3L && h10._3 == 18L)
    assert(h10._4 == 1000000L * 18L / (2L * 3L * 4L))
  }

  test("streaming SCD2 maintenance equals the batch build across a " +
      "restart, a replayed batch id, and a torn commit") {
    import graft.operators.Warehouse
    val dims = tmp("graft_scd2_dim")
    val in   = tmp("graft_scd2_in")
    val state = tmp("graft_scd2_state")
    val ckp  = tmp("graft_scd2_ckp")
    // priority updates with known transitions: key 1 HIGH,HIGH,LOW then
    // (wave 2) LOW (extends the open run), HIGH (new version); key 2
    // MED then MED (extends); key 3 appears only in wave 2
    val wave1 = Seq(
      (1L, 101L, "2024-01-01", "HIGH"), (1L, 102L, "2024-01-05", "HIGH"),
      (1L, 103L, "2024-02-01", "LOW"),  (2L, 201L, "2024-01-02", "MED"))
    val wave2 = Seq(
      (1L, 104L, "2024-03-01", "LOW"),  (1L, 105L, "2024-04-01", "HIGH"),
      (2L, 202L, "2024-02-02", "MED"),  (3L, 301L, "2024-02-10", "LOW"))
    def updatesDf(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("o_custkey", "o_orderkey", "d", "priority")
        .select(col("o_custkey"), col("o_orderkey"),
          unix_millis(col("d").cast("timestamp")).as("eff_ms"),
          col("priority"))
    // ground truth: the batch build over ALL updates, via a synthetic
    // orders table (scd2 reads o_orderdate/o_orderpriority)
    (wave1 ++ wave2).toDF("o_custkey", "o_orderkey", "d", "o_orderpriority")
      .select(col("o_custkey"), col("o_orderkey"),
        col("d").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dims/orders.parquet")
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select("o_custkey", "version", "priority", "valid_from_ms",
        "valid_to_ms", "is_current", "n_updates")
      .as[(Long, Long, String, Long, Long, Int, Long)].collect().toSet
    val expected = asSet(Warehouse.scd2(spark, dims))
    // land updates as FLAT files (the file source does not recurse into
    // the directory a DataFrame write creates)
    def land(rows: Seq[(Long, Long, String, String)], name: String): Unit = {
      val stage = tmp("graft_scd2_stage")
      updatesDf(rows).coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    // wave 1 lands, first run drains it
    land(wave1, "f0.parquet")
    Streams.scd2Pipeline(spark, in, state, ckp).awaitTermination()
    val mid = asSet(Streams.scd2State(spark, state))
    assert(mid.exists(r => r._1 == 1L && r._2 == 2L && r._3 == "LOW"
      && r._6 == 1))
    // wave 2 lands, a RESTART over the same checkpoint merges only it —
    // and the merged dimension equals the full batch rebuild
    land(wave2, "f1.parquet")
    Streams.scd2Pipeline(spark, in, state, ckp).awaitTermination()
    assert(asSet(Streams.scd2State(spark, state)) === expected)
    // replayed batch id: the marker makes the re-apply a no-op
    Streams.applyScd2Batch(updatesDf(wave2), 1L, state)
    assert(asSet(Streams.scd2State(spark, state)) === expected,
      "replayed batch id was applied twice")
    // torn commit: version written but marker lost (crash between write
    // and mark) — the re-apply merges from the previous COMMITTED state
    // and converges instead of double-applying
    tear(state, 1L)
    Streams.applyScd2Batch(updatesDf(wave2), 1L, state)
    assert(asSet(Streams.scd2State(spark, state)) === expected,
      "torn-commit replay diverged")
  }

  test("event-time timers close idle sessions exactly once and slide on " +
      "new activity") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Timestamp, Double)]
      val events = input.toDF().toDF("user_id", "ts", "value")
        .as[Streams.TimedEvent]
      def at(h: Int, m: Int) =
        Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // user 1: two events 10 min apart (one session, timer slides);
      // user 2: one event; user 3 arrives late enough to advance the
      // watermark past both deadlines but not its own
      input.addData((1L, at(9, 0), 1.0), (2L, at(9, 5), 2.5))
      input.addData((1L, at(9, 10), 0.5))
      input.addData((3L, at(12, 0), 9.99))
      val q = Streams.idleSessions(spark, events).writeStream
        .format("memory").queryName("idle_sessions")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("idle_sessions")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      // both idle users closed exactly once, with the timer having SLID
      // past user 1's first deadline (n=2 proves both events merged)
      assert(got(1L) === ((2L, 150L, at(9, 10).getTime)))
      assert(got(2L) === ((1L, 250L, at(9, 5).getTime)))
      // user 3's deadline (12:30) is beyond the watermark — still open
      assert(!got.contains(3L))
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming ingest dedup: exact and near duplicates rejected at " +
      "admission, within batch and against the corpus, replay-safe") {
    val in    = tmp("graft_ddi_in")
    val state = tmp("graft_ddi_state")
    val ckp   = tmp("graft_ddi_ckp")
    // 200 tokens over a 50-token vocabulary: heavy overlap makes the
    // one-token edit land at simhash hamming 2 (measured), while the
    // disjoint-vocabulary doc sits at hamming ~26
    val base = (1 to 200).map(i => s"token${i % 50}").mkString(" ")
    val near = ((1 to 199).map(i => s"token${i % 50}") :+ "changed")
      .mkString(" ")
    val other = (1 to 200).map(i => s"other$i").mkString(" ")
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val stage = tmp("graft_ddi_stage")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    // batch 0: an exact in-batch copy (4 of 1) must be rejected
    land(Seq((1L, base), (2L, other), (4L, base)), "f0.parquet")
    Streams.dedupIngestPipeline(spark, in, state, ckp).awaitTermination()
    def corpusIds = Streams.dedupCorpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds === Set(1L, 2L))
    // batch 1 over a RESTART: a near-dup of stored doc 1, an exact copy
    // of stored doc 2, and one genuinely new doc
    land(Seq((5L, near), (6L, other), (7L, "fresh and unrelated text")),
      "f1.parquet")
    Streams.dedupIngestPipeline(spark, in, state, ckp).awaitTermination()
    assert(corpusIds === Set(1L, 2L, 7L))
    // replayed batch id: marker makes it a no-op
    val replay = Seq((5L, near), (6L, other), (7L, "fresh and unrelated text"))
      .toDF("doc_id", "text")
    Streams.applyDedupIngestBatch(replay, 1L, state)
    assert(corpusIds === Set(1L, 2L, 7L))
    // torn commit: drop the marker, re-apply — must converge, not
    // double-append
    tear(state, 1L)
    Streams.applyDedupIngestBatch(replay, 1L, state)
    assert(corpusIds === Set(1L, 2L, 7L))
  }

  test("streaming decontamination gate: flagged docs quarantined at " +
      "admission, accumulated report equals the cap-free batch twin, " +
      "zero false negatives vs the exact report, replay-safe") {
    import graft.operators.Dedup
    val in    = tmp("graft_dc_in")
    val state = tmp("graft_dc_state")
    val ckp   = tmp("graft_dc_ckp")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(Dedup.EvalMod)) === 0)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_dc_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    // first half lands, gate runs; second half arrives over a RESTART
    land(docs.filter(col("doc_id") <= mid), "f0.parquet")
    Streams.decontamIngestPipeline(spark, in, evalDocs, state, ckp)
      .awaitTermination()
    land(docs.filter(col("doc_id") > mid), "f1.parquet")
    Streams.decontamIngestPipeline(spark, in, evalDocs, state, ckp)
      .awaitTermination()
    def reportRows = Streams.decontamReport(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    // batching must be invisible: the accumulated report IS the cap-free
    // batch computation over the full corpus, row for row
    val want = Dedup.bloomDecontaminateUncapped(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    assert(reportRows === want)
    val flagged = want.filter(_._5).map(_._1)
    assert(flagged.nonEmpty, "no contamination planted — gate untested")
    // quarantine honored at admission: flagged train docs never entered
    // the corpus; clean + shingle-less + eval-slice docs all did
    def corpusIds = Streams.decontamCorpus(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds === (ids.toSet -- flagged))
    // Bloom has no false negatives: every train doc the exact pair-join
    // report names is quarantined by the gate
    val exactTrain = Dedup.decontaminate(spark, sfDir)
      .select("train_id").as[Long].collect().toSet
    assert(exactTrain.subsetOf(flagged))
    // replayed batch id: marker short-circuit; torn commit: converge
    val bloom = Dedup.bloomBitsetFromIndex(
      Dedup.uncappedShingleIndexOf(evalDocs))
    val replay = docs.filter(col("doc_id") > mid)
    Streams.applyDecontamBatch(replay, 1L, bloom, state)
    assert(reportRows === want)
    tear(state, 1L)
    Streams.applyDecontamBatch(replay, 1L, bloom, state)
    assert(reportRows === want)
    assert(corpusIds === (ids.toSet -- flagged))
    // duplicate ARRIVALS (same doc_id in a second input file, a DIFFERENT
    // batch id — not a replay): the committed-state anti-join must make
    // the overlapping batch a no-op, so the accumulated state still
    // equals the one-row-per-doc batch twin instead of growing dup rows
    land(docs.filter(col("doc_id") <= mid), "f2.parquet")
    Streams.decontamIngestPipeline(spark, in, evalDocs, state, ckp)
      .awaitTermination()
    assert(reportRows === want)
    assert(corpusIds === (ids.toSet -- flagged))
  }

  test("streaming embedding near-dup gate: kept set equals the greedy " +
      "id-ordered fold of the batch LSH pair report, across restart, " +
      "replay, torn commit, and duplicate arrivals") {
    import graft.operators.Ann
    val in    = tmp("graft_em_in")
    val state = tmp("graft_em_state")
    val ckp   = tmp("graft_em_ckp")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_em_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    val ids = emb.select("vec_id").as[Long].collect().sorted
    val mid = ids(ids.length / 2)
    // the batch report: every LSH-found near-dup pair (v1 < v2) — band
    // keys are per-vector deterministic, so the gate's candidate set per
    // batch is exactly this set restricted to the vectors it compares
    val pairSet = Ann.embedLshPairs(spark, sfDir)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(pairSet.nonEmpty, "no near-dups planted — gate untested")
    def near(a: Long, b: Long): Boolean =
      pairSet.contains((math.min(a, b), math.max(a, b)))
    // greedy twin of the gate semantics: within a batch a vector is
    // rejected if near ANY lower-id batch member; across batches only
    // the KEPT corpus rejects
    val batches = Seq(ids.filter(_ <= mid), ids.filter(_ > mid))
    var kept = Set[Long]()
    batches.foreach { b =>
      val admitted = b.filterNot(y =>
        b.exists(x => x < y && near(x, y)) || kept.exists(k => near(k, y)))
      kept ++= admitted
    }
    assert(kept.size < ids.length, "nothing rejected — gate untested")
    // first half lands; second half arrives over a RESTART
    land(emb.filter(col("vec_id") <= mid), "f0.parquet")
    Streams.embedIngestPipeline(spark, in, state, ckp).awaitTermination()
    land(emb.filter(col("vec_id") > mid), "f1.parquet")
    Streams.embedIngestPipeline(spark, in, state, ckp).awaitTermination()
    def corpusIds = Streams.embedCorpus(spark, state)
      .select("vec_id").as[Long].collect().toSet
    assert(corpusIds === kept)
    // replayed batch id: marker short-circuit; torn commit: converge
    val replay = emb.filter(col("vec_id") > mid)
    Streams.applyEmbedIngestBatch(replay, 1L, state)
    assert(corpusIds === kept)
    tear(state, 1L)
    Streams.applyEmbedIngestBatch(replay, 1L, state)
    assert(corpusIds === kept)
    // duplicate arrivals in a NEW batch id: committed-state anti-join
    // makes the overlapping file a no-op
    land(emb.filter(col("vec_id") <= mid), "f2.parquet")
    Streams.embedIngestPipeline(spark, in, state, ckp).awaitTermination()
    assert(corpusIds === kept)
  }

  test("stream-stream join matches orders in the hour before each event") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, Timestamp)]
    val orIn = MemoryStream[(Long, Long, Timestamp)]
    val events = evIn.toDF().toDF("event_id", "user_id", "ts")
    val orders = orIn.toDF().toDF("o_orderkey", "o_custkey", "order_ts")
    // user 1: order 30 min before event (match), order 2h before (too old);
    // user 2: order AFTER the event (no match)
    evIn.addData((100L, 1L, ts(30)), (200L, 2L, ts(30)))
    orIn.addData(
      (10L, 1L, ts(0)),
      (11L, 1L, Timestamp.valueOf("2024-01-01 08:00:00")),
      (20L, 2L, ts(45)))
    val q = Streams.eventOrderJoin(events, orders).writeStream
      .format("memory").queryName("ssjoin")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssjoin")
      .select("event_id", "o_orderkey").as[(Long, Long)].collect().toSet
    assert(got === Set((100L, 10L)))
  }

  test("stream-static enrichment broadcasts the dim, keeps no state, and " +
      "matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evIn = MemoryStream[(Long, Long, Double)]
    val events = evIn.toDF().toDF("event_id", "user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "basic"))
      .toDF("segment_user_id", "segment")
    evIn.addData((100L, 1L, 2.5), (200L, 2L, 1.0), (300L, 9L, 4.0))
    val q = Streams.streamStaticEnrich(events, dim).writeStream
      .format("memory").queryName("enrich")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // inner join semantics: user 9 has no dim row and is dropped —
    // identical to the batch join of the same inputs
    val got = spark.table("enrich")
      .select("event_id", "segment").as[(Long, String)].collect().toSet
    assert(got === Set((100L, "gold"), (200L, "basic")))
    // stateless: nothing in the state store for a plain broadcast join
    assert(q.lastProgress.stateOperators.isEmpty ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
  }

  test("flatMapGroupsWithState keeps exact per-user running totals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.UserEvent]
    input.addData(Streams.UserEvent(7L, 1.25), Streams.UserEvent(7L, 2.50),
      Streams.UserEvent(8L, 10.0))
    val q = Streams.runningTotals(spark, input.toDS()).writeStream
      .format("memory").queryName("running")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byUser = spark.table("running").as[Streams.UserRunning]
      .collect().map(r => r.user_id -> r).toMap
    assert(byUser(7L).n === 2L)
    assert(byUser(7L).total_cents === 375L)
    assert(byUser(8L).total_cents === 1000L)
  }

  test("transformWithState (RocksDB store) matches the GroupState running " +
      "totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState supports only the RocksDB state store; session
    // conf restored in finally — suites run sequentially
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.UserEvent]
      input.addData(Streams.UserEvent(7L, 1.25), Streams.UserEvent(8L, 10.0))
      val q = Streams.runningTotalsTws(spark, input.toDS()).writeStream
        .format("memory").queryName("running_tws")
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable()
      // second micro-batch: ValueState must carry user 7's totals forward
      input.addData(Streams.UserEvent(7L, 2.50))
      q.processAllAvailable()
      q.stop()
      val latest = spark.table("running_tws").as[Streams.UserRunning]
        .collect().groupBy(_.user_id)
        .map { case (u, rs) => u -> rs.maxBy(_.n) }
      assert(latest(7L).n === 2L)
      assert(latest(7L).total_cents === 375L)
      assert(latest(8L).n === 1L)
      assert(latest(8L).total_cents === 1000L)
    } finally prevProvider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming as-of enrichment equals the batch as-of join over the " +
      "drained input, ingest-time enrichment is immutable under later " +
      "dimension updates, replay-safe") {
    import graft.operators.EventOps
    val in    = tmp("graft_asof_in")
    val dims  = tmp("graft_asof_dim")
    val state = tmp("graft_asof_state")
    val ckp   = tmp("graft_asof_ckp")
    // events from the shared testdata (the batch query's own left side),
    // split into two landed files; dimension = the projected orders
    val events = EventOps.withTsMs(Tables.events(spark, sfDir))
      .select(col("event_id"), col("user_id"), col("ts_ms"))
    val dim = Tables.orders(spark, sfDir).select(
        col("o_custkey").as("user_id"), col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
      .filter(col("order_ms").isNotNull)
    dim.write.mode("overwrite").parquet(dims)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_asof_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    val mid = 5000L
    land(events.filter(col("event_id") <= mid), "f0.parquet")
    land(events.filter(col("event_id") > mid), "f1.parquet")
    Streams.asofEnrichPipeline(spark, in, dims, state, ckp)
      .awaitTermination()
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    val got = asMap(Streams.asofEnriched(spark, state))
    val want = asMap(EventOps.asofJoin(spark, sfDir))
    assert(got === want, "streamed enrichment diverged from the batch join")
    // dimension update between batches: a new order for every user at a
    // very late timestamp would win every FUTURE as-of lookup — but the
    // committed rows are ingest-time decisions and must not move
    val lateMs = events.agg(max(col("ts_ms"))).head.getLong(0) + 1L
    val dimUsers = dim.select(col("user_id")).distinct()
    dim.unionByName(dimUsers.select(col("user_id"),
        (col("user_id") + 1000000L).as("o_orderkey"),
        lit(lateMs - 1000L).as("order_ms")))
      .write.mode("overwrite").parquet(dims)
    // new events land after the dim update (ids disjoint from testdata)
    val us = dimUsers.orderBy(col("user_id")).limit(2).collect()
      .map(_.getLong(0))
    val extra = Seq((9000001L, us(0), lateMs), (9000002L, us(1), lateMs))
      .toDF("event_id", "user_id", "ts_ms")
    land(extra, "f2.parquet")
    Streams.asofEnrichPipeline(spark, in, dims, state, ckp)
      .awaitTermination()
    val after = asMap(Streams.asofEnriched(spark, state))
    want.foreach { case (k, v) =>
      assert(after(k) === v, s"committed enrichment for event $k moved") }
    // the post-update events see the NEW dimension rows (orderkey 1e6+)
    assert(after(9000001L)._3 >= 1000000L && after(9000002L)._3 >= 1000000L)
    // replayed batch id: marker short-circuit; torn commit: converge
    val snapshot = asMap(Streams.asofEnriched(spark, state))
    Streams.applyAsofEnrichBatch(extra, 2L, dims, state)
    assert(asMap(Streams.asofEnriched(spark, state)) === snapshot,
      "replayed batch id was applied twice")
    tear(state, 2L)
    Streams.applyAsofEnrichBatch(extra, 2L, dims, state)
    assert(asMap(Streams.asofEnriched(spark, state)) === snapshot,
      "torn-commit replay diverged")
  }

  test("streaming cumulative uniques equal the batch new/cumulative series " +
      "across a restart, a replayed batch id, and a torn commit") {
    import graft.operators.EventOps
    val in    = tmp("graft_uq_in")
    val state = tmp("graft_uq_state")
    val ckp   = tmp("graft_uq_ckp")
    val events = EventOps.withTsMs(Tables.events(spark, sfDir))
      .select(col("user_id"), col("ts_ms"))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp("graft_uq_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(in, name))
    }
    // split by TIME: every event of the first file precedes every event
    // of the second, so arrival-order first-seen days are the true ones
    val bounds = events.agg(min(col("ts_ms")), max(col("ts_ms"))).head()
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val late = events.filter(col("ts_ms") > cut)
    land(events.filter(col("ts_ms") <= cut), "f0.parquet")
    Streams.uniquesPipeline(spark, in, state, ckp).awaitTermination()
    land(late, "f1.parquet")
    Streams.uniquesPipeline(spark, in, state, ckp).awaitTermination()
    def series = Streams.uniquesSeries(spark, state)
      .select("day", "new_users", "cumulative_users")
      .as[(Long, Long, Long)].collect().toSeq
    // the batch series also lists active days with no first-timer; the
    // streamed one has a row only where someone was first seen
    val want = EventOps.cumulativeUniques(spark, sfDir)
      .filter(col("new_users") > 0)
      .select("day", "new_users", "cumulative_users")
      .as[(Long, Long, Long)].collect().toSeq
    assert(want.nonEmpty && late.count() > 0)
    assert(series === want)
    Streams.applyUniquesBatch(late, 1L, state)
    assert(series === want, "replayed batch id was applied twice")
    tear(state, 1L)
    Streams.applyUniquesBatch(late, 1L, state)
    assert(series === want, "torn-commit replay diverged")
  }

  test("append-only state sinks commit only each batch's new rows, one " +
      "version per batch, and earlier batches' files stay live") {
    import graft.operators.Dedup
    import graft.sources.GraftLog
    val conf = spark.sessionState.newHadoopConf()
    def adds(root: String, v: Int) =
      GraftLog.versionRows(conf, root, v).filter(_.action == "add")
    def median(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(percentile_approx(col(c), lit(0.5), lit(10000))).head.getLong(0)
    // dedup gate: batch 1's version adds exactly batch 1's survivors
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val dmid = median(docs, "doc_id")
    val dd = tmp("graft_amp_dd")
    Streams.applyDedupIngestBatch(docs.filter(col("doc_id") <= dmid), 0L, dd)
    Streams.applyDedupIngestBatch(docs.filter(col("doc_id") > dmid), 1L, dd)
    assert(GraftLog.latestVersion(conf, dd) === 2)
    val ddSurvivors = Streams.dedupCorpus(spark, dd)
      .filter(col("doc_id") > dmid).count()
    assert(ddSurvivors > 0)
    assert(adds(dd, 2).flatMap(_.rows).sum === ddSurvivors)
    assert(adds(dd, 1).map(_.file).toSet
      .subsetOf(GraftLog.liveEntries(conf, dd, 2).toSet))
    // embedding gate: the same
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val emid = median(emb, "vec_id")
    val em = tmp("graft_amp_em")
    Streams.applyEmbedIngestBatch(emb.filter(col("vec_id") <= emid), 0L, em)
    Streams.applyEmbedIngestBatch(emb.filter(col("vec_id") > emid), 1L, em)
    assert(GraftLog.latestVersion(conf, em) === 2)
    val emSurvivors = Streams.embedCorpus(spark, em)
      .filter(col("vec_id") > emid).count()
    assert(emSurvivors > 0)
    assert(adds(em, 2).flatMap(_.rows).sum === emSurvivors)
    assert(adds(em, 1).map(_.file).toSet
      .subsetOf(GraftLog.liveEntries(conf, em, 2).toSet))
    // decontamination gate: report and corpus rows land in ONE version
    // per batch
    val bloom = Dedup.bloomBitsetFromIndex(Dedup.uncappedShingleIndexOf(
      docs.filter(pmod(col("doc_id"), lit(Dedup.EvalMod)) === 0)))
    val dc = tmp("graft_amp_dc")
    Streams.applyDecontamBatch(docs.filter(col("doc_id") <= dmid), 0L,
      bloom, dc)
    assert(GraftLog.latestVersion(conf, dc) === 1)
    Streams.applyDecontamBatch(docs.filter(col("doc_id") > dmid), 1L,
      bloom, dc)
    assert(GraftLog.latestVersion(conf, dc) === 2)
  }

  test("superseded MV state versions are reclaimable: vacuum deletes " +
      "their files and the state reads the same") {
    import graft.sources.{GraftLog, GraftLogOps}
    val state = tmp("graft_mv_vac") + "/mv"
    val conf = spark.sessionState.newHadoopConf()
    def batch(rows: (String, String)*) = rows.toDF("category", "amount")
    Streams.applyMvBatch(batch("food" -> "10.00", "travel" -> "5.25"), 0L,
      state)
    Streams.applyMvBatch(batch("food" -> "4.00"), 1L, state)
    Streams.applyMvBatch(batch("grocery" -> "100.00"), 2L, state)
    val latest = GraftLog.latestVersion(conf, state)
    assert(latest === 3)
    def snap = Streams.mvState(spark, state).collect().toSet
    val before = snap
    val superseded = (1 until latest)
      .flatMap(v => GraftLog.liveEntries(conf, state, v)).toSet --
      GraftLog.liveEntries(conf, state, latest)
    assert(superseded.nonEmpty)
    val (deleted, _) = GraftLogOps.vacuumLog(spark, state, keepFrom = latest)
    assert(deleted >= superseded.size)
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(conf)
    superseded.foreach(f =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(state, f)),
        s"superseded state file $f survived vacuum"))
    assert(snap === before)
  }
}
