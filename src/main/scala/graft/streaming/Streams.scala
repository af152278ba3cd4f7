package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.operators.RefTransforms
import graft.sources.{GraftLog, GraftLogOps, JdbcUpsert}

/** Structured Streaming re-expression of the reference's streaming model
  * (SURVEY.md §2k): the reference is event-per-file micro-batch — an S3
  * ObjectCreated notification fires one Lambda per landed CSV
  * (README.md:155-187), each file processed independently and idempotently.
  *
  * Spark-first mapping:
  *  - S3-notification trigger    → file source (`readStream.csv(dir)`) —
  *    new-file discovery is built into the source.
  *  - run-to-completion per file → `Trigger.AvailableNow` (drain everything
  *    present, then stop) — the batch-like semantics the Lambda had.
  *  - no cross-file state in the reference; the [EXT] event-time operators
  *    (watermarked tumbling windows, session windows, custom per-key state
  *    via flatMapGroupsWithState) cover what a streaming events pipeline
  *    needs beyond it.
  *
  * At scale the same topology runs continuously (ProcessingTime trigger):
  * state lives in the state store keyed by group, watermarks bound it, and
  * the sink is exactly-once via checkpoint + idempotent file commits.
  *
  * The `foreachBatch` state sinks (MV, SCD2, the ingest gates, as-of
  * enrichment, uniques) keep their state in `graftlog` tables and commit
  * each micro-batch as one version through
  * [[graft.sources.GraftLogOps.commitBatch]], whose per-(sink, batch id)
  * marker makes a replayed batch id a no-op.
  */
object Streams {

  /** The reference's 9-column CSV input schema (FIXTURES.md §A1). */
  val transactionSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("date", StringType),
    StructField("timestamp", StringType),
    StructField("amount", StringType),
    StructField("category", StringType),
    StructField("description", StringType),
    StructField("transaction_type", StringType),
    StructField("account", StringType),
    StructField("location", StringType)))

  /** Name under which [[fileEtlPipeline]] reports its per-batch observed
    * metrics (`n_rows`, `amount_cents`) — read them from
    * `query.recentProgress(i).observedMetrics.get(EtlObservation)`. The
    * metrics are additive (count + exact-cents sum), so totals compose
    * across micro-batches AND across checkpoint restarts: the sum over all
    * progress rows of all runs equals the whole-input total exactly once —
    * the observability a production ingest alarms on (row counts and money
    * totals per batch) without a second pass over the data.
    */
  val EtlObservation = "etl"

  /** E1 as a stream: watch `inDir` for CSVs, run the full reference
    * transform chain, land parquet in `outDir`. Returns the started query;
    * callers await termination (AvailableNow stops by itself).
    *
    * `dim`, when given, is a bounded dimension joined in-stream via
    * [[streamStaticEnrich]] (broadcast left join on `category`) — the
    * fact-stream ⋈ slowly-changing-dim topology, stateless and
    * shuffle-free on the stream side. Left join: an unmapped category
    * must never drop a transaction (the reference's chain has no such
    * filter), it just leaves the enrichment columns null.
    */
  def fileEtlPipeline(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      dim: Option[DataFrame] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(transactionSchema)
      .option("header", "true")
      .csv(inDir)
    // per-row lineage: one micro-batch can drain many landed files
    val transformed = RefTransforms.transformTransactionsWithLineage(raw)
    val enriched = dim.fold(transformed)(
      streamStaticEnrich(transformed, _, "category"))
    enriched
      .observe(EtlObservation,
        count(lit(1)).as("n_rows"),
        sum(RefTransforms.cents(col("amount"))).as("amount_cents"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Watermarked tumbling event-time aggregation over a stream with
    * (ts: timestamp, user_id: long, value: double) — late data beyond
    * 10 minutes is dropped, state for closed windows is evicted.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(RefTransforms.cents(col("value"))).as("value_cents"))
      .select(col("window.start").as("window_start"), col("n"),
        col("value_cents"))

  /** Event-time session windows (30-minute gap) per user — the streaming
    * twin of EventOps.sessionize.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Hash buckets in the upsert target layout (`bucket=N/` partitions
    * of the table's first commit).
    */
  val UpsertBuckets = 16

  /** The reference's real topology, E1 end-to-end: files land → per-batch
    * upsert into the target table (lambda_function.py's INSERT..ON CONFLICT,
    * SURVEY §2b K3) — expressed as a foreachBatch sink running the
    * set-oriented last-writer-wins merge INCREMENTALLY. The target is a
    * `graftlog` table hash-bucketed by `transaction_id` into `bucket=N/`
    * partitions by its first commit; every later micro-batch lands through
    * [[graft.sources.GraftLogOps.mergeIntoLog]], one atomic version that
    * rewrites only the files whose key statistics may hold a batch key —
    * untouched files stay live as they are. I/O per batch is O(touched
    * files), not O(table), and a reader sees the table before or after a
    * batch, never between.
    *
    * `trigger` defaults to drain-and-stop; pass `Trigger.ProcessingTime`
    * for the run-forever deployment — same topology, same checkpoint
    * recovery, the state simply keeps accumulating across micro-batches.
    */
  def fileUpsertPipeline(spark: SparkSession, inDir: String, targetDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    val raw = spark.readStream
      .schema(transactionSchema)
      .option("header", "true")
      .csv(inDir)
    RefTransforms.transformTransactionsWithLineage(raw).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the merge replaces a stored key with the batch's row; WITHIN
        // the batch — one AvailableNow trigger can drain a file and its
        // correction together — ties break on THE deterministic full-row
        // hash JdbcUpsert.upsert uses (one shared null-pattern-aware
        // definition), never on partition/scan order: a replayed batch
        // re-picks the same winner and re-merges the same rows, which is
        // what makes the checkpointed merge idempotent in fact, not just
        // in shape
        val rowHash = JdbcUpsert.fullRowHash(batch.columns.toSeq)
        val winners = batch
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("transaction_id")).orderBy(rowHash.desc)))
          .filter(col("__rn") === 1)
          .drop("__rn")
          .withColumn("bucket", pmod(xxhash64(col("transaction_id")),
            lit(UpsertBuckets.toLong)))
        if (GraftLog.latestVersion(spark.sessionState.newHadoopConf(),
            targetDir) == 0)
          winners.write.format(GraftLog.Format)
            .option("schema", winners.schema.toDDL)
            .option("partitionBy", "bucket")
            .mode("append").save(targetDir)
        else {
          GraftLogOps.mergeIntoLog(spark, targetDir, winners,
            Seq("transaction_id"))
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The committed state of a sink's `graftlog` table; refuses loudly
    * (naming `what`) when no batch ever committed under `stateDir`.
    */
  private def committed(spark: SparkSession, stateDir: String,
      what: String): DataFrame = {
    if (GraftLog.latestVersion(spark.sessionState.newHadoopConf(),
        stateDir) == 0)
      sys.error(s"no committed $what under $stateDir")
    spark.read.format(GraftLog.Format).option("path", stateDir).load()
  }

  private val MvStateSchema = StructType.fromDDL("category STRING, " +
    "n BIGINT, sum_cents BIGINT, min_cents BIGINT, max_cents BIGINT")

  /** Applies ONE micro-batch to the stored MV summary state — exposed so
    * the spec can replay a batch id and pin idempotence. The state is a
    * `graftlog` table under `stateDir`, and each batch commits the merged
    * summary as one version that replaces the previous one (remove +
    * add) through [[graft.sources.GraftLogOps.commitBatch]]. Additive
    * aggregate state is NOT naturally idempotent under foreachBatch's
    * at-least-once replay (a crash between sink write and checkpoint
    * commit re-delivers the batch id), so the batch id's marker is
    * written inside the version commit: a replayed id whose version
    * committed is a no-op, and one whose commit was torn merges again
    * from the last committed version. The state is |groups| rows, and
    * `GraftLogOps.vacuumLog` reclaims the superseded versions' files.
    */
  private[graft] def applyMvBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "mv", batchId,
      MvStateSchema, replace = true) { existing =>
      batch
        .select(col("category"),
          RefTransforms.cents(expr("try_cast(amount AS DOUBLE)"))
            .as("price_cents"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
          min(col("price_cents")).as("min_cents"),
          max(col("price_cents")).as("max_cents"))
        .unionByName(existing)
        .groupBy(col("category"))
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
          min(col("min_cents")).as("min_cents"),
          max(col("max_cents")).as("max_cents"))
    }

  /** Public reader for the committed MV state (callers get an error, not
    * silent emptiness, when no batch ever committed).
    */
  def mvState(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "MV state")

  /** Streaming materialized-view maintenance — the continuous form of
    * `operators.Maintenance.mvIncremental`: each landed transaction file
    * folds into a stored per-category count/sum/min/max summary, so the
    * "view" is refreshed at O(batch + |groups|) per micro-batch while
    * the raw history is never re-read. Restart-safe: the checkpoint
    * resumes undrained files, and [[applyMvBatch]]'s per-batch commit
    * makes replayed batch ids no-ops (StreamingSpec pins both paths).
    */
  def mvPipeline(spark: SparkSession, inDir: String, stateDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(transactionSchema)
      .option("header", "true")
      .csv(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyMvBatch(batch, id, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  // ---------- streaming SCD2 dimension maintenance ----------

  /** Input schema of the SCD2 maintenance stream: one priority update per
    * row, the CDC feed a dimension subscribes to. `eff_ms` is the update's
    * event time; `o_orderkey` is the within-timestamp tiebreak, exactly as
    * in the batch build.
    */
  val scd2UpdateSchema: StructType = StructType(Seq(
    StructField("o_custkey", LongType),
    StructField("o_orderkey", LongType),
    StructField("eff_ms", LongType),
    StructField("priority", StringType)))

  private val Scd2StateSchema = StructType.fromDDL(
    "o_custkey BIGINT, version BIGINT, priority STRING, " +
      "valid_from_ms BIGINT, valid_to_ms BIGINT, is_current INT, " +
      "n_updates BIGINT")

  /** Streaming SCD2 maintenance — the continuous twin of
    * `operators.Warehouse.scd2`, matching the MV-maintenance pattern:
    * each micro-batch of priority updates merges into the stored
    * dimension (open rows close, new versions append, an unchanged
    * priority extends the open run) at O(batch + touched keys) per
    * batch — history is never rebuilt from the raw update log.
    * Exactly-once through the same per-batch `graftlog` commit as
    * [[applyMvBatch]] (one overwrite version per batch); StreamingSpec
    * pins batch parity across a restart, a replayed batch id, and a torn
    * commit.
    *
    * `maxFilesPerTrigger=1` keeps one landed file per micro-batch so the
    * merge is exercised at file granularity; a production feed tunes it.
    *
    * In-order contract (the standard streaming-CDC assumption): a key's
    * updates do not arrive with event times earlier than already-applied
    * ones. Late history rewrites belong to the batch rebuild — the same
    * division every incremental dimension pipeline draws.
    */
  def scd2Pipeline(spark: SparkSession, inDir: String, stateDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(scd2UpdateSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyScd2Batch(batch, id, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Applies ONE micro-batch of priority updates to the stored SCD2
    * dimension. The merge is fully set-oriented (no driver loops):
    *
    *  1. collapse the batch to runs per key — the same windowed build as
    *     the batch query, over batch-sized input;
    *  2. boundary-join each key's FIRST batch run against its stored open
    *     row: same priority → the run extends the open row (valid_from
    *     and version kept, update counts summed); different → the open
    *     row closes at the run's valid_from;
    *  3. renumber batch runs onto the key's stored version counter, chain
    *     valid_to within the fresh rows, and union with the untouched
    *     remainder of the state.
    *
    * Only touched keys' open rows are rewritten logically; each batch
    * commits the whole dimension as one version replacing the previous
    * one (it is dimension-sized, not fact-sized).
    */
  private[graft] def applyScd2Batch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "scd2", batchId,
      Scd2StateSchema, replace = true) { existing =>
      import org.apache.spark.sql.expressions.Window
      val eot = graft.operators.Warehouse.EndOfTimeMs
      val stateCols = Seq("o_custkey", "version", "priority", "valid_from_ms",
        "valid_to_ms", "is_current", "n_updates").map(col)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("eff_ms"), col("o_orderkey"))
      // batch → runs: one row per (key, consecutive-priority run), exactly
      // the batch build's shape. localCheckpoint: three consumers below.
      val runs = batch
        .withColumn("is_chg",
          when(lag(col("priority"), 1).over(w).isNull ||
            lag(col("priority"), 1).over(w) =!= col("priority"), 1L)
            .otherwise(0L))
        .withColumn("bver", sum(col("is_chg"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("o_custkey"), col("bver"))
        .agg(min(col("priority")).as("priority"),
          min(col("eff_ms")).as("valid_from_ms"),
          count(lit(1)).as("n_updates"))
        .localCheckpoint()
      val touched = runs.select(col("o_custkey")).distinct()
      val open = existing.filter(col("is_current") === 1)
        .join(touched, Seq("o_custkey"))
      val keyInfo = runs.filter(col("bver") === 1L)
        .select(col("o_custkey"), col("priority").as("first_priority"),
          col("valid_from_ms").as("first_from"))
        .join(open.select(col("o_custkey"), col("version").as("cur_version"),
          col("priority").as("cur_priority"),
          col("valid_from_ms").as("cur_from"),
          col("n_updates").as("cur_n")), Seq("o_custkey"), "left")
        .withColumn("merge_first",
          coalesce(col("cur_priority") === col("first_priority"), lit(false)))
        .withColumn("offset", coalesce(col("cur_version"), lit(0L)))
      val fresh = runs.join(keyInfo.select(col("o_custkey"), col("merge_first"),
          col("offset"), col("cur_from"), col("cur_n")), Seq("o_custkey"))
        .withColumn("version",
          col("offset") + col("bver") -
            when(col("merge_first"), 1L).otherwise(0L))
        .withColumn("valid_from_ms",
          when(col("merge_first") && col("bver") === 1L, col("cur_from"))
            .otherwise(col("valid_from_ms")))
        .withColumn("n_updates",
          when(col("merge_first") && col("bver") === 1L,
            col("cur_n") + col("n_updates")).otherwise(col("n_updates")))
      val wv = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
      val chained = fresh
        .withColumn("valid_to_ms",
          coalesce(lead(col("valid_from_ms"), 1).over(wv), lit(eot)))
        .withColumn("is_current",
          (col("valid_to_ms") === eot).cast("int"))
        .select(stateCols: _*)
      // a touched key's open row either closed here (priority changed) or
      // was replaced by the merged run above — it never passes through
      val closedPrev = open.join(keyInfo
          .filter(col("cur_priority").isNotNull && !col("merge_first"))
          .select(col("o_custkey"), col("first_from")), Seq("o_custkey"))
        .withColumn("valid_to_ms", col("first_from"))
        .withColumn("is_current", lit(0).cast("int"))
        .select(stateCols: _*)
      val untouchedOpen = existing.filter(col("is_current") === 1)
        .join(touched, Seq("o_custkey"), "left_anti")
        .select(stateCols: _*)
      val history = existing.filter(col("is_current") === 0)
        .select(stateCols: _*)
      history.unionByName(untouchedOpen).unionByName(closedPrev)
        .unionByName(chained)
    }

  /** Public reader for the committed SCD2 dimension state. */
  def scd2State(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "SCD2 state")

  /** The reference's literal production topology: landed file → transform
    * → warehouse upsert (S3 notification → Lambda → Redshift ON CONFLICT,
    * README.md:155-187 + lambda_function.py:176-271), as a streaming
    * composition of the file source with the staged-MERGE JDBC sink. Each
    * micro-batch runs one set-oriented MERGE; checkpointing makes a batch
    * exactly-once against the warehouse because re-running the same batch
    * re-applies the same idempotent MERGE. Rows the target DDL cannot
    * accept are dropped per-batch by the sink's validity filter (the
    * reference's per-row log-and-skip), surfaced through `onRejected`.
    */
  def fileWarehousePipeline(spark: SparkSession, inDir: String, url: String,
      table: String, props: java.util.Properties, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onRejected: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val raw = spark.readStream
      .schema(transactionSchema)
      .option("header", "true")
      .csv(inDir)
    RefTransforms.transformTransactionsWithLineage(raw).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch wall-clock stamp, like the reference's per-invocation
        // datetime.now() (lambda_function.py:121-122): lands in the DDL's
        // processed_timestamp column, drives within-batch LWW, and is what
        // ON CONFLICT refreshes for re-delivered keys
        val stamped = batch.withColumn("processed_timestamp",
          current_timestamp())
        val rejected = JdbcUpsert.upsert(stamped, url, table, props)
        onRejected(rejected, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Streaming dedup: drop re-deliveries of the same event id arriving
    * within the watermark window — the streaming face of the engine's
    * dedup family (state is bounded by the watermark, so this runs forever
    * on unbounded input; exact dedup over all history is the batch job).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming categorical-drift monitor — the continuous twin of
    * `q_drift_tv`: per event-time window, the exact total-variation
    * distance of the window's event-type mix against a FIXED baseline
    * mix (the composition of the already-trusted corpus slice). This is
    * the live data-quality gate a feed runs so a composition shift
    * (a source going dark, a new event type flooding in) alerts within
    * one window instead of at the next offline audit.
    *
    * Shape: ONE stateful operator. The type domain is fixed, so the
    * per-window mix is a conditional-count aggregate (no second
    * per-type grouping, no chained stateful ops), and the TV fold over
    * the known types plus the baseline constants happens in a stateless
    * projection — append-mode emission with watermark-bounded state.
    * All integers: `tv_num = Σ|n_t·N_b − b_t·N|` over `2·N·N_b`, same
    * cross-multiplied rational as the batch query, so the monitor's
    * output is bit-deterministic under replay.
    */
  def driftMonitor(events: DataFrame, baseline: Map[String, Long])
      : DataFrame = {
    val types = baseline.keys.toSeq.sorted
    val nb = baseline.values.sum
    // index-based column names: baseline keys are caller-supplied strings
    // and a '.' or backtick in a type would corrupt col() resolution.
    // The LAST slot is the catch-all for types absent from the baseline
    // (baseline mass 0) — without it a flood of a NOVEL type would be
    // invisible to both total and tv_num, the exact scenario a
    // composition monitor exists to catch.
    val slots = types.zipWithIndex.map { case (t, i) =>
      (s"n_$i", baseline(t))
    } :+ (s"n_${types.length}" -> 0L)
    // NULL-normalize before comparing: `event_type =!= t` is NULL for a
    // NULL type, so a flood of malformed/null-typed events would land in
    // NO slot and silently vanish from total and tv_num — exactly the
    // composition shift the catch-all exists to surface. A NUL
    // sentinel cannot collide with any real caller-supplied key.
    val et = coalesce(col("event_type"), lit("\u0000"))
    val counts = types.zipWithIndex.map { case (t, i) =>
      sum(when(et === t, 1L).otherwise(0L)).as(s"n_$i")
    } :+ sum(when(types.map(et =!= _).reduce(_ && _), 1L)
      .otherwise(0L)).as(s"n_${types.length}")
    val n = slots.map(s => col(s._1)).reduce(_ + _)
    // DECIMAL(38,0) everywhere the batch twin uses it: tv_num reaches
    // 2·N·N_b on disjoint mixes, which overflows int64 already at a
    // 5M-event window against a 1e6-row baseline — so the raw numerator
    // is EMITTED as DECIMAL(38,0) too (a long cast would null exactly the
    // overflow case the decimal discipline exists to protect)
    val tvNum = slots.map { case (c, b) =>
      abs(col(c).cast("decimal(38,0)") * lit(nb) -
        lit(b) * col("total").cast("decimal(38,0)"))
    }.reduce(_ + _)
    def floorDiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("total", n)
      .withColumn("tv_num", tvNum.cast("decimal(38,0)"))
      .select(col("window.start").as("window_start"), col("total"),
        col("tv_num"),
        // empty-window degenerate (late data fully watermarked out)
        when(col("total") === 0L, lit(0L))
          .otherwise(floorDiv(
            tvNum * lit(1000000L).cast("decimal(38,0)"),
            lit(2L).cast("decimal(38,0)") *
              col("total").cast("decimal(38,0)") *
              lit(nb).cast("decimal(38,0)")))
          .as("tv_ppm"))
  }

  /** Stream-stream inner join: events matched to orders of the same user
    * that happened in the hour before the event. Both sides carry
    * watermarks AND the join has a time-range condition — the two things
    * Spark needs to bound both state stores (a side's row is evicted once
    * the other side's watermark passes the end of its match window), so
    * this runs forever on unbounded inputs with finite state.
    */
  def eventOrderJoin(events: DataFrame, orders: DataFrame): DataFrame = {
    val e = events.withWatermark("ts", "10 minutes")
    val o = orders.withWatermark("order_ts", "10 minutes")
    e.join(o,
      col("user_id") === col("o_custkey") &&
        col("order_ts") <= col("ts") &&
        col("order_ts") >= col("ts") - expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey"), col("order_ts"))
  }

  /** Stream-static enrichment: the unbounded event stream joined against a
    * bounded dimension with an explicit broadcast — NO state store at all
    * (unlike the stream-stream join above): each micro-batch hash-probes
    * the dim and emits immediately. This is the workhorse topology at
    * 100 TB/day ingest — fact stream ⋈ slowly-changing dims — and the
    * broadcast keeps it shuffle-free on the stream side at any rate.
    * Refresh caveat: a plain-parquet dim's file listing is fixed when its
    * DataFrame is created, so replacing the snapshot in place is NOT
    * picked up (and deleting the old files fails the next batch);
    * per-micro-batch re-resolution of the static side needs a
    * table-format dim (catalog table / transactional table format) —
    * with one, this same join sees each refresh without a restart.
    */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col("segment_user_id"))
      .select(col("event_id"), col("user_id"), col("segment"), col("value"))

  /** Keyed form of [[streamStaticEnrich]], the shape [[fileEtlPipeline]]
    * wires in: broadcast LEFT join on a shared column name, so enrichment
    * can never change the stream's row count — dim misses surface as
    * nulls, not dropped facts. Same stateless per-micro-batch hash probe.
    *
    * PRECONDITION: `key` must be unique in `dim`. A duplicate-keyed dim
    * multiplies every matching fact (left join fan-out), which would
    * double-count the observed n_rows/amount_cents metrics downstream —
    * enforced here with a cheap `dropDuplicates(key)` (a no-op on a
    * well-formed dim, deterministic-keeper semantics are NOT promised for
    * a malformed one: fix the dim, this guard only protects the counts).
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(
      org.apache.spark.sql.functions.broadcast(dim.dropDuplicates(key)),
      Seq(key), "left")

  case class UserEvent(user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n: Long, total_cents: Long)

  /** ONE definition of the running-totals fold (count + exact-cents sum,
    * the Scala form of RefTransforms.cents) shared by the GroupState and
    * transformWithState processors — StreamingSpec pins the two APIs to
    * the same answer, and a single fold makes that true by construction.
    */
  private def foldRunning(userId: Long, prev: UserRunning,
      rows: Iterator[UserEvent]): UserRunning =
    rows.foldLeft(prev) { (acc, e) =>
      UserRunning(userId, acc.n + 1,
        acc.total_cents + math.floor(e.value * 100 + 0.5).toLong)
    }

  /** Custom keyed state via flatMapGroupsWithState: per-user running count
    * and cent-exact running total, emitted on every update — the arbitrary-
    * state surface (KeyValueGroupedDataset) beyond built-in windows.
    */
  def runningTotals(spark: SparkSession, events: Dataset[UserEvent])
      : Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[UserEvent],
         state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0L))
          val next = foldRunning(userId, prev, rows)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** The same running totals on `transformWithState` — Spark 4's
    * arbitrary-state API (typed named state cells with optional TTL,
    * timers, and list/map state, over the RocksDB state store). Kept
    * semantically identical to [[runningTotals]] so StreamingSpec pins
    * both state APIs to the same answer on the same input; the processor
    * shape (init → per-key handleInputRows) is what a production pipeline
    * migrating off GroupState adopts.
    */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val prev =
        if (state.exists()) state.get() else UserRunning(userId, 0L, 0L)
      val next = foldRunning(userId, prev, rows)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (transformWithState's only supported
    * store; the spec sets it on the session before starting the query).
    */
  def runningTotalsTws(spark: SparkSession, events: Dataset[UserEvent])
      : Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ---------- streaming ingest-time dedup ----------

  /** Schema of the document-ingest stream. */
  val docIngestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Streaming ingest-time deduplication — the crawl-pipeline topology:
    * each micro-batch of landed documents is checked against the stored
    * corpus BEFORE admission, by exact content hash (md5) and by SimHash
    * hamming ≤ 3 (the same 60-bit/4-band signatures as the batch
    * `q_dedup_simhash`, so ingest-time and offline dedup agree on what a
    * near-dup is); survivors append, duplicates never enter. State per
    * kept doc is its text + md5 + 4 band words — the probe is a band
    * equi-join against the stored signatures, O(batch × bucket), never
    * O(corpus²), which is the entire point of deduplicating AT ingest
    * instead of re-running corpus-wide jobs.
    *
    * Exactly-once through the per-batch `graftlog` commit shared with
    * the MV and SCD2 sinks; each batch's version adds only its
    * survivors, so a batch writes O(batch) bytes, not O(corpus).
    */
  def dedupIngestPipeline(spark: SparkSession, inDir: String,
      stateDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(docIngestSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyDedupIngestBatch(batch, id, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch through the admission gate. Within-batch rule:
    * a doc is dropped if it exactly or nearly duplicates ANY lower-id
    * batch doc (the SemDeDup keep-lowest convention — deterministic and
    * order-free). Against the corpus: any exact or near match drops the
    * batch doc (the corpus doc arrived first).
    */
  private[graft] def applyDedupIngestBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "dedup", batchId,
      DedupStateSchema, replace = false) { existing =>
      import graft.operators.{BandPairs, Dedup}
      val signed = batch.select(col("doc_id"), col("text"))
        .withColumn("content_md5", md5(col("text")))
        .join(Dedup.simhashPacked(batch.select(col("doc_id"), col("text"))),
          Seq("doc_id"))
        .localCheckpoint()
      def banded(df: DataFrame): DataFrame =
        df.select(col("doc_id"),
          array(col("b0"), col("b1"), col("b2"), col("b3")).as("keys"))
      val near = BandPairs.hamming(col("x.keys"), col("y.keys"),
        Dedup.SimBands) <= Dedup.SimHammingMax
      // within-batch near-dup candidates: band-bucket join, lower id wins
      val bb = banded(signed)
      val nearInBatch = BandPairs(bb, bb, "keys", Dedup.SimBands,
          "dedup_in_batch", col("x.doc_id") < col("y.doc_id"))
        .filter(near).select(col("y.doc_id").as("doc_id"))
      // within-batch exact: keep the lowest id per content hash
      val wmin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_md5"))
      val exactInBatch = signed
        .withColumn("keep_id", min(col("doc_id")).over(wmin))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id")).distinct()
      // against the stored corpus: exact hash + banded near-dup
      val exactVsCorpus = signed.join(
        existing.select(col("content_md5")).distinct(), Seq("content_md5"))
        .select(col("doc_id")).distinct()
      val nearVsCorpus = BandPairs(bb, banded(existing), "keys",
          Dedup.SimBands, "dedup_vs_corpus")
        .filter(near).select(col("x.doc_id").as("doc_id"))
      val dropped = nearInBatch.unionByName(exactInBatch)
        .unionByName(exactVsCorpus).unionByName(nearVsCorpus).distinct()
      signed.join(dropped, Seq("doc_id"), "left_anti")
    }

  private val DedupStateSchema = StructType.fromDDL("doc_id BIGINT, " +
    "text STRING, content_md5 STRING, b0 BIGINT, b1 BIGINT, b2 BIGINT, " +
    "b3 BIGINT")

  /** Public reader for the committed deduplicated corpus. */
  def dedupCorpus(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "dedup corpus")

  // ---------- streaming decontamination gate ----------

  /** Streaming benchmark-decontamination gate — the continuous twin of
    * `q_bloom_decontaminate` (operators.Dedup.bloomDecontaminate): the
    * eval suite's Bloom bitset is folded ONCE before the stream starts (a
    * ≤ 8192-row (word, bits) table, localCheckpointed so no micro-batch
    * re-reads the suite), and every landed micro-batch probes its
    * documents' shingle hashes against the broadcast bitset AT ADMISSION
    * — contaminated documents (Bloom containment ≥ the Jaccard threshold)
    * are quarantined and never enter the training corpus, instead of
    * being hunted down by a corpus-wide batch job after the fact. Bloom
    * filters have no false negatives, so nothing the exact pair-join
    * report would flag can slip past the gate (the superset property the
    * batch query pins, preserved per batch).
    *
    * The gate probes every shingle UNCAPPED: corpus-wide document
    * frequency is unknowable online, and the probe is linear in shingles
    * (the hot-shingle cap exists for the quadratic pair joins, not this).
    * StreamingSpec pins the accumulated report equal to the cap-free
    * batch twin (`Dedup.bloomDecontaminateUncapped`) over the same
    * documents, across restart and replay. Eval-slice documents
    * (doc_id ≡ 0 mod EvalMod — the holdout itself) pass through without
    * probing, mirroring the batch report's train-side-only output.
    *
    * Exactly-once through the shared per-batch `graftlog` commit. The
    * state is ONE table with one row per processed document (`doc_id`,
    * `text`, and the probe columns, null where the doc was not probed),
    * so a batch's report rows and admitted docs commit in one version:
    * a replay can never find the one committed without the other.
    * [[decontamReport]] and [[decontamCorpus]] are projections of it.
    */
  def decontamIngestPipeline(spark: SparkSession, inDir: String,
      evalDocs: DataFrame, stateDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.Dedup
    val bloom = Dedup.bloomBitsetFromIndex(
      Dedup.uncappedShingleIndexOf(evalDocs)).localCheckpoint()
    spark.readStream
      .schema(docIngestSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyDecontamBatch(batch, id, bloom, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** One micro-batch through the decontamination gate: dedupe against
    * committed state, probe, append one row per processed doc, commit.
    * The anti-join against already-committed doc_ids is what keeps a
    * doc_id arriving in TWO DIFFERENT input files from being re-probed
    * and re-admitted — without it the accumulated state would carry
    * duplicate rows and diverge from the batch
    * `bloomDecontaminateUncapped` equality the spec pins.
    */
  private[graft] def applyDecontamBatch(batch: DataFrame, batchId: Long,
      bloom: DataFrame, stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "decontam",
      batchId, DecontamStateSchema, replace = false) { seen =>
      import graft.operators.Dedup
      val docs = batch.select(col("doc_id"), col("text"))
        .join(seen.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val isEval = pmod(col("doc_id"), lit(Dedup.EvalMod)) === 0
      val report = Dedup.bloomProbeIndex(
        Dedup.uncappedShingleIndexOf(docs.filter(!isEval)), bloom)
      // eval-slice pass-throughs and shingle-less docs have no probe row
      docs.join(report.withColumnRenamed("train_id", "doc_id"),
        Seq("doc_id"), "left")
    }

  private val DecontamStateSchema = StructType.fromDDL("doc_id BIGINT, " +
    "text STRING, n_sh BIGINT, n_hit BIGINT, hit_frac DOUBLE, " +
    "flagged BOOLEAN")

  /** Committed accumulated decontamination report (one row per probed
    * train doc across all committed batches).
    */
  def decontamReport(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "decontam state")
      .filter(col("n_sh").isNotNull)
      .select(col("doc_id").as("train_id"), col("n_sh"), col("n_hit"),
        col("hit_frac"), col("flagged"))

  /** Committed admitted training corpus: every processed doc but the
    * quarantined (flagged) train docs — clean train docs, shingle-less
    * short docs and eval-slice pass-throughs.
    */
  def decontamCorpus(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "decontam state")
      .filter(!coalesce(col("flagged"), lit(false)))
      .select(col("doc_id"), col("text"))

  // ---------- streaming embedding near-dup admission gate ----------

  /** Input schema of the embedding-ingest stream. */
  val embedIngestSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming embedding near-dup admission gate — the EMBEDDING member
    * of the ingest-gate family (md5/SimHash `dedupIngestPipeline`, Bloom
    * `decontamIngestPipeline`): each landed micro-batch of vectors is
    * probed against the stored corpus by signed-projection band keys
    * (the `Ann.pairBandKeys` geometry `q_embed_lsh_pairs` runs in
    * batch — SAME hyperplanes, so ingest-time and offline near-dup agree
    * on what a candidate is), then only the candidates pay an exact
    * cosine re-rank; batch vectors at ≥ `Ann.NearDupThreshold` to any
    * stored vector (or any LOWER-ID batch vector — the SemDeDup
    * keep-lowest convention, deterministic and order-free) are rejected
    * at admission. Stored state per kept vector is (id, embedding, band
    * codes): the probe is a band equi-join, O(batch × bucket), never
    * O(corpus × batch) — the entire point of gating at ingest.
    *
    * Exactly-once through the shared per-batch `graftlog` commit; each
    * batch's version adds only its survivors.
    * StreamingSpec pins parity with the batch LSH pair report: the kept
    * set equals a greedy id-ordered fold of `q_embed_lsh_pairs`' found
    * pairs, across restart, replay, and torn commits.
    */
  def embedIngestPipeline(spark: SparkSession, inDir: String,
      stateDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(embedIngestSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyEmbedIngestBatch(batch, id, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch through the embedding gate: band-probe, exact
    * re-rank of candidates only, append survivors, commit.
    */
  private[graft] def applyEmbedIngestBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "embed", batchId,
      EmbedStateSchema, replace = false) { existing =>
      import graft.operators.{Ann, BandPairs}
      import graft.functions.VectorFunctions.cosineSim
      // duplicate ARRIVALS (same vec_id in two input files) are not
      // re-probed or re-admitted — the decontam gate's committed-state
      // anti-join discipline
      val signed = batch.select(col("vec_id"), col("embedding"))
        .join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .withColumn("codes", Ann.pairBandKeys(col("embedding")))
        .localCheckpoint()
      val bb = signed.select(col("vec_id"), col("codes"))
      def rerank(cand: DataFrame, left: DataFrame,
          right: DataFrame): DataFrame =
        cand
          .join(left.select(col("vec_id").as("a"), col("embedding").as("ea")),
            Seq("a"))
          .join(right.select(col("vec_id").as("b"), col("embedding").as("eb")),
            Seq("b"))
          .filter(cosineSim(col("ea"), col("eb")) >= Ann.NearDupThreshold)
      // within-batch: candidates meet in (band, key) buckets, lower id wins
      val nearInBatch = rerank(
        BandPairs(bb, bb, "codes", Ann.PairLshBands, "embed_in_batch",
            col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b")),
        signed, signed)
        .select(col("b").as("vec_id"))
      // against the stored corpus: the stored vector arrived first
      val nearVsCorpus = rerank(
        BandPairs(bb, existing.select(col("vec_id"), col("codes")), "codes",
            Ann.PairLshBands, "embed_vs_corpus")
          .select(col("y.vec_id").as("a"), col("x.vec_id").as("b")),
        existing, signed)
        .select(col("b").as("vec_id"))
      val dropped = nearInBatch.unionByName(nearVsCorpus).distinct()
      signed.join(dropped, Seq("vec_id"), "left_anti")
    }

  private val EmbedStateSchema = StructType.fromDDL("vec_id BIGINT, " +
    "embedding ARRAY<FLOAT>, codes ARRAY<BIGINT>")

  /** Public reader for the committed admitted embedding corpus. */
  def embedCorpus(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "embedding corpus")

  // ---------- streaming as-of enrichment ----------

  /** Input schema of the event stream the as-of enrichment consumes. */
  val asofIngestSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("ts_ms", LongType)))

  /** Streaming as-of enrichment — the NATIVE as-of operator
    * ([[graft.plans.AsOfJoinExec]]) applied per micro-batch: each landed
    * batch of events is enriched with the latest order at-or-before its
    * timestamp from the CURRENT dimension snapshot (`dimDir` re-read at
    * every batch — the SCD2-lookup shape: enrichment is decided at
    * INGEST time, so a later dimension update never rewrites an
    * already-committed enrichment, it only affects later batches).
    *
    * This is the streaming twin of `q_asof_native`: one micro-batch is
    * exactly the batch operator's left side, so the merge-pass geometry
    * (hash-cluster both sides, one forward pass, single buffered row)
    * carries over unchanged — at scale the per-batch cost is
    * O(batch + dim) with no timeline union and no window state.
    *
    * Exactly-once through the shared per-batch `graftlog` commit, each
    * batch's version adding only its enriched rows; duplicate ARRIVALS
    * (same event_id landing twice) are dropped by the committed-state
    * anti-join, the decontam gate's discipline.
    * StreamingSpec pins parity with the batch `asofJoin` result across
    * file splits, restart, replayed batch ids, and torn commits.
    */
  def asofEnrichPipeline(spark: SparkSession, inDir: String,
      dimDir: String, stateDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(asofIngestSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyAsofEnrichBatch(batch, id, dimDir, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch through the as-of enrichment: arrival-dedupe,
    * native as-of join against the current dimension snapshot, append,
    * commit.
    */
  private[graft] def applyAsofEnrichBatch(batch: DataFrame, batchId: Long,
      dimDir: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    GraftLogOps.commitBatch(spark, stateDir, "asof", batchId,
      AsofStateSchema, replace = false) { existing =>
      val fresh = batch
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .join(existing.select(col("event_id")), Seq("event_id"), "left_anti")
        .localCheckpoint()
      val dim = spark.read.parquet(dimDir)
        .select(col("user_id").as("r_user_id"), col("o_orderkey"),
          col("order_ms"))
        .filter(col("order_ms").isNotNull) // never matches (join + oracle)
      graft.plans.AsOfJoin(fresh, dim,
          "user_id", "r_user_id", "ts_ms", "order_ms", "o_orderkey")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("o_orderkey"), col("order_ms"))
    }
  }

  private val AsofStateSchema = StructType.fromDDL("event_id BIGINT, " +
    "user_id BIGINT, ts_ms BIGINT, o_orderkey BIGINT, order_ms BIGINT")

  /** Public reader for the committed enriched-event state. */
  def asofEnriched(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "as-of enrichment state")

  // ---------- streaming cumulative-uniques gate ----------

  /** Input schema of the uniques stream: one event arrival per row. */
  val uniquesSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts_ms", LongType)))

  private val UniquesDayMs = 24L * 3600 * 1000

  /** Streaming cumulative-uniques maintenance — the continuous twin of
    * `operators.EventOps.cumulativeUniques`' new/cumulative series. The
    * first-seen table is append-only: a user, once seen, can never
    * become unseen, so each micro-batch's version adds ONLY its newly
    * discovered users through the shared per-batch `graftlog` commit.
    *
    * First-seen semantics are ARRIVAL-ORDER (the ingest gate's natural
    * clock): a user's recorded day is the minimum event day within the
    * batch that introduced them. Late-arriving earlier event times
    * belong to the batch rebuild — the same division the SCD2 pipeline
    * draws.
    */
  def uniquesPipeline(spark: SparkSession, inDir: String, stateDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(uniquesSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyUniquesBatch(batch, id, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  private val UniquesStateSchema = StructType.fromDDL("user_id BIGINT, " +
    "first_day BIGINT, batch_id BIGINT")

  /** One micro-batch through the uniques gate: probe the committed
    * first-seen table, append only the unseen users, commit.
    */
  private[graft] def applyUniquesBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    GraftLogOps.commitBatch(batch.sparkSession, stateDir, "uniques",
      batchId, UniquesStateSchema, replace = false) { existing =>
      batch
        .select(col("user_id"),
          expr(s"ts_ms div $UniquesDayMs").as("first_day"))
        .groupBy(col("user_id")).agg(min(col("first_day")).as("first_day"))
        .join(existing.select(col("user_id")), Seq("user_id"), "left_anti")
        .withColumn("batch_id", lit(batchId))
    }

  /** Committed first-seen table (one row per distinct user ever seen). */
  def uniquesState(spark: SparkSession, stateDir: String): DataFrame =
    committed(spark, stateDir, "uniques state")

  /** The new/cumulative daily series from the committed state — the
    * streaming read of the batch query's last two columns (the prefix
    * sum runs over the calendar-bounded day domain, as there).
    */
  def uniquesSeries(spark: SparkSession, stateDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    uniquesState(spark, stateDir)
      .groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
      .orderBy(col("day"))
  }

  // ---------- event-time timers (transformWithState) ----------

  case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class ClosedSession(user_id: Long, n: Long, total_cents: Long,
      last_ms: Long)

  /** Inactivity-closed sessions via EVENT-TIME TIMERS — the timer surface
    * of `transformWithState` that neither session_window (fixed emission
    * at watermark) nor GroupState timeouts (processing-time coupled)
    * expresses as directly: each key keeps one running aggregate and ONE
    * pending timer at `last_event + gap`; new input slides the timer
    * forward (delete + re-register — timers do not replace implicitly),
    * and when the WATERMARK passes the deadline the expired-timer
    * callback emits the closed session exactly once and clears the
    * state. State per key is a single row + a single timer regardless of
    * session length — bounded, replayable, RocksDB-backed.
    */
  class IdleSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
    @transient private var sess: ValueState[ClosedSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[ClosedSession]("sess",
        Encoders.product[ClosedSession], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      var cur =
        if (sess.exists()) sess.get() else ClosedSession(uid, 0L, 0L, 0L)
      rows.foreach { e =>
        cur = ClosedSession(uid, cur.n + 1,
          cur.total_cents + math.floor(e.value * 100 + 0.5).toLong,
          math.max(cur.last_ms, e.ts.getTime))
      }
      sess.update(cur)
      // slide the single inactivity deadline: one live timer per key
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(cur.last_ms + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val out =
        if (sess.exists()) Iterator.single(sess.get()) else Iterator.empty
      sess.clear()
      out
    }
  }

  /** Thirty-minute inactivity gap, the sessionize default. Requires the
    * RocksDB state store (as [[runningTotalsTws]]).
    */
  def idleSessions(spark: SparkSession, events: Dataset[TimedEvent],
      gapMs: Long = 30L * 60 * 1000): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new IdleSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

}
