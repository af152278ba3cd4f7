package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.SetupOnce

/** Lakehouse table-maintenance operators: the jobs that keep a 100 TB
  * warehouse queryable BETWEEN queries. The reference pipeline re-processes
  * each landed file from scratch and appends forever
  * (lambda_function.py:96-151 re-runs the whole chain per S3 event, with no
  * compaction or summary state anywhere); these operators are the
  * scale-path replacements for that posture:
  *
  *   - [[mvIncremental]] — maintain an aggregate as mergeable partial
  *     state + a delta merge, instead of re-scanning history per refresh;
  *   - [[compactPlan]] — bin-pack a small-files manifest into target-size
  *     compaction groups (the `OPTIMIZE` planning step);
  *   - [[zorderLayout]] — multi-dimensional Z-order clustering so scans
  *     constrained on EITHER (or both) of two keys skip row groups via
  *     footer zone maps, where 1-D range clustering serves only one key.
  *
  * Everything is exact integer arithmetic (cents / micro-units, `div`),
  * so every result is bit-identical in DuckDB and fully hash-gated.
  */
object Maintenance {

  /** Exact money cents — the repo-wide FP-determinism convention. */
  private def cents(c: Column): Column = RefTransforms.cents(c)

  // ---------------------------------------------------------------------
  // q_mv_incremental — incremental materialized-view maintenance
  // ---------------------------------------------------------------------

  /** Orders strictly before this date form the "historical" slice whose
    * partial aggregates are materialized once; the rest is the live delta.
    */
  val MvCutoff = "2000-01-01"

  /** Mergeable partial-aggregate state for the order-stats view: one row
    * per (priority, year) group carrying count/sum/min/max — every one of
    * which merges by a further count-sum/sum-sum/min-min/max-max, so any
    * number of delta batches folds in without touching history. (avg is
    * NOT stored: it is derived after the merge — the classic
    * self-maintainable-view decomposition.)
    */
  private def mvPartials(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        cents(col("o_totalprice")).as("price_cents"))
      .groupBy(col("o_orderpriority"), col("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(col("price_cents")).as("sum_cents"),
        min(col("price_cents")).as("min_cents"),
        max(col("price_cents")).as("max_cents"))

  /** Incremental MV refresh: read the STORED base partials (written once,
    * like a warehouse summary table), aggregate only the delta slice, and
    * merge. At 100 TB the refresh cost is O(delta + |groups|) — the
    * historical 99% of the fact table is never re-scanned. The merged
    * result is provably equal to a full recompute (the oracle IS the full
    * recompute over the union, and MaintenanceSpec pins Spark-side parity
    * too), because every stored statistic is an associative-commutative
    * monoid fold.
    */
  def mvIncremental(s: SparkSession, d: String): DataFrame = {
    val dir = SetupOnce.runtimeDir(d, "mv_orders_base")
    SetupOnce(dir) {
      mvPartials(Tables.orders(s, d)
        .filter(col("o_orderdate") < lit(MvCutoff).cast("date")))
        .write.mode("overwrite").parquet(dir)
    }
    val base  = s.read.parquet(dir)
    val delta = mvPartials(Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(MvCutoff).cast("date")))
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"), col("o_year"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .withColumn("avg_cents", expr("sum_cents div n"))
      .select(col("o_orderpriority"), col("o_year"), col("n"),
        col("sum_cents"), col("min_cents"), col("max_cents"),
        col("avg_cents"))
      .orderBy(col("o_year"), col("o_orderpriority"))
  }

  /** Relative-error gate (percent) for the sketch-state view — HLL at the
    * default lgConfigK=12 carries ~1% relative standard error, so 5% is a
    * hard-failure alarm, not a tuning target.
    */
  val MvSketchGatePct = 5

  private def sketchPartials(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_agg(col("o_custkey")).as("cust_sketch"))

  /** Incrementally-maintained DISTINCT-count view — the aggregate class
    * [[mvIncremental]]'s monoid state cannot cover: exact distinct
    * partials are not mergeable (two slices' distinct counts don't add),
    * which is exactly why warehouse MV systems keep a SKETCH as the
    * stored state. The historical slice's per-group HLL sketches are
    * materialized once; each refresh sketches only the delta and merges
    * with `hll_union_agg` (register-wise max — associative, commutative,
    * idempotent, so replays and re-orderings are harmless). The driver
    * row is the checked projection (same contract as
    * `q_approx_distinct`): the exact distinct twin plus an in-row
    * ±[[MvSketchGatePct]]% gate on the merged estimate — the oracle
    * recomputes the twin and pins the gate TRUE, so a sketch drifting
    * out of its guarantee fails the hash compare. MaintenanceSpec
    * additionally pins merge-parity: the union of slice sketches
    * estimates identically to one single-pass sketch of all rows.
    */
  def mvSketchDistinct(s: SparkSession, d: String): DataFrame = {
    val dir = SetupOnce.runtimeDir(d, "mv_orders_sketch")
    SetupOnce(dir) {
      sketchPartials(Tables.orders(s, d)
        .filter(col("o_orderdate") < lit(MvCutoff).cast("date")))
        .write.mode("overwrite").parquet(dir)
    }
    val base  = s.read.parquet(dir)
    val delta = sketchPartials(Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(MvCutoff).cast("date")))
    val merged = base.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(hll_union_agg(col("cust_sketch")).as("sk"))
      .withColumn("est", hll_sketch_estimate(col("sk")))
    val exact = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    merged.join(exact, Seq("o_orderpriority"))
      .withColumn("within_gate",
        abs(col("est") - col("exact_customers")) * lit(100L) <=
          col("exact_customers") * lit(MvSketchGatePct.toLong))
      .select(col("o_orderpriority"), col("exact_customers"),
        col("within_gate"))
      .orderBy(col("o_orderpriority"))
  }

  val mvSketchDistinctSql: String =
    """SELECT o_orderpriority,
      |       COUNT(DISTINCT o_custkey) AS exact_customers,
      |       TRUE AS within_gate
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Full recompute — what the merged partials must equal. */
  val mvIncrementalSql: String =
    """SELECT o_orderpriority,
      |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
      |       CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |         // COUNT(*) AS avg_cents
      |FROM orders
      |GROUP BY o_orderpriority, o_year
      |ORDER BY o_year, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q_compact_plan — small-files compaction planner
  // ---------------------------------------------------------------------

  /** The plan targets ~[[CompactBins]] output groups regardless of scale
    * factor (target group size = ceil(total/CompactBins)).
    */
  val CompactBins = 8L

  /** Bin-packs a file manifest into contiguous compaction groups by
    * start-offset binning: a file whose cumulative start offset falls in
    * [g·target, (g+1)·target) joins group g, so groups are contiguous in
    * manifest order and each is bounded by target + max_file_size − 1
    * rows (pinned in MaintenanceSpec). The "files" here are the
    * (year, month) ingest partitions of orders — the reference's daily
    * S3 drops (` s3_uploader.py`:113-118) produce exactly this
    * small-files shape, one object per day.
    *
    * Scale shape: the planner runs over the MANIFEST (one row per file),
    * not the data — a million files is still a tiny table, so the global
    * ordering window is driver-cheap metadata work; the rewrite jobs it
    * emits are each an independent group read. The per-group summary
    * rides the same sorted exchange as the running sum (one window
    * partition chain, no second shuffle of note).
    */
  def compactPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("f_year"),
        month(col("o_orderdate")).cast("long").as("f_month"))
      .agg(count(lit(1)).as("size_rows"))
    val total = files.agg(sum(col("size_rows")).as("total_rows"))
    val wCum = Window.orderBy(col("f_year"), col("f_month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val planned = files.crossJoin(broadcast(total))
      .withColumn("target", expr(s"(total_rows + $CompactBins - 1) div $CompactBins"))
      .withColumn("cum", sum(col("size_rows")).over(wCum))
      .withColumn("grp", expr("(cum - size_rows) div target"))
    planned
      .withColumn("grp_rows",
        sum(col("size_rows")).over(Window.partitionBy(col("grp"))))
      .select(col("grp"), col("f_year"), col("f_month"), col("size_rows"),
        col("grp_rows"))
      .orderBy(col("f_year"), col("f_month"))
  }

  val compactPlanSql: String =
    s"""WITH files AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS f_year,
       |         CAST(month(o_orderdate) AS BIGINT) AS f_month,
       |         COUNT(*) AS size_rows
       |  FROM orders GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(size_rows) AS BIGINT) AS total_rows FROM files),
       |planned AS (
       |  SELECT f_year, f_month, size_rows,
       |         (tot.total_rows + $CompactBins - 1) // $CompactBins AS target,
       |         SUM(size_rows) OVER (ORDER BY f_year, f_month
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM files CROSS JOIN tot)
       |SELECT CAST((cum - size_rows) // target AS BIGINT) AS grp,
       |       f_year, f_month, size_rows,
       |       CAST(SUM(size_rows) OVER
       |         (PARTITION BY (cum - size_rows) // target) AS BIGINT) AS grp_rows
       |FROM planned
       |ORDER BY f_year, f_month""".stripMargin

  /** Executes a compaction plan: rewrites the source so each planned
    * group lands as ONE file (repartition by the group id — every group
    * is an independent rewrite task, which is how OPTIMIZE parallelizes
    * across a cluster), Hive-partitioned by `grp` so readers and the
    * spec can address each compacted unit. The data rows are joined to
    * their group via the (year, month) file key — broadcastable: the
    * plan is manifest-sized. Returns the output directory.
    */
  def compactExecute(s: SparkSession, d: String): String = {
    val dir = SetupOnce.runtimeDir(d, "orders_compacted")
    SetupOnce(dir) {
      val plan = compactPlan(s, d).select(col("grp"), col("f_year"),
        col("f_month"))
      Tables.orders(s, d)
        .withColumn("f_year", year(col("o_orderdate")).cast("long"))
        .withColumn("f_month", month(col("o_orderdate")).cast("long"))
        .join(broadcast(plan), Seq("f_year", "f_month"))
        .drop("f_year", "f_month")
        .repartition(col("grp"))
        .write.mode("overwrite").partitionBy("grp").parquet(dir)
    }
    dir
  }

  // ---------------------------------------------------------------------
  // q_bloom_skip — file-level Bloom index for point-lookup file skipping
  // ---------------------------------------------------------------------

  /** Geometry of the secondary Bloom index: orders land in
    * [[BloomIdxFiles]] date-range files (the natural ingest order — which
    * leaves a high-cardinality key like o_custkey SCATTERED, so per-file
    * min/max zone maps on it are useless: every file's custkey range is
    * ~the whole domain). A per-file [[BloomIdxBits]]-bit Bloom bitset
    * over the custkeys present is the index that still skips: a point
    * lookup probes [[BloomIdxHashes]] positions per file and reads only
    * files where all probes hit — no false negatives, so candidates are
    * a superset of the true files and the row filter stays exact.
    *
    * This is the table-format bloom-index pattern (what a lakehouse
    * stores per data file for non-clustered keys). Index size is
    * files × [[BloomIdxBits]]/32 words — catalog-sized, independent of
    * row count. A production build sizes bits ≈ 10 × keys-per-file to
    * keep the false-positive rate ~1%; the fixed demo geometry gives
    * ~4% at sf0.1 (9.4k keys/file).
    *
    * Hashing is the dedup family's portable affine scheme over a prime —
    * NOT xxhash64 — so the DuckDB oracle rebuilds the identical bitset
    * and the whole lookup (candidate set, audit counts, rows) is
    * hash-checked.
    */
  val BloomIdxFiles  = 16L
  val BloomIdxBits   = 65536L
  val BloomIdxHashes = 4
  val BloomIdxP      = 1000000007L

  private def bloomIdxH0(key: Column): Column =
    pmod(pmod(key, lit(BloomIdxP)) * 131L + 17L, lit(BloomIdxP))

  /** Probe position i — the same affine family as the decontamination
    * bloom, modulo the index geometry. */
  private def bloomIdxPos(h0: Column, i: Int): Column =
    pmod(pmod(h0 * (2 * i + 3) + (7919 * i + 1), lit(BloomIdxP)),
      lit(BloomIdxBits))

  // 32-bit words (shift ≤ 31): DuckDB's checked left shift refuses
  // 1 << 63, so 64-bit words cannot be mirrored — same choice as the
  // decontamination bloom
  private def bloomIdxMask(pos: Column): Column =
    call_function("shiftleft", lit(1L), pmod(pos, lit(32L)).cast("int"))

  /** Orders projected to integer columns + their date-range file id. */
  private def bloomOrdersWithFile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"),
      cents(col("o_totalprice")).as("price_cents"))
      .withColumn("days", expr("order_ms div 86400000"))
    val rng = o.agg(min(col("days")).as("dmin"), max(col("days")).as("dmax"))
    o.crossJoin(broadcast(rng))
      .withColumn("file_id",
        expr(s"(days - dmin) * $BloomIdxFiles div (dmax - dmin + 1)"))
      .drop("days", "dmin", "dmax")
  }

  /** The date-clustered layout (once per JVM): one dir partition per
    * file id — the physical files the lookup will or will not open.
    */
  private[graft] def bloomLayoutDir(s: SparkSession, d: String): String = {
    val dir = SetupOnce.runtimeDir(d, "orders_bloom_layout")
    SetupOnce(dir) {
      bloomOrdersWithFile(s, d)
        .repartition(col("file_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(dir)
    }
    dir
  }

  /** The per-file Bloom bitset table (once per JVM): ≤ files ×
    * bits/64 rows of (file_id, word, bits) — built with one explode +
    * bit_or aggregation over the DISTINCT (file, custkey) pairs, the
    * index-build job a table format runs at write time.
    */
  private[graft] def bloomIndexDir(s: SparkSession, d: String): String = {
    val dir = SetupOnce.runtimeDir(d, "orders_bloom_index")
    SetupOnce(dir) {
      bloomOrdersWithFile(s, d)
        .select(col("file_id"), col("o_custkey")).distinct()
        .withColumn("h0", bloomIdxH0(col("o_custkey")))
        .select(col("file_id"), explode(array(
          (0 until BloomIdxHashes).map(i => bloomIdxPos(col("h0"), i)): _*))
          .as("pos"))
        .select(col("file_id"), expr("pos div 32").as("word"),
          bloomIdxMask(col("pos")).as("m"))
        .groupBy(col("file_id"), col("word"))
        .agg(bit_or(col("m")).as("bits"))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Point lookup through the Bloom index: all orders of the customer
    * holding the max order key (a deterministic, oracle-mirrorable
    * "query parameter"), with the skip audit riding in-row —
    * `files_total`, `files_scanned` (bloom candidates, exact incl. any
    * false positives since the hash is portable), `files_hit` (files
    * that truly contain the key). The layout scan carries the candidate
    * file ids as LITERAL partition predicates — `.explain` shows them
    * under PartitionFilters, i.e. non-candidate files are never opened —
    * which requires reading the ≤ files-row index on the driver first:
    * the same catalog-read pattern as [[keyMaxes]], and exactly how an
    * engine consults a secondary index at plan time. MaintenanceSpec
    * pins the pruning (scanned partitions < total) and the exact-result
    * property (rows equal the full-scan filter).
    */
  def bloomSkipLookup(s: SparkSession, d: String): DataFrame = {
    val layout = bloomLayoutDir(s, d)
    val idx = s.read.parquet(bloomIndexDir(s, d))
    // the query parameter: custkey of the max-orderkey order (1-row head,
    // the documented catalog-read exception)
    val key = Tables.orders(s, d)
      .orderBy(col("o_orderkey").desc).limit(1)
      .select(col("o_custkey")).head().getLong(0)
    val filesTotal = idx.select(col("file_id")).distinct().count()
    // the key's probe (word, mask) pairs are pure integer math on a
    // driver-side Long — deduped, because two probes landing in one
    // (word, bit) must count once, not twice
    val h0 = ((key % BloomIdxP) * 131L + 17L) % BloomIdxP
    val pairs = (0 until BloomIdxHashes).map { i =>
      val pos = (h0 * (2 * i + 3) + (7919 * i + 1)) % BloomIdxP % BloomIdxBits
      (pos / 32L, 1L << (pos % 32L).toInt)
    }.distinct
    // driver-side index probe (≤ files × bits/64 rows — the catalog-read
    // pattern of [[keyMaxes]]): a file is a candidate iff EVERY probe
    // pair's bit is set in its bitset
    val hitAggs = pairs.zipWithIndex.map { case ((w, m), j) =>
      max(when(col("word") === w &&
        col("bits").bitwiseAND(lit(m)) =!= 0L, 1L).otherwise(0L)).as(s"h$j")
    }
    val cand = idx.groupBy(col("file_id"))
      .agg(hitAggs.head, hitAggs.tail: _*)
      .filter(pairs.indices.map(j => col(s"h$j") === 1L).reduce(_ && _))
      .select(col("file_id")).collect().map(_.getLong(0)).sorted
    val rows = s.read.parquet(layout)
      .filter(col("file_id").isin(cand: _*) && col("o_custkey") === key)
    rows
      .select(col("o_orderkey"), col("o_custkey"), col("order_ms"),
        col("price_cents"), col("file_id").cast("long").as("file_id"),
        lit(filesTotal).as("files_total"),
        lit(cand.length.toLong).as("files_scanned"))
      .withColumn("files_hit",
        size(collect_set(col("file_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
          .cast("long"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------------
  // q_forget_audit — delete propagation (right-to-be-forgotten) over a
  // bucketed layout, touched buckets only
  // ---------------------------------------------------------------------

  /** Range buckets of the forgettable layout. Range (not hash) bucketing
    * by user id is what makes deletion SURGICAL here: a contiguous
    * forget cohort touches few buckets, so the rewrite reads and
    * replaces only those — the same touched-buckets I/O contract as the
    * streaming upsert sink. A hash layout spreads any cohort over every
    * bucket and forces a full-table rewrite; real deployments bucket by
    * the deletion key for exactly this reason.
    */
  val ForgetBuckets = 16L

  /** Forget cohort: the lowest tenth of the user-id domain — a
    * deterministic, oracle-mirrorable stand-in for the erasure-request
    * list a privacy pipeline receives.
    */
  private def forgetParts(s: SparkSession, d: String)
      : (DataFrame, Column, Column) = {
    val e = EventOps.withTsMs(Tables.events(s, d))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("event_type"), RefTransforms.cents(col("value")).as("value_cents"))
    val um = e.agg(max(col("user_id")).as("umax"))
    val withB = e.crossJoin(broadcast(um))
      .withColumn("bucket",
        expr(s"user_id * $ForgetBuckets div (umax + 1)"))
      .withColumn("forget", expr("user_id < (umax + 1) div 10"))
    (withB, col("bucket"), col("forget"))
  }

  /** The bucketed events layout with the forget cohort ALREADY erased —
    * built once per JVM: write the full layout, then re-write ONLY the
    * buckets containing forgotten rows (untouched bucket files are never
    * opened or replaced). The touched-bucket list is a
    * ≤ [[ForgetBuckets]]-row collect — the catalog-read pattern.
    */
  private[graft] def forgetLayoutDir(s: SparkSession, d: String): String = {
    val dir = SetupOnce.runtimeDir(d, "events_forget_layout")
    SetupOnce(dir) {
      val (withB, bucket, forget) = forgetParts(s, d)
      withB.drop("umax", "forget")
        .repartition(bucket)
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      val touched = withB.filter(forget).select(bucket).distinct()
        .collect().map(_.getLong(0)).sorted
      val (withB2, _, forget2) = forgetParts(s, d)
      val staging = s"$dir/_erase"
      withB2.filter(!forget2 && col("bucket").isin(touched: _*))
        .drop("umax", "forget")
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(staging)
      // each touched bucket's directory is replaced by its survivors' —
      // or just removed when every row was forgotten: a fully-erased
      // bucket writes no survivor directory, and leaving its old files
      // would be exactly the leak a privacy delete cannot have
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sessionState.newHadoopConf())
      touched.foreach { b =>
        val live = new org.apache.hadoop.fs.Path(dir, s"bucket=$b")
        val kept = new org.apache.hadoop.fs.Path(staging, s"bucket=$b")
        fs.delete(live, true)
        if (fs.exists(kept))
          require(fs.rename(kept, live), s"rename $kept -> $live failed")
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    dir
  }

  /** Post-deletion audit, fully hash-checked: per bucket, the row count
    * before, the erasure count, the row count AFTER read back from the
    * physical layout, and a leak counter (forgotten rows still present —
    * must be 0). The oracle computes before/deleted from the source
    * table and asserts after = before − deleted with zero leaks, so the
    * hash gate proves the rewrite actually erased exactly the cohort:
    * an under-delete surfaces as leaked > 0, an over-delete as a
    * rows_after mismatch.
    */
  def forgetAudit(s: SparkSession, d: String): DataFrame = {
    val dir = forgetLayoutDir(s, d)
    val (withB, bucket, forget) = forgetParts(s, d)
    val before = withB.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("rows_before"),
        sum(forget.cast("long")).as("rows_deleted"))
    val e = EventOps.withTsMs(Tables.events(s, d))
      .agg(max(col("user_id")).as("umax"))
    val after = s.read.parquet(dir)
      .crossJoin(broadcast(e))
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("rows_after"),
        sum((col("user_id") < expr("(umax + 1) div 10")).cast("long"))
          .as("leaked"))
    before.join(after, Seq("bucket"), "left")
      .select(col("bucket"), col("rows_before"), col("rows_deleted"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        coalesce(col("leaked"), lit(0L)).as("leaked"))
      .orderBy(col("bucket"))
  }

  val forgetAuditSql: String =
    s"""WITH e AS (
       |  SELECT user_id FROM events),
       |um AS (SELECT MAX(user_id) AS umax FROM e),
       |b AS (SELECT user_id * $ForgetBuckets // (umax + 1) AS bucket,
       |             user_id < (umax + 1) // 10 AS forget
       |      FROM e CROSS JOIN um)
       |SELECT bucket, COUNT(*) AS rows_before,
       |       CAST(SUM(CAST(forget AS BIGINT)) AS BIGINT) AS rows_deleted,
       |       COUNT(*) - CAST(SUM(CAST(forget AS BIGINT)) AS BIGINT)
       |         AS rows_after,
       |       CAST(0 AS BIGINT) AS leaked
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Oracle: the identical index rebuilt and probed in DuckDB — date
    * file assignment, affine probe positions, bit_or word construction,
    * all-probes candidate test, and the three audit counts.
    */
  val bloomSkipLookupSql: String = {
    val P = BloomIdxP
    val posList = (0 until BloomIdxHashes).map(i =>
      s"((h0 * ${2 * i + 3} + ${7919 * i + 1}) % $P) % $BloomIdxBits")
      .mkString("[", ", ", "]")
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) AS order_ms,
       |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
       |           AS price_cents,
       |         epoch_ms(o_orderdate) // 86400000 AS days
       |  FROM orders),
       |rng AS (SELECT MIN(days) AS dmin, MAX(days) AS dmax FROM o),
       |f AS (SELECT o.*, (days - dmin) * $BloomIdxFiles // (dmax - dmin + 1)
       |        AS file_id
       |      FROM o CROSS JOIN rng),
       |key AS (SELECT o_custkey AS k FROM orders
       |        ORDER BY o_orderkey DESC LIMIT 1),
       |fk AS (SELECT DISTINCT file_id,
       |              ((o_custkey % $P) * 131 + 17) % $P AS h0 FROM f),
       |pos AS (SELECT file_id, unnest($posList) AS pos FROM fk),
       |bloom AS (SELECT file_id, pos // 32 AS word,
       |            bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))
       |              AS bits
       |          FROM pos GROUP BY 1, 2),
       |kpos AS (SELECT DISTINCT pos // 32 AS word,
       |            CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER) AS m
       |         FROM (SELECT unnest($posList) AS pos
       |               FROM (SELECT ((k % $P) * 131 + 17) % $P AS h0
       |                     FROM key))),
       |cand AS (
       |  SELECT b.file_id FROM bloom b
       |  JOIN kpos p ON b.word = p.word AND (b.bits & p.m) <> 0
       |  GROUP BY b.file_id
       |  HAVING COUNT(*) = (SELECT COUNT(*) FROM kpos))
       |SELECT f.o_orderkey, f.o_custkey, f.order_ms, f.price_cents,
       |       f.file_id,
       |       (SELECT COUNT(DISTINCT file_id) FROM bloom) AS files_total,
       |       (SELECT COUNT(*) FROM cand) AS files_scanned,
       |       (SELECT COUNT(DISTINCT f2.file_id) FROM f f2, key
       |        WHERE f2.o_custkey = k) AS files_hit
       |FROM f, key WHERE f.o_custkey = k
       |ORDER BY f.o_orderkey""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_zorder_layout — multi-dimensional Z-order clustering
  // ---------------------------------------------------------------------

  /** Bits per dimension of the Z-curve (8 → a 256×256 grid). */
  val ZBits = 8

  /** Output files of the clustered layout. */
  val ZFiles = 16

  /** Interleaves the low [[ZBits]] bits of two bucket ids into a Morton
    * code — pure shift/mask integer arithmetic, reproduced verbatim in the
    * oracle SQL so the curve itself is hash-checked.
    */
  def morton(bx: Column, by: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(bx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(by, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def mortonSql(bx: String, by: String): String =
    (0 until ZBits).map { i =>
      s"(($bx >> $i) & 1) * ${1L << (2 * i)} + (($by >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Lays down (once per JVM) a copy of lineitem range-partitioned and
    * sorted by the Morton code of (l_partkey, l_suppkey). Each of the
    * [[ZFiles]] files then covers one contiguous Z-range ≈ a spatial
    * BLOCK of the 2-D key grid, so its parquet footer min/max is narrow
    * in BOTH dimensions — a predicate on either key (or a box on both)
    * skips most files/row groups at plan time via the pushed filters.
    * 1-D clustering ([[PipelineQueries.clusterLayout]]) gives this for
    * one key only; at 100 TB, Z-order is how a second (and third) common
    * scan key gets data-skipping without a second copy of the table.
    */
  private[graft] def zorderLayoutDir(s: SparkSession, d: String): String = {
    val dir = SetupOnce.runtimeDir(d, "lineitem_zorder")
    SetupOnce(dir) {
      // the same once-per-JVM stats the box predicate uses: literals in
      // the bucket exprs, so the build is one narrow pass — no second
      // max-aggregate, no crossJoin, no helper columns in the files
      val (pMax, sMax) = keyMaxes(s, d)
      val b = 1L << ZBits
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_extendedprice"))
        .withColumn("zcode", morton(
          expr(s"(l_partkey * $b) div ${pMax + 1}"),
          expr(s"(l_suppkey * $b) div ${sMax + 1}")))
        .repartitionByRange(ZFiles, col("zcode"))
        .sortWithinPartitions(col("zcode"))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Table-statistics cache: (max l_partkey, max l_suppkey), read ONCE
    * per JVM per dataset by a 1-row aggregate — the information a catalog
    * serves for free at warehouse scale. The query below needs the maxes
    * only to phrase a scale-proportional predicate box as LITERALS, so
    * the parquet reader sees pushable filters (a runtime comparison
    * against a joined stats row would defeat the zone-map skip this
    * operator exists to demonstrate).
    */
  private val statsCache =
    scala.collection.mutable.HashMap[String, (Long, Long)]()

  private[graft] def keyMaxes(s: SparkSession, d: String): (Long, Long) =
    synchronized {
      statsCache.getOrElseUpdate(d, {
        val r = Tables.lineitem(s, d)
          .agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
        (r.getLong(0), r.getLong(1))
      })
    }

  /** The scale-proportional 2-D predicate box: partkey ∈ [30%, 40%] and
    * suppkey ∈ [20%, 40%] of their respective domains (exact integer
    * tenths of the max, mirrored by the oracle via the same arithmetic).
    */
  private[graft] def zBox(s: SparkSession, d: String): (Long, Long, Long, Long) = {
    val (pMax, sMax) = keyMaxes(s, d)
    (pMax * 3 / 10, pMax * 4 / 10, sMax * 2 / 10, sMax * 4 / 10)
  }

  /** Box scan over the Z-clustered copy: a predicate on BOTH clustered
    * keys. `.explain` shows both predicates in PushedFilters against the
    * layout's narrow per-file ranges; MaintenanceSpec pins the skipping
    * property (few files' min/max boxes intersect the predicate box).
    * The returned aggregate — including the Morton-code min/max, which
    * forces the oracle to reproduce the bit-interleave exactly — matches
    * the straight scan of the source table.
    */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val dir = zorderLayoutDir(s, d)
    val (pLo, pHi, sLo, sHi) = zBox(s, d)
    s.read.parquet(dir)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        min(col("zcode")).as("z_min"),
        max(col("zcode")).as("z_max"))
      .select(col("l_suppkey").cast("long").as("l_suppkey"), col("n"),
        col("price_cents"), col("z_min"), col("z_max"))
      .orderBy(col("l_suppkey"))
  }

  val zorderLayoutSql: String = {
    val b = 1L << ZBits
    s"""WITH maxes AS (
       |  SELECT MAX(l_partkey) AS p_max, MAX(l_suppkey) AS s_max FROM lineitem),
       |coded AS (
       |  SELECT l_suppkey, l_extendedprice,
       |         ${mortonSql(s"((l_partkey * $b) // (p_max + 1))",
                             s"((l_suppkey * $b) // (s_max + 1))")} AS zcode
       |  FROM lineitem CROSS JOIN maxes
       |  WHERE l_partkey BETWEEN (p_max * 3) // 10 AND (p_max * 4) // 10
       |    AND l_suppkey BETWEEN (s_max * 2) // 10 AND (s_max * 4) // 10)
       |SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey, COUNT(*) AS n,
       |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
       |       CAST(MIN(zcode) AS BIGINT) AS z_min,
       |       CAST(MAX(zcode) AS BIGINT) AS z_max
       |FROM coded
       |GROUP BY l_suppkey
       |ORDER BY l_suppkey""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_time_travel — versioned transaction log with snapshot-AS-OF reads
  // ---------------------------------------------------------------------

  /** Data files per logged snapshot write (hash buckets of the key). */
  val TxnBuckets = 4

  /** Stage `parts`, one part-file each, with Spark's own parquet writer
    * under a fresh write-scoped `data/w_<tag>_<uuid>/` directory of
    * `root`, described the way every connector rewrite describes its
    * files.
    */
  private def stageParts(s: SparkSession, root: String, tag: String,
      parts: Seq[DataFrame])
      : (String, Seq[graft.sources.GraftLogFileCommit]) =
    graft.sources.GraftLogOps.stageParquet(s.sessionState.newHadoopConf(),
      root, tag, parts.head.schema)(parts.map(p =>
        (dir: String) => p.coalesce(1).write.parquet(dir)): _*)

  /** Commit staged parts through the connector's one commit path
    * ([[graft.sources.GraftLogWrite.commitStaged]]) as a version that
    * also removes `removes`, prepared against version `base`. Returns
    * the committed version and its added files, root-relative.
    */
  private def commitParts(s: SparkSession, root: String,
      staged: (String, Seq[graft.sources.GraftLogFileCommit]),
      schema: org.apache.spark.sql.types.StructType, op: String,
      removes: Seq[String] = Nil, base: Option[Int] = None)
      : (Int, Seq[String]) = {
    val (staging, files) = staged
    val v = graft.sources.GraftLogWrite.commitStaged(
      s.sessionState.newHadoopConf(), root, staging, files, Some(schema),
      removes = removes, readVersion = base, op = Some(op))
    (v, files.map(_.file.stripPrefix(s"$root/")))
  }

  /** The orders split into its [[TxnBuckets]] hash buckets of the key —
    * one part-file each once staged.
    */
  private def buckets(df: DataFrame): Seq[DataFrame] =
    (0 until TxnBuckets).map(i =>
      df.filter(pmod(col("o_orderkey"), lit(TxnBuckets)) === i))

  /** Latest COMMITTED version: max N whose marker exists. A manifest
    * directory without its marker (a torn commit) is invisible.
    * Delegates to the connector's protocol reader
    * ([[graft.sources.GraftLog.latestVersion]]) — one source of truth
    * for log-visibility semantics.
    */
  private[graft] def latestVersion(s: SparkSession, root: String): Int =
    graft.sources.GraftLog.latestVersion(
      s.sessionState.newHadoopConf(), root)

  /** Live file set AS OF version `asOf`: fold the committed action lists
    * v1..asOf (adds minus removes). Catalog-sized manifest fold through
    * the connector's footer-level parquet reader — versions × files
    * rows of metadata, never row data, and (unlike the r10 utility)
    * ZERO Spark jobs.
    */
  private[graft] def liveFiles(s: SparkSession, root: String,
      asOf: Int): Seq[String] =
    graft.sources.GraftLog.liveEntries(
      s.sessionState.newHadoopConf(), root, asOf)

  /** Snapshot read `AS OF` version v — through the `graftlog`
    * DataSourceV2 connector ([[graft.sources.GraftLogSource]]), so the
    * version is a TABLE the planner sees: column pruning reaches the
    * parquet projection, supported predicates push to row-group
    * statistics, and a version below the committed [[vacuumWatermark]]
    * refuses CLEANLY at load() instead of failing mid-scan on deleted
    * files. This is the table-format time-travel contract: the LOG is
    * the table; directories are just storage.
    */
  def readVersion(s: SparkSession, root: String, v: Int): DataFrame =
    s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("version", v).load()

  /** Lays down (once per JVM) the logged orders table — three committed
    * versions over the SAME log, all through the connector's commit
    * path ([[buildTxnLog]]). MaintenanceSpec pins read(v3) ≡ read(v2)
    * and that a marker-less manifest is invisible.
    */
  private[graft] def txnTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_txnlog")
    SetupOnce(root)(buildTxnLog(s, d, root))
    root
  }

  /** The three commits both time-travel fixtures share:
    *   v1: snapshot A (keys ≢0 mod 10 — [[Relational.snapshotDiff]]'s
    *       derivation, so the oracle replays it), one part-file per
    *       [[TxnBuckets]] bucket;
    *   v2: the A→B transition (deletes ≡0 mod 13, priority reclass
    *       ≡0 mod 7) as a remove-all/add-all commit, again one file per
    *       bucket;
    *   v3: a content-preserving rewrite of v2's live set into one
    *       file, committed as a plain remove+add `overwrite` — NOT a
    *       `compact`, so the change feed still shows its delete and
    *       insert rows.
    */
  private def buildTxnLog(s: SparkSession, d: String, root: String): Unit = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderkey") % 10 =!= 0)
    val b = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit("9-RECLASS"))
          .otherwise(col("o_orderpriority")))
    val (_, v1Files) = commitParts(s, root,
      stageParts(s, root, "a", buckets(a)), o.schema, "append")
    val (_, v2Files) = commitParts(s, root,
      stageParts(s, root, "b", buckets(b)), o.schema, "overwrite",
      removes = v1Files)
    commitParts(s, root, stageParts(s, root, "c",
      Seq(readVersion(s, root, 2))), o.schema, "overwrite",
      removes = v2Files)
  }

  /** Time travel: the CDC diff between versions 1 and 2 of the SAME
    * transaction log — [[Relational.snapshotDiff]]'s classification, but
    * both inputs are `AS OF` reads through the manifest instead of
    * derived frames, which is what proves the log reproduces history
    * (the oracle recomputes the snapshots from their derivations, so a
    * log that drops or duplicates one file hash-fails). Same scale
    * shape: one full-outer key join, each side shuffled once.
    */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val root = txnTableDir(s, d)
    val a = readVersion(s, root, 1)
    val b = readVersion(s, root, 2)
    val changed = a.columns.filterNot(_ == "o_orderkey")
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduce(_ || _)
    a.as("a")
      .join(b.as("b"), col("a.o_orderkey") === col("b.o_orderkey"),
        "full_outer")
      .select(
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, lit("insert"))
          .when(col("b.o_orderkey").isNull, lit("delete"))
          .when(changed, lit("update"))
          .otherwise(lit("unchanged")).as("change_type"),
        col("a.o_orderpriority").as("old_priority"),
        col("b.o_orderpriority").as("new_priority"),
        lit(1L).as("v_from"), lit(2L).as("v_to"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy(col("o_orderkey"))
  }

  val timeTravelSql: String =
    """WITH a AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
      |     b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |                  o_orderdate,
      |                  CASE WHEN o_orderkey % 7 = 0 THEN '9-RECLASS'
      |                       ELSE o_orderpriority END AS o_orderpriority
      |           FROM orders WHERE o_orderkey % 13 <> 0),
      |     d AS (
      |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |         CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |              WHEN b.o_orderkey IS NULL THEN 'delete'
      |              WHEN (a.o_custkey       IS DISTINCT FROM b.o_custkey)
      |                OR (a.o_orderstatus   IS DISTINCT FROM b.o_orderstatus)
      |                OR (a.o_totalprice    IS DISTINCT FROM b.o_totalprice)
      |                OR (a.o_orderdate     IS DISTINCT FROM b.o_orderdate)
      |                OR (a.o_orderpriority IS DISTINCT FROM b.o_orderpriority)
      |              THEN 'update' ELSE 'unchanged' END AS change_type,
      |         a.o_orderpriority AS old_priority,
      |         b.o_orderpriority AS new_priority,
      |         CAST(1 AS BIGINT) AS v_from, CAST(2 AS BIGINT) AS v_to
      |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |SELECT * FROM d WHERE change_type <> 'unchanged'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // q_log_vacuum — version expiration over the transaction log
  // ---------------------------------------------------------------------

  /** VACUUM: expire every version below `keepFrom` and physically delete
    * the data files no RETAINED version references. The retained live
    * sets are folded from the committed manifests exactly as
    * [[liveFiles]] does (catalog-sized work — versions × files metadata
    * rows, never data rows); the deletable set is (files referenced by
    * expired versions) minus (files referenced by any retained one), so
    * a file shared across the boundary — the common case under
    * compaction, where an old version's file survives into the current
    * live set — is NEVER deleted. A `_vacuum_v<keepFrom>` watermark
    * marker commits the expiration (the log's two-phase discipline):
    * [[readVersion]] guarded by [[vacuumWatermark]] refuses expired
    * versions cleanly instead of failing mid-scan on missing files.
    * Returns (filesDeleted, filesRetained). Idempotent: a second pass
    * finds nothing to delete.
    */
  private[graft] def vacuumLog(s: SparkSession, root: String,
      keepFrom: Int): (Int, Int) =
    graft.sources.GraftLogOps.vacuumLog(s, root, keepFrom)

  /** Lowest readable version after vacuuming (1 if never vacuumed).
    * Derived by LISTING `_log/_vacuum_v*` markers and taking the max —
    * NOT by walking consecutive versions from 2, which under-reports
    * when the first vacuum starts at keepFrom >= 3 or keepFrom jumps
    * non-contiguously (2 then 4): a too-low watermark lets readVersion
    * pass the guard and then fail mid-scan on deleted files, the exact
    * failure the guard exists to prevent. Delegates to the connector
    * so the DSv2 load() and this utility share one derivation.
    */
  private[graft] def vacuumWatermark(s: SparkSession, root: String): Int =
    graft.sources.GraftLog.vacuumWatermark(
      s.sessionState.newHadoopConf(), root)

  /** The vacuumed twin of [[txnTableDir]] — its OWN fixture root (the
    * time-travel query must keep reading v1 of the shared one), built
    * by the same [[buildTxnLog]], then vacuumed to keepFrom = 2 with
    * the audit row persisted beside the log.
    */
  private[graft] def vacuumedTableDir(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = SetupOnce.runtimeDir(d, "orders_txnlog_vac")
    SetupOnce(root) {
      buildTxnLog(s, d, root)
      val (nDeleted, nRetained) = vacuumLog(s, root, keepFrom = 2)
      Seq((2, 3, nDeleted, nRetained)).toDF("kept_from", "v_latest",
          "n_files_deleted", "n_files_retained").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/_vacuum_audit")
    }
    root
  }

  /** Vacuum audit + post-vacuum read-back: the persisted expiration
    * counts joined with an aggregate of the LATEST version read through
    * the vacuumed log. The file counts are layout-determined (v1's
    * [[TxnBuckets]] bucket dirs die — none survive into v2/v3, which
    * reference data_b and the compacted data_c; retained = those 5);
    * the row aggregate is data-derived, so the oracle recomputes it from
    * the snapshot derivation and a vacuum that deleted a LIVE file
    * hash-fails the read-back.
    */
  def logVacuum(s: SparkSession, d: String): DataFrame = {
    val root = vacuumedTableDir(s, d)
    val audit = s.read.parquet(s"$root/_vacuum_audit")
      .select(col("kept_from").cast("int").as("kept_from"),
        col("v_latest").cast("int").as("v_latest"),
        col("n_files_deleted").cast("long").as("n_files_deleted"),
        col("n_files_retained").cast("long").as("n_files_retained"))
    val latest = readVersion(s, root, latestVersion(s, root))
      .agg(count(lit(1)).as("n_rows_latest"),
        sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
    audit.crossJoin(latest)
  }

  /** Version spine of the transaction log, every committed version read
    * THROUGH the `graftlog` DSv2 connector: (version, n_rows,
    * total_cents) — the AS-OF surface oracle-gated across the WHOLE
    * history, not just the latest/diffed versions. The per-version scan
    * prunes to the single aggregated column (GraftLogSourceSpec pins
    * projection pruning reached the connector); the version loop is
    * driver-bounded catalog work (3 committed versions here; a log's
    * version count is operational metadata, never row-scaled).
    * Content law: v1 = snapshot A (keys ≢0 mod 10); v2 = the A→B
    * transition (all keys ≢0 mod 13 — inserts included); v3 = v2's
    * compaction, content-identical, which the oracle states literally.
    */
  def logVersions(s: SparkSession, d: String): DataFrame = {
    val root = txnTableDir(s, d)
    val latest = latestVersion(s, root)
    (1 to latest).map { v =>
      readVersion(s, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  val logVersionsSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents
      |FROM orders WHERE o_orderkey % 10 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT)
      |FROM orders WHERE o_orderkey % 13 <> 0
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT)
      |FROM orders WHERE o_orderkey % 13 <> 0
      |ORDER BY version""".stripMargin

  /** Lays down (once per JVM) a log CREATED ENTIRELY THROUGH the
    * connector's write path: two `mode("append")` commits (even keys,
    * then odd), the first bootstrapping the table via option("schema").
    */
  private[graft] def writtenTableDir(s: SparkSession, d: String): String = {
    val root = graft.sources.SetupOnce.runtimeDir(d, "orders_graftwrite")
    graft.sources.SetupOnce(root) {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      Seq(0, 1).foreach { parity =>
        o.filter(pmod(col("o_orderkey"), lit(2)) === parity)
          .write.format(graft.sources.GraftLog.Format)
          .option("path", root)
          .option("schema", "o_orderkey BIGINT, o_totalprice DOUBLE")
          .mode("append").save()
      }
    }
    root
  }

  /** Write-path roundtrip: the version spine of a log whose EVERY byte
    * came through `df.write.format("graftlog")` — v1 is the even-key
    * append, v2 adds the odd keys; both read back through the same
    * connector and hash-check against the closed-form derivation, so a
    * bug anywhere in the two-phase commit (staged files leaking into a
    * version, a lost append, a double commit) hash-fails.
    */
  def logWriteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val root = writtenTableDir(s, d)
    (1 to 2).map { v =>
      readVersion(s, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  val logWriteRoundtripSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT)
      |FROM orders
      |ORDER BY version""".stripMargin

  /** The transaction log as a CHANGE FEED: `readChangeFeed` reads of
    * the REAL log (not a derived ops table) — each version's adds emit
    * as `insert` rows and its removes as `delete` rows, tagged with the
    * commit version. Summarized per (version, change type) with exact
    * cents, so the oracle can state the whole history in closed form:
    * v1 inserts snapshot A; v2 is a remove-all/add-all transition
    * (delete A, insert B); v3 rewrites B into one file (delete B,
    * insert B — content-identical, but committed as an `overwrite`, so
    * it surfaces here; a `compact` commit is excluded from the feed,
    * pinned by q_log_cdc_rename's silent v7). A CDC bug anywhere — a
    * lost remove, a version tag off by one, a delete row read from the
    * wrong file — hash-fails. GraftLogManifestSpec additionally pins
    * the row-level fold of this feed equals the latest snapshot.
    */
  def logCdc(s: SparkSession, d: String): DataFrame = {
    val root = txnTableDir(s, d)
    s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .groupBy(
        col(graft.sources.GraftLog.CommitVersionCol).as("version"),
        col(graft.sources.GraftLog.ChangeTypeCol).as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(col("version"), col("change_type"))
  }

  val logCdcSql: String =
    """WITH a AS (SELECT COUNT(*) AS n,
      |                  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
      |                    AS BIGINT)) AS BIGINT) AS c
      |           FROM orders WHERE o_orderkey % 10 <> 0),
      |     b AS (SELECT COUNT(*) AS n,
      |                  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
      |                    AS BIGINT)) AS BIGINT) AS c
      |           FROM orders WHERE o_orderkey % 13 <> 0)
      |SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
      |       n AS n_rows, c AS total_cents FROM a
      |UNION ALL SELECT CAST(2 AS BIGINT), 'delete', n, c FROM a
      |UNION ALL SELECT CAST(2 AS BIGINT), 'insert', n, c FROM b
      |UNION ALL SELECT CAST(3 AS BIGINT), 'delete', n, c FROM b
      |UNION ALL SELECT CAST(3 AS BIGINT), 'insert', n, c FROM b
      |ORDER BY version, change_type""".stripMargin

  /** Time travel as a LANGUAGE feature: the same version spine as
    * [[logVersions]], but every AS-OF read resolves through SQL —
    * `SELECT ... FROM graft.orders_txnlog VERSION AS OF v` against the
    * registered [[graft.sources.GraftCatalog]] — instead of a reader
    * option. The catalog maps identifier → warehouse path and delegates
    * to the connector's one resolveVersion, so the SQL path inherits
    * the watermark/uncommitted refusals (spec-pinned); the oracle gate
    * here proves the AS-OF binding itself: a catalog that resolved
    * `VERSION AS OF 1` to the wrong snapshot hash-fails.
    */
  def catalogAsof(s: SparkSession, d: String): DataFrame = {
    val root = txnTableDir(s, d)
    val parent = root.substring(0, root.lastIndexOf('/'))
    val table = root.substring(root.lastIndexOf('/') + 1)
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", parent)
    val latest = latestVersion(s, root)
    (1 to latest).map { v =>
      s.sql(s"SELECT * FROM graft.`$table` VERSION AS OF $v")
        .agg(count(lit(1)).as("n_rows"),
          sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  val catalogAsofSql: String = logVersionsSql

  /** CTAS + INSERT INTO as LANGUAGE features: `CREATE TABLE graft.t AS
    * SELECT` routes through the catalog's createTable (an EMPTY v1
    * committed with the schema — time-travelable from the instant the
    * table exists) and lands its query result as v2 through the very
    * same two-phase commit every write uses; `INSERT INTO` appends v3.
    * The whole spine is then read back through SQL `VERSION AS OF`, so
    * a create that lost rows, an insert that landed twice, or an AS-OF
    * binding off by one hash-fails against the closed-form oracle.
    */
  def catalogCtas(s: SparkSession, d: String): DataFrame = {
    val wh = SetupOnce.runtimeDir(d, "ctas_warehouse")
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    SetupOnce(s"$wh/orders_ctas") {
      Tables.orders(s, d).createOrReplaceTempView("graft_ctas_src")
      s.sql(
        """CREATE TABLE graft.orders_ctas AS
          |SELECT o_orderkey, o_totalprice FROM graft_ctas_src
          |WHERE o_orderkey % 3 = 0""".stripMargin)
      s.sql(
        """INSERT INTO graft.orders_ctas
          |SELECT o_orderkey, o_totalprice FROM graft_ctas_src
          |WHERE o_orderkey % 3 <> 0""".stripMargin)
    }
    (1 to 3).map { v =>
      s.sql(s"SELECT * FROM graft.orders_ctas VERSION AS OF $v")
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  val catalogCtasSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_rows,
      |       CAST(NULL AS BIGINT) AS total_cents
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT)
      |FROM orders
      |ORDER BY version""".stripMargin

  /** Lays down (once per JVM) an orders slice written through the
    * connector's PARTITIONED write path: Hive `o_orderstatus=<v>/`
    * layout under one committed version, partition values in the files,
    * per-file min=max statistics in the manifest.
    */
  private[graft] def partitionedTableDir(s: SparkSession,
      d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftpart")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .option("partitionBy", "o_orderstatus")
        .mode("append").save()
    }
    root
  }

  /** Partitioned-write roundtrip with partition PRUNING as the access
    * path: a single-status filter over the partitioned log plans only
    * that partition's files — from manifest statistics alone, zero
    * footer opens (GraftLogManifestSpec pins both) — and the aggregate
    * hash-checks the surviving rows against the oracle's derivation, so
    * a row landed in the wrong partition directory (or a skip that
    * dropped a live file) fails on content, not just on file counts.
    */
  def logPartitioned(s: SparkSession, d: String): DataFrame = {
    val root = partitionedTableDir(s, d)
    s.read.format(graft.sources.GraftLog.Format).option("path", root)
      .load()
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("n_rows"),
        sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
      .select(lit("F").as("o_orderstatus"), col("n_rows"),
        col("total_cents"))
  }

  val logPartitionedSql: String =
    """SELECT 'F' AS o_orderstatus, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** Lays down (once per JVM) a log whose schema WIDENS between
    * commits: v1 appends even keys under (o_orderkey); v2 appends odd
    * keys under the explicitly-extended (o_orderkey, o_totalprice).
    */
  private[graft] def evolvedTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftevolve")
    SetupOnce(root) {
      val o = Tables.orders(s, d)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"))
        .write.format(graft.sources.GraftLog.Format).option("path", root)
        .option("schema", "o_orderkey BIGINT").mode("append").save()
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format).option("path", root)
        .option("schema", "o_orderkey BIGINT, o_totalprice DOUBLE")
        .mode("append").save()
    }
    root
  }

  /** Documented schema WIDENING, oracle-gated: the latest snapshot
    * reads BOTH generations — v1's files null-fill the widened
    * o_totalprice (count/cents cover odd keys only), while the total
    * row count covers everything; the v1 AS-OF read keeps its own
    * 1-column schema. A widening bug anywhere — a null-fill that
    * dropped rows, a pushed predicate breaking on the absent column,
    * a schema row recorded un-widened — hash-fails the closed-form
    * derivation.
    */
  def logEvolve(s: SparkSession, d: String): DataFrame = {
    val root = evolvedTableDir(s, d)
    val v1 = readVersion(s, root, 1)
      .agg(count(lit(1)).as("n_rows_v1"))
    readVersion(s, root, latestVersion(s, root))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_priced"),
        sum(RefTransforms.cents(col("o_totalprice"))).as("cents_priced"))
      .crossJoin(v1)
      .select(col("n_rows_v1"), col("n_rows"), col("n_priced"),
        col("cents_priced"))
  }

  val logEvolveSql: String =
    """SELECT CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_rows_v1,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_priced,
      |       CAST(SUM(CASE WHEN o_orderkey % 2 = 1
      |                THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |                ELSE 0 END) AS BIGINT) AS cents_priced
      |FROM orders""".stripMargin

  /** The TYPE-WIDENING fixture: a narrow generation (INT key, FLOAT
    * price) widened in place by `ALTER TABLE ... ALTER COLUMN ... TYPE`
    * through the SQL catalog — no rewrite — then appended with values
    * only the WIDE types can hold (keys past INT range), merge-on-read
    * deleted across BOTH physical generations, and OPTIMIZE'd (the
    * compaction reads the mixed physicals up-cast and lands everything
    * under the wide types).
    */
  private[graft] def widenedTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftwiden")
    SetupOnce(root) {
      val o = Tables.orders(s, d)
      o.select(col("o_orderkey").cast("int").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice").cast("float").as("price"))
        .write.format(graft.sources.GraftLog.Format).option("path", root)
        .option("schema", "k INT, bucket BIGINT, price FLOAT")
        .option("partitionBy", "bucket").mode("append").save() // v1
      val parent = root.substring(0, root.lastIndexOf('/'))
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", parent)
      s.sql("ALTER TABLE graft.orders_graftwiden " +
        "ALTER COLUMN k TYPE BIGINT") // v2
      s.sql("ALTER TABLE graft.orders_graftwiden " +
        "ALTER COLUMN price TYPE DOUBLE") // v3
      // keys shifted past INT range; 3e9 ≡ 0 mod 64 and mod 8, so the
      // delete condition and bucket layout stay aligned across halves
      o.select((col("o_orderkey") + lit(3000000000L)).as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice").as("price"))
        .write.format(graft.sources.GraftLog.Format).option("path", root)
        .option("schema", "k BIGINT, bucket BIGINT, price DOUBLE")
        .option("partitionBy", "bucket").mode("append").save() // v4
      graft.sources.GraftLogOps.deleteFromLog(s, root,
        col("k") % 64 === 3,
        graft.sources.GraftLogOps.DeleteModeMor) // v5: dv, both gens
      graft.sources.GraftLogOps.compactLog(s, root) // v6: folds, widens
    }
    root
  }

  /** Type widening end-to-end, hash-gated: one snapshot reads BOTH
    * physical generations (INT32/FLOAT files up-cast value-exactly
    * beside INT64/DOUBLE ones), the key sum needs BIGINT range, a
    * selective equality predicate pushes over the mixed physicals
    * (dropped per-file where the narrow physical would desync the
    * validator, applied where it matches), the MoR delete masked rows
    * in both generations, OPTIMIZE folded the masks, and the two
    * schema pins hold: the v1 point-in-time read keeps its own NARROW
    * types while the latest presents the widened ones.
    */
  def logWiden(s: SparkSession, d: String): DataFrame = {
    val root = widenedTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val latest = latestVersion(s, root)
    val dvAfter = graft.sources.GraftLog.liveState(conf, root, latest)
      .dvs.size.toLong
    def typeStr(v: Int): String = readVersion(s, root, v).schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val snap = readVersion(s, root, latest)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).as("key_sum"),
        sum(cents(col("price"))).as("price_cents"))
    val sel = readVersion(s, root, latest)
      .filter(col("k") === 3000000001L)
      .agg(count(lit(1)).as("n_sel"))
    snap.crossJoin(sel)
      .select(col("n_rows"), col("key_sum"), col("price_cents"),
        col("n_sel"),
        lit(typeStr(1)).as("v1_schema"),
        lit(typeStr(latest)).as("schema_now"),
        lit(dvAfter).as("dv_after_optimize"))
  }

  val logWidenSql: String =
    """WITH kept AS (
      |  SELECT o_orderkey AS k,
      |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS fprice,
      |         o_totalprice AS dprice
      |  FROM orders WHERE o_orderkey % 64 <> 3)
      |SELECT 2 * COUNT(*) AS n_rows,
      |       CAST(2 * SUM(k) + 3000000000 * COUNT(*) AS BIGINT)
      |         AS key_sum,
      |       CAST(SUM(CAST(floor(fprice * 100 + 0.5) AS BIGINT)) +
      |            SUM(CAST(floor(dprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS price_cents,
      |       CAST(1 AS BIGINT) AS n_sel,
      |       'k:int,bucket:bigint,price:float' AS v1_schema,
      |       'k:bigint,bucket:bigint,price:double' AS schema_now,
      |       CAST(0 AS BIGINT) AS dv_after_optimize
      |FROM kept""".stripMargin

  /** The NESTED-STATISTICS fixture: struct-typed training metadata
    * (`meta.score`, `meta.price`) bucket-partitioned so each file's
    * manifest row carries DISJOINT `meta.score` bounds — the shape a
    * nested-field predicate prunes files from without opening one.
    */
  private[graft] def nestedStatsTableDir(s: SparkSession,
      d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftnest")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(4L)).as("bucket"),
          struct(
            (pmod(col("o_orderkey"), lit(4L)) * 1000 +
              pmod(col("o_orderkey"), lit(100L)))
              .cast("double").as("score"),
            col("o_totalprice").as("price")).as("meta"))
        .write.format(graft.sources.GraftLog.Format).option("path", root)
        .option("schema", "o_orderkey BIGINT, bucket BIGINT, " +
          "meta STRUCT<score: DOUBLE, price: DOUBLE>")
        .option("partitionBy", "bucket").mode("append").save()
    }
    root
  }

  /** Struct-leaf manifest statistics, hash-gated: a predicate on the
    * NESTED `meta.score` field (bounds live in the manifest under the
    * leaf's dotted path) selects exactly the bucket whose score range
    * matches — NdvWriteFoldSpec pins that the non-matching files are
    * pruned from the PLAN (one planned partition of four), this query
    * hash-gates the surviving values. A nested-stats bug anywhere —
    * bounds keyed wrong, a dotted path that stops resolving, a skip
    * that drops a matching file — fails one side.
    */
  def logNestedStats(s: SparkSession, d: String): DataFrame = {
    val root = nestedStatsTableDir(s, d)
    s.read.format(graft.sources.GraftLog.Format).option("path", root)
      .load()
      .filter(col("meta.score") >= 3000.0)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("meta.price"))).as("price_cents"),
        sum(col("meta.score").cast("long")).as("score_sum"))
  }

  val logNestedStatsSql: String =
    """SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS price_cents,
      |       CAST(SUM(3000 + o_orderkey % 100) AS BIGINT) AS score_sum
      |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin

  /** Manifest-served aggregates: COUNT(*) / COUNT(col) / MIN / MAX over
    * the connector-written log answer from the manifest statistics
    * alone — GraftLogAggScan, ONE partition, zero data bytes at any
    * table size (GraftLogManifestSpec pins the plan shape and the
    * zero-footer counter; this query hash-gates the VALUES against the
    * oracle's full-scan computation, so a wrong bound anywhere in the
    * stats pipeline — writer aggregation across row groups, JSON
    * round-trip, manifest fold — fails here).
    */
  def logAgg(s: SparkSession, d: String): DataFrame = {
    val root = writtenTableDir(s, d)
    s.read.format(graft.sources.GraftLog.Format).option("path", root)
      .load()
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_priced"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  val logAggSql: String =
    """SELECT COUNT(*) AS n_rows, COUNT(o_totalprice) AS n_priced,
      |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------------
  // q_log_decimal — exact money (DECIMAL) IN the versioned log
  // ---------------------------------------------------------------------

  /** Lays down (once per JVM) the orders money column as DECIMAL(14,2)
    * inside the log — the reference's own DDL type
    * (lambda_function.py:209 `amount DECIMAL(10, 2)`), which the engine
    * elsewhere handles via the documented exact-cents BIGINT twin; the
    * table format itself must store the decimal exactly. The value is
    * derived EXACTLY from the established cents arithmetic (floor(x*100
    * +0.5), then a scale-preserving *0.01 decimal multiply — no
    * double→decimal rounding anywhere), so both engines state the same
    * decimal in closed form.
    */
  private[graft] def decimalTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftdec")
    SetupOnce(root) {
      Tables.orders(s, d)
        .selectExpr("o_orderkey",
          "CAST(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) " +
            "AS DECIMAL(16,2)) * CAST(0.01 AS DECIMAL(3,2)) " +
            "AS DECIMAL(14,2)) AS price")
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema", "o_orderkey BIGINT, price DECIMAL(14,2)")
        .mode("append").save()
    }
    root
  }

  /** Decimal round-trip through the log, hash-gated: COUNT/MIN/MAX are
    * manifest-served (exact decimal bounds from the per-file
    * statistics — GraftLogDecimalSpec pins the GraftLogAggScan plan and
    * zero footer opens), SUM runs the real scan through the vectorized
    * decimal decode; all three leave as digit strings (DecimalType is
    * accumulation-only in result schemas — SchemaLintSpec's rule).
    */
  def logDecimal(s: SparkSession, d: String): DataFrame = {
    val root = decimalTableDir(s, d)
    val t = readVersion(s, root, 1)
    val pushed = t
      .agg(count(lit(1)).as("n_rows"), min(col("price")).as("mn"),
        max(col("price")).as("mx"))
      .select(col("n_rows"), col("mn").cast("string").as("min_price"),
        col("mx").cast("string").as("max_price"))
    val summed = t.agg(sum(col("price")).cast("string").as("sum_price"))
    pushed.crossJoin(summed)
  }

  val logDecimalSql: String =
    """WITH t AS (
      |  SELECT CAST(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |           AS DECIMAL(16,2)) * CAST(0.01 AS DECIMAL(3,2))
      |           AS DECIMAL(14,2)) AS price
      |  FROM orders)
      |SELECT COUNT(*) AS n_rows,
      |       CAST(MIN(price) AS VARCHAR) AS min_price,
      |       CAST(MAX(price) AS VARCHAR) AS max_price,
      |       CAST(SUM(price) AS VARCHAR) AS sum_price
      |FROM t""".stripMargin

  // ---------------------------------------------------------------------
  // q_log_vectors — embeddings (array<float>) IN the versioned log
  // ---------------------------------------------------------------------

  /** Lays down (once per JVM) the embeddings table INSIDE the
    * transaction log: two connector appends (even vec_ids bootstrap the
    * table, odd ones land as v2) with the `embedding ARRAY<FLOAT>`
    * column stored through the connector's nested write path — the
    * round-13 composition proof that the LLM-pipeline family's own
    * vector data can live in the table format (through round 12 the
    * writer refused every nested type).
    */
  private[graft] def vectorTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "embeddings_graftlog")
    SetupOnce(root) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
      Seq(0, 1).foreach { parity =>
        e.filter(pmod(col("vec_id"), lit(2)) === parity)
          .write.format(graft.sources.GraftLog.Format)
          .option("path", root)
          .option("schema",
            "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .mode("append").save()
      }
    }
    root
  }

  val VecQueries = 4
  val VecTopK = 5

  /** Cosine top-k over embeddings READ FROM THE LOG — the LLM-pipeline
    * and table-format families composed: v2 (the full corpus) serves an
    * exact brute-force top-[[VecTopK]] for the [[VecQueries]] query
    * vectors (Ann's broadcast + window-rank shape, same
    * double-precision left-fold dot as the DuckDB oracle), and the v1
    * AS-OF read rides along as a row count — so a nested-column bug
    * anywhere in the connector (a float decoded out of order, an
    * element null-filled wrongly, a version fold losing a file)
    * hash-fails against the oracle's recomputation from the plain
    * parquet table.
    */
  def logVectors(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions
    val root = vectorTableDir(s, d)
    val latest = readVersion(s, root, 2)
    val v1 = readVersion(s, root, 1)
      .agg(count(lit(1)).as("n_rows_v1"))
    val q = broadcast(latest.filter(col("vec_id") < VecQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val n = latest.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    q.join(n, col("q_id") =!= col("n_id"))
      .withColumn("sim",
        VectorFunctions.cosineSim(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= VecTopK)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
      .crossJoin(broadcast(v1))
      .orderBy(col("q_id"), col("rank"))
  }

  val logVectorsSql: String = {
    val sim = graft.functions.VectorFunctions.cosineSql("q.v", "n.v")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |     q AS (SELECT * FROM e WHERE vec_id < $VecQueries),
       |     scored AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $sim AS sim,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $sim DESC, n.vec_id ASC) AS rank
       |  FROM q, e n WHERE q.vec_id <> n.vec_id),
       |     v1 AS (SELECT COUNT(*) AS n_rows_v1 FROM embeddings
       |            WHERE vec_id % 2 = 0)
       |SELECT q_id, rank, n_id, sim, n_rows_v1 FROM scored CROSS JOIN v1
       |WHERE rank <= $VecTopK ORDER BY q_id, rank""".stripMargin
  }

  val logVacuumSql: String =
    s"""SELECT CAST(2 AS INT) AS kept_from, CAST(3 AS INT) AS v_latest,
       |       CAST($TxnBuckets AS BIGINT) AS n_files_deleted,
       |       CAST(${TxnBuckets + 1} AS BIGINT) AS n_files_retained,
       |       COUNT(*) AS n_rows_latest,
       |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |         AS BIGINT) AS total_cents
       |FROM orders WHERE o_orderkey % 13 <> 0""".stripMargin

  // ---------------------------------------------------------------------
  // q_log_merge / q_log_delete — row-level MERGE and DELETE on the log
  // ---------------------------------------------------------------------

  /** Lays down (once per JVM) the MERGE fixture: v1 = orders keyed by
    * o_orderkey, Hive-partitioned on bucket = key mod 8 (so per-file
    * manifest statistics carry min=max=bucket); then ONE merge whose
    * source updates the keys ≡3 mod 16 (price doubled — an exact FP op
    * both engines state identically) and inserts their negations as new
    * rows. Only the bucket=3 file contains matched keys, so the merge
    * rewrites exactly that file (GraftLogMergeSpec pins the single
    * remove and the zero-rename commit).
    */
  private[graft] def mergedTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftmerge")
    SetupOnce(root) {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
      base.write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      val upd = Tables.orders(s, d).filter(col("o_orderkey") % 16 === 3)
      val source = upd.select(col("o_orderkey"), lit(3L).as("bucket"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(upd.select((-col("o_orderkey")).as("o_orderkey"),
          pmod(-col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice")))
      graft.sources.GraftLogOps.mergeIntoLog(s, root, source,
        Seq("o_orderkey"))
    }
    root
  }

  /** MERGE INTO, hash-gated end-to-end: the post-merge snapshot's exact
    * aggregate (the LWW oracle recomputed in closed form by DuckDB) CROSS
    * JOIN the merge version's change-feed row counts — delete rows are
    * exactly the rewritten file's old rows (keys ≡3 mod 8), insert rows
    * the kept (≡11 mod 16) plus updated-and-inserted (2 × ≡3 mod 16)
    * rows. A merge bug anywhere — a lost unmatched row, a double-applied
    * update, a rewrite touching the wrong file — hash-fails one side.
    */
  def logMerge(s: SparkSession, d: String): DataFrame = {
    val root = mergedTableDir(s, d)
    val v = latestVersion(s, root)
    val snap = readVersion(s, root, v)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
    val ct = col(graft.sources.GraftLog.ChangeTypeCol)
    val cdc = s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .filter(col(graft.sources.GraftLog.CommitVersionCol) === v)
      .agg(sum(when(ct === "delete", 1L).otherwise(0L)).as("n_deleted"),
        sum(when(ct === "insert", 1L).otherwise(0L)).as("n_inserted"))
    snap.crossJoin(cdc)
  }

  val logMergeSql: String =
    """WITH m AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 16 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS price
      |  FROM orders
      |  UNION ALL
      |  SELECT -o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 16 = 3),
      |agg AS (
      |  SELECT COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS total_cents
      |  FROM m),
      |cdc AS (
      |  SELECT (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 8 = 3) AS n_deleted,
      |         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 16 = 11)
      |         + 2 * (SELECT COUNT(*) FROM orders
      |                WHERE o_orderkey % 16 = 3) AS n_inserted)
      |SELECT agg.n_rows, agg.total_cents, cdc.n_deleted, cdc.n_inserted
      |FROM agg CROSS JOIN cdc""".stripMargin

  /** The MERGE-ON-READ merge fixture: same LWW shape as
    * [[mergedTableDir]] but SPARSE (keys ≡3 mod 64 — 1/8 of the
    * bucket=3 file, under the rewrite cutoff) and committed with
    * deletion vectors: the matched old versions MASK, the whole
    * source (updates + inserted negations) appends as new files, one
    * version, no file rewritten.
    */
  private[graft] def morMergedTableDir(s: SparkSession,
      d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftmergedv")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      val upd = Tables.orders(s, d).filter(col("o_orderkey") % 64 === 3)
      val source = upd.select(col("o_orderkey"), lit(3L).as("bucket"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(upd.select((-col("o_orderkey")).as("o_orderkey"),
          pmod(-col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice")))
      graft.sources.GraftLogOps.mergeIntoLog(s, root, source,
        Seq("o_orderkey"), graft.sources.GraftLogOps.DeleteModeMor)
    }
    root
  }

  /** Merge-on-read MERGE, hash-gated end to end: the post-merge
    * snapshot equals the SAME LWW closed form copy-on-write produces
    * (write shape must never change query results), the change feed
    * shows the version as DELTA-POSITION deletes (exactly the matched
    * old rows — never the untouched bulk of the file, which is the
    * whole point) + source inserts, and the in-row pins hold: one dv'd
    * file, ZERO files removed (nothing was rewritten — the write-
    * amplification claim stated as a manifest fact the oracle checks).
    */
  def logMergeDv(s: SparkSession, d: String): DataFrame = {
    val root = morMergedTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val v = latestVersion(s, root)
    val dvLive = graft.sources.GraftLog.liveState(conf, root, v)
      .dvs.size.toLong
    val removed = graft.sources.GraftLog.versionRows(conf, root, v)
      .count(_.action == "remove").toLong
    val snap = readVersion(s, root, v)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
    val ct = col(graft.sources.GraftLog.ChangeTypeCol)
    // the feed CLASSIFIES the merge: matched rows' masked old versions
    // are update_preimage, their transformed re-appends
    // update_postimage, and the genuinely-new (negated) keys plain
    // inserts — the three-way split a consumer needs to tell moves
    // from new data
    val cdc = s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .filter(col(graft.sources.GraftLog.CommitVersionCol) === v)
      .agg(
        sum(when(ct === "update_preimage", 1L).otherwise(0L))
          .as("n_preimage"),
        sum(when(ct === "update_postimage", 1L).otherwise(0L))
          .as("n_postimage"),
        sum(when(ct === "insert", 1L).otherwise(0L)).as("n_inserted"),
        sum(when(ct === "delete", 1L).otherwise(0L)).as("n_deleted"))
    snap.crossJoin(cdc)
      .select(col("n_rows"), col("total_cents"), col("n_preimage"),
        col("n_postimage"), col("n_inserted"), col("n_deleted"),
        lit(dvLive).as("dv_live"),
        lit(removed).as("files_removed"))
  }

  val logMergeDvSql: String =
    """WITH m AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 64 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS price
      |  FROM orders
      |  UNION ALL
      |  SELECT -o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 64 = 3),
      |agg AS (
      |  SELECT COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS total_cents
      |  FROM m),
      |cdc AS (
      |  SELECT (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 64 = 3) AS n_preimage,
      |         (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 64 = 3) AS n_postimage,
      |         (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 64 = 3) AS n_inserted)
      |SELECT agg.n_rows, agg.total_cents, cdc.n_preimage,
      |       cdc.n_postimage, cdc.n_inserted,
      |       CAST(0 AS BIGINT) AS n_deleted,
      |       CAST(1 AS BIGINT) AS dv_live,
      |       CAST(0 AS BIGINT) AS files_removed
      |FROM agg CROSS JOIN cdc""".stripMargin

  /** The MERGE-ON-READ update fixture: sparse UPDATE (keys ≡3 mod 64,
    * price doubled) committed as deletion vectors + appended
    * transformed rows — no file rewritten.
    */
  private[graft] def morUpdatedTableDir(s: SparkSession,
      d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftupddv")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      graft.sources.GraftLogOps.updateLog(s, root,
        col("o_orderkey") % 64 === 3,
        Map("o_totalprice" -> (col("o_totalprice") * 2)),
        graft.sources.GraftLogOps.DeleteModeMor)
    }
    root
  }

  /** Merge-on-read UPDATE via deletion vectors, hash-gated: the
    * post-update snapshot's exact aggregate equals the closed-form
    * conditional restatement, the change feed shows delta-position
    * deletes (the matched OLD versions) + transformed inserts, and the
    * pins hold: one dv'd file, zero files removed (write amplification
    * ∝ matched rows — the update never rewrote a file).
    */
  def logUpdateDv(s: SparkSession, d: String): DataFrame = {
    val root = morUpdatedTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val v = latestVersion(s, root)
    val dvLive = graft.sources.GraftLog.liveState(conf, root, v)
      .dvs.size.toLong
    val removed = graft.sources.GraftLog.versionRows(conf, root, v)
      .count(_.action == "remove").toLong
    val snap = readVersion(s, root, v)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
    val ct = col(graft.sources.GraftLog.ChangeTypeCol)
    // the feed CLASSIFIES the update: masked old versions surface as
    // update_preimage, the transformed appends as update_postimage —
    // never as anonymous delete/insert churn. The value sums pin that
    // preimages carry the OLD prices and postimages the doubled ones.
    val cdc = s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .filter(col(graft.sources.GraftLog.CommitVersionCol) === v)
      .agg(
        sum(when(ct === "update_preimage", 1L).otherwise(0L))
          .as("n_preimage"),
        sum(when(ct === "update_postimage", 1L).otherwise(0L))
          .as("n_postimage"),
        sum(when(ct === "update_preimage",
          cents(col("o_totalprice"))).otherwise(0L)).as("pre_cents"),
        sum(when(ct === "update_postimage",
          cents(col("o_totalprice"))).otherwise(0L)).as("post_cents"),
        sum(when(ct.isin("delete", "insert"), 1L).otherwise(0L))
          .as("n_churn"))
    snap.crossJoin(cdc)
      .select(col("n_rows"), col("total_cents"), col("n_preimage"),
        col("n_postimage"), col("pre_cents"), col("post_cents"),
        col("n_churn"), lit(dvLive).as("dv_live"),
        lit(removed).as("files_removed"))
  }

  val logUpdateDvSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 64 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS price
      |  FROM orders),
      |agg AS (
      |  SELECT COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS total_cents
      |  FROM m),
      |cdc AS (
      |  SELECT COUNT(*) AS n_preimage,
      |         COUNT(*) AS n_postimage,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS pre_cents,
      |         CAST(SUM(CAST(floor(o_totalprice * 2 * 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS post_cents
      |  FROM orders WHERE o_orderkey % 64 = 3)
      |SELECT agg.n_rows, agg.total_cents, cdc.n_preimage,
      |       cdc.n_postimage, cdc.pre_cents, cdc.post_cents,
      |       CAST(0 AS BIGINT) AS n_churn,
      |       CAST(1 AS BIGINT) AS dv_live,
      |       CAST(0 AS BIGINT) AS files_removed
      |FROM agg CROSS JOIN cdc""".stripMargin

  /** The SQL-DML fixture: the bucket-partitioned orders log behind the
    * [[graft.sources.GraftCatalog]], mutated by THREE SQL statements —
    * UPDATE (doubles prices of keys ≡3 mod 16), DELETE (keys ≡11 mod
    * 16; the `%` predicate is inexpressible as a data-source filter, so
    * no file prunes on statistics), MERGE INTO (triples prices of keys
    * ≡5 mod 16 and inserts their negations). Each statement runs
    * [[graft.sources.GraftLogOps]]' row-level body and commits ONE
    * remove+add version whose rewrite touched only the files its match
    * pass found (GraftLogSqlDmlSpec pins that; the query hash-gates the
    * cumulative semantics).
    */
  private[graft] def sqlDmlTableDir(s: SparkSession, d: String): String = {
    val wh = SetupOnce.runtimeDir(d, "dml_warehouse")
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val root = s"$wh/orders_dml"
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      s.sql("UPDATE graft.orders_dml SET o_totalprice = " +
        "o_totalprice * 2 WHERE o_orderkey % 16 = 3")
      s.sql("DELETE FROM graft.orders_dml WHERE o_orderkey % 16 = 11")
      val upd = Tables.orders(s, d).filter(col("o_orderkey") % 16 === 5)
      upd.select(col("o_orderkey"), lit(5L).as("bucket"),
          (col("o_totalprice") * 3).as("o_totalprice"))
        .unionByName(upd.select((-col("o_orderkey")).as("o_orderkey"),
          pmod(-col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice")))
        .createOrReplaceTempView("graft_dml_src")
      s.sql(
        """MERGE INTO graft.orders_dml t USING graft_dml_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    root
  }

  /** SQL UPDATE + DELETE + MERGE INTO, hash-gated end to end: the final
    * snapshot's exact aggregate after all three DML versions, against
    * the oracle's closed-form restatement of the same history. A DML
    * bug anywhere — an update applied outside its predicate, a delete
    * dropping kept rows of a rewritten file, a merge double-inserting —
    * hash-fails; n_versions pins one committed version per statement.
    */
  def logDml(s: SparkSession, d: String): DataFrame = {
    val root = sqlDmlTableDir(s, d)
    val latest = latestVersion(s, root)
    readVersion(s, root, latest)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(lit(latest.toLong).as("n_versions"), col("n_rows"),
        col("total_cents"))
  }

  val logDmlSql: String =
    """WITH m AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 16 = 3 THEN o_totalprice * 2
      |              WHEN o_orderkey % 16 = 5 THEN o_totalprice * 3
      |              ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 16 <> 11
      |  UNION ALL
      |  SELECT -o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 16 = 5)
      |SELECT CAST(4 AS BIGINT) AS n_versions, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents
      |FROM m""".stripMargin

  /** The LIFECYCLE fixture: the entire table life in SQL ALONE —
    * CREATE TABLE (v1), two INSERT INTO halves (v2, v3), UPDATE (v4),
    * DELETE (v5), `CALL graft.system.optimize` (v6),
    * `CALL graft.system.checkpoint`, `CALL graft.system.vacuum`
    * keeping only the optimized snapshot. No Scala utility is invoked
    * anywhere; the procedures ARE the maintenance surface.
    */
  private[graft] def lifecycleTableDir(s: SparkSession, d: String): String = {
    val wh = SetupOnce.runtimeDir(d, "lifecycle_warehouse")
    val root = s"$wh/orders_lc"
    SetupOnce(root) {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables.orders(s, d).createOrReplaceTempView("graft_lc_src")
      s.sql("CREATE TABLE graft.orders_lc (o_orderkey BIGINT, " +
        "bucket BIGINT, o_totalprice DOUBLE) PARTITIONED BY (bucket)")
      // the (key div 8) parity split is independent of bucket = key
      // mod 8, so each INSERT lands one file in every bucket
      s.sql("INSERT INTO graft.orders_lc SELECT o_orderkey, " +
        "o_orderkey % 8, o_totalprice FROM graft_lc_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 1")
      s.sql("INSERT INTO graft.orders_lc SELECT o_orderkey, " +
        "o_orderkey % 8, o_totalprice FROM graft_lc_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 0")
      s.sql("UPDATE graft.orders_lc SET o_totalprice = " +
        "o_totalprice * 2 WHERE o_orderkey % 16 = 3")
      s.sql("DELETE FROM graft.orders_lc WHERE o_orderkey % 16 = 11")
      s.sql("CALL graft.system.optimize('orders_lc')").collect()
      s.sql("CALL graft.system.checkpoint('orders_lc')").collect()
      s.sql("CALL graft.system.vacuum('orders_lc', 6)").collect()
    }
    root
  }

  /** The SQL-only lifecycle, hash-gated end to end: the final
    * snapshot's exact aggregate after CREATE → INSERT ×2 → UPDATE →
    * DELETE → OPTIMIZE → CHECKPOINT → VACUUM, against the oracle's
    * closed-form restatement. In-row pins: one committed version per
    * mutating statement (n_versions = 6), the vacuum watermark
    * (kept_from = 6), OPTIMIZE really shrank the live set
    * (files_reduced), and the round-14 partition discipline — EVERY
    * live file after the whole history keeps min==max on the
    * partition column (part_pure), so compaction never eroded the
    * manifest-stats skip. All pins are manifest-derived, zero data
    * I/O.
    */
  def logLifecycle(s: SparkSession, d: String): DataFrame = {
    val root = lifecycleTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val latest = latestVersion(s, root)
    val keptFrom = graft.sources.GraftLog.vacuumWatermark(conf, root)
    val live = graft.sources.GraftLog.liveAdds(conf, root, latest)
    // DESCRIBE DETAIL rides the lifecycle gate: the procedure's one
    // audit row must agree with the manifest fold this query already
    // computes (file count, version, watermark) — a detail() that
    // reports a different table than the log hash-fails here
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse",
      root.substring(0, root.lastIndexOf('/')))
    val det = s.sql("CALL graft.system.detail('orders_lc')").collect()(0)
    val detailOk =
      if (det.getAs[String]("format") == "graftlog" &&
        det.getAs[Long]("version") == latest.toLong &&
        det.getAs[Long]("num_files") == live.size.toLong &&
        det.getAs[Long]("vacuum_watermark") == keptFrom.toLong &&
        det.getAs[Long]("num_dv_files") == 0L &&
        det.getAs[String]("partition_columns") == "bucket") 1L
      else 0L
    val partPure =
      if (live.forall { r =>
        r.stats.flatMap(graft.sources.GraftLogStats.parseStats).exists {
          st => (st.min.get("bucket"), st.max.get("bucket")) match {
            case (Some(a), Some(b)) =>
              a == b && st.nulls.getOrElse("bucket", 0L) == 0L
            case _ => false
          }
        }
      }) 1L else 0L
    val reduced =
      if (live.size <
        graft.sources.GraftLog.liveAdds(conf, root, latest - 1).size) 1L
      else 0L
    readVersion(s, root, latest)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(lit(latest.toLong).as("n_versions"),
        lit(keptFrom.toLong).as("kept_from"),
        lit(partPure).as("part_pure"),
        lit(reduced).as("files_reduced"),
        lit(detailOk).as("detail_ok"),
        col("n_rows"), col("total_cents"))
  }

  val logLifecycleSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 16 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 16 <> 11)
      |SELECT CAST(6 AS BIGINT) AS n_versions,
      |       CAST(6 AS BIGINT) AS kept_from,
      |       CAST(1 AS BIGINT) AS part_pure,
      |       CAST(1 AS BIGINT) AS files_reduced,
      |       CAST(1 AS BIGINT) AS detail_ok,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents
      |FROM m""".stripMargin

  /** The COLUMN-MAPPING fixture: schema evolution beyond widening, in
    * SQL alone — CREATE (v1), INSERT half (v2), RENAME COLUMN price →
    * amount (v3, column mapping: files keep the stable physical name),
    * INSERT the other half under the new name (v4), DROP COLUMN tag
    * (v5, tombstoned), UPDATE through the renamed column (v6), and
    * OPTIMIZE across both naming generations (v7).
    */
  private[graft] def renamedTableDir(s: SparkSession, d: String): String = {
    val wh = SetupOnce.runtimeDir(d, "cmap_warehouse")
    val root = s"$wh/orders_cm"
    SetupOnce(root) {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables.orders(s, d).createOrReplaceTempView("graft_cm_src")
      s.sql("CREATE TABLE graft.orders_cm (o_orderkey BIGINT, bucket " +
        "BIGINT, price DOUBLE, tag STRING) PARTITIONED BY (bucket)")
      s.sql("INSERT INTO graft.orders_cm SELECT o_orderkey, " +
        "o_orderkey % 8, o_totalprice, 't' FROM graft_cm_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 1")
      s.sql("ALTER TABLE graft.orders_cm RENAME COLUMN price TO amount")
      s.sql("INSERT INTO graft.orders_cm SELECT o_orderkey, " +
        "o_orderkey % 8, o_totalprice, 't' FROM graft_cm_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 0")
      s.sql("ALTER TABLE graft.orders_cm DROP COLUMN tag")
      s.sql("UPDATE graft.orders_cm SET amount = amount * 2 " +
        "WHERE o_orderkey % 16 = 3")
      s.sql("CALL graft.system.optimize('orders_cm')").collect()
    }
    root
  }

  /** Column mapping, hash-gated end to end: the final snapshot's exact
    * aggregate over the RENAMED column (both naming generations' files
    * plus a post-rename UPDATE plus compaction), the dropped column's
    * absence (n_cols), one committed version per statement
    * (n_versions), a pre-rename time-travel aggregate under the OLD
    * name (v2_cents — per-version schemas), and the partition
    * discipline surviving it all (part_pure). A mapping bug anywhere —
    * a reader binding the logical name against old files, a writer
    * emitting the logical name into new files, stats keyed wrong —
    * hash-fails against the oracle's closed-form restatement.
    */
  def logRename(s: SparkSession, d: String): DataFrame = {
    val root = renamedTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val latest = latestVersion(s, root)
    val live = graft.sources.GraftLog.liveAdds(conf, root, latest)
    val partPure =
      if (live.forall { r =>
        r.stats.flatMap(graft.sources.GraftLogStats.parseStats).exists {
          st => (st.min.get("bucket"), st.max.get("bucket")) match {
            case (Some(a), Some(b)) =>
              a == b && st.nulls.getOrElse("bucket", 0L) == 0L
            case _ => false
          }
        }
      }) 1L else 0L
    val snap = readVersion(s, root, latest)
    val v2 = readVersion(s, root, 2)
      .agg(sum(cents(col("price"))).as("v2_cents"))
    snap
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("amount"))).as("total_cents"))
      .select(lit(latest.toLong).as("n_versions"),
        lit(snap.schema.length.toLong).as("n_cols"),
        lit(partPure).as("part_pure"),
        col("n_rows"), col("total_cents"))
      .crossJoin(v2)
  }

  val logRenameSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 16 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS amount
      |  FROM orders),
      |v2 AS (
      |  SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS v2_cents
      |  -- floor, not CAST: DuckDB's double->bigint cast ROUNDS where
      |  -- Spark's truncates; floor agrees in both engines
      |  FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 2 = 1)
      |SELECT CAST(7 AS BIGINT) AS n_versions,
      |       CAST(3 AS BIGINT) AS n_cols,
      |       CAST(1 AS BIGINT) AS part_pure,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(amount * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents,
      |       v2.v2_cents AS v2_cents
      |FROM m CROSS JOIN v2
      |GROUP BY v2.v2_cents""".stripMargin

  /** The NESTED column-mapping fixture: the same schema-evolution
    * story as [[renamedTableDir]], but INSIDE a struct — CREATE with
    * `meta STRUCT<score, tag>` (v1), INSERT half (v2), RENAME
    * meta.score → meta.amount (v3: the colmap row carries the
    * dot-joined path, files keep the stable physical subfield name),
    * INSERT the other half under the new name (v4), DROP meta.tag
    * (v5: path tombstoned), UPDATE through the renamed subfield (v6),
    * OPTIMIZE across both naming generations (v7).
    */
  private[graft] def renamedNestedTableDir(s: SparkSession,
      d: String): String = {
    val wh = SetupOnce.runtimeDir(d, "cmapn_warehouse")
    val root = s"$wh/orders_cmn"
    SetupOnce(root) {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      Tables.orders(s, d).createOrReplaceTempView("graft_cmn_src")
      s.sql("CREATE TABLE graft.orders_cmn (o_orderkey BIGINT, " +
        "bucket BIGINT, meta STRUCT<score: DOUBLE, tag: STRING>) " +
        "PARTITIONED BY (bucket)")
      s.sql("INSERT INTO graft.orders_cmn SELECT o_orderkey, " +
        "o_orderkey % 8, named_struct('score', o_totalprice, " +
        "'tag', 't') FROM graft_cmn_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 1")
      s.sql("ALTER TABLE graft.orders_cmn RENAME COLUMN meta.score " +
        "TO amount")
      s.sql("INSERT INTO graft.orders_cmn SELECT o_orderkey, " +
        "o_orderkey % 8, named_struct('amount', o_totalprice, " +
        "'tag', 't') FROM graft_cmn_src " +
        "WHERE CAST(o_orderkey / 8 AS BIGINT) % 2 = 0")
      s.sql("ALTER TABLE graft.orders_cmn DROP COLUMN meta.tag")
      s.sql("UPDATE graft.orders_cmn SET meta = " +
        "named_struct('amount', meta.amount * 2) " +
        "WHERE o_orderkey % 16 = 3")
      s.sql("CALL graft.system.optimize('orders_cmn')").collect()
    }
    root
  }

  /** NESTED column mapping, hash-gated end to end: the final
    * snapshot's exact aggregate over the renamed STRUCT FIELD (both
    * naming generations' files + a post-rename UPDATE + compaction),
    * the dropped subfield's absence (n_meta_fields), one committed
    * version per statement, and a pre-rename time-travel aggregate
    * under the OLD nested name (per-version schemas hold inside
    * structs too). A path-mapping bug anywhere — a reader binding the
    * logical subfield name against old files, a writer emitting the
    * logical name into new files, a rewrite renaming only top-level —
    * hash-fails against the closed form.
    */
  def logRenameNested(s: SparkSession, d: String): DataFrame = {
    val root = renamedNestedTableDir(s, d)
    val latest = latestVersion(s, root)
    val snap = readVersion(s, root, latest)
    val metaArity = snap.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].length
    val v2 = readVersion(s, root, 2)
      .agg(sum(cents(col("meta.score"))).as("v2_cents"))
    snap
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("meta.amount"))).as("total_cents"))
      .select(lit(latest.toLong).as("n_versions"),
        lit(metaArity.toLong).as("n_meta_fields"),
        col("n_rows"), col("total_cents"))
      .crossJoin(v2)
  }

  val logRenameNestedSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN o_orderkey % 16 = 3 THEN o_totalprice * 2
      |              ELSE o_totalprice END AS amount
      |  FROM orders),
      |v2 AS (
      |  SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS v2_cents
      |  FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 2 = 1)
      |SELECT CAST(7 AS BIGINT) AS n_versions,
      |       CAST(1 AS BIGINT) AS n_meta_fields,
      |       COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(amount * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents,
      |       v2.v2_cents AS v2_cents
      |FROM m CROSS JOIN v2
      |GROUP BY v2.v2_cents""".stripMargin

  /** CDC ACROSS A RENAME BOUNDARY, version-stamped: the change feed of
    * the column-mapping fixture ([[renamedTableDir]]) read from v1 —
    * pre-rename versions' rows surface under the READ-TIME logical
    * name (`amount`), correct byte-for-byte because the mapping pins
    * the physical name; the `_commit_version` stamp on every row joins
    * against `CALL graft.system.schema_history` to recover exactly
    * which logical naming each version used (the in-row
    * `n_schema_gens` pin = CREATE, RENAME, DROP). The whole history —
    * two inserts under different namings, the UPDATE's delete+insert,
    * OPTIMIZE's content-identical rewrite — restated in closed form by
    * the oracle; a feed that lost a remove, tagged a version off by
    * one, or bound the wrong generation's name hash-fails.
    */
  def logCdcRename(s: SparkSession, d: String): DataFrame = {
    val root = renamedTableDir(s, d)
    val parent = root.substring(0, root.lastIndexOf('/'))
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", parent)
    val gens = s.sql("CALL graft.system.schema_history('orders_cm')")
      .count()
    s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .groupBy(
        col(graft.sources.GraftLog.CommitVersionCol).as("version"),
        col(graft.sources.GraftLog.ChangeTypeCol).as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("amount"))).as("total_cents"))
      .select(col("version"), col("change_type"), col("n_rows"),
        col("total_cents"), lit(gens).as("n_schema_gens"))
      .orderBy(col("version"), col("change_type"))
  }

  val logCdcRenameSql: String =
    """WITH a AS (  -- v2 insert: first half, pre-rename naming
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS c
      |  FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 2 = 1),
      |b AS (       -- v4 insert: second half, post-rename naming
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS c
      |  FROM orders WHERE CAST(floor(o_orderkey / 8) AS BIGINT) % 2 = 0),
      |bk3 AS (     -- v6 UPDATE touches exactly ONE bucket=3 file:
      |             -- keys ≡3 mod 16 are 8i+3 with i even, i.e. the
      |             -- parity-0 (v4) half precisely — the runtime group
      |             -- filter prunes v2's bucket=3 file (≡11 mod 16)
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS c_pre,
      |         CAST(SUM(CAST(floor(o_totalprice * 2 * 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS c_post
      |  FROM orders WHERE o_orderkey % 16 = 3)
      |-- v7 OPTIMIZE emits NOTHING: a content-preserving rewrite
      |-- (op=compact) is excluded from the change feed entirely
      |SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change_type,
      |       n AS n_rows, c AS total_cents,
      |       CAST(3 AS BIGINT) AS n_schema_gens FROM a
      |UNION ALL SELECT CAST(4 AS BIGINT), 'insert', n, c,
      |       CAST(3 AS BIGINT) FROM b
      |UNION ALL SELECT CAST(6 AS BIGINT), 'delete', n, c_pre,
      |       CAST(3 AS BIGINT) FROM bk3
      |UNION ALL SELECT CAST(6 AS BIGINT), 'insert', n, c_post,
      |       CAST(3 AS BIGINT) FROM bk3
      |ORDER BY version, change_type""".stripMargin

  /** The OPTIMIZE fixture: TWO appends of the bucket-partitioned
    * orders log (odd keys then even keys → 16 small files, two per
    * bucket), compacted through [[graft.sources.GraftLogOps.compactLog]]
    * — PARTITION-AWARE, so the 16 files bin WITHIN their bucket groups
    * into 8 single-bucket rewrites as one remove+add version.
    */
  private[graft] def compactedTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftcompact")
    SetupOnce(root) {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
      // split on (key div 8) parity — INDEPENDENT of bucket = key mod 8,
      // so each append lands one file in EVERY bucket (8 + 8 files)
      base.filter((col("o_orderkey") / 8).cast("long") % 2 === 1)
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      base.filter((col("o_orderkey") / 8).cast("long") % 2 === 0)
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("partitionBy", "bucket").mode("append").save()
      graft.sources.GraftLogOps.compactLog(s, root)
    }
    root
  }

  /** OPTIMIZE through the connector, hash-gated: the pre- and post-
    * compaction snapshots must agree exactly (content preservation is
    * the whole contract — a compaction that drops, duplicates, or
    * reorders-into-wrong-files hash-fails one spine row); the in-row
    * `files_reduced` flag pins that the rewrite actually shrank the
    * file count, and `prune_intact` pins the round-14 partition
    * discipline: a `bucket = 3` manifest-stats scan touches exactly
    * ONE file after OPTIMIZE — compaction must never erode the skip
    * that is this connector's pruning (all manifest-derived, zero
    * data I/O).
    */
  def logCompact(s: SparkSession, d: String): DataFrame = {
    val root = compactedTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val reduced =
      if (graft.sources.GraftLog.dataFiles(conf, root, 3).size <
        graft.sources.GraftLog.dataFiles(conf, root, 2).size) 1L else 0L
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
    val b3Files = graft.sources.GraftLog.liveAdds(conf, root, 3)
      .count { r =>
        r.stats.flatMap(graft.sources.GraftLogStats.parseStats).forall(
          st => graft.sources.GraftLogStats.mayMatch(schema, st, r.rows,
            org.apache.spark.sql.sources.EqualTo("bucket", 3L)))
      }
    val pruneIntact = if (b3Files == 1) 1L else 0L
    (2 to 3).map { v =>
      readVersion(s, root, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"), lit(reduced).as("files_reduced"),
          lit(pruneIntact).as("prune_intact"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  val logCompactSql: String =
    """SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS total_cents,
      |       CAST(1 AS BIGINT) AS files_reduced,
      |       CAST(1 AS BIGINT) AS prune_intact
      |FROM orders
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), COUNT(*),
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT),
      |       CAST(1 AS BIGINT),
      |       CAST(1 AS BIGINT)
      |FROM orders
      |ORDER BY version""".stripMargin

  /** The MERGE-ON-READ fixture: bucket-partitioned orders log (one
    * append → one file per bucket), then two SPARSE deletes committed
    * as DELETION VECTORS (keys ≡3 mod 64 and ≡11 mod 64 — both land
    * in the bucket=3 file at 1/8 of its rows each, well under the
    * [[graft.sources.GraftLogOps.DvRewriteFraction]] rewrite cutoff),
    * then OPTIMIZE — which must fold the vectors away (the DV'd file
    * compacts even though it is the lone member of its partition
    * group, and the rewrite materializes the mask).
    */
  private[graft] def dvTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftdv")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      graft.sources.GraftLogOps.deleteFromLog(s, root,
        col("o_orderkey") % 64 === 3,
        graft.sources.GraftLogOps.DeleteModeMor) // v2: dv commit
      graft.sources.GraftLogOps.deleteFromLog(s, root,
        col("o_orderkey") % 64 === 11,
        graft.sources.GraftLogOps.DeleteModeMor) // v3: mask union
      graft.sources.GraftLogOps.compactLog(s, root) // v4: folds the dv
    }
    root
  }

  /** Merge-on-read DELETE via deletion vectors, hash-gated end to end:
    * the final (post-OPTIMIZE) snapshot's exact aggregate, the masked
    * v2 snapshot (first dv in effect — time travel applies each
    * version's own mask), the change feed's delete counts for both dv
    * versions (the DELTA positions, not the complete mask — v3 must
    * emit only the newly-deleted rows), and two manifest pins:
    * `dv_live` (v3 carries exactly one masked file) and
    * `dv_after_optimize` (OPTIMIZE purged every vector). A masking bug
    * anywhere — a resurrected row in a rewrite, a delta that re-emits
    * old deletions, a fold that drops the mask — hash-fails.
    */
  def logDv(s: SparkSession, d: String): DataFrame = {
    val root = dvTableDir(s, d)
    val conf = s.sessionState.newHadoopConf()
    val latest = latestVersion(s, root)
    val dvLive = graft.sources.GraftLog.liveState(conf, root, 3)
      .dvs.size.toLong
    val dvAfter = graft.sources.GraftLog.liveState(conf, root, latest)
      .dvs.size.toLong
    val snap = readVersion(s, root, latest)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
    val v2 = readVersion(s, root, 2)
      .agg(sum(cents(col("o_totalprice"))).as("v2_cents"))
    val ct = col(graft.sources.GraftLog.ChangeTypeCol)
    val cv = col(graft.sources.GraftLog.CommitVersionCol)
    val cdc = s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .filter(ct === "delete" && cv.isin(2L, 3L))
      .agg(
        sum(when(cv === 2L, 1L).otherwise(0L)).as("d2_rows"),
        sum(when(cv === 3L, 1L).otherwise(0L)).as("d3_rows"))
    snap.crossJoin(v2).crossJoin(cdc)
      .select(col("n_rows"), col("total_cents"), col("v2_cents"),
        col("d2_rows"), col("d3_rows"),
        lit(dvLive).as("dv_live"),
        lit(dvAfter).as("dv_after_optimize"))
  }

  val logDvSql: String =
    """WITH kept AS (
      |  SELECT o_totalprice FROM orders
      |  WHERE o_orderkey % 64 NOT IN (3, 11)),
      |k2 AS (
      |  SELECT o_totalprice FROM orders WHERE o_orderkey % 64 <> 3)
      |SELECT
      |  (SELECT COUNT(*) FROM kept) AS n_rows,
      |  (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
      |     AS BIGINT)) AS BIGINT) FROM kept) AS total_cents,
      |  (SELECT CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
      |     AS BIGINT)) AS BIGINT) FROM k2) AS v2_cents,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 64 = 3)
      |    AS d2_rows,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 64 = 11)
      |    AS d3_rows,
      |  CAST(1 AS BIGINT) AS dv_live,
      |  CAST(0 AS BIGINT) AS dv_after_optimize""".stripMargin

  /** The DELETE fixture: same bucket-partitioned layout, one row-level
    * delete of the keys ≡3 mod 16 — half of the bucket=3 file's rows,
    * so exactly that file is rewritten without them.
    */
  private[graft] def deletedTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_graftdel")
    SetupOnce(root) {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      graft.sources.GraftLogOps.deleteFromLog(s, root,
        col("o_orderkey") % 16 === 3)
    }
    root
  }

  /** Row-level DELETE, hash-gated the same way as the merge: post-delete
    * snapshot aggregate + the delete version's change-feed counts
    * (delete rows = the whole rewritten file, insert rows = its kept
    * remainder).
    */
  def logDelete(s: SparkSession, d: String): DataFrame = {
    val root = deletedTableDir(s, d)
    val v = latestVersion(s, root)
    val snap = readVersion(s, root, v)
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
    val ct = col(graft.sources.GraftLog.ChangeTypeCol)
    val cdc = s.read.format(graft.sources.GraftLog.Format)
      .option("path", root).option("readChangeFeed", true).load()
      .filter(col(graft.sources.GraftLog.CommitVersionCol) === v)
      .agg(sum(when(ct === "delete", 1L).otherwise(0L)).as("n_deleted"),
        sum(when(ct === "insert", 1L).otherwise(0L)).as("n_inserted"))
    snap.crossJoin(cdc)
  }

  val logDeleteSql: String =
    """WITH agg AS (
      |  SELECT COUNT(*) AS n_rows,
      |         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS total_cents
      |  FROM orders WHERE o_orderkey % 16 <> 3),
      |cdc AS (
      |  SELECT (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 8 = 3) AS n_deleted,
      |         (SELECT COUNT(*) FROM orders
      |          WHERE o_orderkey % 16 = 11) AS n_inserted)
      |SELECT agg.n_rows, agg.total_cents, cdc.n_deleted, cdc.n_inserted
      |FROM agg CROSS JOIN cdc""".stripMargin

  // ---------------------------------------------------------------------
  // q_occ_log — optimistic concurrency: conflict-detected commits
  // ---------------------------------------------------------------------

  /** Lays down (once per JVM) a two-writer race on the log. Writers
    * commit OPTIMISTICALLY through the connector's one commit path: the
    * version number is claimed put-if-absent (`_log/v<N>._claim`), a
    * loser of the claim rebases past a committed winner, and a commit
    * whose remove set a concurrent winner already removed refuses with
    * a write-write conflict ([[graft.sources.GraftLogConflictException]]).
    *   v1: snapshot A (keys ≢0 mod 10, one part-file per [[TxnBuckets]]
    *       bucket);
    *   writer A (base v1): rewrites bucket 0 without the mod-13 keys —
    *     removes its file, adds the rewrite; wins v2;
    *   writer B (base v1, CONCURRENT — staged before A committed): adds
    *     the mod-10 keys as a new file; its claim rebases past A's
    *     committed v2 (disjoint: B removes nothing) and lands v3.
    * The final live set is therefore derivable in pure SQL, which is
    * what lets the DuckDB oracle hash-check a CONCURRENCY protocol.
    */
  private[graft] def occTableDir(s: SparkSession, d: String): String = {
    val root = SetupOnce.runtimeDir(d, "orders_occ")
    SetupOnce(root) {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderkey") % 10 =!= 0)
      val (v1, v1Files) = commitParts(s, root,
        stageParts(s, root, "v1", buckets(a)), o.schema, "append")
      require(v1 == 1)
      // both writers stage against v1 before either commits
      val stagedA = stageParts(s, root, "a", Seq(
        buckets(a).head.filter(col("o_orderkey") % 13 =!= 0)))
      val stagedB = stageParts(s, root, "b",
        Seq(o.filter(col("o_orderkey") % 10 === 0)))
      val (vA, _) = commitParts(s, root, stagedA, o.schema, "overwrite",
        removes = Seq(v1Files.head), base = Some(v1))
      val (vB, _) = commitParts(s, root, stagedB, o.schema, "append",
        base = Some(v1))
      require(vA == 2 && vB == 3, s"race landed at vA=$vA vB=$vB")
    }
    root
  }

  /** The post-race table: priority-grouped counts and exact cents over
    * the live files at the latest version, READ THROUGH the `graftlog`
    * DSv2 connector. A protocol bug anywhere (lost commit,
    * double-applied rebase, a torn version read) changes the row set
    * and hash-fails against the oracle's closed-form derivation of the
    * same live set. Only 2 of the 6 columns survive the scan:
    * GraftLogSourceSpec pins that the pruning reached the connector's
    * parquet projection.
    */
  def occLog(s: SparkSession, d: String): DataFrame = {
    val root = occTableDir(s, d)
    val latest = latestVersion(s, root)
    s.read.format(graft.sources.GraftLog.Format).option("path", root)
      .load()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(RefTransforms.cents(col("o_totalprice"))).as("total_cents"))
      .withColumn("v_latest", lit(latest.toLong))
      .orderBy(col("o_orderpriority"))
  }

  val occLogSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |         AS BIGINT) AS total_cents,
       |       CAST(3 AS BIGINT) AS v_latest
       |FROM orders
       |WHERE (o_orderkey % 10 <> 0
       |       AND NOT (o_orderkey % $TxnBuckets = 0
       |                AND o_orderkey % 13 = 0))
       |   OR o_orderkey % 10 = 0
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
}
