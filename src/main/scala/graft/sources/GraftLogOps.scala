package graft.sources

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, KnownNullable,
  Literal, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-level operations on the transaction log — DELETE, UPDATE and
  * MERGE (the LWW key-match upsert) — plus OPTIMIZE (compaction) and
  * VACUUM, each committed as ONE version through the connector's
  * zero-rename publication. The SQL surface reaches the same code:
  * `DELETE FROM`, `UPDATE` and the keyed-upsert `MERGE INTO` on a
  * `graft.t` table through the [[GraftLogDml]] analysis rule, TRUNCATE
  * through [[GraftLogTable]], `CALL graft.system.optimize(...)` /
  * `vacuum(...)` through the catalog's procedures.
  *
  * DELETE, UPDATE and MERGE share one core, [[rowLevel]]. Each is a
  * small [[RowLevelOp]] — its candidate prune, its match over the
  * masked read of the candidates, the rewrite of a touched file's rows,
  * the rows merge-on-read re-emits, and (MERGE only) its add-conflict
  * guard — and one driver resolves the snapshot and runs one of two
  * write shapes:
  *
  *  1. catalog-level candidate prune from the per-file manifest
  *     statistics: the condition as a data-source filter, or the MERGE
  *     source's key profile tested PER FILE (exact distinct keys when
  *     few, per-range-bucket exact bounds when many), so a CDC batch
  *     whose keys span the domain still prunes to the files that
  *     actually overlap them — zero data I/O. A MERGE source of at most
  *     [[MaxInlineKeys]] rows profiles in ONE job that brings its key
  *     tuples back whole; they then match table rows as a literal set,
  *     with no join;
  *  2. one distributed, shuffle-free scan of the candidates, deletion
  *     vectors applied, whose tasks fold their matches per file — the
  *     driver sees which files matched, bounded by the file count,
  *     never row count;
  *  3. COPY-ON-WRITE rewrites every touched file, reading only those
  *     (shuffles scale with touched data + source, not table size);
  *     MERGE-ON-READ's scan instead brings each file's matched
  *     positions together and writes the sparsely touched files'
  *     deletion vectors right there, rewrites only the densely touched
  *     ones ([[DvRewriteFraction]]) and appends what the operation
  *     re-emits (UPDATE's transformed rows, MERGE's source);
  *  4. one commit — remove + add, plus dv rows — which the change feed
  *     shows as delete + insert, or, for an all-sparse merge-on-read
  *     UPDATE or MERGE, as classified update pre/postimages.
  *
  * Concurrency: every operation here is OPTIMISTIC with bounded
  * auto-retry. The commit revalidates its remove set and masked files
  * (and, for MERGE, concurrently-ADDED files against its source keys —
  * the write-serializable half) under the version claim; a conflict or
  * a pending claim releases everything, the operation re-plans against
  * the NEW snapshot, and retries — so two concurrent merges on
  * disjoint keys both land without caller intervention, the way real
  * table formats behave at streaming-ingest commit rates.
  */
object GraftLogOps {

  /** Bounded optimistic retries before surfacing the conflict. */
  val MaxCommitAttempts = 5

  /** How many distinct source keys are collected exactly for per-file
    * candidate pruning before falling back to range-bucket profiles
    * (matches the In() width [[GraftLogStats.mayMatch]] accepts). A
    * MERGE source of at most this many rows is matched through its key
    * tuples collected on the driver, larger ones through joins.
    */
  val MaxInlineKeys = 1000

  /** Range buckets for large-source key profiles: each bucket carries
    * the EXACT min/max of the source keys that fell in it, so the
    * per-file overlap test stays conservative but domain-spanning
    * sources no longer degenerate to one global interval.
    */
  val RangeBuckets = 256

  /** Re-plan-and-retry loop for optimistic row-level commits: a
    * write-write/read-write conflict means a concurrent writer
    * invalidated this plan — recompute against the new snapshot; a
    * pending claim means a writer is mid-commit — brief backoff, then
    * the claim either committed (rebase) or its documented recovery
    * applies. After [[MaxCommitAttempts]] the conflict surfaces as-is.
    */
  private def withRetry[T](body: () => T): T = {
    var attempt = 1
    var last: IllegalStateException = null
    while (attempt <= MaxCommitAttempts) {
      try return body()
      catch {
        case e: GraftLogConflictException =>
          last = e; attempt += 1
        case e: GraftLogClaimPendingException =>
          last = e; attempt += 1
          Thread.sleep(20L * attempt) // let the in-flight commit finish
      }
    }
    throw last
  }

  private[sources] def normPath(p: String): String =
    new Path(p).toUri.getPath

  /** Per-row sidecar-membership predicate — the mask evaluation of
    * [[maskedParquet]]. Rows arrive file by file, so the mask resolves
    * once per file, not per row: the last file seen and its positions
    * (empty without a sidecar) sit in one immutable pair, which a
    * concurrent caller replaces whole and never sees half-written.
    */
  private def dvMaskUdf(s: SparkSession,
      dvByNormPath: Map[String, String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val cnf = new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf())
    val none = Array.empty[Long]
    var last: (String, Array[Long]) = ("", none)
    udf { (file: String, pos: Long) =>
      val seen = last
      val mask =
        if (seen._1 == file) seen._2
        else {
          val m = dvByNormPath.get(normPath(file))
            .fold(none)(GraftLog.DvSidecarCache.get(cnf.value, _))
          last = (file, m)
          m
        }
      mask.length > 0 && java.util.Arrays.binarySearch(mask, pos) >= 0
    }
  }

  /** The file/position columns [[maskedParquet]] adds to every row. */
  private val FilePos = Seq(col("_g_file"), col("_g_pos"))

  /** Read data files (absolute paths, PHYSICAL schema) with their
    * DELETION VECTORS applied — the one read primitive every rewrite
    * (row-level DML, compaction) must use on a DV'd table: a raw
    * parquet read would RESURRECT masked rows into the rewrite. Rows
    * come back under `schema`'s names (a positional cast, so nested
    * logical names resolve under column mapping), prefixed by their
    * file and row position (`_g_file`, `_g_pos`, the parquet reader's
    * own `_metadata` columns — pruned away when unused).
    * `dvByNormPath` maps canonical file path → absolute sidecar path;
    * files without an entry read mask-free, and when none of `files`
    * has one the read is the plain scan (no UDF). The mask itself is a
    * per-row sorted-array membership test against the executor-cached
    * sidecar — no join, no shuffle. Columns that hold a DECIMAL read
    * through an opaque identity, so no predicate on them reaches
    * parquet's row-group filter ([[GraftLog.readerPushable]]'s rule:
    * after a precision widening a wide literal would truncate against
    * a narrow file and skip row groups that hold matches).
    */
  private[sources] def maskedParquet(s: SparkSession,
      physSchema: StructType, schema: StructType, files: Seq[String],
      dvByNormPath: Map[String, String]): DataFrame = {
    val raw = s.read.schema(physSchema).parquet(files: _*)
      .select(Seq(col("_metadata.file_path").as("_g_file"),
        col("_metadata.row_index").as("_g_pos")) ++
        renamed(physSchema, schema, GraftLog.holdsDecimal): _*)
    val read = files.map(normPath).toSet
    val dvs = dvByNormPath.filter { case (f, _) => read.contains(f) }
    if (dvs.isEmpty) raw
    else {
      val masked = dvMaskUdf(s, dvs)
      raw.filter(!masked(col("_g_file"), col("_g_pos")))
    }
  }

  /** The select list renaming `from`'s columns positionally to
    * `target`'s names, between the logical and physical schema forms
    * at EVERY nesting level: the two differ only in field names, so a
    * struct cast renames nested fields without touching values (a
    * plain `toDF` renames top-level only, which would write a nested
    * rename's files under LOGICAL inner names). Identity-mapped
    * tables hit the no-cast fast path column-for-column. A column
    * whose type is `opaque` is wrapped in `KnownNullable` (every log
    * column is nullable already), which Spark's filter translation does
    * not see through: a predicate on it stays above the scan.
    */
  private def renamed(from: StructType, target: StructType,
      opaque: DataType => Boolean = _ => false): Seq[Column] =
    from.fields.zip(target.fields).map { case (f, t) =>
      val c =
        if (f.dataType == t.dataType) col(f.name)
        else col(f.name).cast(t.dataType)
      (if (!opaque(f.dataType)) c
       else ColumnBridge.column(KnownNullable(ColumnBridge.expression(c))))
        .as(t.name)
    }.toSeq

  /** A merge key column as a double for range bucketing — only types
    * whose order survives the cast (the bucket BOUNDS stay exact
    * per-bucket min/max of the original values, so the cast is pure
    * binning, never truth).
    */
  private def asDoubleExpr(k: String, dt: DataType): Option[Column] =
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | _: DecimalType =>
        Some(col(k).cast("double"))
      case DateType      => Some(unix_date(col(k)).cast("double"))
      case TimestampType => Some(unix_micros(col(k)).cast("double"))
      case _             => None
    }

  /** The source's key profile for ONE merge key, as a data-source
    * Filter the per-file stats skip evaluates: the exact distinct
    * values when ≤ [[MaxInlineKeys]] (an In — per-file pruning is then
    * exact); otherwise ≤ [[RangeBuckets]] range buckets each carrying
    * the exact min/max of the source keys inside it (orderable types),
    * or the single global [min, max] as the last resort. None = the
    * source has NO non-null value for this key — an equi-match is
    * impossible, so no file is a candidate. All work here reads the
    * (cached) SOURCE only — zero table data I/O.
    */
  private[sources] def sourceKeyFilter(src: DataFrame, k: String,
      dt: DataType): Option[Filter] = {
    val nonNull = src.filter(col(k).isNotNull)
    val vals = nonNull.select(col(k)).distinct()
      .limit(MaxInlineKeys + 1).collect().map(_.get(0))
    if (vals.isEmpty) return None
    if (vals.length <= MaxInlineKeys)
      return Some(In(k, vals.asInstanceOf[Array[Any]]))
    asDoubleExpr(k, dt) match {
      case Some(kd) =>
        val d = nonNull.select(col(k).as("kv"), kd.as("kd"))
        val g = d.agg(min(col("kd")), max(col("kd"))).head()
        val lo = g.getDouble(0); val hi = g.getDouble(1)
        val width =
          math.max((hi - lo) / RangeBuckets, java.lang.Double.MIN_VALUE)
        val buckets = d.groupBy(
            least(floor((col("kd") - lit(lo)) / lit(width)),
              lit(RangeBuckets - 1)).as("b"))
          .agg(min(col("kv")).as("blo"), max(col("kv")).as("bhi"))
          .collect()
        Some(buckets.map(r => And(GreaterThanOrEqual(k, r.get(1)),
            LessThanOrEqual(k, r.get(2))): Filter)
          .reduce(Or(_, _)))
      case None => // unorderable-for-binning: global bounds
        val g = nonNull.agg(min(col(k)), max(col(k))).head()
        Some(And(GreaterThanOrEqual(k, g.get(0)),
          LessThanOrEqual(k, g.get(1))))
    }
  }

  /** Per-key source profiles for all merge keys; None = some key is
    * all-null in the source, so NO source row can equi-match any table
    * row (pure-insert merge: zero candidate files, and concurrent adds
    * can never conflict).
    */
  private[graft] def sourceKeysFilters(src: DataFrame,
      schema: StructType, keys: Seq[String]): Option[Seq[Filter]] = {
    val fs = keys.map(k => sourceKeyFilter(src, k, schema(k).dataType))
    if (fs.exists(_.isEmpty)) None else Some(fs.flatten)
  }

  /** A merge source's key tuples, one per source row, when it has at
    * most [[MaxInlineKeys]] rows; None when it has more. One job: each
    * partition returns at most `MaxInlineKeys + 1` tuples. Float keys
    * are normalized (one zero, one NaN), so the tuples compare as
    * `distinct` compares them: the source's count, key uniqueness and
    * exact key set are then driver arithmetic.
    */
  private def inlineKeys(src: DataFrame, keys: Seq[String])
      : Option[Array[InternalRow]] = {
    val keyed = src.select(keys.map(col): _*)
    val qe = keyed.select(keyed.queryExecution.analyzed.output.map(a =>
      ColumnBridge.column(Alias(ColumnBridge.normalizeFloats(a),
        a.name)())): _*).queryExecution
    val n = MaxInlineKeys + 1
    val got = mutable.ArrayBuffer[InternalRow]()
    SQLExecution.withNewExecutionId(qe, Some("graftlog merge keys")) {
      val schema = qe.analyzed.schema
      val firstN = qe.toRdd.mapPartitions { rows =>
        val unsafe = UnsafeProjection.create(schema)
        rows.take(n).map(r => unsafe(r).copy(): InternalRow)
      }
      src.sparkSession.sparkContext.runJob(firstN,
        (rows: Iterator[InternalRow]) => rows.toArray,
        (_: Int, part: Array[InternalRow]) =>
          got ++= part.take(n - got.length))
    }
    if (got.length > MaxInlineKeys) None else Some(got.toArray)
  }

  /** The per-key data-source filters of a source whose key tuples came
    * back whole: each key's distinct non-null values as an `In` (what
    * [[sourceKeysFilters]] computes with jobs); None when some key is
    * NULL in every tuple.
    */
  private def inlineKeyFilters(keys: Seq[String], schema: StructType,
      tuples: Array[InternalRow]): Option[Seq[Filter]] = {
    val fs = keys.zipWithIndex.map { case (k, i) =>
      val dt = schema(k).dataType
      val vals = tuples.iterator.filterNot(_.isNullAt(i))
        .map(t => CatalystTypeConverters.convertToScala(t.get(i, dt), dt))
        .toArray.distinct
      if (vals.isEmpty) None else Some(In(k, vals))
    }
    if (fs.exists(_.isEmpty)) None else Some(fs.flatten)
  }

  /** Is a row's key one of `tuples`? A literal `isin` — of a `struct`
    * of the keys when there are several — over the tuples that have no
    * NULL part, since those alone can equi-match. NULL for a row whose
    * single key is NULL.
    */
  private def keyIn(keys: Seq[String], schema: StructType,
      tuples: Seq[InternalRow]): Column = {
    val types = keys.map(schema(_).dataType)
    val whole = tuples.filter(t => types.indices.forall(!t.isNullAt(_)))
    if (whole.isEmpty) lit(false)
    else if (keys.size == 1)
      col(keys.head).isin(whole.map(t =>
        ColumnBridge.column(Literal(t.get(0, types.head), types.head))): _*)
    else {
      val st = StructType(keys.zip(types).map { case (k, t) =>
        StructField(k, t) })
      struct(keys.map(col): _*).isin(whole.map(t =>
        ColumnBridge.column(Literal(t, st))): _*)
    }
  }

  /** Semi and anti match of rows against a set of merge-key tuples: the
    * literal set of [[keyIn]], or a frame of keys joined.
    */
  private def keyMatch(keys: Seq[String], schema: StructType,
      set: Either[Seq[InternalRow], DataFrame])
      : (DataFrame => DataFrame, DataFrame => DataFrame) = set match {
    case Left(tuples) =>
      val hit = keyIn(keys, schema, tuples)
      (_.filter(hit), _.filter(!coalesce(hit, lit(false))))
    case Right(frame) =>
      (_.join(frame, keys, "left_semi"), _.join(frame, keys, "left_anti"))
  }

  /** The DELETE condition as a (physical-named) data-source Filter for
    * the manifest-stats candidate prune — the same translation the
    * planner uses for pushdown, so a selective delete's touch scan
    * reads only the files whose statistics admit a match instead of
    * every live file. None = untranslatable shape (arithmetic
    * predicates, UDFs): every file stays a candidate, correctness
    * unchanged — the prune is a pure I/O saver.
    */
  private[sources] def condFilter(s: SparkSession, schema: StructType,
      cond: Column, meta: GraftLog.TableMeta): Option[Filter] =
    try {
      // the Column arrives UNRESOLVED (a bare ColumnNode tree) — run it
      // through analysis against an empty relation of the table's
      // logical schema so the translator sees the same resolved
      // catalyst shapes the planner would
      val df = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
      val analyzed = df.filter(cond).queryExecution.analyzed
      analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.flatMap(org.apache.spark.sql.graft.FilterBridge.translate)
        .map { f =>
          // logical → physical per attribute, nested paths included
          // (physicalPath resolves every segment through the mapping,
          // so a leaf under a renamed struct translates too)
          val byRef = f.references
            .map(r => r -> meta.physicalPath(r)).toMap
          GraftLog.renameFilter(f, byRef)
        }
    } catch { case NonFatal(_) => None }

  /** Candidate files for a condition: manifest-stats skip when the
    * condition translates; everything otherwise.
    */
  private[sources] def pruneByCond(s: SparkSession,
      entries: Seq[(String, GraftLogStats.FileEntry)],
      schema: StructType, physSchema: StructType, cond: Column,
      meta: GraftLog.TableMeta)
      : Seq[(String, GraftLogStats.FileEntry)] =
    condFilter(s, schema, cond, meta) match {
      case None => entries
      case Some(f) => entries.filter { case (_, fe) =>
        fe.stats match {
          case Some(st) => GraftLogStats.mayMatch(physSchema, st,
            fe.rows, f)
          case None => true
        }
      }
    }

  /** May this file hold rows matching the source keys? Per-key
    * conjunctive test against the file's manifest statistics —
    * stats-less entries conservatively may.
    */
  private def mayHoldKeys(schema: StructType,
      keyFilters: Option[Seq[Filter]],
      stats: Option[GraftLogStats.ColStats], rows: Option[Long])
      : Boolean =
    keyFilters match {
      case None => false
      case Some(fs) => stats match {
        case Some(st) =>
          fs.forall(f => GraftLogStats.mayMatch(schema, st, rows, f))
        case None => true
      }
    }

  /** The candidate files a merge with these keys could touch — each
    * file's own manifest interval tested against the source's key
    * profile. Exposed for GraftLogMergeSpec: a 2-key source spanning
    * the key domain must prune to exactly the 2 files holding those
    * keys, not everything between them.
    */
  private[graft] def pruneCandidates(schema: StructType,
      entries: Seq[(String, GraftLogStats.FileEntry)], src: DataFrame,
      keys: Seq[String]): Seq[(String, GraftLogStats.FileEntry)] = {
    val keyFilters = sourceKeysFilters(src, schema, keys)
    entries.filter { case (_, fe) =>
      mayHoldKeys(schema, keyFilters, fe.stats, fe.rows) }
  }

  /** Write-shape names for DELETE, UPDATE and MERGE: copy-on-write
    * rewrites every touched file without (or with transformed) matched
    * rows — best when matches are dense, the rewrite was going to touch
    * most bytes anyway; merge-on-read commits DELETION VECTORS instead
    * — best for SCATTERED matches: a 1-row delete at 100 TB becomes a
    * KB sidecar + one manifest row, not a full file rewrite. The SQL
    * front door (`DELETE FROM graft.t WHERE ...`) picks via the
    * session conf `spark.graft.log.delete.mode`.
    */
  val DeleteModeCow = "copy-on-write"
  val DeleteModeMor = "merge-on-read"
  val DeleteModeConf = "spark.graft.log.delete.mode"

  /** Per-file density cutoff for merge-on-read: a file losing at least
    * this fraction of its rows is REWRITTEN instead of masked — the
    * read-side masking tax (row index + per-row membership) isn't
    * worth it when most of the file is dead, and the rewrite was
    * going to read every surviving byte anyway. The same commit may
    * mix both shapes: dv rows for sparse files, remove+add for dense.
    */
  val DvRewriteFraction = 0.5

  /** MERGE INTO the log — the LWW key-match upsert as a ROW-LEVEL
    * table-format operation: every table row whose key appears in
    * `source` is replaced by the source row, every unmatched source row
    * inserts, and ONLY the files that actually contain a matched key
    * are rewritten (copy-on-write).
    *
    * Contract: `source` columns must match the table schema (the append
    * contract), source keys must be unique (one LWW winner per key —
    * checked), and the log must be connector-written (per-file
    * statistics). A no-op merge (empty source) commits nothing.
    * WRITE-SERIALIZABLE under concurrency: the commit refuses (and the
    * bounded retry re-plans) when a concurrent commit removed a
    * planned file OR added files whose statistics may hold the merge
    * keys — so the one-winner-per-key invariant survives concurrent
    * appends, not just concurrent rewrites. Returns the committed (or
    * current, if no-op) version.
    */
  def mergeIntoLog(s: SparkSession, root: String,
      source: DataFrame, keys: Seq[String]): Int =
    mergeIntoLog(s, root, source, keys, DeleteModeCow)

  /** [[mergeIntoLog]] with an explicit write shape: copy-on-write
    * (default — every file containing a matched key is rewritten
    * without those rows, source unioned in) or MERGE-ON-READ (the
    * matched rows are MASKED via deletion vectors and the source
    * appends as new files — write amplification ∝ source size +
    * matched positions, never the unmatched bulk of touched files;
    * the dominant cost of streaming-CDC merges at 100 TB, where a
    * 1k-row batch touching 1k files rewrites gigabytes under CoW and
    * kilobytes under MoR). Densely-matched files (≥
    * [[DvRewriteFraction]]) still rewrite; the change feed CLASSIFIES
    * the version Delta-style — masked old versions as
    * `update_preimage`, their transformed re-appends as
    * `update_postimage`, genuinely-new keys as `insert`; OPTIMIZE
    * folds the masks exactly as for MoR deletes. Same contract,
    * conflict guards and LWW semantics either way.
    */
  def mergeIntoLog(s: SparkSession, root: String,
      source: DataFrame, keys: Seq[String], mode: String): Int =
    mergeIntoLog(s, root, source, keys, mode, oneRowPerKey = false)

  /** [[mergeIntoLog]] that refuses, with `oneRowPerKey`, when a source
    * key matches more than one table row: SQL MERGE replaces each such
    * row, while this merge keeps one. The match pass then brings the
    * matched key tuples to the driver, at most one per source row.
    */
  private[sources] def mergeIntoLog(s: SparkSession, root: String,
      source: DataFrame, keys: Seq[String], mode: String,
      oneRowPerKey: Boolean): Int = {
    checkMode("merge", mode)
    val src = source.cache()
    try {
      // the source's profile, taken once across retries: a small
      // source's key tuples come back whole in one job, so its count,
      // uniqueness and key set need no further job
      lazy val inline = inlineKeys(src, keys)
      lazy val srcCount = inline.fold(src.count())(_.length.toLong)
      rowLevel(s, root, mode) { snap =>
        val schema = snap.schema
        require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
          s"merge keys ${keys.mkString(", ")} not all in " +
            s"[${schema.toDDL}]")
        val incoming = GraftLog.asNullable(source.schema)
          .fields.map(f => (f.name, f.dataType)).toSeq
        val table = schema.fields.map(f => (f.name, f.dataType)).toSeq
        require(incoming == table,
          s"merge source schema [${source.schema.toDDL}] must match " +
            s"the table schema [${schema.toDDL}] (names and types, in " +
            "order)")
        if (srcCount == 0) None // no-op: nothing matched or inserted
        else {
          val srcKeys = src.select(keys.map(col): _*)
          require(inline.fold(srcKeys.distinct().count() == srcCount)(
              ts => ts.toSet.size == ts.length),
            "merge source keys must be unique (one LWW winner per key)")
          // the source's key profile (exact keys or per-bucket bounds),
          // under the PHYSICAL names the manifest statistics speak
          val keyFilters = inline
            .fold(sourceKeysFilters(src, schema, keys))(
              inlineKeyFilters(keys, schema, _))
            .map(_.map(f => GraftLog.renameFilter(f, snap.meta.colMap)))
          def mayHold(st: Option[GraftLogStats.ColStats],
              rows: Option[Long]): Boolean =
            mayHoldKeys(snap.physSchema, keyFilters, st, rows)
          // table rows meet the source keys as a literal set when they
          // came back whole, through joins otherwise
          val (matches, misses) = keyMatch(keys, schema,
            inline.map(_.toSeq).toLeft(srcKeys))
          val srcRows = src.select(snap.cols: _*)
          Some(RowLevelOp("merge",
            candidates = snap.entries.filter { case (_, fe) =>
              mayHold(fe.stats, fe.rows) },
            matching = matches(_).select(FilePos ++ keys.map(col): _*),
            rewrite = misses(_).unionByName(srcRows),
            source = Some(srcRows),
            hitKeys = if (inline.isDefined || oneRowPerKey) keys else Nil,
            oneRowPerHit = oneRowPerKey,
            // an all-sparse commit splits the source by match, so the
            // feed tags updates' new versions as postimages and
            // genuinely-new keys as inserts (the matched tuples came
            // back from the match pass, or fold off a re-read of the
            // matches); otherwise the source rides in the dense rewrite
            reemit = m =>
              if (!m.classify) Nil
              else m.sparse.map(rows => keyMatch(keys, schema,
                  if (inline.isDefined) Left(m.hits)
                  else Right(rows.select(keys.map(col): _*).distinct())))
                match {
                  case None => Seq(("srci", srcRows, None))
                  case Some((hit, miss)) =>
                    Seq(("srcu", hit(srcRows), Some("update_postimage")),
                      ("srci", miss(srcRows), None))
                },
            // adds committed after the read whose stats may hold our
            // keys refuse → the retry re-plans with those files included
            addConflict = Some((snap.latest,
              (r: GraftLog.ManifestRow) => !r.rows.contains(0L) &&
                mayHold(r.stats.flatMap(GraftLogStats.parseStats),
                  r.rows)))))
        }
      }
    } finally src.unpersist()
  }

  /** Row-level DELETE on the log, copy-on-write — see the four-argument
    * form.
    */
  def deleteFromLog(s: SparkSession, root: String, cond: Column): Int =
    deleteFromLog(s, root, cond, DeleteModeCow)

  /** Row-level DELETE on the log: rewrite or mask ONLY the files
    * containing rows matching `cond` (SQL DELETE semantics — a NULL
    * condition keeps the row), committed as one version. Touch
    * detection is one distributed filtered scan collecting per-file
    * match counts (parquet row-group pruning applies, so a selective
    * condition over a clustered table reads little); `mode` picks the
    * write shape per [[DeleteModeCow]]/[[DeleteModeMor]]. A delete
    * matching nothing commits nothing; a lost race re-plans and
    * retries (concurrent APPENDS need no check: delete-then-append is
    * a valid serial order, so appended rows correctly survive).
    * Returns the committed (or current) version.
    */
  def deleteFromLog(s: SparkSession, root: String, cond: Column,
      mode: String): Int = {
    checkMode("delete", mode)
    rowLevel(s, root, mode) { snap =>
      Some(RowLevelOp("delete", snap.pruneBy(cond),
        matching = _.filter(cond).select(FilePos: _*),
        rewrite = _.filter(!coalesce(cond, lit(false)))))
    }
  }

  /** Row-level UPDATE on the log: every row matching `cond` gets the
    * `assignments` applied (each value expression may reference the
    * row's own columns; SQL semantics — a NULL condition leaves the
    * row untouched), committed as one version. SQL
    * `UPDATE graft.t SET ...` runs it copy-on-write; it has the same
    * write-shape choice as DELETE/MERGE: copy-on-write rewrites
    * every touched file; merge-on-read MASKS the matched old versions
    * via deletion vectors and appends the transformed rows — write
    * amplification ∝ matched rows, the scattered-update shape. Returns
    * the committed (or current) version.
    */
  def updateLog(s: SparkSession, root: String, cond: Column,
      assignments: Map[String, Column],
      mode: String = DeleteModeCow): Int = {
    require(assignments.nonEmpty, "graftlog update: no assignments")
    checkMode("update", mode)
    rowLevel(s, root, mode) { snap =>
      val missing =
        assignments.keys.filterNot(snap.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"graftlog update: assignment column(s) " +
          s"${missing.mkString(", ")} not in the table schema " +
          s"[${snap.schema.toDDL}]")
      // every column of the table: `value(name, assigned)` for the
      // assigned ones (cast to the column's type), pass-through else
      def assign(value: (String, Column) => Column): Seq[Column] =
        snap.schema.fields.toSeq.map { f =>
          assignments.get(f.name).fold(col(f.name))(v =>
            value(f.name, v.cast(f.dataType)).as(f.name))
        }
      val hit = coalesce(cond, lit(false))
      Some(RowLevelOp("update", snap.pruneBy(cond),
        matching = _.filter(cond),
        // matched rows transform, unmatched pass through — one
        // conditional projection over exactly the touched files
        rewrite = _.select(
          assign((c, v) => when(hit, v).otherwise(col(c))): _*),
        // matched rows re-enter transformed as new files — classified
        // as postimages (their masked old versions the preimages) when
        // the commit classifies at all
        reemit = m => m.sparse.toSeq.map(rows =>
          ("upd", rows.select(assign((_, v) => v): _*),
            if (m.classify) Some("update_postimage") else None))))
    }
  }

  private def checkMode(what: String, mode: String): Unit =
    if (mode != DeleteModeCow && mode != DeleteModeMor)
      throw new IllegalArgumentException(
        s"graftlog $what: unknown mode '$mode' — use $DeleteModeCow " +
          s"or $DeleteModeMor")

  /** The latest committed snapshot as a row-level operation reads it:
    * version, metadata, logical and physical schema, and — resolved on
    * first use, so a no-op never walks them — the deletion vectors,
    * the stats-bearing live files and the partition layout. Column
    * mapping: files and statistics speak PHYSICAL names, the table and
    * its callers logical ones; [[readWithPos]] renames positionally
    * (identity everywhere on unmapped tables).
    */
  private final class Snapshot(s: SparkSession, val root: String) {
    val conf: Configuration = s.sessionState.newHadoopConf()
    val latest: Int = GraftLog.latestVersion(conf, root)
    require(latest >= 1, s"no committed versions under $root")
    val meta: GraftLog.TableMeta = GraftLog.tableMeta(conf, root, latest)
    val schema: StructType =
      meta.schema.getOrElse(GraftLog.inferSchema(conf, root, latest))
    val physSchema: StructType = meta.physicalSchema(schema)
    lazy val dvs: Map[String, GraftLog.DvDescriptor] =
      GraftLog.liveState(conf, root, latest).dvs
    /** Absolute-sidecar map of the deletion vectors, keyed on canonical
      * file paths — what [[maskedParquet]] consumes.
      */
    lazy val dvMap: Map[String, String] = dvs.map { case (f, d) =>
      normPath(s"$root/$f") -> s"$root/${d.dv}" }
    /** The live files as [[GraftLogStats.FileEntry]]s keyed by their
      * manifest-relative path: per-file statistics make "which files
      * could hold these keys" a catalog read (a file without column
      * statistics is always a candidate), and per-file manifest rows
      * make "remove exactly these files" representable. Empty files
      * are skipped (nothing to match).
      */
    lazy val entries: Seq[(String, GraftLogStats.FileEntry)] =
      GraftLog.liveAdds(conf, root, latest)
        .filter(!_.rows.contains(0L))
        .map(r => (r.file, GraftLog.fileEntry(root, r)))
    /** Inferred from the FULL live set, never a pruned subset — a
      * biased subset could claim a layout the table doesn't uniformly
      * have.
      */
    lazy val layout: Seq[String] =
      layoutPartCols(conf, root, latest, entries.map(_._1), meta)
    def cols: Seq[Column] = schema.fieldNames.map(col).toSeq

    def pruneBy(cond: Column): Seq[(String, GraftLogStats.FileEntry)] =
      pruneByCond(s, entries, schema, physSchema, cond, meta)

    /** The masked logical rows of `rels`, with `_g_file`/`_g_pos`. */
    def readWithPos(rels: Seq[String]): DataFrame =
      maskedParquet(s, physSchema, schema, rels.map(r => s"$root/$r"),
        dvMap)

    def read(rels: Seq[String]): DataFrame =
      readWithPos(rels).select(cols: _*)
  }

  /** One row-level operation as [[rowLevel]] runs it.
    *
    * @param candidates the live files whose statistics admit a match
    * @param matching   the masked read of the candidates (`_g_file`,
    *                   `_g_pos`, logical columns) → its matched rows,
    *                   keeping `_g_file`/`_g_pos` and whatever
    *                   `reemit` reads
    * @param rewrite    a touched file's logical rows → the rows that
    *                   replace them
    * @param source     rows committed even when nothing matches
    * @param hitKeys    columns whose distinct matched tuples the
    *                   merge-on-read match pass brings to the driver —
    *                   set only where the caller bounds them (MERGE, by
    *                   its source's row count)
    * @param oneRowPerHit refuse when a matched tuple of `hitKeys` is
    *                   more than one table row (either match pass then
    *                   brings the tuples to the driver)
    * @param reemit     merge-on-read: what the match pass found → the
    *                   rows appended as new files, each as (staging
    *                   subdirectory, rows, change-feed class)
    * @param addConflict the commit's guard against concurrently added
    *                   files (version read, refusing predicate)
    */
  private final case class RowLevelOp(
      name: String,
      candidates: Seq[(String, GraftLogStats.FileEntry)],
      matching: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame,
      source: Option[DataFrame] = None,
      hitKeys: Seq[String] = Nil,
      oneRowPerHit: Boolean = false,
      reemit: Matches => Seq[(String, DataFrame, Option[String])] =
        _ => Nil,
      addConflict: Option[(Int, GraftLog.ManifestRow => Boolean)] = None)

  /** What merge-on-read's match pass found, as a re-emit reads it.
    *
    * @param sparse   the matched rows of the sparsely touched files, a
    *                 re-read of the snapshot (None when no file is
    *                 sparse)
    * @param classify whether the commit classifies its change feed
    * @param hits     the distinct matched tuples of the op's `hitKeys`
    */
  private final case class Matches(sparse: Option[DataFrame],
      classify: Boolean, hits: Seq[InternalRow])

  /** The one row-level driver: inside the optimistic retry, resolve the
    * latest snapshot, let `plan` build the operation against it (None =
    * no-op), and run it in the requested write shape. Merge-on-read
    * with no candidate file has nothing to mask, so it takes the
    * copy-on-write body (which then only commits the source, if any).
    */
  private def rowLevel(s: SparkSession, root: String, mode: String)(
      plan: Snapshot => Option[RowLevelOp]): Int =
    withRetry { () =>
      val snap = new Snapshot(s, root)
      plan(snap) match {
        case None => snap.latest
        case Some(op) if mode == DeleteModeMor && op.candidates.nonEmpty =>
          mergeOnRead(snap, op)
        case Some(op) => copyOnWrite(snap, op)
      }
    }

  /** One task's matches in one file: the file as read, how many rows
    * matched, the matched positions (when asked for) and the distinct
    * matched key tuples (when asked for).
    */
  private final case class FileMatch(file: String, rows: Long,
      pos: Array[Long], keys: Array[InternalRow])

  private final class FileAcc {
    var rows = 0L
    val pos = mutable.ArrayBuilder.make[Long]
    val keys = mutable.HashSet[InternalRow]()
  }

  /** [[RowLevelOp.oneRowPerHit]]'s check over the whole match: `rows`
    * matched rows against their `tuples`, each set the distinct tuples
    * of one part of the match.
    */
  private def checkOneRowPerHit(op: RowLevelOp, rows: Long,
      tuples: Iterator[Array[InternalRow]]): Unit =
    if (op.oneRowPerHit && rows > tuples.flatMap(_.iterator).toSet.size)
      throw new IllegalStateException(s"graftlog ${op.name}: the table " +
        s"holds a value of (${op.hitKeys.mkString(", ")}) matched by the " +
        "source in more than one row — SQL MERGE would replace each of " +
        "them, the upsert keeps one; refusing")

  /** Run `job` over the matched rows folded per (task, file) inside the
    * scan's own tasks — no shuffle: a task emits one [[FileMatch]] per
    * file it read a match from. Rows arrive file by file, so the file
    * column is compared, not re-hashed, per row.
    */
  private def foldMatches[T](matched: DataFrame, positions: Boolean,
      keys: Seq[String])(job: RDD[FileMatch] => T): T = {
    val qe = matched.select(FilePos ++
      (if (keys.isEmpty) Nil else Seq(struct(keys.map(col): _*))): _*)
      .queryExecution
    val nk = keys.size
    SQLExecution.withNewExecutionId(qe, Some("graftlog match")) {
      val schema = qe.analyzed.schema
      job(qe.toRdd.mapPartitions { rows =>
        val unsafe = UnsafeProjection.create(schema)
        val byFile = mutable.LinkedHashMap[String, FileAcc]()
        var file: UTF8String = null
        var acc: FileAcc = null
        rows.foreach { r =>
          val f = r.getUTF8String(0)
          if (f != file) {
            file = f.clone()
            acc = byFile.getOrElseUpdate(file.toString, new FileAcc)
          }
          acc.rows += 1
          if (positions) acc.pos += r.getLong(1)
          if (nk > 0) acc.keys += unsafe(r).getStruct(2, nk).copy()
        }
        byFile.iterator.map { case (f, a) =>
          FileMatch(f, a.rows, a.pos.result(), a.keys.toArray) }
      })
    }
  }

  /** The candidates holding a `matched` row (manifest-relative, in
    * candidate order) — one shuffle-free job, and one row per (task,
    * touched file) reaches the driver, never row data. Files resolve
    * against the candidates by canonical path (scheme/authority
    * rendering differs across filesystems).
    */
  private def touchedFiles(snap: Snapshot, op: RowLevelOp,
      matched: DataFrame): Seq[String] = {
    val found = foldMatches(matched, positions = false,
        if (op.oneRowPerHit) op.hitKeys else Nil)(
      _.map(m => m.copy(file = normPath(m.file))).collect())
    checkOneRowPerHit(op, found.map(_.rows).sum, found.iterator.map(_.keys))
    val hit = found.map(_.file).toSet
    op.candidates.map(_._1).filter(rel =>
      hit.contains(normPath(s"${snap.root}/$rel")))
  }

  /** Copy-on-write: find the touched files, rewrite them whole, and
    * commit remove(touched) + add(rewrite) — or, when nothing is
    * touched, the operation's source alone (nothing at all for DELETE
    * and UPDATE).
    */
  private def copyOnWrite(snap: Snapshot, op: RowLevelOp): Int = {
    val touched =
      if (op.candidates.isEmpty) Nil
      else touchedFiles(snap, op, snap.readWithPos(op.candidates.map(_._1))
        .transform(op.matching))
    val rows =
      if (touched.isEmpty) op.source
      else Some(op.rewrite(snap.read(touched)))
    rows.fold(snap.latest)(df =>
      stageAndCommit(snap, op) { staging =>
        Some(Staged(stageFiles(snap, df, staging, "rewrite"),
          removes = touched)) })
  }

  /** Merge-on-read: write amplification proportional to MATCHED rows,
    * not touched FILES. The scale shape:
    *
    *  1. ONE match pass ([[maskMatches]]) over the candidate files reads
    *     the matched rows with their (file, row position) via the
    *     parquet reader's own `_metadata.row_index`, brings each file's
    *     positions together, and per file decides dense (at least
    *     [[DvRewriteFraction]] of its rows: rewritten copy-on-write) or
    *     sparse, whose sidecar pair (prior mask ∪ matches, matches \
    *     prior) it writes right there, under the operation's
    *     write-scoped directory — the same zero-rename publication data
    *     files use: nothing references the sidecars until the manifest
    *     row does. Prior masks apply at the read, so an already-deleted
    *     row never re-matches (a re-emitted copy would resurrect it) and
    *     the density decision counts LIVE rows;
    *  2. the operation's re-emitted rows (UPDATE's transformed matches,
    *     re-read from the sparse files; MERGE's source, split by the
    *     matched keys) and the dense files' rewrite stage beside them;
    *  3. ONE commit: `dv` rows for sparse files, remove+add for dense
    *     ones, adds for the re-emitted rows, guarded by liveness AND
    *     dv-conflict revalidation (a concurrent re-mask of the same
    *     file refuses — complete-mask replacement semantics would
    *     otherwise lose its deletions).
    *
    * The change feed emits the delta positions as delete rows — or, when
    * the commit CLASSIFIES, as update preimages beside the postimages
    * the operation re-emits. It classifies only when the whole matched
    * set is sparse: a densely matched file rewrites copy-on-write,
    * whose removes surface as plain deletes, and tagging postimages
    * beside them would leave preimage/postimage counts inconsistent, so
    * mixed commits fall back to the plain delete/insert feed wholesale.
    * Time travel before the commit reads the file unmasked; OPTIMIZE
    * folds the vectors away (the DV'd file compacts, its mask dies
    * with the remove). The scan masks inside Spark's vectorized reader
    * (a row selection over each batch), so OPTIMIZE's fold is a
    * compaction decision, not a read rescue.
    */
  private def mergeOnRead(snap: Snapshot, op: RowLevelOp): Int =
    stageAndCommit(snap, op) { staging =>
      val (touched, hits) = maskMatches(snap, op, s"$staging/dv")
      if (touched.isEmpty && op.source.isEmpty) None
      else {
        val (dense, sparse) = touched.partition(_._2.isEmpty)
        val classify = dense.isEmpty
        // a dense file's matched rows ride in its rewrite; only the
        // sparse files' are re-emitted
        val reemitted = op.reemit(Matches(
          if (sparse.isEmpty) None
          else Some(snap.readWithPos(sparse.map(_._1))
            .transform(op.matching)),
          classify, hits))
        val cdcClass =
          if (classify && reemitted.nonEmpty) Some("update_preimage")
          else None
        val dvRows = sparse.map { case (rel, dv) =>
          GraftLog.ManifestRow("dv", rel, stats = Some(GraftLog.encodeDv(
            dv.get.copy(cdcClass = cdcClass))))
        }
        val adds = reemitted.flatMap { case (sub, df, cdc) =>
            stageFiles(snap, df, staging, sub, cdc) } ++
          (if (dense.isEmpty) Nil
           else stageFiles(snap, op.rewrite(snap.read(dense.map(_._1))),
             staging, "dense"))
        Some(Staged(adds, removes = dense.map(_._1), dvRows = dvRows,
          dvFiles = sparse.map(_._1)))
      }
    }

  /** Merge-on-read's match pass, ONE job: the candidates' matched
    * positions fold per file inside the scan's tasks, one shuffle
    * brings each file's folds together, and there the file's count
    * decides dense or sparse ([[DvRewriteFraction]] of its manifest
    * rows) and a sparse file's sidecar pair — complete mask (prior ∪
    * matches) and this commit's delta — is written by the EXECUTOR
    * under `dvBase`. Positions never reach the driver; per touched file
    * comes back (manifest-relative path, descriptor of the sidecars,
    * written for sparse files only — root-relative paths, no
    * change-feed class yet), in candidate order, plus the distinct
    * matched tuples of the op's `hitKeys`. The matches come from the
    * masked read, so their positions are live at the snapshot — disjoint
    * from each file's prior mask.
    */
  private def maskMatches(snap: Snapshot, op: RowLevelOp, dvBase: String)
      : (Seq[(String, Option[GraftLog.DvDescriptor])], Seq[InternalRow]) = {
    val root = snap.root
    val fs = new Path(root).getFileSystem(snap.conf)
    val cnf = new org.apache.spark.util.SerializableConfiguration(snap.conf)
    val rowsByNorm = op.candidates.map { case (rel, fe) =>
      normPath(s"$root/$rel") -> fe.rows.get }.toMap
    val priorByNorm = op.candidates.flatMap { case (rel, _) =>
      snap.dvs.get(rel).map(d => normPath(s"$root/$rel") -> s"$root/${d.dv}")
    }.toMap
    val touched = foldMatches(snap.readWithPos(op.candidates.map(_._1))
        .transform(op.matching), positions = true, op.hitKeys) {
      _.map(m => (normPath(m.file), m)).groupByKey().map {
        case (fnorm, parts) =>
          val delta = parts.iterator.flatMap(_.pos.iterator).toArray
          java.util.Arrays.sort(delta)
          val keys = parts.iterator.flatMap(_.keys.iterator).toSet.toArray
          val n = delta.length.toLong
          val dv =
            if (n >= (rowsByNorm(fnorm) * DvRewriteFraction).ceil.toLong)
              None // dense: rewritten, no sidecar
            else {
              val complete = priorByNorm.get(fnorm)
                .map(p => GraftLog.DvSidecarCache.get(cnf.value, p))
                .getOrElse(Array.empty[Long]) ++ delta
              java.util.Arrays.sort(complete)
              val tag = java.security.MessageDigest.getInstance("SHA-1")
                .digest(fnorm.getBytes("UTF-8"))
                .take(8).map("%02x".format(_)).mkString
              // ATTEMPT-unique names: a retried or speculative task must
              // never collide with a dead twin's put-if-absent create —
              // only the winning attempt's descriptors reach the driver
              // (Spark task-commit semantics), so loser files are simply
              // never referenced (and die with the staging dir on abort)
              val attempt = Option(TaskContext.get())
                .map(_.taskAttemptId().toString).getOrElse("0")
              val dvPath = s"$dvBase/$tag-a$attempt.dv"
              val deltaPath = s"$dvBase/$tag-a$attempt.delta.dv"
              GraftLog.writeDv(cnf.value, new Path(dvPath), complete)
              GraftLog.writeDv(cnf.value, new Path(deltaPath), delta)
              Some(GraftLog.DvDescriptor(dvPath, complete.length.toLong,
                deltaPath, n))
            }
          (fnorm, dv, keys, n)
      }.collect()
    }
    checkOneRowPerHit(op, touched.map(_._4).sum, touched.iterator.map(_._3))
    // LOSER task attempts (retried or speculative) wrote attempt-named
    // sidecars that no collected descriptor references — and a
    // committed staging directory is permanent. Sweep now: keep the
    // winning attempts' files, delete the rest. Best-effort (a zombie
    // attempt may still be writing AFTER this listing — its debris is
    // then caught by VACUUM's age-guarded orphan sweep); one listing RPC.
    val winning = touched.iterator.flatMap(_._2)
      .flatMap(d => Iterator(d.dv, d.delta))
      .map(p => new Path(p).getName).toSet
    val basePath = new Path(dvBase)
    if (fs.exists(basePath))
      fs.listStatus(basePath).foreach { st =>
        if (!winning.contains(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
    val found = touched.map(t => t._1 -> t).toMap
    val perFile = op.candidates.flatMap { case (rel, _) =>
      found.get(normPath(s"$root/$rel")).map { case (_, dv, _, _) =>
        (rel, dv.map(d => d.copy(dv = d.dv.stripPrefix(s"$root/"),
          delta = d.delta.stripPrefix(s"$root/"))))
      }
    }
    (perFile, touched.iterator.flatMap(_._3).toSeq)
  }

  /** What an operation staged for its commit. */
  private final case class Staged(adds: Seq[GraftLogFileCommit],
      removes: Seq[String] = Nil, dvRows: Seq[GraftLog.ManifestRow] = Nil,
      dvFiles: Seq[String] = Nil)

  /** Land an operation's new files and sidecars under ONE write-scoped
    * directory (`data/w_<op>_<uuid>`, the connector's zero-rename
    * publication: nothing references them until the manifest does) and
    * commit them as one version — the staged removes, adds and dv
    * rows, and the layout this operation observed, re-recorded as a
    * `partcols` row (rewrites land files OUTSIDE the Hive directory
    * layout, which would otherwise erase a path-inferred layout for
    * later compaction grouping and catalog write defaults); None from
    * `stage` commits nothing. The commit revalidates removed and
    * re-masked files against concurrent rewrites and dv commits since
    * the snapshot, plus the operation's add-conflict guard. Any failure
    * — a staging job or a refused commit — deletes the directory before
    * rethrowing, so the optimistic retry re-plans from a clean slate.
    */
  private def stageAndCommit(snap: Snapshot, op: RowLevelOp)(
      stage: String => Option[Staged]): Int = {
    val staging =
      s"${snap.root}/data/w_${op.name}_${java.util.UUID.randomUUID()}"
    try stage(staging).fold(snap.latest) { st =>
      GraftLogWrite.commitStaged(snap.conf, snap.root, staging, st.adds,
        Some(snap.schema), removes = st.removes,
        extraRows = GraftLog.partColsRow(snap.layout) ++ st.dvRows,
        dvFiles = st.dvFiles, addConflict = op.addConflict,
        readVersion = Some(snap.latest), op = Some(op.name))
    } catch { case NonFatal(e) =>
      val p = new Path(staging)
      p.getFileSystem(snap.conf).delete(p, true)
      throw e
    }
  }

  /** Stage a DataFrame's rows under `staging/<sub>` through
    * [[writeFiles]]. The CHANGE-FEED class rides in the stats JSON
    * ("cdc" key): a MoR update/merge tags its transformed-row files
    * update_postimage so the feed can tell moves from inserts.
    */
  private def stageFiles(snap: Snapshot, df: DataFrame, staging: String,
      sub: String, cdcClass: Option[String] = None)
      : Seq[GraftLogFileCommit] =
    writeFiles(snap.conf, snap.physSchema, df, s"$staging/$sub", sub)
      .map { fc =>
        cdcClass.fold(fc) { c =>
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val base = fc.stats.map(JsonMethods.parse(_)).getOrElse(JObject())
          fc.copy(stats = Some(JsonMethods.compact(JsonMethods.render(
            base.merge(JObject("cdc" -> JString(c)))))))
        }
      }

  /** Write a DataFrame's rows under `dir` through the connector's own
    * writer ([[GraftLogWriterFactory]]) as ONE job: part-files under
    * PHYSICAL names (a positional rename; the manifest records the
    * LOGICAL schema), each described off its own footer with its NDV
    * folded at write. A task with no rows writes no file.
    */
  private def writeFiles(conf: Configuration, physSchema: StructType,
      df: DataFrame, dir: String, what: String): Seq[GraftLogFileCommit] = {
    val factory = GraftLogWriterFactory(dir, physSchema, Nil,
      new org.apache.spark.util.SerializableConfiguration(conf))
    val qe = df.select(renamed(df.schema, physSchema): _*).queryExecution
    val written = SQLExecution.withNewExecutionId(qe,
        Some(s"graftlog stage $what")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val w = factory.createWriter(i, TaskContext.get().taskAttemptId())
        try {
          rows.foreach(w.write)
          Iterator(w.commit().asInstanceOf[GraftLogCommitMessage])
        } catch { case t: Throwable => w.abort(); throw t }
      }.collect()
    }
    written.toSeq.flatMap(_.files)
  }

  /** Commit one `foreachBatch` micro-batch of a streaming state sink as
    * ONE version of the log table at `root`, at most once per (sink,
    * batch id) — the epoch-marker protocol of the streaming sink
    * ([[GraftLogWrite.commitEpoch]], writer = `sink`, epoch =
    * `batchId`), so a replayed batch id returns before any job runs and
    * a batch whose commit was torn is redone from the last committed
    * state. `build` maps the committed state (an empty frame of
    * `schema` before the first commit) to the rows this batch commits:
    * appended to the state, or, with `replace`, replacing it (one
    * remove + add of every live file). The rows must carry `schema`'s
    * names and types in order.
    */
  private[graft] def commitBatch(s: SparkSession, root: String,
      sink: String, batchId: Long, schema: StructType, replace: Boolean)(
      build: DataFrame => DataFrame): Unit = {
    val conf = s.sessionState.newHadoopConf()
    GraftLogWrite.commitEpoch(conf, root, sink, batchId) { beforeOk =>
      val latest = GraftLog.latestVersion(conf, root)
      val state =
        if (latest == 0) s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        else s.read.format(GraftLog.Format).option("path", root)
          .option("version", latest).load()
      val rows = build(state)
      require(GraftLog.asNullable(rows.schema).fields
          .map(f => (f.name, f.dataType)).toSeq ==
        GraftLog.asNullable(schema).fields.map(f => (f.name, f.dataType))
          .toSeq,
        s"state sink $sink: rows [${rows.schema.toDDL}] do not match its " +
          s"table schema [${schema.toDDL}]")
      val staging = s"$root/data/w_${sink}_${java.util.UUID.randomUUID()}"
      try {
        GraftLogWrite.commitStaged(conf, root, staging,
          writeFiles(conf, schema, rows, staging, sink), Some(schema),
          beforeOk = beforeOk,
          removes =
            if (replace && latest > 0) GraftLog.liveEntries(conf, root, latest)
            else Nil,
          op = Some(if (replace) "overwrite" else "append"))
      } catch { case NonFatal(e) =>
        val p = new Path(staging)
        p.getFileSystem(conf).delete(p, true)
        throw e
      }
    }
  }

  /** Stage parquet written by Spark's own writer for ONE commit: each
    * `write` lands its part-files in its own subdirectory of a fresh
    * write-scoped `data/w_<tag>_<uuid>/` directory, and every file is
    * described off its footer ([[describeStaged]]). Returns the staging
    * directory and its files for [[GraftLogWrite.commitStaged]].
    */
  private[graft] def stageParquet(conf: Configuration, root: String,
      tag: String, schema: StructType)(writes: (String => Unit)*)
      : (String, Seq[GraftLogFileCommit]) = {
    val staging = s"$root/data/w_${tag}_${java.util.UUID.randomUUID()}"
    val files = writes.zipWithIndex.flatMap { case (write, i) =>
      write(s"$staging/$i")
      describeStaged(conf, s"$staging/$i", schema)
    }
    (staging, files)
  }

  /** The add-row payloads of one staging directory another writer
    * filled: each part-file's rows, bytes and statistics read off its
    * footer (NDV by re-reading the file), so the new snapshot plans from
    * the manifest exactly like any connector write. Spark's `_SUCCESS`
    * marker and empty part-files are removed from disk and the commit.
    * The directory is flat by construction; paths are rebuilt as dir +
    * name (listings return scheme-qualified URIs, the commit compares
    * raw root-relative strings).
    */
  private[graft] def describeStaged(conf: Configuration, dir: String,
      physSchema: StructType): Seq[GraftLogFileCommit] = {
    val fs = new Path(dir).getFileSystem(conf)
    fs.delete(new Path(s"$dir/_SUCCESS"), false)
    fs.listStatus(new Path(dir))
      .toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith("."))
      .sorted
      .flatMap { n =>
        val (rows, bytes, st) = GraftLogStats.describeFile(
          conf, s"$dir/$n", physSchema)
        if (rows == 0L) {
          fs.delete(new Path(s"$dir/$n"), false); None
        } else Some(GraftLogFileCommit(s"$dir/$n", rows, bytes, st))
      }
  }

  /** The table's partition columns for LAYOUT purposes: the declared
    * catalog `PARTITIONED BY` (manifest row) when present, else
    * inferred from the live files' own Hive path segments (an
    * `option("partitionBy", ...)` table carries `k=v/` directories but
    * no declaration) — accepted only when EVERY file agrees on the
    * same segment-name sequence, so a mixed layout never pretends to
    * be partitioned. Values are never parsed from the names (they stay
    * in the files and their stats); only the column NAMES matter here.
    */
  private[sources] def layoutPartCols(conf: Configuration, root: String,
      asOf: Int, files: Seq[String],
      meta: GraftLog.TableMeta = GraftLog.TableMeta(None, Nil))
      : Seq[String] = {
    val declared = meta.partCols match {
      case Nil  => GraftLog.partColsFromManifest(conf, root, asOf)
      case cols => cols
    }
    if (declared.nonEmpty) declared
    else {
      val segNames = files.map(_.split('/').dropRight(1).toSeq
        .filter(_.indexOf('=') > 0).map(_.takeWhile(_ != '=')))
      segNames.headOption match {
        case Some(names) if names.nonEmpty &&
          segNames.forall(_ == names) =>
          // Hive segments carry PHYSICAL names (writers render them);
          // the declared/recorded form is logical — map back
          val reverse = meta.colMap.map(_.swap)
          names.map(n => reverse.getOrElse(n, n))
        case _ => Nil
      }
    }
  }

  /** Grouping key for compaction: the file's partition-value tuple read
    * from its own manifest statistics (min==max per partition column by
    * construction of partitioned writes — this holds even for files a
    * row-level rewrite landed OUTSIDE the Hive directory layout, so
    * post-DML tables still group correctly). A file whose stats show
    * mixed values for any partition column falls into one shared
    * residual group — already-wide files compact together and never
    * contaminate a single-value group. The key is a per-column token
    * SEQUENCE, never a joined string: string partition values may
    * themselves contain '=' or '/', and a joined rendering could
    * collide two different tuples into one group — mixing values in a
    * compacted file, the exact erosion this grouping exists to prevent
    * (Seq equality is element-wise, and each element's position fixes
    * its column, so tokens stay injective per column).
    */
  private[graft] def partGroupKey(partCols: Seq[String],
      fe: GraftLogStats.FileEntry): Seq[String] =
    if (partCols.isEmpty) Seq("")
    else fe.stats match {
      case None => Seq("\u0000mixed")
      case Some(st) =>
        val parts = partCols.map { c =>
          val nulls = st.nulls.getOrElse(c, 0L)
          (st.min.get(c), st.max.get(c)) match {
            case (Some(a), Some(b)) if a == b && nulls == 0L =>
              Some(s"$c=$a")
            case (None, None)
              if fe.rows.exists(r => r > 0 && nulls >= r) =>
              Some(s"$c=\u0000null") // an all-null partition value
            case _ => None
          }
        }
        if (parts.forall(_.isDefined)) parts.flatten
        else Seq("\u0000mixed")
    }

  /** First-fit size binning within one partition group: name-sorted for
    * determinism, each bin targeting `targetBytes`.
    */
  private[sources] def packBins(files: Seq[(String, Long)],
      targetBytes: Long): Seq[Seq[String]] = {
    val bins = mutable.ArrayBuffer[Seq[String]]()
    var cur = mutable.ArrayBuffer[String]()
    var curBytes = 0L
    files.sortBy(_._1).foreach { case (f, b) =>
      if (cur.nonEmpty && curBytes + b > targetBytes) {
        bins += cur.toSeq; cur = mutable.ArrayBuffer[String]()
        curBytes = 0L
      }
      cur += f; curBytes += b
    }
    if (cur.nonEmpty) bins += cur.toSeq
    bins.toSeq
  }

  /** Concurrent rewrite jobs an OPTIMIZE drives at once — bins are
    * independent single-task jobs, so this bounds driver-side job
    * bookkeeping, not executor parallelism (each job's one task still
    * lands on any free core/executor).
    */
  val CompactJobParallelism = 16

  /** OPTIMIZE (compaction) on the log — PARTITION-AWARE: small live
    * files are grouped by their partition-value tuple (from each
    * file's own manifest statistics) and binned into ~`targetBytes`
    * rewrites WITHIN each group, so a compacted file never mixes
    * partition values and every post-OPTIMIZE file keeps min==max on
    * the partition columns — the manifest-stats skip that IS this
    * connector's pruning survives compaction intact (a bucket=3 scan
    * reads exactly as few files after OPTIMIZE as before; spec-pinned).
    * Each bin is one INDEPENDENT single-task rewrite job, launched
    * [[CompactJobParallelism]]-wide from a driver pool — the standard
    * OPTIMIZE execution shape: compacting 10k small files into ~100
    * bins runs ~100 parallel one-task jobs, never one job whose
    * parallelism is capped at the output file count. `clusterBy`
    * optionally sorts within each bin to restore clustering. All bins
    * commit as ONE remove+add version — content-preserving by
    * construction, CDC-visible as delete+insert, refused by the
    * snapshot streaming tail exactly like any rewrite. Groups with
    * fewer than two small files have nothing to gain and are
    * untouched; a lost concurrency race deletes the staged files,
    * re-plans and retries. Returns the committed (or current) version.
    */
  def compactLog(s: SparkSession, root: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Int =
    withRetry { () =>
      val snap = new Snapshot(s, root)
      import snap.{conf, dvMap, dvs, entries, latest, meta, physSchema}
      val partCols = snap.layout // logical
      val partColsPhys = partCols.map(meta.physicalName) // stats keys
      // DV'd files are candidates REGARDLESS of size: OPTIMIZE is how
      // deletion vectors fold away (the rewrite materializes the mask,
      // the remove kills the dv row, readers go vectorized again)
      val small = entries.filter(e =>
        e._2.bytes.exists(_ < smallBytes) || dvs.contains(e._1))
      val groups = small
        .groupBy { case (_, fe) => partGroupKey(partColsPhys, fe) }
        // a lone small file gains nothing — unless it carries a dv,
        // which compacting purges
        .filter(g => g._2.size >= 2 ||
          g._2.exists(e => dvs.contains(e._1)))
      if (groups.isEmpty) latest // nothing worth binning
      else {
        val bins: Seq[Seq[String]] = groups.toSeq
          .sortBy(_._1.mkString("\u0000"))
          .flatMap { case (_, fs) =>
            packBins(fs.map(f => (f._1, f._2.bytes.get)), targetBytes) }
        val physCols = physSchema.fieldNames.map(col).toSeq
        val clusterPhys = clusterBy.map(meta.physicalName)
        val staging =
          s"$root/data/w_compact_${java.util.UUID.randomUUID()}"
        val fs = new Path(root).getFileSystem(conf)
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(bins.size, CompactJobParallelism))
        try {
          val tasks = bins.zipWithIndex.map { case (b, i) =>
            pool.submit(new java.util.concurrent.Callable[
                Seq[GraftLogFileCommit]] {
              override def call(): Seq[GraftLogFileCommit] = {
                // pure file shuffling: read AND write physical names —
                // no logical translation needed anywhere in the rewrite
                // (deletion vectors applied at the read, so a masked
                // row never survives into the compacted file; bins
                // without a DV'd file keep the mask-free fast path)
                val d = maskedParquet(s, physSchema, physSchema,
                    b.map(f => s"$root/$f"), dvMap)
                  .select(physCols: _*).coalesce(1)
                stageFiles(snap,
                  if (clusterPhys.isEmpty) d
                  else d.sortWithinPartitions(clusterPhys.map(col): _*),
                  staging, s"bin-$i")
              }
            })
          }
          // propagate the first failure
          val files = tasks.flatMap(_.get())
          GraftLogWrite.commitStaged(conf, root, staging, files,
            Some(snap.schema), removes = bins.flatten,
            readVersion = Some(latest),
            op = Some("compact"),
            extraRows = GraftLog.partColsRow(partCols) ++
              (if (meta.colMap.isEmpty && meta.tombstones.isEmpty) Nil
               else Seq(GraftLog.ManifestRow("colmap",
                 GraftLog.encodeColMap(meta.colMap, meta.tombstones)))))
        } catch { case NonFatal(e) =>
          // quiesce stragglers BEFORE deleting the staging tree: a
          // plain shutdown() lets still-running bin tasks recreate
          // data/w_compact_* directories under a tree this cleanup
          // just removed, leaving orphaned part-files nothing
          // references or cleans. shutdownNow interrupts them (a
          // Spark job interrupted mid-write aborts its own tasks) and
          // the bounded await ensures none is mid-mkdir when the
          // recursive delete runs.
          pool.shutdownNow()
          pool.awaitTermination(60,
            java.util.concurrent.TimeUnit.SECONDS)
          fs.delete(new Path(staging), true) // never referenced
          throw e match {
            case ee: java.util.concurrent.ExecutionException
              if ee.getCause != null => ee.getCause
            case other => other
          }
        } finally pool.shutdown()
      }
    }

  /** VACUUM: expire every version below `keepFrom` and physically
    * delete the data files no RETAINED version references. The
    * retained live sets fold from the committed manifests
    * (catalog-sized work — versions × files metadata rows, never data
    * rows); the deletable set is (files referenced by expired
    * versions) minus (files referenced by any retained one), so a file
    * shared across the boundary — the common case under compaction —
    * is NEVER deleted. The `_vacuum_v<keepFrom>` watermark marker is
    * written BEFORE the deletes (true two-phase discipline): from that
    * instant reads below the watermark refuse cleanly at load, so a
    * crash mid-delete — or a reader racing the delete window — can
    * never resolve an expired version and then FileNotFound mid-scan;
    * the files merely linger until the next (idempotent) pass finishes
    * the deletes.
    *
    * ORPHAN SWEEP (phase 3): a writer that CRASHED between staging its
    * part-files under `data/` and committing the manifest leaves a
    * write-scoped directory no version will ever reference — invisible
    * to the manifest-derived dead set above, so without this it is
    * unreclaimable garbage forever. The sweep lists `data/` once and
    * deletes any file that (a) no RETAINED version references and
    * (b) is older than `orphanAgeMs` — the age guard is what separates
    * a crashed writer's debris from an IN-FLIGHT writer's staging (the
    * same mtime-based discipline Delta's VACUUM uses for uncommitted
    * files; a writer that stages longer than the threshold would be
    * swept, hence the conservative default). Emptied staging
    * directories are removed too. Returns (filesDeleted incl. orphans,
    * filesRetained).
    */
  val DefaultOrphanAgeMs: Long = 24L * 3600 * 1000

  def vacuumLog(s: SparkSession, root: String, keepFrom: Int,
      orphanAgeMs: Long = DefaultOrphanAgeMs): (Int, Int) = {
    val conf = s.sessionState.newHadoopConf()
    val latest = GraftLog.latestVersion(conf, root)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom $keepFrom outside committed versions 1..$latest")
    val keep = (keepFrom to latest)
      .flatMap(v => GraftLog.referencedEntries(conf, root, v)).toSet
    val expired = (1 until keepFrom)
      .flatMap(v => GraftLog.referencedEntries(conf, root, v)).toSet
    val dead = (expired -- keep).toSeq.sorted
    val fs = new Path(root).getFileSystem(conf)
    // phase 1: commit the expiration — readers refuse below the
    // watermark from here on, so no read started after this line can
    // race the deletes into a mid-scan FileNotFound
    fs.create(new Path(s"$root/_log/_vacuum_v$keepFrom"), true).close()
    // phase 2: physically delete what no retained version references
    val deleted = dead.count { f =>
      fs.delete(new Path(s"$root/$f"), true)
    }
    // phase 3: sweep uncommitted orphans under data/
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    def referenced(rel: String): Boolean =
      keep.contains(rel) || expired.contains(rel)
    var orphans = 0
    val dataRoot = new Path(s"$root/data")
    if (fs.exists(dataRoot)) {
      // the age guard applies to DIRECTORIES too (an in-flight writer
      // may have mkdir'd its staging and not yet written a file) —
      // judged by the mtime captured BEFORE sweeping the children,
      // since deleting them bumps the parent's mtime on most
      // filesystems and would otherwise keep emptied debris one extra
      // vacuum cycle
      def sweep(dir: Path): Boolean = { // returns "directory now empty"
        var empty = true
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory) {
            val dirMtime = st.getModificationTime
            if (sweep(st.getPath) && dirMtime < cutoff &&
              fs.delete(st.getPath, false)) ()
            else empty = false
          } else {
            val rel = normPath(st.getPath.toString)
              .stripPrefix(normPath(root)).stripPrefix("/")
            if (!referenced(rel) &&
              st.getModificationTime < cutoff &&
              fs.delete(st.getPath, false)) orphans += 1
            else empty = false
          }
        }
        empty
      }
      sweep(dataRoot) // data/ itself stays (committed writes land there)
    }
    (deleted + orphans, keep.size)
  }
}
