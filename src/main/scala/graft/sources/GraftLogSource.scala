package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{streaming, Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.GraftLogStats.FileEntry

/** The versioned transaction log as a REAL engine surface: a
  * DataSourceV2 `TableProvider` registered as `format("graftlog")`, so
  * time travel is `spark.read.format("graftlog").option("path", root)
  * .option("version", v).load()` instead of a driver-assembled file
  * list handed to the parquet reader.
  *
  * Why a connector and not the utility read (the r10 shape,
  * Maintenance.readVersion building `s.read.parquet(files:_*)`): the
  * utility path can never participate in scan planning — Spark sees an
  * anonymous parquet relation, not a versioned table, so the
  * version/watermark contract lives outside the plan and every caller
  * must re-implement it. As a DSv2 table the contract IS the scan:
  *
  *  - SNAPSHOT ISOLATION: `planInputPartitions` folds the committed
  *    manifests as of the requested version — a concurrent writer
  *    landing version N+1 mid-query changes nothing this scan reads.
  *  - WATERMARK REFUSAL: a version below the committed vacuum
  *    watermark refuses at `load()` (clean IllegalArgumentException),
  *    never mid-scan on a deleted file.
  *  - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): the pruned
  *    schema becomes the parquet reader's requested schema,
  *    so untouched columns are never decoded — at 100 TB a 2-column
  *    query over a 6-column log table reads a third of the bytes.
  *  - FILTER PUSHDOWN (`SupportsPushDownFilters`): pushed filters
  *    skip row groups inside Spark's parquet reader, converted per
  *    file; all filters are ALSO returned as residual — exactly Spark's
  *    own parquet discipline, because row-group stats are coarse, so
  *    correctness never depends on the pushdown.
  *  - MANIFEST STATISTICS (round 12): every add row carries its
  *    file's row count and byte size, and usually column min/max
  *    ([[GraftLogStats]]), so `estimateStatistics` and the file-level
  *    skip are pure catalog reads. At a 10⁵-file snapshot this is the
  *    difference between one manifest fold and minutes of serial
  *    driver I/O.
  *  - CDC READS: `option("readChangeFeed", true)` turns the same log
  *    into a change feed — each version's adds emit as `insert` rows
  *    and its removes as `delete` rows, tagged `_change_type` /
  *    `_commit_version`, batch and streaming both.
  *
  * One commit protocol writes every log ([[GraftLogWrite.commitStaged]]):
  * claim `_log/v<N>._claim` put-if-absent, write
  * `_log/v<N>/manifest.parquet` (schema, commit time and one
  * statistics-bearing row per file), then drop the `v<N>._ok` marker.
  * A version without its marker is torn and ends the log. Anything
  * else under `_log/` (a manifest this protocol did not write, an add
  * row without rows/bytes) refuses loudly when read, naming the file.
  *
  * Scale notes: manifests are catalog-sized (file actions, not rows),
  * fold on the driver in one pass, and are immutable once committed —
  * a bounded driver-side cache makes the per-version fold O(versions),
  * not O(versions²). Data reading parallelizes one InputPartition per
  * part-file, and files larger than the session's maxPartitionBytes
  * split into byte ranges (row groups assigned by midpoint — Spark's
  * own FileScan discipline), so a 10 GB compacted file is ~80 tasks,
  * not one. Every data read — batch, streaming micro-batch, change
  * feed — decodes through Spark's own parquet reader
  * ([[GraftLogReaderFactory]]).
  */
object GraftLog {

  /** User-facing short name (via DataSourceRegister + META-INF
    * services registration).
    */
  val ShortName = "graftlog"

  /** The format string the engine's own call sites use: the provider
    * CLASS name, which `DataSource.lookupDataSource` resolves by
    * reflection — robust even on classpaths assembled without the
    * compiled resources (the service-registry file), e.g. a bare
    * `-cp target/scala-2.13/classes` run after `compile` alone.
    */
  val Format: String = classOf[GraftLogSource].getName

  /** CDC metadata columns appended by `readChangeFeed` reads. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** File-provenance METADATA column (SupportsMetadataColumns): the
    * absolute path of the data file each row came from — selectable as
    * `SELECT _file, ...`.
    */
  val FileCol = "_file"

  /** Plan-time CONTROL-PLANE round-trips — one increment per `_log`
    * listing, per manifest/checkpoint status probe, and per manifest/
    * checkpoint file open. This is the metric the CHECKPOINT design
    * bounds: without checkpoints a cold plan of version N folds N
    * manifests (O(N) round-trips — at a streaming sink committing one
    * version per epoch, that is 10⁵⁺ within months); with them it reads
    * one checkpoint plus at most [[CheckpointInterval]] tail manifests,
    * independent of N. GraftLogCheckpointSpec pins the independence.
    */
  val planControlReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Write a consolidated checkpoint every this-many connector commits. */
  val CheckpointInterval = 10

  /** Test hook: forget every cached manifest/checkpoint, as a fresh
    * driver would (cold-plan simulation).
    */
  def clearPlanCaches(): Unit =
    manifestCache.synchronized { manifestCache.clear() }

  /** One manifest row: action ∈ {add, remove, schema, txn, ...}; adds
    * written by the connector carry exact per-file statistics.
    */
  case class ManifestRow(action: String, file: String,
      rows: Option[Long] = None, bytes: Option[Long] = None,
      stats: Option[String] = None)

  /** The session's Hadoop configuration when a session is active (so
    * fs.* settings and object-store credentials reach the connector),
    * else a default — the connector never builds bare `Configuration`s
    * on its hot paths.
    */
  def sessionConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(conf: Configuration, root: String): FileSystem =
    new Path(root).getFileSystem(conf)

  /** One `_log` directory listing — serves the latest-version walk, the
    * vacuum watermark AND checkpoint discovery without a per-version
    * existence RPC (O(versions) round-trips per read was the r11 shape).
    */
  private def listLogNames(conf: Configuration, root: String): Set[String] = {
    planControlReads.incrementAndGet()
    val fs = fsOf(conf, root)
    val logPath = new Path(s"$root/_log")
    if (!fs.exists(logPath)) Set.empty
    else fs.listStatus(logPath).iterator.map(_.getPath.getName).toSet
  }

  private def latestFromNames(names: Set[String]): Int =
    Iterator.from(1)
      .takeWhile(v => names.contains(s"v$v._ok"))
      .foldLeft(0)((_, v) => v)

  /** Highest COMMITTED version: max N with `v1._ok` .. `v<N>._ok` all
    * present — a torn commit ends the log. Driven by a single `_log`
    * listing.
    */
  def latestVersion(conf: Configuration, root: String): Int =
    latestFromNames(listLogNames(conf, root))

  /** Newest COMMITTED checkpoint at or below `asOf`, from the one
    * listing: `_ckpt_v<K>` directory plus its `_ckpt_v<K>._ok` marker
    * (the same two-phase visibility discipline versions use — a torn
    * checkpoint write is invisible).
    */
  private def checkpointAt(names: Set[String], asOf: Int): Option[Int] =
    names.iterator.collect {
      case n if n.startsWith("_ckpt_v") && n.endsWith("._ok") =>
        n.stripPrefix("_ckpt_v").stripSuffix("._ok").toInt
    }.filter(k => k <= asOf && names.contains(s"_ckpt_v$k"))
      .maxOption

  /** Newest committed checkpoint at or below `asOf` (audit surface —
    * the `detail` procedure reports it).
    */
  def newestCheckpointAt(conf: Configuration, root: String,
      asOf: Int): Option[Int] =
    checkpointAt(listLogNames(conf, root), asOf)

  /** Lowest readable version (1 if never vacuumed) — max over the
    * `_vacuum_v*` markers, NOT a consecutive walk (a first vacuum at
    * keepFrom >= 3 must still raise the watermark).
    */
  def vacuumWatermark(conf: Configuration, root: String): Int =
    listLogNames(conf, root).iterator
      .collect { case n if n.startsWith("_vacuum_v") =>
        n.stripPrefix("_vacuum_v").toInt }
      .foldLeft(1)(math.max)

  // committed manifests and checkpoints are immutable (the `._ok`
  // marker is only ever dropped after the file is fully written, and
  // nothing rewrites a committed one in place), so a bounded
  // driver-side cache turns repeated folds into status probes. Keys
  // carry the manifest FILE's (length, mtime) — not the directory's,
  // whose mtime is 0 on object-store fake directories and
  // millisecond-coarse locally: a table dropped and recreated at the
  // same path gets fresh entries because the new file's identity
  // differs, even on S3A.
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[ManifestRow]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[ManifestRow]]): Boolean =
        size() > 4096
    }

  /** Decode every manifest row of one parquet file. */
  private def decodeManifestFile(conf: Configuration,
      f: Path): Seq[ManifestRow] = {
    planControlReads.incrementAndGet()
    val out = mutable.ArrayBuffer[ManifestRow]()
    val reader =
      ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(new Configuration(conf))
        .build()
    try {
      var g = reader.read()
      while (g != null) {
        def opt[T](name: String, get: => T): Option[T] =
          if (g.getType.containsField(name) &&
            g.getFieldRepetitionCount(name) > 0) Some(get) else None
        out += ManifestRow(
          g.getString("action", 0), g.getString("file", 0),
          opt("rows", g.getLong("rows", 0)),
          opt("bytes", g.getLong("bytes", 0)),
          opt("stats", g.getString("stats", 0)))
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** Read the rows of one manifest-shaped directory (`_log/v<N>` or
    * `_log/_ckpt_v<K>`) through the cache: the single file
    * `manifest.parquet` the commit protocol writes, probed directly
    * (ONE status RPC, zero reads on a cache hit). The one check on
    * foreign logs lives here, so every fold sees it: a committed
    * directory without that file, or an add row without its rows and
    * bytes, was not written through the commit protocol and refuses,
    * naming the root and the file — it is never guessed at.
    */
  private def readManifestDir(conf: Configuration, root: String,
      rel: String): Seq[ManifestRow] = {
    val f = new Path(s"$root/$rel/manifest.parquet")
    planControlReads.incrementAndGet()
    val st =
      try fsOf(conf, root).getFileStatus(f)
      catch { case e: java.io.FileNotFoundException =>
        throw new IllegalStateException(s"graftlog: $root commits $rel " +
          s"without $f — not a log written through the commit protocol", e)
      }
    val key = s"$f@${st.getLen}:${st.getModificationTime}"
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val rows = decodeManifestFile(conf, f)
    rows.foreach(r => require(
      r.action != "add" || (r.rows.isDefined && r.bytes.isDefined),
      s"graftlog: $f (table $root) adds ${r.file} without rows/bytes " +
        "— not a manifest written through the commit protocol"))
    manifestCache.synchronized { manifestCache.put(key, rows) }
    rows
  }

  /** One committed version's manifest rows: the `_log/v<N>/` parquet
    * read through parquet-hadoop's Group reader — a plain
    * footer+column decode, NO Spark job (the r10 utility ran one job
    * per version just to read catalog rows).
    */
  def versionRows(conf: Configuration, root: String,
      v: Int): Seq[ManifestRow] =
    readManifestDir(conf, root, s"_log/v$v")

  /** Rows of a committed checkpoint, or None when unreadable (planning
    * then falls back to the full fold — checkpoints are an
    * acceleration, never the source of truth).
    */
  private def readCheckpoint(conf: Configuration, root: String,
      k: Int): Option[Seq[ManifestRow]] =
    try {
      val rows = readManifestDir(conf, root, s"_log/_ckpt_v$k")
      if (rows.isEmpty) None else Some(rows)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A DELETION VECTOR attached to one live data file — the
    * merge-on-read half of row-level DELETE: instead of rewriting the
    * whole file to drop a few rows (copy-on-write amplification — the
    * dominant DML cost at 100 TB with scattered keys), the delete
    * commits a sidecar of MASKED ROW POSITIONS and every reader skips
    * them. `dv` is the COMPLETE mask (all positions ever deleted from
    * the file — each new DV commit replaces the previous one wholesale,
    * so readers never merge chains); `delta` is the positions THIS
    * commit newly deleted (what the change feed emits as delete rows).
    * Paths are root-relative sidecar files ([[readDv]] format);
    * OPTIMIZE and every rewrite fold DVs away (the remove of the data
    * file drops its DV from the fold).
    */
  /** `cdcClass` classifies the delta positions for the change feed:
    * None = plain deletes (MoR DELETE); "update_preimage" = the masked
    * rows are the OLD versions of rows a MoR UPDATE/MERGE re-appended
    * transformed (whose add files carry the matching
    * "update_postimage" class) — Delta-style `_change_type` values, so
    * downstream consumers can distinguish moves from churn.
    */
  case class DvDescriptor(dv: String, card: Long,
      delta: String, deltaCard: Long, cdcClass: Option[String] = None)

  /** `dv` manifest-row stats payload: `{"dv":path,"card":n,
    * "delta":path,"dcard":m[,"cdc":class]}`.
    */
  def encodeDv(d: DvDescriptor): String = {
    import org.json4s.JsonDSL._
    val base = ("dv" -> d.dv) ~ ("card" -> d.card) ~
      ("delta" -> d.delta) ~ ("dcard" -> d.deltaCard)
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        d.cdcClass.fold(base)(c => base ~ ("cdc" -> c))))
  }

  def decodeDv(json: String): DvDescriptor = {
    val m = org.json4s.jackson.JsonMethods.parse(json)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    DvDescriptor(
      (m \ "dv").extract[String], (m \ "card").extract[Long],
      (m \ "delta").extract[String], (m \ "dcard").extract[Long],
      (m \ "cdc").extractOpt[String])
  }

  /** Sidecar format: magic "GDV1", int count, then count big-endian
    * longs sorted ascending — the masked row positions (file-absolute
    * row indexes). Small, immutable, written once at commit.
    */
  private val DvMagic = 0x47445631 // "GDV1"

  def writeDv(conf: Configuration, path: Path,
      positions: Array[Long]): Unit = {
    val fs = path.getFileSystem(conf)
    fs.mkdirs(path.getParent)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(path, false)))
    try {
      out.writeInt(DvMagic)
      out.writeInt(positions.length)
      positions.foreach(out.writeLong)
    } finally out.close()
  }

  def readDv(conf: Configuration, path: Path): Array[Long] = {
    val fs = path.getFileSystem(conf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(path)))
    try {
      require(in.readInt() == DvMagic,
        s"graftlog: $path is not a deletion-vector sidecar")
      val n = in.readInt()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = in.readLong(); i += 1 }
      out
    } finally in.close()
  }

  /** Executor-side deletion-vector sidecar cache, shared by EVERY mask
    * consumer in the JVM — the scan readers (a large file split N ways
    * must read its sidecar once per executor, not once per split) and
    * the rewrite mask UDF alike. Keyed by the sidecar's absolute path,
    * which is immutable (sidecars are written once, under a
    * write-scoped directory, and never rewritten); access-ordered LRU
    * so a job touching thousands of DV files evicts the coldest
    * entries instead of ones still in use by concurrent tasks.
    */
  object DvSidecarCache {
    private val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Array[Long]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Long]]): Boolean =
          size() > 1024
      })
    def get(conf: Configuration, path: String): Array[Long] = {
      val hit = m.get(path)
      if (hit != null) hit
      else {
        val v = readDv(conf, new Path(path))
        m.put(path, v)
        v
      }
    }
  }

  /** The complete live state of one snapshot: the live add rows plus
    * the current deletion vector (if any) per live file, keyed by the
    * file's manifest-relative path.
    */
  case class LiveState(adds: Seq[ManifestRow],
      dvs: Map[String, DvDescriptor])

  /** One manifest row's step of a live state: `add` (re)binds the file
    * and clears any DV (a re-added path is a fresh file); `remove`
    * drops the file AND its DV; `dv` binds the file's CURRENT complete
    * mask (each commit's mask replaces the previous wholesale).
    */
  private def step(live: mutable.Map[String, ManifestRow],
      dvs: mutable.Map[String, DvDescriptor], r: ManifestRow): Unit =
    r match {
      case ManifestRow("add", f, _, _, _)    => live(f) = r; dvs -= f
      case ManifestRow("remove", f, _, _, _) => live -= f; dvs -= f
      case ManifestRow("dv", f, _, _, Some(json)) =>
        dvs(f) = decodeDv(json)
      case _ => ()
    }

  /** Live ADD rows and DELETION VECTORS as of `asOf`: the newest
    * committed CHECKPOINT at or below `asOf` (its add/dv rows ARE the
    * live state as of its version) plus a fold of the tail manifests
    * through [[step]] — O(1 + tail ≤ [[CheckpointInterval]])
    * control-plane reads, independent of the table's version count. No
    * checkpoint (or an unreadable one) falls back to the full v1..asOf
    * fold.
    */
  def liveState(conf: Configuration, root: String,
      asOf: Int): LiveState = {
    val names = listLogNames(conf, root)
    val latest = latestFromNames(names)
    require(asOf >= 1 && asOf <= latest,
      s"version $asOf not committed under $root (latest: $latest)")
    val live = mutable.LinkedHashMap[String, ManifestRow]()
    val dvs = mutable.LinkedHashMap[String, DvDescriptor]()
    def fold(rows: Seq[ManifestRow]): Unit = rows.foreach(step(live, dvs, _))
    val start =
      checkpointAt(names, asOf) match {
        case Some(k) => readCheckpoint(conf, root, k) match {
          case Some(rows) => fold(rows); k + 1
          case None       => 1
        }
        case None => 1
      }
    (start to asOf).foreach(v => fold(versionRows(conf, root, v)))
    LiveState(live.values.toSeq, dvs.toMap)
  }

  /** The files versions `from..to` changed, as reads: the ONE fold the
    * batch change feed, the streaming change feed and the append-only
    * snapshot tail replay the log through. It seeds from the live state
    * as of `from - 1` (a vector committed before the range still masks
    * the removes a later rewrite emits; a removed or re-masked file is
    * described by its live add row) and walks every row through
    * [[step]]. An `add` emits its file — in the change feed tagged
    * `insert`, or the class a merge-on-read UPDATE/MERGE wrote into its
    * stats. In the change feed a `remove` emits delete rows for the
    * file's LIVE remainder (positions an earlier vector masked were
    * emitted as deletes then), and a `dv` its newly masked positions as
    * deletes or update preimages; the snapshot tail emits neither. A
    * CONTENT-PRESERVING rewrite (compaction / OPTIMIZE, named by the
    * commit's op row) emits nothing: the same rows merely moved files
    * (Delta's change feed skips dataChange=false actions the same way),
    * and its removed files are never opened, so the range stays
    * replayable after they are vacuumed. Refusals, all at planning: a
    * removed data file that is gone, a `remove` or `dv` of a file that
    * is not live, and in snapshot mode any other remove (its adds mix
    * re-housed and new rows, so the append-only tail can neither skip
    * nor emit them).
    */
  def changes(conf: Configuration, root: String, from: Int, to: Int,
      cdc: Boolean): Seq[PlannedFile] = {
    val st =
      if (from > 1) liveState(conf, root, from - 1) else LiveState(Nil, Map.empty)
    val live = mutable.HashMap(st.adds.map(r => r.file -> r): _*)
    val dvs = mutable.HashMap(st.dvs.toSeq: _*)
    lazy val fs = fsOf(conf, root)
    (from to to).flatMap { v =>
      val rows = versionRows(conf, root, v)
      val preserving = rows.exists(r => r.action == "op" && r.file == "compact")
      val removed = rows.collect { case ManifestRow("remove", f, _, _, _) => f }
      if (!cdc && !preserving && removed.nonEmpty)
        throw new IllegalStateException(
          s"graftlog stream: version $v of $root is not append-only " +
            s"(${removed.map("removes " + _).take(3).mkString(", ")}...); " +
            "the tail emits appended rows only — run maintenance rewrites " +
            "on a separate log, start a fresh stream from a snapshot, or " +
            "tail with option(\"readChangeFeed\", true) to consume " +
            "removes as delete rows")
      def tag(kind: String) = Option.when(cdc)((kind, v.toLong))
      rows.flatMap { r =>
        def described = fileEntry(root, live.getOrElse(r.file,
          throw new IllegalStateException(s"graftlog: version $v of " +
            s"$root removes or masks ${r.file}, which is not live")))
        val planned = r match {
          case ManifestRow("add", _, _, _, _) if !preserving =>
            val e = fileEntry(root, r)
            Some(PlannedFile(e,
              tag(e.stats.flatMap(_.cdcClass).getOrElse("insert"))))
          case ManifestRow("remove", f, _, _, _) =>
            val e = described
            val emits = cdc && !preserving
            if (emits && !fs.exists(new Path(s"$root/$f")))
              throw new IllegalStateException(
                s"graftlog CDC: version $v removes $f but the file is " +
                  "gone (compacted away and vacuumed?) — the change " +
                  "feed for this range is no longer reconstructible; " +
                  "raise startingVersion past it")
            Option.when(emits)(PlannedFile(e, tag("delete"),
              dvMask = dvs.get(f).map(d => s"$root/${d.dv}")))
          case ManifestRow("dv", _, _, _, Some(json)) =>
            val (e, d) = (described, decodeDv(json))
            Option.when(cdc)(PlannedFile(e,
              tag(d.cdcClass.getOrElse("delete")),
              dvEmit = Some(s"$root/${d.delta}")))
          case _ => None
        }
        step(live, dvs, r)
        planned
      }
    }
  }

  /** Live ADD rows (file paths relative to root, with their manifest
    * statistics) as of `asOf`.
    * NOTE: callers that READ data through raw parquet must consult
    * [[liveState]] for deletion vectors — a DV'd file's rows are not
    * all live.
    */
  def liveAdds(conf: Configuration, root: String,
      asOf: Int): Seq[ManifestRow] = liveState(conf, root, asOf).adds

  /** Live file ENTRIES (paths relative to root) as of `asOf`. */
  def liveEntries(conf: Configuration, root: String,
      asOf: Int): Seq[String] = liveAdds(conf, root, asOf).map(_.file)

  /** Every root-relative path version `v` REFERENCES — live data files,
    * live DV sidecars, and the version's OWN delta sidecars (a CDC
    * replay of `v` needs them) — the retention unit VACUUM folds over:
    * a file is deletable only when no retained version references it.
    */
  def referencedEntries(conf: Configuration, root: String,
      v: Int): Seq[String] = {
    val st = liveState(conf, root, v)
    val deltas = versionRows(conf, root, v).collect {
      case ManifestRow("dv", _, _, _, Some(json)) => decodeDv(json).delta
    }
    st.adds.map(_.file) ++
      st.dvs.values.flatMap(d => Seq(d.dv, d.delta)) ++ deltas
  }

  /** One live add row as a [[FileEntry]] with an ABSOLUTE path — every
    * add row is one part-file carrying its statistics, so this is
    * pure manifest data, no filesystem round-trip.
    */
  def fileEntry(root: String, row: ManifestRow): FileEntry =
    FileEntry(s"$root/${row.file}", row.rows, row.bytes,
      row.stats.flatMap(GraftLogStats.parseStats))

  /** Live part-files as [[FileEntry]]s — what the scan plans from. */
  def dataFileEntries(conf: Configuration, root: String,
      asOf: Int): Seq[FileEntry] =
    liveAdds(conf, root, asOf).map(fileEntry(root, _))

  /** Live part-file paths (absolute). */
  def dataFiles(conf: Configuration, root: String,
      asOf: Int): Seq[String] =
    dataFileEntries(conf, root, asOf).map(_.path)

  /** Checked version resolve: default latest; refuse below watermark.
    * A `_log` with entries but no `v1._ok` (say, text manifests of some
    * other protocol) refuses naming them.
    */
  def resolveVersion(conf: Configuration, root: String,
      requested: Option[Int]): Int = {
    val names = listLogNames(conf, root)
    val latest = latestFromNames(names)
    require(latest >= 1, s"no committed versions under $root" +
      (if (names.isEmpty) ""
       else s" — _log holds ${names.toSeq.sorted.take(3).mkString(", ")}" +
         " but no v1._ok commit marker"))
    val v = requested.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"version $v not committed under $root (latest: $latest)")
    val wm = vacuumWatermark(conf, root)
    require(v >= wm, s"version $v expired: vacuum watermark is $wm")
    v
  }

  /** Every column of a log table is nullable — RECURSIVELY: the write
    * path emits parquet `optional` fields at every nesting level
    * (array elements, map values, struct subfields), and WIDENING
    * null-fills new columns in old files — a query-derived NOT NULL
    * (or containsNull=false) must never leak into the recorded table
    * schema (a null fill under a non-nullable field is a codegen NPE
    * at read, and two writes differing only in inferred nullability
    * must not read as a schema mismatch).
    */
  def deepNullable(dt: DataType): DataType = dt match {
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case ArrayType(et, _) =>
      ArrayType(deepNullable(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(deepNullable(kt), deepNullable(vt),
        valueContainsNull = true)
    case other => other
  }

  def asNullable(st: StructType): StructType =
    deepNullable(st).asInstanceOf[StructType]

  /** Refuses a schema holding a type a log table cannot store. The
    * storable types are the hash-stable primitives, DATE, TIMESTAMP,
    * TIMESTAMP_NTZ and DECIMAL, and arrays, maps and structs of them;
    * CREATE, ALTER and every write check through here.
    */
  def requireStorable(schema: StructType): Unit = {
    def unstorable(name: String, dt: DataType): Option[(String, DataType)] =
      dt match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
            StringType | BinaryType | DateType | TimestampType |
            TimestampNTZType | _: DecimalType => None
        case ArrayType(et, _) => unstorable("element", et)
        case MapType(kt, vt, _) =>
          unstorable("key", kt).orElse(unstorable("value", vt))
        case StructType(fs) =>
          fs.iterator.flatMap(f => unstorable(f.name, f.dataType)).nextOption()
        case other => Some((name, other))
      }
    unstorable("", schema).foreach { case (name, dt) =>
      throw new IllegalArgumentException(
        s"graftlog write: unsupported type $dt for $name")
    }
  }

  /** Documented WIDENING: `next` extends `current` by appending new
    * columns — the existing fields an exact (name, type) prefix, in
    * order. The one schema evolution the log admits: readers null-fill
    * the appended columns for files written before them, so every
    * version stays readable and time travel returns each version's own
    * schema. Renames, drops, type changes, reorders are NOT widenings.
    */
  def widens(current: StructType, next: StructType): Boolean = {
    val c = asNullable(current)
    val n = asNullable(next)
    n.length > c.length &&
      n.fields.take(c.length).map(f => (f.name, f.dataType))
        .sameElements(c.fields.map(f => (f.name, f.dataType))) &&
      n.fieldNames.distinct.length == n.length
  }

  /** Schema DDL recorded in the newest manifest at or below `asOf` —
    * the connector's write path logs it at every commit, so a
    * connector-written table infers its schema without touching any
    * data file. A committed checkpoint carries the schema current AS OF
    * its version (recorded from the full history at checkpoint time),
    * so the backward walk stops there instead of descending to v1.
    */
  def schemaFromManifest(conf: Configuration, root: String,
      asOf: Int): Option[StructType] = {
    // schema-ONLY walk, separate from tableMeta: connector manifests
    // carry the schema row at EVERY commit, so this stops at the
    // newest manifest — the hot write path calls it per commit (the
    // widening revalidation), and riding tableMeta's walk would read
    // the whole checkpoint tail hunting for partcols/colmap rows an
    // ordinary table never has
    val names = listLogNames(conf, root)
    val ckpt = checkpointAt(names, asOf)
    val ckptRows = ckpt.flatMap(k => readCheckpoint(conf, root, k))
    val floor = if (ckptRows.isDefined) ckpt.get else 0
    (asOf to (floor + 1) by -1).iterator
      .flatMap(v => versionRows(conf, root, v)
        .collectFirst { case ManifestRow("schema", ddl, _, _, _) => ddl })
      .nextOption()
      .orElse(ckptRows.flatMap(_.collectFirst {
        case ManifestRow("schema", ddl, _, _, _) => ddl }))
      .map(ddl => asNullable(StructType.fromDDL(ddl)))
  }

  /** Declared partition columns (catalog `PARTITIONED BY`, or the
    * layout a row-level operation observed and re-recorded) in the
    * newest manifest at or below `asOf` — written by CREATE TABLE's
    * empty commit, by row-level rewrites (whose flat-landed files
    * would otherwise erase a path-inferred layout), and carried
    * forward by checkpoints — so a table loaded in a LATER session
    * still defaults its writes to the declared Hive layout instead of
    * silently dropping the accepted DDL clause. One shared backward
    * walk with the schema row ([[tableMeta]]).
    */
  def partColsFromManifest(conf: Configuration, root: String,
      asOf: Int): Seq[String] = tableMeta(conf, root, asOf).partCols

  /** The `partcols` manifest row recording `cols` as the table's
    * partition layout — none for an unpartitioned table. Every commit
    * that records a layout builds the row here.
    */
  def partColsRow(cols: Seq[String]): Seq[ManifestRow] =
    if (cols.isEmpty) Nil else Seq(ManifestRow("partcols", cols.mkString(",")))

  /** Catalog-resolved table metadata: the schema, declared partition
    * columns, and (for renamed/dropped-column tables) the COLUMN
    * MAPPING — logical name → stable PHYSICAL name files are written
    * under — plus the tombstoned physical names no future column may
    * reuse (an old file's stale column must never be read as a new
    * column that happens to share its name).
    */
  case class TableMeta(schema: Option[StructType],
      partCols: Seq[String],
      colMap: Map[String, String] = Map.empty,
      tombstones: Set[String] = Set.empty) {
    /** Is any column's physical name distinct from its logical name
      * (or any physical name retired)? Identity-mapped tables take
      * every legacy code path untouched.
      */
    def mapped: Boolean =
      tombstones.nonEmpty || colMap.exists { case (l, p) => l != p }
    def physicalName(c: String): String =
      colMap.get(c).map(_.split('.').last).getOrElse(c)
    /** Positional rename at EVERY nesting level: colMap keys are
      * dot-joined LOGICAL paths (top-level or struct-nested), values
      * the full PHYSICAL paths — the schemas stay positionally
      * identical, only names change ([[GraftLog.physicalSchemaOf]]).
      */
    def physicalSchema(logical: StructType): StructType =
      physicalSchemaOf(logical, colMap)
    /** Full physical path of a logical path: each segment resolves
      * through the mapping of its own prefix (a child under a renamed
      * struct keeps its own leaf name but inherits the parent's
      * physical segment).
      */
    def physicalPath(lpath: String): String = {
      val segs = lpath.split('.')
      segs.indices.map { i =>
        val prefix = segs.take(i + 1).mkString(".")
        colMap.get(prefix).map(_.split('.').last).getOrElse(segs(i))
      }.mkString(".")
    }
  }

  /** Logical → physical schema under a (possibly nested) column
    * mapping: rename the LEAF segment of every mapped path, recursing
    * into struct fields (array/map element types are not mappable —
    * ALTER refuses those paths). Identity map returns the input
    * untouched.
    */
  def physicalSchemaOf(logical: StructType,
      colMap: Map[String, String]): StructType = {
    if (colMap.isEmpty) return logical
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val lpath = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val pname = colMap.get(lpath).map(_.split('.').last)
          .getOrElse(f.name)
        val dt = f.dataType match {
          case s: StructType => walk(s, lpath)
          case other         => other
        }
        f.copy(name = pname, dataType = dt)
      })
    walk(logical, "")
  }

  /** `colmap` manifest row encoding: `logical:physical` live pairs and
    * `!physical` tombstones, comma-joined. Names are validated at
    * ALTER time to exclude the delimiters.
    */
  def encodeColMap(colMap: Map[String, String],
      tombstones: Set[String]): String =
    (colMap.toSeq.sortBy(_._1).map { case (l, p) => s"$l:$p" } ++
      tombstones.toSeq.sorted.map("!" + _)).mkString(",")

  def decodeColMap(s: String): (Map[String, String], Set[String]) = {
    val entries = s.split(",").map(_.trim).filter(_.nonEmpty)
    val (tombs, pairs) = entries.partition(_.startsWith("!"))
    (pairs.map { e =>
      val Array(l, p) = e.split(":", 2); (l, p)
    }.toMap, tombs.map(_.stripPrefix("!")).toSet)
  }

  /** Rename a data-source Filter's column references logical →
    * physical (top-level names only — the mapping is top-level by
    * construction). Shapes with no attribute or unknown shapes pass
    * through; every use is conservative (pushdown/skip), so an
    * untranslated shape only costs a skip, never correctness.
    */
  def renameFilter(f: Filter,
      m: Map[String, String]): Filter = {
    def r(c: String) = m.getOrElse(c, c)
    f match {
      case EqualTo(c, v)            => EqualTo(r(c), v)
      case EqualNullSafe(c, v)      => EqualNullSafe(r(c), v)
      case GreaterThan(c, v)        => GreaterThan(r(c), v)
      case GreaterThanOrEqual(c, v) =>
        GreaterThanOrEqual(r(c), v)
      case LessThan(c, v)           => LessThan(r(c), v)
      case LessThanOrEqual(c, v)    => LessThanOrEqual(r(c), v)
      case In(c, vs)                => In(r(c), vs)
      case IsNull(c)                => IsNull(r(c))
      case IsNotNull(c)             => IsNotNull(r(c))
      case StringStartsWith(c, v)   => StringStartsWith(r(c), v)
      case StringEndsWith(c, v)     => StringEndsWith(r(c), v)
      case StringContains(c, v)     => StringContains(r(c), v)
      case And(l, x) => And(renameFilter(l, m),
        renameFilter(x, m))
      case Or(l, x)  => Or(renameFilter(l, m),
        renameFilter(x, m))
      case Not(x)    => Not(renameFilter(x, m))
      case other             => other
    }
  }

  /** Schema DDL, partition columns, and column mapping in ONE backward
    * walk (newest row of each kind at or below `asOf`, checkpoint rows
    * as the floor's fallback). The SCHEMA row stops at the newest
    * manifest (every connector commit records it); the partcols/colmap
    * hunt continues to the checkpoint floor when those rows are absent
    * — the common unpartitioned, unmapped case — so a cold resolution
    * costs up to [[CheckpointInterval]] cached manifest reads, bounded
    * by the auto-checkpoint and cost-only (the rows, when present, are
    * always at or below a schema-bearing manifest).
    */
  def tableMeta(conf: Configuration, root: String,
      asOf: Int): TableMeta = {
    val names = listLogNames(conf, root)
    val ckpt = checkpointAt(names, asOf)
    val ckptRows = ckpt.flatMap(k => readCheckpoint(conf, root, k))
    val floor = if (ckptRows.isDefined) ckpt.get else 0
    var ddl: Option[String] = None
    var parts: Option[String] = None
    var cmap: Option[String] = None
    val it = (asOf to (floor + 1) by -1).iterator
    while (it.hasNext && (ddl.isEmpty || parts.isEmpty || cmap.isEmpty)) {
      val rows = versionRows(conf, root, it.next())
      if (ddl.isEmpty) ddl = rows.collectFirst {
        case ManifestRow("schema", d, _, _, _) => d }
      if (parts.isEmpty) parts = rows.collectFirst {
        case ManifestRow("partcols", c, _, _, _) => c }
      if (cmap.isEmpty) cmap = rows.collectFirst {
        case ManifestRow("colmap", c, _, _, _) => c }
    }
    def fromCkpt(action: String): Option[String] =
      ckptRows.flatMap(_.collectFirst {
        case ManifestRow(`action`, v, _, _, _) => v })
    val (colMap, tombs) = cmap.orElse(fromCkpt("colmap"))
      .map(decodeColMap).getOrElse((Map.empty[String, String],
        Set.empty[String]))
    TableMeta(
      ddl.orElse(fromCkpt("schema"))
        .map(d => asNullable(StructType.fromDDL(d))),
      parts.orElse(fromCkpt("partcols")).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)),
      colMap, tombs)
  }

  /** The instant version `v` became visible, in micros: its manifest's
    * `committs` row, recorded by every commit and strictly increasing
    * in `v` by construction — the ONE resolution rule TIMESTAMP AS OF,
    * the history audit and the commit-time monotonicity clamp share.
    */
  def commitMicros(conf: Configuration, root: String,
      v: Int): Option[Long] =
    versionRows(conf, root, v).collectFirst {
      case ManifestRow("committs", t, _, _, _) => t.toLong
    }

  /** Write a consolidated checkpoint of version `k`: the live add rows
    * (with their statistics) plus the current schema DDL, landed as
    * `_log/_ckpt_v<k>/manifest.parquet` and made visible by its `._ok`
    * marker — the same two-phase discipline versions use, so a torn
    * checkpoint write is simply invisible and the next interval
    * retries. Planning semantics never depend on checkpoints (they are
    * a pure acceleration of the fold), which is why failures here may
    * be swallowed by callers whose commit already succeeded.
    */
  def writeCheckpoint(conf: Configuration, root: String, k: Int): Unit = {
    val fs = fsOf(conf, root)
    if (fs.exists(new Path(s"$root/_log/_ckpt_v$k._ok"))) return
    val latest = latestVersion(conf, root)
    require(k >= 1 && k <= latest,
      s"cannot checkpoint uncommitted version $k of $root (latest $latest)")
    val meta = tableMeta(conf, root, k)
    val schemaRow = meta.schema
      .map(s => ManifestRow("schema", s.toDDL)).toSeq
    val partRow = partColsRow(meta.partCols)
    val mapRow =
      if (meta.colMap.isEmpty && meta.tombstones.isEmpty) Nil
      else Seq(ManifestRow("colmap",
        encodeColMap(meta.colMap, meta.tombstones)))
    val st = liveState(conf, root, k)
    // deletion vectors are part of the live state — a checkpointed
    // table must mask exactly what the full fold would. dv rows come
    // AFTER the add rows: the fold's `add` clears any vector for the
    // (re)added path, so a dv preceding its file's add would vanish
    val dvRows = st.dvs.toSeq.sortBy(_._1).map { case (f, d) =>
      ManifestRow("dv", f, stats = Some(encodeDv(d))) }
    val rows = schemaRow ++ partRow ++ mapRow ++ st.adds ++ dvRows
    GraftLogWrite.writeManifestRows(conf,
      new Path(s"$root/_log/_ckpt_v$k/manifest.parquet"), rows)
    fs.create(new Path(s"$root/_log/_ckpt_v$k._ok"), true).close()
  }

  /** Spark schema of the snapshot: the DDL the newest manifest at or
    * below `asOf` records — every commit records one, so this is zero
    * data-file I/O.
    */
  def inferSchema(conf: Configuration, root: String, asOf: Int): StructType =
    schemaFromManifest(conf, root, asOf).getOrElse(
      throw new IllegalStateException(
        s"graftlog: no version of $root at or below $asOf records a schema"))

  /** Is `name` a column the scan synthesizes instead of reading: the
    * CDC tags on a change-feed read, and `_file` unless the data schema
    * `data` holds the name itself (stored data wins)?
    */
  def synthesized(name: String, cdc: Boolean, data: StructType): Boolean =
    (cdc && (name == ChangeTypeCol || name == CommitVersionCol)) ||
      (name == FileCol && !data.fieldNames.contains(FileCol))

  /** May `f` go to the parquet reader's row-group filter? Every
    * reference must resolve in the data schema `schema`, and none may be
    * a DECIMAL: a file written before a precision widening stores the
    * narrow physical, and parquet's filter conversion checks only the
    * scale, so a wide literal would truncate into a wrong row-group
    * skip. The manifest-stats file skip takes decimal filters either way.
    */
  def readerPushable(schema: StructType, f: Filter): Boolean =
    f.references.forall(c => GraftLogStats.fieldAt(schema, c)
      .exists(!_.dataType.isInstanceOf[DecimalType]))

  /** Is a column of type `dt` a DECIMAL or a struct with a DECIMAL leaf
    * — may a predicate on it (or on a leaf, by dotted path) be one
    * [[readerPushable]] keeps from the reader?
    */
  def holdsDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case st: StructType => st.fields.exists(f => holdsDecimal(f.dataType))
    case _              => false
  }
}

/** `format("graftlog")` entry point (registered via
  * META-INF/services/org.apache.spark.sql.sources.DataSourceRegister).
  *
  * Read options: `path` (required), `version` (AS-OF snapshot, default
  * latest), `readChangeFeed` (CDC rows instead of a snapshot),
  * `startingVersion` (CDC range start, default the vacuum watermark).
  * Write options: `schema` (bootstrap DDL for the first commit),
  * `partitionBy` (comma-separated Hive-layout partition columns).
  */
class GraftLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = GraftLog.ShortName
  override def supportsExternalMetadata(): Boolean = false

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graftlog requires option(\"path\")"))

  private def isCdc(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = GraftLog.sessionConf()
    val root = rootOf(options)
    // bootstrap: a brand-new table has no committed version to infer
    // from — the FIRST write passes option("schema", <ddl>) (a bare
    // TableProvider has no catalog to CREATE through)
    if (GraftLog.latestVersion(conf, root) == 0 &&
        options.containsKey("schema"))
      return GraftLog.asNullable(StructType.fromDDL(options.get("schema")))
    val v = GraftLog.resolveVersion(conf, root,
      Option(options.get("version")).map(_.toInt))
    val current = GraftLog.inferSchema(conf, root, v)
    // documented widening on append: an EXPLICIT option("schema") that
    // strictly extends the current schema becomes the table schema for
    // this write (Spark then validates the incoming columns against it
    // by name, and the commit records the new DDL); anything else that
    // differs refuses here, before any task runs
    val data = Option(options.get("schema"))
        .map(d => GraftLog.asNullable(StructType.fromDDL(d))) match {
      case Some(next)
        if next.fields.map(f => (f.name, f.dataType)).toSeq !=
          current.fields.map(f => (f.name, f.dataType)).toSeq =>
        if (GraftLog.widens(current, next)) {
          // the same tombstone gate the catalog's ADD COLUMN enforces:
          // a widened column must not resurrect a renamed/dropped
          // column's physical name — old files still store data under
          // it, and a name-resolved reader would serve that stale data
          // as the new column's values (both front doors refuse)
          val meta = GraftLog.tableMeta(conf, root, v)
          val clash = next.fields.drop(current.length).map(_.name)
            .filter(n => meta.tombstones.contains(n) ||
              meta.colMap.valuesIterator.contains(n))
          require(clash.isEmpty,
            s"graftlog write: column name(s) ${clash.mkString(", ")} " +
              "were used by a renamed or dropped column — old files " +
              "still store data under the name; choose a different " +
              "column name")
          next
        }
        else throw new IllegalStateException(
          s"graftlog: option(\"schema\") [${next.toDDL}] neither matches " +
            s"the table schema [${current.toDDL}] nor widens it (widening " +
            "= append new columns; existing names/types keep their order)")
      case _ => current
    }
    if (isCdc(options)) {
      val clash = data.fieldNames.filter(n =>
        n == GraftLog.ChangeTypeCol || n == GraftLog.CommitVersionCol)
      require(clash.isEmpty,
        s"graftlog: cannot read the change feed of a table whose schema " +
          s"already contains ${clash.mkString(", ")} — the names are " +
          "reserved for CDC metadata")
      data.add(GraftLog.ChangeTypeCol, StringType)
        .add(GraftLog.CommitVersionCol, LongType)
    } else data
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val conf = GraftLog.sessionConf()
    val root = rootOf(options)
    val v =
      if (GraftLog.latestVersion(conf, root) == 0) 0 // bootstrap write
      else GraftLog.resolveVersion(conf, root,
        Option(options.get("version")).map(_.toInt))
    val cdc = isCdc(options)
    val cdcStart =
      if (!cdc) 1
      else {
        val wm = GraftLog.vacuumWatermark(conf, root)
        val s = Option(options.get("startingVersion")).map(_.toInt)
          .getOrElse(wm)
        require(s >= wm, s"CDC startingVersion $s expired: vacuum " +
          s"watermark is $wm")
        require(s >= 1 && s <= v,
          s"CDC startingVersion $s outside committed range 1..$v")
        s
      }
    val meta =
      if (v >= 1) Some(GraftLog.tableMeta(conf, root, v)) else None
    GraftLogTable(root, v, schema, new SerializableConfiguration(conf),
      cdc, cdcStart,
      colMap = meta.map(_.colMap).getOrElse(Map.empty),
      tombstones = meta.map(_.tombstones).getOrElse(Set.empty))
  }
}

/** A log table as Spark sees it: snapshot, change-feed and streaming
  * reads, batch and streaming appends, the `_file` metadata column and
  * TRUNCATE. SQL DELETE, UPDATE and MERGE INTO reach [[GraftLogOps]]'
  * row-level bodies through the [[GraftLogDml]] analysis rule, not
  * through a table capability.
  */
case class GraftLogTable(root: String, asOfVersion: Int,
    tableSchema: StructType,
    conf: SerializableConfiguration, cdc: Boolean = false,
    cdcStart: Int = 1, partitionCols: Seq[String] = Nil,
    colMap: Map[String, String] = Map.empty,
    tombstones: Set[String] = Set.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  // no backticks/quoting: Spark renders this name inside error messages
  // that are themselves parsed as identifiers
  override def name(): String =
    s"graftlog:$root@v$asOfVersion${if (cdc) s" cdc($cdcStart..)" else ""}"
  override def schema(): StructType = tableSchema
  // identity partitioning only — set by the catalog's CREATE TABLE
  // PARTITIONED BY; a write through this table instance lays out
  // Hive-style k=v/ directories unless option("partitionBy") overrides.
  // Partitioning is physical LAYOUT, not truth: the values stay in the
  // files and pruning derives from manifest statistics either way.
  override def partitioning(): Array[Transform] =
    partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .identity(c): Transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    if (cdc) util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    require(asOfVersion >= 1,
      s"no committed versions under $root — write one first")
    new GraftLogScanBuilder(root, asOfVersion, tableSchema, conf, cdc,
      cdcStart, Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      if (cdc) None
      else Option(options.get("startingVersion")).map(_.toInt),
      colMap = colMap)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!cdc, "graftlog: a change-feed read is not writable")
    new GraftLogWriteBuilder(root, info, conf,
      if (asOfVersion >= 1) Some(tableSchema) else None, partitionCols,
      colMap, tombstones)
  }

  /** `_file` — file provenance per row. Hidden when the table's OWN
    * schema uses the name (stored data wins, same policy as the CDC
    * meta names).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (tableSchema.fieldNames.contains(GraftLog.FileCol)) Array.empty
    else Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftLog.FileCol
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "absolute path of the data file this row came from"
      })

  /** SQL `TRUNCATE TABLE graft.t`: every row deleted as one version,
    * the same body as SQL `DELETE FROM graft.t` ([[GraftLogDml]]).
    */
  override def truncateTable(): Boolean = {
    require(!cdc, "graftlog: cannot TRUNCATE a change-feed read")
    GraftLogDml.delete(SparkSession.active, root,
      org.apache.spark.sql.functions.lit(true))
    true
  }
}

class GraftLogScanBuilder(root: String, version: Int, tableSchema: StructType,
    conf: SerializableConfiguration, cdc: Boolean, cdcStart: Int,
    maxVersionsPerTrigger: Option[Int] = None,
    streamStart: Option[Int] = None,
    colMap: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // COLUMN MAPPING: Spark speaks LOGICAL names (the table schema);
  // files, their footers and the manifest statistics speak the stable
  // PHYSICAL names a RENAME left behind. Everything file-facing below
  // (parquet predicates, the stats skip, reader schemas) runs in
  // physical terms; readSchema presents the logical names back. The
  // two schemas are POSITIONALLY identical, so translation is a
  // top-level field rename, never a reshape. Identity-mapped tables
  // (no rename/drop ever) hit only no-op translations. Documented
  // semantics for MULTI-VERSION reads (CDC, streaming tail): the
  // whole range binds the READ-TIME logical names — pre-rename
  // versions' rows surface under the current names (the mapping makes
  // that correct byte-for-byte), while a point-in-time read (VERSION/
  // TIMESTAMP AS OF) returns that version's own names.
  private def phys(c: String): String =
    colMap.get(c).map(_.split('.').last).getOrElse(c)
  private def physSchema(st: StructType): StructType =
    GraftLog.physicalSchemaOf(st, colMap)
  private def physFilter(f: Filter): Filter =
    if (colMap.isEmpty) f else GraftLog.renameFilter(f, colMap)

  // the DATA schema (PHYSICAL form): what lives in parquet files (CDC
  // meta columns are scan-synthesized constants, never pushed anywhere)
  private val dataSchema: StructType = physSchema(
    if (cdc) StructType(tableSchema.fields.filterNot(f =>
      f.name == GraftLog.ChangeTypeCol ||
        f.name == GraftLog.CommitVersionCol))
    else tableSchema)

  private var pruned: StructType = tableSchema
  private var accepted: Array[Filter] = Array.empty
  private var skipOnly: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  /** Accept what the parquet reader can skip row groups on; return
    * EVERYTHING as residual — row-group statistics are coarse, so Spark
    * must re-apply (the same contract its built-in parquet source uses).
    * Every filter whose references resolve in the data schema also
    * drives the MANIFEST-STATS file skip ([[GraftLogStats.mayMatch]] is
    * per-file map lookups and conservatively keeps anything it can't
    * rule out). NESTED references resolve through the schema walk
    * (dot-joined struct paths — "meta.score"): the manifest carries
    * min/max/null statistics for struct LEAVES under their physical
    * dotted paths, so a predicate on a nested training-metadata field
    * prunes files exactly like a top-level one.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.filter(f => f.references.forall(c =>
      GraftLogStats.fieldAt(dataSchema, colMap.getOrElse(c, c)).isDefined))
    accepted = usable.filter(f =>
      GraftLog.readerPushable(dataSchema, physFilter(f)))
    val acceptedSet = accepted.toSet
    skipOnly = usable.filterNot(acceptedSet.contains)
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  // -------------------------------------------------------------------
  // aggregate pushdown: COUNT / MIN / MAX answered from the MANIFEST
  // -------------------------------------------------------------------

  /** Un-grouped COUNT(*) / COUNT(col) / MIN / MAX over a stats-bearing
    * log are answerable from the manifest alone — O(catalog) driver
    * work and ONE scan task, zero data bytes, at any table size. Served
    * only when it is EXACT: every live file carries statistics, no
    * filters are in play (ours are all residual, so Spark only offers
    * aggregates on filterless scans), no grouping, and MIN/MAX columns
    * are types whose footer bounds are exact values (integral, date,
    * timestamp, boolean — strings can be writer-truncated and floats
    * carry NaN/-0.0 caveats, so they refuse and scan normally). A file
    * whose column is all-null contributes nothing to MIN/MAX; a file
    * with missing bounds that is NOT all-null refuses the pushdown.
    */
  private var pushedAgg: Option[(StructType, Seq[Any])] = None

  private def exactBoundType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DateType | TimestampType |
        TimestampNTZType | BooleanType => true
    case _: DecimalType => true // exact by construction (no truncation)
    case _ => false
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (cdc || accepted.nonEmpty || agg.groupByExpressions.nonEmpty)
      return None
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val st = GraftLog.liveState(conf.value, root, version)
    // deletion vectors: manifest rows/bounds describe the UNMASKED
    // file. COUNT(*) stays exact — the mask cardinalities subtract
    // (each complete mask's positions are committed rows of its live
    // file) — but COUNT(col)/MIN/MAX refuse: a masked row's nullness
    // or extremum is unknowable from the manifest alone.
    val maskedRows = st.dvs.valuesIterator.map(_.card).sum
    if (st.dvs.nonEmpty && agg.aggregateExpressions().exists {
      case _: CountStar => false
      case _            => true
    }) return None
    val entries = st.adds.map(GraftLog.fileEntry(root, _))
    if (!entries.forall(_.stats.isDefined)) return None
    val totalRows = entries.iterator.map(_.rows.get).sum - maskedRows
    def dtOf(c: String): Option[DataType] =
      dataSchema.fields.find(_.name == c).map(_.dataType)
    def nonNullCount(c: String): Option[Long] =
      if (entries.forall(e => e.stats.get.nulls.contains(c)))
        Some(totalRows - entries.iterator.map(_.stats.get.nulls(c)).sum)
      else None
    // fold one bound across files: None = refused, Some(None) = all
    // null, Some(Some(v)) = the exact extremum (canonical form)
    def bound(c: String, dt: DataType, takeMin: Boolean)
        : Option[Option[Any]] = {
      var acc: Option[Any] = None
      entries.foreach { e =>
        val st = e.stats.get
        // stored form → canonical comparison form (decimals arrive as
        // exact strings from the manifest JSON)
        val b = (if (takeMin) st.min.get(c) else st.max.get(c))
          .map(GraftLogStats.decode(dt, _))
        b match {
          case Some(v) =>
            acc = Some(acc.fold(v) { prev => (dt, prev, v) match {
              case (BooleanType, p: Boolean, x: Boolean) =>
                if (takeMin) p && x else p || x
              case (_, p: Long, x: Long) =>
                if (takeMin) math.min(p, x) else math.max(p, x)
              case (_: DecimalType, p: BigDecimal, x: BigDecimal) =>
                if (takeMin) p.min(x) else p.max(x)
              case _ => return None
            }})
          case None =>
            val allNull = st.nulls.get(c).exists(n =>
              e.rows.exists(r => n >= r)) || e.rows.contains(0L)
            if (!allNull) return None
        }
      }
      Some(acc)
    }
    def render(dt: DataType, v: Any): Any = (dt, v) match {
      case (IntegerType | DateType, l: Long) => l.toInt
      case (d: DecimalType, b: BigDecimal) =>
        org.apache.spark.sql.types.Decimal(b, d.precision, d.scale)
      case _                                 => v
    }
    val results = agg.aggregateExpressions().map {
      case _: CountStar => Some((LongType: DataType, totalRows: Any))
      case c: Count if !c.isDistinct =>
        // agg expressions name LOGICAL columns; stats key on physical
        colName(c.column).map(phys).flatMap(nonNullCount)
          .map(n => (LongType: DataType, n: Any))
      case m: Min => for {
        c <- colName(m.column).map(phys)
        dt <- dtOf(c) if exactBoundType(dt)
        b <- bound(c, dt, takeMin = true)
      } yield (dt, b.map(render(dt, _)).orNull: Any)
      case m: Max => for {
        c <- colName(m.column).map(phys)
        dt <- dtOf(c) if exactBoundType(dt)
        b <- bound(c, dt, takeMin = false)
      } yield (dt, b.map(render(dt, _)).orNull: Any)
      case _ => None
    }
    if (results.exists(_.isEmpty)) return None
    val fields = results.zipWithIndex.map { case (r, i) =>
      StructField(s"agg_$i", r.get._1, nullable = true) }
    Some((StructType(fields), results.map(_.get._2).toSeq))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = computeAgg(agg)
    pushedAgg.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, values)) =>
      GraftLogAggScan(root, version, schema, values)
    case None =>
      // data columns first, scan-synthesized ones (CDC tags, `_file`)
      // last: the order Spark's parquet reader emits data and partition
      // columns in (Spark binds the scan output to readSchema by name)
      val (meta, data) = pruned.fields.partition(f =>
        GraftLog.synthesized(f.name, cdc, dataSchema))
      val ordered = StructType(data ++ meta)
      GraftLogScan(root, version, dataSchema, physSchema(ordered),
        accepted.map(_.toString), accepted.map(physFilter), conf, cdc,
        cdcStart, maxVersionsPerTrigger,
        skipOnly.map(physFilter), streamStart,
        presented = if (colMap.isEmpty) None else Some(ordered),
        colMap = colMap)
  }
}

/** The scan an aggregate-pushdown query gets: ONE partition emitting
  * the single pre-computed row — the manifest already answered the
  * query, so no data file is opened, let alone scanned.
  */
case class GraftLogAggScan(root: String, version: Int,
    resultSchema: StructType, values: Seq[Any]) extends Scan with Batch {
  override def readSchema(): StructType = resultSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLogAggScan root=$root version=$version " +
      s"manifest-served=[${resultSchema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLogAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    GraftLogAggReaderFactory(resultSchema)
}

case class GraftLogAggPartition(values: Seq[Any]) extends InputPartition

case class GraftLogAggReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vs = partition.asInstanceOf[GraftLogAggPartition].values
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(schema.length)
        vs.zipWithIndex.foreach { case (v, i) => row.update(i, v) }
        row
      }
      override def close(): Unit = ()
    }
}

/** One file a read covers: its entry (with manifest statistics when
  * recorded), the CDC (change_type, version) tag when reading a change
  * feed, and — under merge-on-read deletes — the deletion vector to
  * apply: `dvMask` skips the sidecar's positions (snapshot reads of a
  * DV'd file, the change feed's delete rows for a removed one),
  * `dvEmit` emits ONLY them (the change feed's delete rows for a dv
  * commit). Sidecar paths are absolute.
  */
case class PlannedFile(entry: FileEntry,
    cdcMeta: Option[(String, Long)] = None,
    dvMask: Option[String] = None, dvEmit: Option[String] = None,
    maskedRows: Long = 0L)

/** The data scan of a log table, and the ONE planner of its data reads
  * (stats file skip, byte-range splits above `maxPartitionBytes`, the
  * row index only when a planned file carries a deletion vector). Its
  * files are the snapshot as of `version`, or — for a change feed and
  * for a micro-batch of the streaming tail (`tail`, a `copy` bounded to
  * the batch) — the changes of versions `cdcStart..version`
  * ([[GraftLog.changes]]).
  */
case class GraftLogScan(root: String, version: Int, full: StructType,
    pruned: StructType,
    pushedDesc: Array[String],
    staticFilters: Array[Filter], conf: SerializableConfiguration,
    cdc: Boolean, cdcStart: Int,
    maxVersionsPerTrigger: Option[Int] = None,
    skipOnlyFilters: Array[Filter] = Array.empty,
    streamStart: Option[Int] = None,
    presented: Option[StructType] = None,
    colMap: Map[String, String] = Map.empty,
    tail: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // COLUMN MAPPING: `full`/`pruned`/`staticFilters` arrive in PHYSICAL
  // (file-side) terms from the builder, `pruned` with its
  // scan-synthesized columns last; `presented` carries the LOGICAL
  // field names Spark binds the output to (positionally identical to
  // `pruned`). Runtime filters arrive logical and are
  // renamed at the door. Identity-mapped tables pass presented=None
  // and colMap=empty — every unmapped path byte-identical.

  /** Runtime filters (DPP-style: Spark hands them to the scan after the
    * build side of a join resolves) join the static set for BOTH the
    * file-level stats skip and the reader's row-group skip.
    * Conservative superset semantics — the join itself still applies
    * the exact condition.
    */
  private var runtimeFilters: Array[Filter] = Array.empty
  private[sources] var runtimeDesc: Array[String] = Array.empty

  /** Attributes runtime filters may target: the scan's OUTPUT columns
    * (DPP on join keys), in LOGICAL names. Spark's PartitionPruning
    * resolves every advertised name against the scan relation's output
    * and throws on a miss, so a column pruned away must not be
    * advertised.
    */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    presented.getOrElse(pruned).fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    // runtime filters arrive in LOGICAL names — rename to physical
    // before anything file-facing consumes them; one on a column the
    // files do not hold (`_file`, the CDC tags) skips nothing
    val usable = filters
      .map(f => if (colMap.isEmpty) f else GraftLog.renameFilter(f, colMap))
      .filter(f => f.references.forall(full.fieldNames.contains))
    if (usable.nonEmpty) {
      runtimeFilters ++= usable
      runtimeDesc ++= usable.map(_.toString)
    }
  }

  /** Static + runtime filters for the reader's row-group skip. */
  private def readerFilters: Array[Filter] =
    staticFilters ++ runtimeFilters.filter(GraftLog.readerPushable(full, _))

  /** Every filter usable for the manifest-stats file skip (wider than
    * the reader's set: decimal filters included).
    */
  private def skipFilters: Array[Filter] =
    staticFilters ++ skipOnlyFilters ++ runtimeFilters

  override def readSchema(): StructType = presented.getOrElse(pruned)

  /** The files this scan covers. Computed ONCE per scan from the
    * manifest fold; this is the control-plane read that replaces the
    * per-file footer walk.
    */
  private lazy val entries: Seq[PlannedFile] =
    if (!cdc && !tail) {
      val st = GraftLog.liveState(conf.value, root, version)
      st.adds.map { r =>
        val dv = st.dvs.get(r.file)
        PlannedFile(GraftLog.fileEntry(root, r),
          dvMask = dv.map(d => s"$root/${d.dv}"),
          maskedRows = dv.map(_.card).getOrElse(0L))
      }
    } else GraftLog.changes(conf.value, root, cdcStart, version, cdc)

  /** Planner-visible stats for the snapshot: exact row count and bytes
    * from the MANIFEST (every add row carries them — the manifest read
    * refuses one that does not); bytes scaled by the pruned-column
    * fraction, the same heuristic Spark's FileScan uses. This is what
    * lets a small log snapshot broadcast correctly when joined against
    * a large fact table — and at 10⁵ files it is a manifest fold, not
    * a footer walk.
    */
  private lazy val memoStats: Statistics = {
    var bytes = 0L
    var rows = 0L
    entries.foreach { pf =>
      rows += pf.entry.rows.get - pf.maskedRows // dv'd rows: not served
      bytes += pf.entry.bytes.get
    }
    val dataPrunedWidth = pruned.fields.count(f => !cdc ||
      (f.name != GraftLog.ChangeTypeCol &&
        f.name != GraftLog.CommitVersionCol))
    val frac = math.min(1.0,
      dataPrunedWidth.toDouble / math.max(1, full.length))
    val scaled = math.max(1L, (bytes * math.max(frac, 0.1)).toLong)
    // PER-COLUMN statistics for the CBO: distinct counts from the
    // manifest's HLL registers (merged across files — the one join-
    // ordering input a plain size estimate can't provide) plus exact
    // null counts. Served only for columns EVERY live file sketches
    // (a partial merge would undercount); keyed by the LOGICAL output
    // name Spark resolves attributes against, folded from stats that
    // key on physical names. Estimates describe the UNMASKED files —
    // fine for an optimizer input, refused where exactness matters
    // (the aggregate pushdown's own gate). STRUCT-LEAF sketches exist
    // in the manifest too (dotted paths) but are NOT served here:
    // Spark's attributeStats map keys on top-level output ATTRIBUTES,
    // so a nested reference has no slot to land in — nested NDV
    // surfaces through `CALL graft.system.describe_stats` instead.
    val colStatsMap: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (!cdc) {
        val logicalNames = presented.getOrElse(pruned).fieldNames
        val physNames = pruned.fieldNames
        val described = entries.map(_.entry).filter(e =>
          !e.rows.contains(0L))
        logicalNames.indices.foreach { i =>
          val logical = logicalNames(i)
          val phys = physNames(i)
          if (logical != GraftLog.FileCol || phys == logical) {
            val sketches = described.map(_.stats.flatMap(
              _.ndv.get(phys)).map(GraftLogStats.NdvSketch.fromB64))
            val nullCounts = described.map(_.stats.flatMap(
              _.nulls.get(phys)))
            val distinct: Option[Long] =
              if (described.nonEmpty && sketches.forall(_.isDefined))
                Some(GraftLogStats.NdvSketch.estimate(
                  sketches.flatten.reduce(
                    GraftLogStats.NdvSketch.merge)))
              else None
            val nullsTotal: Option[Long] =
              if (described.nonEmpty && nullCounts.forall(_.isDefined))
                Some(nullCounts.flatten.sum)
              else None
            if (distinct.isDefined || nullsTotal.isDefined)
              out.put(
                org.apache.spark.sql.connector.expressions.Expressions
                  .column(logical),
                new org.apache.spark.sql.connector.read.colstats
                    .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    distinct.fold(java.util.OptionalLong.empty())(
                      java.util.OptionalLong.of)
                  override def nullCount(): java.util.OptionalLong =
                    nullsTotal.fold(java.util.OptionalLong.empty())(
                      java.util.OptionalLong.of)
                })
          }
        }
      }
      out
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics] = colStatsMap
    }
  }

  /** Set once this scan serves a stream ([[toMicroBatchStream]]). Spark
    * asks a stream's relation for statistics at every stream start, but
    * no batch reads the load-time range: folding it would read every
    * manifest in it and refuse files no batch covers. A stream reports
    * no estimate, and each micro-batch folds only its own versions.
    */
  @volatile private var streamed = false

  override def estimateStatistics(): Statistics =
    if (!streamed) memoStats
    else new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  override def description(): String =
    s"GraftLogScan root=$root version=$version${if (cdc) " cdc" else ""} " +
      s"readSchema=[${pruned.fieldNames.mkString(",")}] " +
      s"pushed=[${pushedDesc.mkString(", ")}]"

  override def toBatch: Batch = this

  /** Files whose statistics rule out every matching row under the
    * combined (static + runtime) filters are never scheduled at all —
    * at 100 TB a selective key predicate over a clustered log version
    * scans only the matching files. The decision is the manifest's
    * alone; an add row without column statistics is planned, and the
    * reader skips its row groups at task time.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val filters = skipFilters
    // a 10 GB compacted file must not become one task: surviving files
    // above the session's maxPartitionBytes split into byte ranges
    // (parquet assigns each row group to the range holding its
    // midpoint, so a covering range set reads every row exactly once —
    // the same discipline Spark's own FileScan uses). Byte lengths
    // come from the manifest — no extra RPC.
    val maxSplit = SparkSession.getActiveSession
      .map(_.sessionState.conf.filesMaxPartitionBytes)
      .getOrElse(128L * 1024 * 1024)
    val survivors = entries.filter { pf =>
      val e = pf.entry
      // stats describe the UNMASKED file — a superset of the served
      // rows, so the skip stays conservative under DVs
      e.stats.forall(st =>
        filters.forall(f => GraftLogStats.mayMatch(full, st, e.rows, f)))
    }
    survivors.flatMap { pf =>
      val e = pf.entry
      val len = e.bytes.get
      def part(range: Option[(Long, Long)]) = GraftLogInputPartition(
        e.path, len, pf.cdcMeta, range, pf.dvMask, pf.dvEmit)
      if (len <= maxSplit) Seq(part(None))
      else (0L until len by maxSplit).map(s =>
        part(Some((s, math.min(s + maxSplit, len)))))
    }.map(p => p: InputPartition).toArray
  }

  // Spark's reader settles vectorized-or-not once per factory; deletion
  // vectors ask for the row index only when this scan covers a DV'd file
  override def createReaderFactory(): PartitionReaderFactory =
    GraftLogReaderFactory(full, pruned, readerFilters, conf, cdc,
      withRowIndex = entries.exists(pf =>
        pf.dvMask.isDefined || pf.dvEmit.isDefined))

  /** The log as a STREAM: `readStream.format("graftlog")` tails the
    * commit log one committed version per micro-batch, each planned as
    * a copy of this scan ([[GraftLogMicroBatchStream]]).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream = {
    streamed = true
    new GraftLogMicroBatchStream(this)
  }
}

/** One read task: a data file (absolute path) with its manifest byte
  * size, the CDC tag of a change-feed read, the byte range of a split,
  * and the deletion vector to apply (see [[GraftLogReaderFactory]]).
  */
case class GraftLogInputPartition(file: String, bytes: Long,
    cdcMeta: Option[(String, Long)] = None,
    range: Option[(Long, Long)] = None,
    dvMask: Option[String] = None,
    dvEmit: Option[String] = None) extends InputPartition

/** Version-number offset of the streaming tail. */
case class GraftLogOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** Micro-batch tail over the commit log: offset N = "everything through
  * version N". A batch (start, end] is the `scan` the stream was loaded
  * with, copied and bounded to versions start+1..end — so it replays the
  * log through [[GraftLog.changes]], as the batch change feed does, and
  * plans through the batch scan's planner. In CDC mode it reads as the
  * batch change feed of that range; in snapshot mode it reads the files
  * those versions appended (APPEND-ONLY contract), and a deletion-vector
  * commit contributes its appends only. Both modes refuse at planning,
  * never at task time: a removed file that is gone, a remove or mask of
  * a file that is not live, and in snapshot mode a remove that does not
  * preserve content. Torn commits are invisible (latestOffset stops
  * before them).
  *
  * The stream's own concerns:
  *  - VACUUM SAFETY: a cold start of a VACUUMED log refuses loudly —
  *    versions below the watermark are expired, and expanding them to an
  *    empty file list would be SILENT loss — unless
  *    `option("startingVersion", n)` with n at or above the watermark
  *    acknowledges the gap; a checkpointed offset that has since fallen
  *    below the watermark refuses the same way. (CDC tails carry their
  *    own `startingVersion`, watermark-checked at load.)
  *  - ADMISSION CONTROL: `option("maxVersionsPerTrigger", n)` caps each
  *    micro-batch at n committed versions, so a tail restarted after a
  *    long outage catches up in bounded batches (at 100 TB, "read 10 000
  *    versions in one trigger" is a driver OOM, not a plan);
  *    `Trigger.AvailableNow` drains to the version pinned at its start.
  */
class GraftLogMicroBatchStream(scan: GraftLogScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import scan.{cdc, cdcStart, conf, root, streamStart}

  override def initialOffset(): Offset = {
    val wm = GraftLog.vacuumWatermark(conf.value, root)
    if (cdc) GraftLogOffset(math.max(wm, cdcStart) - 1)
    else streamStart match {
      case Some(sv) =>
        require(sv >= 1, s"graftlog stream: startingVersion $sv < 1")
        if (sv < wm) throw new IllegalStateException(
          s"graftlog stream: startingVersion $sv expired — the vacuum " +
            s"watermark of $root is $wm and the expired versions' files " +
            "may be gone; acknowledge the gap with " +
            s"option(\"startingVersion\", $wm) or higher")
        GraftLogOffset(sv - 1)
      case None if wm > 1 => throw new IllegalStateException(
        s"graftlog stream: cold start of a vacuumed log — versions " +
          s"1..${wm - 1} of $root are expired and their rows cannot be " +
          "tailed; silently starting at the watermark would omit " +
          "still-live rows those versions added. Acknowledge the gap " +
          s"with option(\"startingVersion\", $wm), or start a fresh " +
          "stream from a snapshot read")
      case None => GraftLogOffset(0)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def getDefaultReadLimit: ReadLimit =
    scan.maxVersionsPerTrigger
      .map(n => ReadLimit.maxFiles(n)) // unit here = committed versions
      .getOrElse(ReadLimit.allAvailable())

  // Trigger.AvailableNow: pin the target ONCE, then drain to it in
  // rate-limited batches (without this interface Spark wraps the stream
  // and collapses the drain into a single unbounded batch)
  private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(GraftLog.latestVersion(conf.value, root))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftLogOffset].version
    val latest = availableNowEnd
      .getOrElse(GraftLog.latestVersion(conf.value, root))
    val capped = limit match {
      case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        math.min(latest, s + f.maxFiles())
      case _ => latest
    }
    GraftLogOffset(capped)
  }

  override def reportLatestOffset(): Offset =
    GraftLogOffset(GraftLog.latestVersion(conf.value, root))

  override def deserializeOffset(json: String): Offset =
    GraftLogOffset(json.trim.toInt)

  /** The batch planned last: Spark plans a batch's partitions before it
    * asks for the reader factory, which is that batch's.
    */
  private var planned: Option[GraftLogScan] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLogOffset].version
    val e = end.asInstanceOf[GraftLogOffset].version
    val wm = GraftLog.vacuumWatermark(conf.value, root)
    if (s + 1 < wm && s + 1 <= e) throw new IllegalStateException(
      s"graftlog stream: checkpointed offset $s requires version " +
        s"${s + 1}, but the vacuum watermark is $wm — the expired " +
        "versions' files may be gone, and skipping them would be " +
        "silent data loss; start a fresh stream from a snapshot")
    val batch = scan.copy(version = e, cdcStart = s + 1, tail = true)
    planned = Some(batch)
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planned.getOrElse(throw new IllegalStateException(
      "graftlog stream: reader factory asked for before any batch was " +
        "planned")).createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The one parquet decoder of `graftlog`: Spark's own
  * `ParquetPartitionReaderFactory`, with the Hadoop conf prepared the
  * way `ParquetScan.createReaderFactory` prepares it. Spark's reader is
  * vectorized for flat and nested columns alike, decodes INT96 and
  * INT64 timestamps and narrow-to-wide physicals (a file written before
  * an ALTER COLUMN TYPE or a widening append) per file, null-fills
  * columns a file predates, and skips row groups on the pushed
  * `Filter`s, converting them per file. `graftlog` keeps what is its
  * own:
  *  - each [[GraftLogInputPartition]] is one `PartitionedFile` — its
  *    byte range, or the whole file by its manifest bytes — whose
  *    partition values are the scan-synthesized columns (the CDC tags,
  *    `_file`), so they ride Spark's constant partition columns;
  *  - deletion vectors: when the scan covers a DV'd file, Spark's
  *    row-index column (file-absolute under row-group skips and byte
  *    ranges, ParquetRowIndexSpec) is read too and each row is tested
  *    against the sidecar — `dvMask` drops the listed rows, `dvEmit`
  *    keeps only them. The index column never leaves the reader, and a
  *    batch with masked rows is narrowed by a row selection over its
  *    vectors, so a DV'd snapshot keeps its vectorized plan.
  */
case class GraftLogReaderFactory(inner: ParquetPartitionReaderFactory,
    output: StructType, partitionNames: Seq[String], rowIndex: Option[Int])
    extends PartitionReaderFactory {

  private def fileOf(p: GraftLogInputPartition): PartitionedFile = {
    val values = InternalRow.fromSeq(partitionNames.map {
      case GraftLog.ChangeTypeCol    => UTF8String.fromString(p.cdcMeta.get._1)
      case GraftLog.CommitVersionCol => p.cdcMeta.get._2
      case _                         => UTF8String.fromString(p.file)
    })
    val (start, end) = p.range.getOrElse((0L, p.bytes))
    PartitionedFile(values, SparkPath.fromPathString(p.file), start,
      end - start)
  }

  /** Row-index test of the partition's deletion vector, if it has one. */
  private def dvKeep(p: GraftLogInputPartition): Option[Long => Boolean] =
    p.dvMask.orElse(p.dvEmit).map { sidecar =>
      val positions = GraftLog.DvSidecarCache.get(
        inner.broadcastedConf.value.value, sidecar)
      val emit = p.dvEmit.isDefined
      (i: Long) => (java.util.Arrays.binarySearch(positions, i) >= 0) == emit
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    val rows = inner.buildReader(fileOf(p))
    rowIndex match {
      case None => rows
      case Some(ix) =>
        val keep = dvKeep(p).getOrElse((_: Long) => true)
        val out = ProjectingInternalRow(output,
          (0 to output.length).filter(_ != ix))
        new PartitionReader[InternalRow] {
          override def next(): Boolean = {
            while (rows.next()) {
              val r = rows.get()
              if (keep(r.getLong(ix))) { out.project(r); return true }
            }
            false
          }
          override def get(): InternalRow = out
          override def close(): Unit = rows.close()
        }
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    val batches = inner.buildColumnarReader(fileOf(p))
    rowIndex match {
      case None => batches
      case Some(ix) =>
        val keep = dvKeep(p)
        new PartitionReader[ColumnarBatch] {
          private var sel = new Array[Int](0)
          private var current: ColumnarBatch = _
          override def next(): Boolean = {
            while (batches.next()) {
              val b = batches.get()
              val n = b.numRows
              val cols = (0 until b.numCols).filter(_ != ix).map(b.column)
              var kept = n
              if (keep.isDefined) {
                val index = b.column(ix)
                if (sel.length < n) sel = new Array[Int](n)
                kept = 0
                var i = 0
                while (i < n) {
                  if (keep.get(index.getLong(i))) { sel(kept) = i; kept += 1 }
                  i += 1
                }
              }
              if (kept > 0) {
                current = new ColumnarBatch((
                  if (kept == n) cols
                  else cols.map(c => new SelectedVector(c, sel, kept))).toArray,
                  kept)
                return true
              }
            }
            false
          }
          override def get(): ColumnarBatch = current
          override def close(): Unit = batches.close()
        }
    }
  }
}

object GraftLogReaderFactory {

  /** The factory for one scan: `pruned` lists the data columns first
    * and the scan-synthesized ones (CDC tags, `_file`) last, which is
    * the order Spark's reader emits data and partition columns in.
    * `filters` (physical names) skip row groups; `withRowIndex` asks
    * for the row index deletion vectors test against.
    */
  def apply(full: StructType, pruned: StructType, filters: Array[Filter],
      conf: SerializableConfiguration, cdc: Boolean,
      withRowIndex: Boolean): GraftLogReaderFactory = {
    val spark = SparkSession.active
    val sqlConf = spark.sessionState.conf
    val (meta, data) = pruned.fields.partition(f =>
      GraftLog.synthesized(f.name, cdc, full))
    // the row index is absent from every file, which Spark's reader
    // allows only for a nullable column; it fills the index in
    val readData = StructType(
      if (withRowIndex) data :+ StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
      else data)
    val json = readData.json
    val hadoopConf = new Configuration(conf.value)
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key,
      sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key,
      sqlConf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    // a file Spark wrote carries its own rebase metadata (the
    // connector's writer pins CORRECTED); one without a Spark version
    // in its footer stores proleptic-Gregorian values, so it reads
    // CORRECTED too
    val options = new ParquetOptions(Map(
      ParquetOptions.DATETIME_REBASE_MODE -> "CORRECTED",
      ParquetOptions.INT96_REBASE_MODE -> "CORRECTED"), sqlConf)
    val inner = ParquetPartitionReaderFactory(sqlConf,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      full, readData, StructType(meta), filters, None, options)
    GraftLogReaderFactory(inner, StructType(data ++ meta),
      meta.map(_.name).toSeq, Option.when(withRowIndex)(data.length))
  }
}

/** Rows `sel(0 until n)` of `base`, as a column vector: the survivors of
  * one batch under a deletion vector, with no value copied.
  */
private final class SelectedVector(base: ColumnVector, sel: Array[Int],
    n: Int) extends ColumnVector(base.dataType) {
  private val children = mutable.HashMap[Int, ColumnVector]()
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = (0 until n).count(i => base.isNullAt(sel(i)))
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(ordinal: Int): ColumnVector =
    children.getOrElseUpdate(ordinal,
      new SelectedVector(base.getChild(ordinal), sel, n))
}
