package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{streaming, Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.GraftLogStats.{ColStats, FileEntry}

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
  *    schema becomes the parquet projection (`parquet.read.schema`),
  *    so untouched columns are never decoded — at 100 TB a 2-column
  *    query over a 6-column log table reads a third of the bytes.
  *  - FILTER PUSHDOWN (`SupportsPushDownFilters`): supported
  *    predicates convert to parquet `FilterPredicate`s evaluated
  *    against row-group statistics (and record assembly) inside each
  *    reader; all filters are ALSO returned as residual — exactly
  *    Spark's own parquet discipline, because row-group stats are
  *    coarse, so correctness never depends on the pushdown.
  *  - MANIFEST STATISTICS (round 12): manifests written by the
  *    connector carry per-file row counts, byte sizes and column
  *    min/max ([[GraftLogStats]]), so `estimateStatistics` and the
  *    file-level skip are pure catalog reads — the plan-time
  *    footer-per-live-file walk survives only as the fallback for
  *    legacy manifests. At a 10⁵-file snapshot this is the difference
  *    between one manifest fold and minutes of serial driver I/O.
  *  - CDC READS: `option("readChangeFeed", true)` turns the same log
  *    into a change feed — each version's adds emit as `insert` rows
  *    and its removes as `delete` rows, tagged `_change_type` /
  *    `_commit_version`, batch and streaming both.
  *
  * Both log protocols are served by protocol auto-detection:
  * the marker protocol (`_log/v<N>/` parquet manifest + `v<N>._ok`
  * marker — Maintenance.commitVersion) and the OCC protocol
  * (`_log/v<N>.txt` sealed text manifests claimed put-if-absent —
  * Maintenance.Occ). Torn commits are invisible in both: an unmarked
  * manifest dir, or an unsealed text manifest, ends the log.
  *
  * Scale notes: manifests are catalog-sized (file actions, not rows),
  * fold on the driver in one pass, and are immutable once committed —
  * a bounded driver-side cache makes the per-version fold O(versions),
  * not O(versions²). Data reading parallelizes one InputPartition per
  * part-file, and files larger than the session's maxPartitionBytes
  * split into byte ranges (row groups assigned by midpoint — Spark's
  * own FileScan discipline), so a 10 GB compacted file is ~80 tasks,
  * not one. Readers use parquet-hadoop's public column-IO path —
  * the default factory (batch AND streaming micro-batches) is the
  * vectorized [[GraftLogColumnarReader]], with the row-at-a-time Group
  * reader serving nested projections and the rare
  * empty-projection-under-predicate edge.
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
    * `SELECT _file, ...`, and the group-identity attribute Spark's
    * row-level commands (UPDATE/MERGE/complex DELETE) use to runtime-
    * filter the copy-on-write scan down to the files that actually
    * contain matched rows.
    */
  val FileCol = "_file"

  /** Plan-time data-file footer opens — the metric the manifest-stats
    * design exists to drive to zero. Incremented at every driver-side
    * footer read that serves PLANNING (schema inference, stats, file
    * skip); never by executor-side data reads. GraftLogSourceSpec pins
    * that planning over a stats-bearing manifest leaves it untouched.
    */
  val planFooterReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Scan-side I/O instrumentation (folded once per reader close, so
    * the hot loops never touch an atomic): row groups the vectorized
    * reader actually decoded, and records the row reader actually
    * assembled. GraftLogDvSpec pins that a selective pushed predicate
    * keeps BOTH small on a deletion-vector'd file — row-group skips
    * and record filtering must survive the mask.
    */
  val scanRowGroupsRead = new java.util.concurrent.atomic.AtomicLong(0L)
  val scanRecordsRead = new java.util.concurrent.atomic.AtomicLong(0L)

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
  def clearPlanCaches(): Unit = {
    manifestCache.synchronized { manifestCache.clear() }
    occCache.synchronized { occCache.clear() }
  }

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

  /** OCC protocol iff version 1 was claimed as a text manifest. */
  private[sources] def isOcc(conf: Configuration, root: String): Boolean =
    fsOf(conf, root).exists(new Path(s"$root/_log/v1.txt"))

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

  private def latestFromNames(conf: Configuration, root: String,
      names: Set[String]): Int =
    if (names.contains("v1.txt")) {
      val fs = fsOf(conf, root)
      Iterator.from(1)
        .takeWhile(v => names.contains(s"v$v.txt") &&
          readOccManifest(fs, root, v).isDefined)
        .foldLeft(0)((_, v) => v)
    } else {
      Iterator.from(1)
        .takeWhile(v => names.contains(s"v$v._ok"))
        .foldLeft(0)((_, v) => v)
    }

  /** Highest COMMITTED version: marker protocol = max N with `v<N>._ok`;
    * OCC = max N with a SEALED `v<N>.txt`. Torn commits end the log.
    * Driven by a single `_log` listing (plus, for OCC, the seal check
    * each candidate manifest needs anyway).
    */
  def latestVersion(conf: Configuration, root: String): Int =
    latestFromNames(conf, root, listLogNames(conf, root))

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

  /** Sealed OCC manifest actions, or None if absent/torn. Cached on the
    * manifest FILE's (length, mtime) — immutable once sealed, and a
    * torn file that later completes changes both, so stale entries are
    * unreachable.
    */
  private def readOccManifest(fs: FileSystem, root: String,
      v: Int): Option[Seq[(String, String)]] = {
    val p = new Path(s"$root/_log/v$v.txt")
    planControlReads.incrementAndGet()
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val key = s"${p.toString}@${st.getLen}:${st.getModificationTime}"
    occCache.synchronized {
      val hit = occCache.get(key)
      if (hit != null) return hit
    }
    planControlReads.incrementAndGet()
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    val actions = lines.takeWhile(!_.startsWith("commit "))
      .map { l => val Array(a, f) = l.split(" ", 2); (a, f) }
    val sealed_ = lines.drop(actions.length) match {
      case Seq(seal) => seal == s"commit ${actions.length}"
      case _         => false
    }
    val res = if (sealed_) Some(actions) else None
    occCache.synchronized { occCache.put(key, res) }
    res
  }

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

  private val occCache =
    new java.util.LinkedHashMap[String, Option[Seq[(String, String)]]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Seq[(String, String)]]])
          : Boolean =
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
    * `_log/_ckpt_v<K>`) through the cache. The connector writes the
    * single file `manifest.parquet`, probed directly (ONE status RPC,
    * zero reads on a cache hit); legacy manifests (a Spark
    * `coalesce(1)` write) fall back to a directory listing.
    */
  private def readManifestDir(conf: Configuration, root: String,
      rel: String): Seq[ManifestRow] = {
    val fs = fsOf(conf, root)
    val direct = new Path(s"$root/$rel/manifest.parquet")
    planControlReads.incrementAndGet()
    val files: Seq[(Path, Long, Long)] =
      try {
        val st = fs.getFileStatus(direct)
        Seq((direct, st.getLen, st.getModificationTime))
      } catch {
        case _: java.io.FileNotFoundException =>
          planControlReads.incrementAndGet()
          try fs.listStatus(new Path(s"$root/$rel")).toSeq
            .sortBy(_.getPath.getName)
            .collect { case st if !st.isDirectory &&
              st.getPath.getName.endsWith(".parquet") &&
              !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".") =>
              (st.getPath, st.getLen, st.getModificationTime) }
          catch { case _: java.io.FileNotFoundException => return Seq.empty }
      }
    if (files.isEmpty) return Seq.empty
    val key = files.map { case (p, l, m) => s"$p@$l:$m" }.mkString(";")
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val rows = files.flatMap { case (p, _, _) =>
      decodeManifestFile(conf, p) }
    manifestCache.synchronized { manifestCache.put(key, rows) }
    rows
  }

  /** Marker-protocol manifest rows: the `_log/v<N>/` parquet read
    * through the same Group reader the data path uses — a plain footer+
    * column decode, NO Spark job (the r10 utility ran one job per
    * version just to read catalog rows). Legacy manifests carry
    * (action, file) alone; connector-written ones add rows/bytes/stats.
    */
  private def readMarkerManifest(conf: Configuration, root: String,
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

  /** Manifest rows of ONE committed version, protocol-dispatched. */
  def versionRows(conf: Configuration, root: String,
      v: Int): Seq[ManifestRow] =
    versionRows(conf, root, v, isOcc(conf, root))

  /** Protocol-known variant: a caller iterating MANY versions (the
    * history audit, the CDC fold) resolves the protocol once instead
    * of paying an existence RPC per version.
    */
  def versionRows(conf: Configuration, root: String, v: Int,
      occ: Boolean): Seq[ManifestRow] =
    if (occ)
      readOccManifest(fsOf(conf, root), root, v).getOrElse(Seq.empty)
        .map { case (a, f) => ManifestRow(a, f) }
    else readMarkerManifest(conf, root, v)

  /** The instant version `v` became VISIBLE, in micros: the manifest's
    * committs row (strictly increasing by construction at commit),
    * falling back to the commit marker's mtime for legacy/OCC versions
    * — the ONE resolution rule TIMESTAMP AS OF, the history audit, and
    * the commit-time monotonicity clamp all share.
    */
  def commitInstantMicros(conf: Configuration, root: String, v: Int,
      occ: Boolean = false): Option[Long] =
    versionRows(conf, root, v, occ).collectFirst {
      case ManifestRow("committs", t, _, _, _) => t.toLong
    }.orElse {
      val marker =
        if (occ) new Path(s"$root/_log/v$v.txt")
        else new Path(s"$root/_log/v$v._ok")
      try Some(fsOf(conf, root).getFileStatus(marker)
        .getModificationTime * 1000L)
      catch { case _: java.io.FileNotFoundException => None }
    }

  /** Action list of ONE committed version — the streaming tail's unit
    * of progress (legacy tuple surface over [[versionRows]]).
    */
  def versionActions(conf: Configuration, root: String,
      v: Int): Seq[(String, String)] =
    versionRows(conf, root, v).map(r => (r.action, r.file))

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

  /** Live ADD rows and DELETION VECTORS as of `asOf`: the newest
    * committed CHECKPOINT at or below `asOf` (its add/dv rows ARE the
    * live state as of its version) plus a fold of the tail manifests
    * — O(1 + tail ≤ [[CheckpointInterval]]) control-plane reads,
    * independent of the table's version count. Fold rules: `add`
    * (re)binds the file and clears any DV (a re-added path is a fresh
    * file); `remove` drops the file AND its DV; `dv` binds the file's
    * CURRENT complete mask (each commit's mask replaces the previous
    * wholesale). No checkpoint (or an unreadable one) falls back to
    * the full v1..asOf fold; OCC logs always full-fold.
    */
  def liveState(conf: Configuration, root: String,
      asOf: Int): LiveState = {
    val names = listLogNames(conf, root)
    val latest = latestFromNames(conf, root, names)
    require(asOf >= 1 && asOf <= latest,
      s"version $asOf not committed under $root (latest: $latest)")
    val occ = names.contains("v1.txt")
    val live = mutable.LinkedHashMap[String, ManifestRow]()
    val dvs = mutable.LinkedHashMap[String, DvDescriptor]()
    def fold(rows: Seq[ManifestRow]): Unit = rows.foreach {
      case r @ ManifestRow("add", f, _, _, _) => live(f) = r; dvs -= f
      case ManifestRow("remove", f, _, _, _)  => live -= f; dvs -= f
      case ManifestRow("dv", f, _, _, Some(json)) =>
        dvs(f) = decodeDv(json)
      case _ => ()
    }
    val start =
      (if (occ) None else checkpointAt(names, asOf)) match {
        case Some(k) => readCheckpoint(conf, root, k) match {
          case Some(rows) => fold(rows); k + 1
          case None       => 1
        }
        case None => 1
      }
    (start to asOf).foreach(v => fold(versionRows(conf, root, v)))
    LiveState(live.values.toSeq, dvs.toMap)
  }

  /** Live ADD rows (as logged — file or directory paths relative to
    * root, with manifest statistics when present) as of `asOf`.
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

  /** Expand a single logged entry (file or directory) to part-files. */
  def expandEntry(conf: Configuration, root: String,
      entry: String): Seq[String] =
    listParquetFiles(fsOf(conf, root), new Path(s"$root/$entry"))
      .map(_._1.toString)

  /** Expand one manifest row to concrete [[FileEntry]]s with ABSOLUTE
    * paths. A stats-bearing row IS a file (the connector's write path
    * logs part-files individually) — no filesystem round-trip at all;
    * a bare row may be a Hive-partitioned directory and lists (byte
    * lengths captured from the listing the walk pays anyway, so the
    * scan can SPLIT large legacy files without another RPC).
    */
  def expandRow(conf: Configuration, root: String,
      row: ManifestRow): Seq[FileEntry] =
    if (row.rows.isDefined)
      Seq(FileEntry(s"$root/${row.file}", row.rows, row.bytes,
        row.stats.flatMap(GraftLogStats.parseStats)))
    else listParquetFiles(fsOf(conf, root), new Path(s"$root/${row.file}"))
      .map { case (p, len) => FileEntry(p.toString, bytes = Some(len)) }

  /** Live part-files as [[FileEntry]]s (absolute paths, stats when the
    * manifest carries them) — what the scan plans from.
    */
  def dataFileEntries(conf: Configuration, root: String,
      asOf: Int): Seq[FileEntry] =
    liveAdds(conf, root, asOf).flatMap(expandRow(conf, root, _))

  /** Live part-file paths (absolute). */
  def dataFiles(conf: Configuration, root: String,
      asOf: Int): Seq[String] =
    dataFileEntries(conf, root, asOf).map(_.path)

  private def listParquetFiles(fs: FileSystem,
      p: Path): Seq[(Path, Long)] =
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq((p, st.getLen))
      else fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { c =>
        val n = c.getPath.getName
        if (c.isDirectory) listParquetFiles(fs, c.getPath)
        else if (n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")) Seq((c.getPath, c.getLen))
        else Seq.empty
      }
    }

  /** Checked version resolve: default latest; refuse below watermark. */
  def resolveVersion(conf: Configuration, root: String,
      requested: Option[Int]): Int = {
    val latest = latestVersion(conf, root)
    require(latest >= 1, s"no committed versions under $root")
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
    if (names.contains("v1.txt")) return None // OCC: actions only
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
    val occ = names.contains("v1.txt")
    if (occ) return TableMeta(None, Nil) // OCC manifests: actions only
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

  /** Commit timestamp (micros) recorded in version `v`'s manifest row —
    * present on every connector commit since the row was introduced,
    * absent on legacy/OCC versions (callers fall back to marker
    * mtimes). Strictly increasing in `v` by construction at commit.
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
    require(!isOcc(conf, root),
      s"graftlog: OCC logs are utility-managed; no checkpoints")
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

  /** Spark schema of the snapshot: the manifest's recorded DDL when
    * present (zero data-file I/O), else the footer of the first live
    * part-file (the log's commit discipline keeps versions
    * schema-consistent).
    */
  def inferSchema(conf: Configuration, root: String, asOf: Int): StructType =
    schemaFromManifest(conf, root, asOf).getOrElse {
      val first = dataFiles(conf, root, asOf).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"version $asOf of $root has no data files"))
      planFooterReads.incrementAndGet()
      val footer = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(first), conf))
      val msg = try footer.getFileMetaData.getSchema finally footer.close()
      StructType(msg.getFields.toArray(Array.empty[Type]).map { t =>
        StructField(t.getName, toSparkTypeAny(t), nullable = true)
      })
    }

  /** Parquet type (primitive or group) → Spark type: the standard LIST
    * and MAP annotations plus plain struct groups, recursively.
    */
  private def toSparkTypeAny(t: Type): DataType = t match {
    case p: PrimitiveType => toSparkType(p)
    case g: org.apache.parquet.schema.GroupType =>
      g.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
          val repeated = g.getType(0).asGroupType()
          ArrayType(toSparkTypeAny(repeated.getType(0)),
            containsNull = true)
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
          val kv = g.getType(0).asGroupType()
          MapType(toSparkTypeAny(kv.getType(0)),
            toSparkTypeAny(kv.getType(1)), valueContainsNull = true)
        case _ =>
          StructType(g.getFields.toArray(Array.empty[Type]).map { f =>
            StructField(f.getName, toSparkTypeAny(f), nullable = true)
          })
      }
  }

  private def toSparkType(p: PrimitiveType): DataType = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = p.getLogicalTypeAnnotation
    def dec(d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =
      DecimalType(d.getPrecision, d.getScale)
    p.getPrimitiveTypeName match {
      case INT64 => ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          require(ts.getUnit ==
            LogicalTypeAnnotation.TimeUnit.MICROS,
            s"unsupported timestamp unit ${ts.getUnit} for ${p.getName}")
          if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(d)
        case _ => LongType
      }
      case INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => DateType
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(d)
        case _ => IntegerType
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(d)
        case other => throw new IllegalArgumentException(
          s"graftlog: unsupported fixed binary annotation $other " +
            s"for ${p.getName}")
      }
      // legacy 12-byte Spark/Impala timestamp (julian day + nanos) —
      // still what some writers emit; maps to session-adjusted
      // TimestampType exactly as Spark's own reader does
      case INT96   => TimestampType
      case DOUBLE  => DoubleType
      case FLOAT   => FloatType
      case BOOLEAN => BooleanType
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          StringType
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec(d)
        case _ => BinaryType
      }
      case other => throw new IllegalArgumentException(
        s"graftlog: unsupported parquet type $other for ${p.getName}")
    }
  }

  /** Columns stored as legacy INT96 in the first live file — excluded
    * from filter pushdown (INT96 has no usable min/max ordering in
    * row-group stats; parquet itself refuses predicates on it) and
    * decoded via the julian-day + nanos conversion in the reader.
    * A manifest-described table (connector-written: the writer never
    * emits INT96) skips the probe entirely; this set is a PLANNING
    * heuristic either way — the reader re-checks ITS OWN file's footer
    * and drops the pushed predicate per-file on any INT96 overlap, so
    * mixed-encoding logs stay correct regardless of what the first
    * file says.
    */
  def int96Columns(conf: Configuration, root: String,
      asOf: Int): Set[String] = {
    if (schemaFromManifest(conf, root, asOf).isDefined) return Set.empty
    val first = dataFiles(conf, root, asOf).headOption.getOrElse(
      return Set.empty)
    planFooterReads.incrementAndGet()
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(first), conf))
    val msg = try footer.getFileMetaData.getSchema finally footer.close()
    msg.getFields.toArray(Array.empty[Type]).collect {
      case t: PrimitiveType if t.getPrimitiveTypeName ==
        PrimitiveType.PrimitiveTypeName.INT96 => t.getName
    }.toSet
  }

  /** File-level statistics skip FALLBACK for legacy manifest entries
    * (no recorded stats): keep the file iff at least one of its row
    * groups MAY match the predicate, per parquet's own StatisticsFilter
    * over the footer min/max. Conservative by construction (the reader
    * re-checks row groups and Spark re-applies residuals) and
    * failure-safe: any validation surprise (predicate column absent
    * from this file's schema, stats missing) KEEPS the file.
    * Stats-bearing manifests never reach this path — their skip
    * decision is [[GraftLogStats.mayMatch]], zero footer I/O.
    */
  def fileMayMatch(conf: Configuration, file: String,
      predicate: FilterPredicate): Boolean =
    try {
      planFooterReads.incrementAndGet()
      val footer = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(file), conf))
      try {
        val meta = footer.getFooter
        !org.apache.parquet.filter2.compat.RowGroupFilter
          .filterRowGroups(FilterCompat.get(predicate), meta.getBlocks,
            meta.getFileMetaData.getSchema)
          .isEmpty
      } finally footer.close()
    } catch { case _: Exception => true }

  /** INT96 → micros since epoch: little-endian nanos-of-day (8 bytes)
    * + little-endian julian day (4 bytes); epoch = julian 2440588.
    */
  def int96ToMicros(b: Array[Byte]): Long = {
    val buf = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong(0)
    val julianDay = buf.getInt(8)
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  /** Spark source Filter -> parquet FilterPredicate, for the subset with
    * exact row-group-statistics semantics. Unconvertible filters are
    * simply not pushed (they stay residual like everything else).
    */
  def toParquetPredicate(schema: StructType,
      f: Filter): Option[FilterPredicate] = {
    // dotted paths resolve through the schema walk, so STRUCT-LEAF
    // predicates push too — parquet's FilterApi column factories take
    // dot-joined paths natively, and record-level filtering handles
    // nested columns; the row reader (which owns every nested
    // projection) drops the predicate per-file when the file predates
    // the leaf or stores it narrower
    def typeOf(c: String): Option[DataType] =
      GraftLogStats.fieldAt(schema, c).map(_.dataType)
    def longVal(v: Any): Option[java.lang.Long] = v match {
      case n: Number => Some(java.lang.Long.valueOf(n.longValue()))
      case t: java.sql.Timestamp =>
        Some(java.lang.Long.valueOf(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(t)))
      case i: java.time.Instant =>
        Some(java.lang.Long.valueOf(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
      case l: java.time.LocalDateTime => // TimestampNTZ filter values
        Some(java.lang.Long.valueOf(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .localDateTimeToMicros(l)))
      case _ => None
    }
    def intVal(dt: DataType, v: Any): Option[Integer] = (dt, v) match {
      case (DateType, d: java.sql.Date) =>
        Some(Integer.valueOf(d.toLocalDate.toEpochDay.toInt))
      case (DateType, d: java.time.LocalDate) =>
        Some(Integer.valueOf(d.toEpochDay.toInt))
      case (_, n: Number) => Some(Integer.valueOf(n.intValue()))
      case _ => None
    }
    def cmp(c: String, v: Any,
        mk: (DataType, Any) => Option[FilterPredicate]) =
      typeOf(c).flatMap(dt => mk(dt, v))
    f match {
      case And(l, r) => for {
        lp <- toParquetPredicate(schema, l)
        rp <- toParquetPredicate(schema, r)
      } yield FilterApi.and(lp, rp)
      case Or(l, r) => for {
        lp <- toParquetPredicate(schema, l)
        rp <- toParquetPredicate(schema, r)
      } yield FilterApi.or(lp, rp)
      case Not(c) => toParquetPredicate(schema, c).map(FilterApi.not)
      case IsNull(c) => typeOf(c).flatMap {
        case LongType | TimestampType | TimestampNTZType =>
          Some(FilterApi.eq(FilterApi.longColumn(c), null: java.lang.Long))
        case IntegerType | DateType =>
          Some(FilterApi.eq(FilterApi.intColumn(c), null: Integer))
        case DoubleType =>
          Some(FilterApi.eq(FilterApi.doubleColumn(c),
            null: java.lang.Double))
        case StringType | BinaryType =>
          Some(FilterApi.eq(FilterApi.binaryColumn(c), null: Binary))
        case _ => None
      }
      case IsNotNull(c) =>
        toParquetPredicate(schema, IsNull(c)).map(FilterApi.not)
      case EqualTo(c, v) if v != null => cmp(c, v, {
        case (LongType | TimestampType | TimestampNTZType, x) =>
          longVal(x).map(FilterApi.eq(FilterApi.longColumn(c), _))
        case (dt @ (IntegerType | DateType), x) =>
          intVal(dt, x).map(FilterApi.eq(FilterApi.intColumn(c), _))
        case (DoubleType, x: Number) =>
          Some(FilterApi.eq(FilterApi.doubleColumn(c),
            java.lang.Double.valueOf(x.doubleValue())))
        case (StringType, x: String) =>
          Some(FilterApi.eq(FilterApi.binaryColumn(c),
            Binary.fromString(x)))
        case _ => None
      })
      case GreaterThan(c, v) if v != null => cmp(c, v, {
        case (LongType | TimestampType | TimestampNTZType, x) =>
          longVal(x).map(FilterApi.gt(FilterApi.longColumn(c), _))
        case (dt @ (IntegerType | DateType), x) =>
          intVal(dt, x).map(FilterApi.gt(FilterApi.intColumn(c), _))
        case (DoubleType, x: Number) =>
          Some(FilterApi.gt(FilterApi.doubleColumn(c),
            java.lang.Double.valueOf(x.doubleValue())))
        case (StringType, x: String) =>
          Some(FilterApi.gt(FilterApi.binaryColumn(c),
            Binary.fromString(x)))
        case _ => None
      })
      case GreaterThanOrEqual(c, v) if v != null => cmp(c, v, {
        case (LongType | TimestampType | TimestampNTZType, x) =>
          longVal(x).map(FilterApi.gtEq(FilterApi.longColumn(c), _))
        case (dt @ (IntegerType | DateType), x) =>
          intVal(dt, x).map(FilterApi.gtEq(FilterApi.intColumn(c), _))
        case (DoubleType, x: Number) =>
          Some(FilterApi.gtEq(FilterApi.doubleColumn(c),
            java.lang.Double.valueOf(x.doubleValue())))
        case (StringType, x: String) =>
          Some(FilterApi.gtEq(FilterApi.binaryColumn(c),
            Binary.fromString(x)))
        case _ => None
      })
      case LessThan(c, v) if v != null => cmp(c, v, {
        case (LongType | TimestampType | TimestampNTZType, x) =>
          longVal(x).map(FilterApi.lt(FilterApi.longColumn(c), _))
        case (dt @ (IntegerType | DateType), x) =>
          intVal(dt, x).map(FilterApi.lt(FilterApi.intColumn(c), _))
        case (DoubleType, x: Number) =>
          Some(FilterApi.lt(FilterApi.doubleColumn(c),
            java.lang.Double.valueOf(x.doubleValue())))
        case (StringType, x: String) =>
          Some(FilterApi.lt(FilterApi.binaryColumn(c),
            Binary.fromString(x)))
        case _ => None
      })
      case LessThanOrEqual(c, v) if v != null => cmp(c, v, {
        case (LongType | TimestampType | TimestampNTZType, x) =>
          longVal(x).map(FilterApi.ltEq(FilterApi.longColumn(c), _))
        case (dt @ (IntegerType | DateType), x) =>
          intVal(dt, x).map(FilterApi.ltEq(FilterApi.intColumn(c), _))
        case (DoubleType, x: Number) =>
          Some(FilterApi.ltEq(FilterApi.doubleColumn(c),
            java.lang.Double.valueOf(x.doubleValue())))
        case (StringType, x: String) =>
          Some(FilterApi.ltEq(FilterApi.binaryColumn(c),
            Binary.fromString(x)))
        case _ => None
      })
      case In(c, vs) if vs != null && vs.nonEmpty && vs.forall(_ != null)
          && vs.length <= 20 =>
        vs.toSeq.map(v => toParquetPredicate(schema, EqualTo(c, v)))
          .reduce((a, b) => for { x <- a; y <- b }
            yield FilterApi.or(x, y))
      case _ => None
    }
  }
}

/** `format("graftlog")` entry point (registered via
  * META-INF/services/org.apache.spark.sql.sources.DataSourceRegister).
  *
  * Read options: `path` (required), `version` (AS-OF snapshot, default
  * latest), `readChangeFeed` (CDC rows instead of a snapshot),
  * `startingVersion` (CDC range start, default the vacuum watermark),
  * `columnar` (default true — vectorized batch reads).
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

case class GraftLogTable(root: String, asOfVersion: Int,
    tableSchema: StructType,
    conf: SerializableConfiguration, cdc: Boolean = false,
    cdcStart: Int = 1, partitionCols: Seq[String] = Nil,
    colMap: Map[String, String] = Map.empty,
    tombstones: Set[String] = Set.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
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
      cdcStart, options.getBoolean("columnar", true),
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
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

  /** `_file` — file provenance per row, and the group identity Spark's
    * row-level commands runtime-filter on. Hidden when the table's OWN
    * schema uses the name (legacy data wins, same policy as the CDC
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

  /** SQL UPDATE / MERGE INTO / complex DELETE: the group-based
    * (copy-on-write) row-level operation — Spark rewrites the command
    * into a ReplaceData plan over this table, runtime-filters the scan
    * to the files that contain matched rows (via the `_file` metadata
    * column), and the write commits remove(those files)+add(rewrite)
    * as ONE version. See [[GraftLogRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!cdc,
      "graftlog: row-level operations are not valid on a change-feed read")
    require(!tableSchema.fieldNames.contains(GraftLog.FileCol),
      s"graftlog: row-level SQL needs the ${GraftLog.FileCol} metadata " +
        "column, which this table's own schema shadows")
    new GraftLogRowLevelBuilder(root, conf, info)
  }

  /** SQL `DELETE FROM graft.t WHERE ...` (and TRUNCATE, which arrives
    * as AlwaysTrue): expressible predicates route to the row-level
    * rewrite ([[GraftLogOps.deleteFromLog]] — only the files containing
    * matching rows are rewritten, one remove+add version, CDC-visible).
    * Inexpressible predicates rewrite through the group-based row-level
    * plan instead (Spark's OptimizeMetadataOnlyDeleteFromTable picks
    * this path only when canDeleteWhere holds).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !cdc && asOfVersion >= 1 &&
      filters.forall(f => GraftLogOps.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!cdc, "graftlog: cannot DELETE FROM a change-feed read")
    val spark = SparkSession.active
    val cond = filters.flatMap(GraftLogOps.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // write-shape choice: copy-on-write (default) rewrites touched
    // files; merge-on-read commits deletion vectors — the scattered-
    // delete shape where CoW amplification dominates at 100 TB
    val mode = spark.conf.getOption(GraftLogOps.DeleteModeConf)
      .getOrElse(GraftLogOps.DeleteModeCow)
    GraftLogOps.deleteFromLog(spark, root, cond, mode)
  }
}

class GraftLogScanBuilder(root: String, version: Int, tableSchema: StructType,
    conf: SerializableConfiguration, cdc: Boolean, cdcStart: Int,
    columnar: Boolean, maxVersionsPerTrigger: Option[Int] = None,
    streamStart: Option[Int] = None, rowLevel: Boolean = false,
    onBuild: GraftLogScan => Unit = _ => (),
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

  // catalog-cheap probe (manifest-described tables skip even this):
  // INT96-backed columns take no pushdown
  private lazy val int96 =
    GraftLog.int96Columns(conf.value, root, version)

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  /** Accept what converts; return EVERYTHING as residual — row-group
    * statistics are coarse, so Spark must re-apply (the same contract
    * its built-in parquet source uses). Filters that DON'T convert to a
    * parquet predicate (a literal 1000-value IN list, say) are still
    * tracked for the MANIFEST-STATS file skip, which handles a wider
    * shape set than row-group predicate trees ([[GraftLogStats
    * .mayMatch]] is per-file map lookups and conservatively keeps
    * anything it can't rule out) — without this, a static large IN
    * prunes files only when it arrives as a runtime filter.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // COPY-ON-WRITE scans (rowLevel): a pushed parquet predicate would
    // drop the KEPT rows of a partially-matching row group — the
    // rewrite must read every row of every touched file, so filters
    // participate in the FILE-level skip only (a wholly-pruned file is
    // neither read nor removed — still live, still correct)
    accepted =
      if (rowLevel) Array.empty
      else filters.filter(f =>
        f.references.forall(c => !int96.contains(phys(c))) &&
          GraftLog.toParquetPredicate(dataSchema, physFilter(f)).isDefined)
    val acceptedSet = accepted.toSet
    // NESTED references resolve through the schema walk (dot-joined
    // struct paths — "meta.score"), not the top-level name list: the
    // manifest carries min/max/null statistics for struct LEAVES under
    // their physical dotted paths, so a predicate on a nested training
    // -metadata field prunes files exactly like a top-level one
    skipOnly = filters.filter(f => !acceptedSet.contains(f) &&
      f.references.forall(c => !int96.contains(phys(c)) &&
        GraftLogStats.fieldAt(dataSchema,
          colMap.getOrElse(c, c)).isDefined))
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
    val entries = st.adds.flatMap(GraftLog.expandRow(conf.value, root, _))
    if (!entries.forall(e => e.rows.isDefined && e.stats.isDefined))
      return None
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
      val acceptedPhys = accepted.map(physFilter)
      val predicate = acceptedPhys
        .flatMap(f => GraftLog.toParquetPredicate(dataSchema, f))
        .reduceOption(FilterApi.and)
      val scan = GraftLogScan(root, version, dataSchema, int96,
        physSchema(pruned),
        accepted.map(_.toString), predicate, acceptedPhys, conf, cdc,
        cdcStart, columnar, maxVersionsPerTrigger,
        skipOnly.map(physFilter), streamStart, rowLevel,
        presented = if (colMap.isEmpty) None else Some(pruned),
        colMap = colMap)
      onBuild(scan)
      scan
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

case class GraftLogScan(root: String, version: Int, full: StructType,
    int96: Set[String], pruned: StructType,
    pushedDesc: Array[String], predicate: Option[FilterPredicate],
    staticFilters: Array[Filter], conf: SerializableConfiguration,
    cdc: Boolean, cdcStart: Int, columnar: Boolean,
    maxVersionsPerTrigger: Option[Int] = None,
    skipOnlyFilters: Array[Filter] = Array.empty,
    streamStart: Option[Int] = None, rowLevel: Boolean = false,
    presented: Option[StructType] = None,
    colMap: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // COLUMN MAPPING: `full`/`pruned`/`staticFilters` arrive in PHYSICAL
  // (file-side) terms from the builder; `presented` carries the
  // LOGICAL field names Spark binds the output to (positionally
  // identical to `pruned`). Runtime filters arrive logical and are
  // renamed at the door. Identity-mapped tables pass presented=None
  // and colMap=empty — every legacy path byte-identical.

  /** Runtime filters (DPP-style: Spark hands them to the scan after the
    * build side of a join resolves) join the static set for BOTH the
    * file-level stats skip and the per-reader row-group/record
    * filtering. Conservative superset semantics — the join itself
    * still applies the exact condition.
    */
  private var runtimeFilters: Array[Filter] = Array.empty
  private[sources] var runtimeDesc: Array[String] = Array.empty

  /** Runtime GROUP filter on the `_file` metadata column — the one
    * Spark's row-level commands push after computing which files hold
    * matched rows. Paths are compared in canonical URI-path form
    * (scheme/authority rendering varies across filesystems).
    */
  private var fileFilter: Option[Set[String]] = None

  /** Does the `_file` metadata column synthesize on this scan? (Never
    * when the table's own schema shadows the name.)
    */
  private def synthFile: Boolean =
    pruned.fieldNames.contains(GraftLog.FileCol) &&
      !full.fieldNames.contains(GraftLog.FileCol)

  private def normPath(p: String): String = new Path(p).toUri.getPath

  /** Attributes runtime filters may target. A COPY-ON-WRITE scan
    * advertises ONLY the `_file` group identity: Spark's runtime group
    * filtering builds its pruning key from this exact set, so listing
    * data columns here would make it prune on a whole-row struct —
    * inconvertible to a file skip — instead of the file list. Ordinary
    * scans advertise their OUTPUT columns (DPP on join keys): Spark's
    * PartitionPruning resolves every advertised name against the scan
    * relation's output and throws on a miss, so a column pruned away
    * must not be advertised.
    */
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // advertised in LOGICAL names (Spark resolves them against the
    // relation's output); the int96 exclusion keys on the PHYSICAL name
    val names =
      if (rowLevel) Array(GraftLog.FileCol)
      else presented.getOrElse(pruned).fieldNames
        .filterNot(n => int96.contains(colMap.getOrElse(n, n)))
    names.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val (fileFilters, dataFilters) = filters.partition(
      _.references.contains(GraftLog.FileCol))
    if (!full.fieldNames.contains(GraftLog.FileCol)) fileFilters.foreach {
      case In(GraftLog.FileCol, vs) if vs != null =>
        val set = vs.iterator.collect { case s: String => normPath(s) }
          .toSet
        fileFilter = Some(fileFilter.fold(set)(_ intersect set))
      case EqualTo(GraftLog.FileCol, v: String) =>
        val set = Set(normPath(v))
        fileFilter = Some(fileFilter.fold(set)(_ intersect set))
      case _ => () // conservative: unknown shapes keep every file
    }
    // runtime filters arrive in LOGICAL names — rename to physical
    // before anything file-facing consumes them
    val usable = dataFilters
      .map(f => if (colMap.isEmpty) f else GraftLog.renameFilter(f, colMap))
      .filter(f => f.references.forall(c => !int96.contains(c) &&
        full.fieldNames.contains(c)))
    if (usable.nonEmpty) {
      runtimeFilters ++= usable
      runtimeDesc ++= usable.map(_.toString)
    }
  }

  /** Static + runtime parquet predicate (the convertible subset), for
    * reader-level row-group skipping and record filtering. A COPY-ON-
    * WRITE scan never pushes a record predicate: the rewrite must read
    * every row of every touched file (file-level skip still applies).
    */
  private def effectivePredicate: Option[FilterPredicate] =
    if (rowLevel) None
    else (staticFilters ++ runtimeFilters).toSeq
      .flatMap(f => GraftLog.toParquetPredicate(full, f))
      .reduceOption(FilterApi.and)

  /** Columns the effective predicate references — the reader drops the
    * pushed predicate for any FILE whose footer stores one of them as
    * INT96 (mixed-encoding logs decode per-file; a pushed longColumn
    * predicate against an INT96 chunk would fail parquet's schema
    * validator at reader build).
    */
  private def predicateRefs: Set[String] =
    if (rowLevel) Set.empty
    else (staticFilters ++ runtimeFilters).iterator
      .filter(f => GraftLog.toParquetPredicate(full, f).isDefined)
      .flatMap(_.references).toSet

  /** Every filter usable for the manifest-stats file skip (wider than
    * the parquet-convertible set: large In()s — both literal and DPP
    * runtime ones — included).
    */
  private def skipFilters: Array[Filter] =
    staticFilters ++ skipOnlyFilters ++ runtimeFilters

  override def readSchema(): StructType = presented.getOrElse(pruned)

  /** One file this scan covers: its entry (with manifest statistics
    * when recorded), the CDC (change_type, version) tag when reading a
    * change feed, and — under merge-on-read deletes — the deletion
    * vector to apply: `dvMask` skips the sidecar's positions (snapshot
    * reads of a DV'd file), `dvEmit` emits ONLY them (the change feed's
    * delete rows for a dv commit). Sidecar paths are absolute.
    */
  private[sources] case class PlannedFile(entry: FileEntry,
      cdcMeta: Option[(String, Long)] = None,
      dvMask: Option[String] = None, dvEmit: Option[String] = None,
      maskedRows: Long = 0L)

  /** The files this scan covers. Computed ONCE per scan from the
    * manifest fold; this is the control-plane read that replaces the
    * per-file footer walk.
    */
  private lazy val entries: Seq[PlannedFile] =
    if (!cdc) {
      val st = GraftLog.liveState(conf.value, root, version)
      st.adds.flatMap { r =>
        val dv = st.dvs.get(r.file)
        GraftLog.expandRow(conf.value, root, r).map(e =>
          PlannedFile(e,
            dvMask = dv.map(d => s"$root/${d.dv}"),
            maskedRows = dv.map(_.card).getOrElse(0L)))
      }
    } else {
      // the DV state folds from v1 (a vector committed BEFORE the read
      // range still masks the remove rows a later rewrite emits); the
      // feed itself starts at cdcStart
      val running = mutable.HashMap[String, GraftLog.DvDescriptor]()
      if (cdcStart > 1)
        running ++= GraftLog.liveState(conf.value, root, cdcStart - 1).dvs
      (cdcStart to version).flatMap { v =>
        val rows = GraftLog.versionRows(conf.value, root, v)
        // CONTENT-PRESERVING rewrites (compaction / OPTIMIZE, named by
        // the commit's op row) emit NOTHING in the change feed: the
        // same logical rows merely moved files, and at 100 TB a single
        // OPTIMIZE must not re-emit the whole table as delete+insert
        // churn (Delta's CDF excludes dataChange=false actions the
        // same way). The dv/live bookkeeping still folds — a folded
        // file's mask dies with its remove — and the skipped version's
        // removed files are never opened, so the feed stays
        // reconstructible even after they are vacuumed. Legacy commits
        // without an op row keep the old delete+insert behavior.
        val preserving = rows.exists(r =>
          r.action == "op" && r.file == "compact")
        rows.flatMap {
          case r @ GraftLog.ManifestRow("add", f, _, _, _) =>
            running -= f
            if (preserving) Seq.empty
            // a MoR update/merge writes its transformed-row files with
            // a change-feed class in the stats JSON — surface it;
            // untagged adds are plain inserts
            else GraftLog.expandRow(conf.value, root, r)
              .map(e => PlannedFile(e,
                Some((e.stats.flatMap(_.cdcClass).getOrElse("insert"),
                  v.toLong))))
          case GraftLog.ManifestRow("remove", f, _, _, _) =>
            // delete rows for the file's LIVE remainder: positions
            // already masked by an earlier dv commit were emitted as
            // deletes THEN and must not re-delete here
            val mask = running.remove(f)
            if (preserving) Seq.empty
            else {
              val expanded = GraftLog.expandEntry(conf.value, root, f)
              if (expanded.isEmpty) throw new IllegalStateException(
                s"graftlog CDC: version $v removes $f but the file is gone " +
                  "(compacted away and vacuumed?) — the change feed for " +
                  "this range is no longer reconstructible; raise " +
                  "startingVersion past it")
              expanded.map(p => PlannedFile(FileEntry(p),
                Some(("delete", v.toLong)),
                dvMask = mask.map(d => s"$root/${d.dv}")))
            }
          case GraftLog.ManifestRow("dv", f, _, _, Some(json)) =>
            val d = GraftLog.decodeDv(json)
            running(f) = d
            // the newly-masked positions ARE this version's deletes —
            // or, for a MoR update/merge, the UPDATE PREIMAGES (the
            // descriptor carries the class)
            Seq(PlannedFile(FileEntry(s"$root/$f"),
              Some((d.cdcClass.getOrElse("delete"), v.toLong)),
              dvEmit = Some(s"$root/${d.delta}")))
          case _ => Seq.empty
        }
      }
    }

  // deletion vectors apply on BOTH reader paths (the row reader tracks
  // positions through the record stream; the columnar reader compacts
  // survivors while the batch fills, per-group rowIndexOffset-exact),
  // so a DV'd snapshot keeps the vectorized plan — no scan-wide
  // fallback, and Spark's one-columnar-decision-per-scan rule is
  // satisfied without consulting the dv state at all.

  /** Planner-visible stats for the snapshot: exact row count and bytes
    * from the MANIFEST when every live file carries them (the
    * connector write path guarantees it), footers only as the legacy
    * fallback; bytes scaled by the pruned-column fraction, the same
    * heuristic Spark's FileScan uses. This is what lets a small log
    * snapshot broadcast correctly when joined against a large fact
    * table — and at 10⁵ files it is a manifest fold, not a footer walk.
    */
  private lazy val memoStats: Statistics = {
    var bytes = 0L
    var rows = 0L
    entries.foreach { pf =>
      val e = pf.entry
      (e.rows, e.bytes) match {
        case (Some(r), Some(b)) => rows += r; bytes += b
        case _ =>
          val c = conf.value
          val p = new Path(e.path)
          bytes += p.getFileSystem(c).getFileStatus(p).getLen
          GraftLog.planFooterReads.incrementAndGet()
          val footer =
            ParquetFileReader.open(HadoopInputFile.fromPath(p, c))
          try rows += footer.getRecordCount finally footer.close()
      }
      rows -= pf.maskedRows // deletion-vector'd rows are not served
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

  override def estimateStatistics(): Statistics = memoStats

  override def description(): String =
    s"GraftLogScan root=$root version=$version${if (cdc) " cdc" else ""} " +
      s"readSchema=[${pruned.fieldNames.mkString(",")}] " +
      s"pushed=[${pushedDesc.mkString(", ")}]"

  override def toBatch: Batch = this

  /** Files whose statistics rule out every matching row under the
    * combined (static + runtime) filters are never scheduled at all —
    * at 100 TB a selective key predicate over a clustered log version
    * scans only the matching files. Stats-bearing manifest entries
    * decide from the manifest alone; legacy entries fall back to
    * parquet's own footer-level RowGroupFilter.
    */
  /** Files a copy-on-write plan actually covered (manifest-relative,
    * post every skip including the runtime group filter) — the EXACT
    * remove set the paired replace-data write commits: a file that was
    * never read must never be removed, and every file whose rows were
    * fed to the rewrite must be. POSITIVE provenance invariant
    * (upgrading the one-scan refusal): re-planning may only ever
    * NARROW the set (runtime filters arriving), so the final plan —
    * the one whose tasks actually execute — is provably a subset of
    * every earlier one; a plan that ADDED files would make the
    * captured remove set untrustworthy and refuses before any task
    * runs.
    */
  @volatile private[sources] var plannedRelFiles: Seq[String] = Seq.empty
  @volatile private[sources] var planCount: Int = 0

  override def planInputPartitions(): Array[InputPartition] = {
    val filters = skipFilters
    val pred = effectivePredicate
    // a 10 GB compacted file must not become one task: surviving files
    // above the session's maxPartitionBytes split into byte ranges
    // (parquet assigns each row group to the range holding its
    // midpoint, so a covering range set reads every row exactly once —
    // the same discipline Spark's own FileScan uses). Byte lengths
    // come from the manifest (or the expansion listing) — no extra RPC.
    val maxSplit = SparkSession.getActiveSession
      .map(_.sessionState.conf.filesMaxPartitionBytes)
      .getOrElse(128L * 1024 * 1024)
    val survivors = entries.filter { pf =>
      val e = pf.entry
      fileFilter.forall(_.contains(normPath(e.path))) && {
        if (filters.isEmpty) true
        else e.stats match {
          case Some(st) =>
            // stats describe the UNMASKED file — a superset of the
            // served rows, so the skip stays conservative under DVs
            filters.forall(f =>
              GraftLogStats.mayMatch(full, st, e.rows, f))
          case None =>
            pred.forall(p => GraftLog.fileMayMatch(conf.value, e.path, p))
        }
      }
    }
    if (rowLevel) this.synchronized {
      val rel = survivors.map { pf =>
        val r = pf.entry.path.stripPrefix(s"$root/")
        require(r != pf.entry.path,
          s"graftlog row-level scan: ${pf.entry.path} not under $root")
        r
      }.distinct
      if (planCount > 0 && !rel.toSet.subsetOf(plannedRelFiles.toSet))
        throw new IllegalStateException(
          "graftlog row-level scan: a re-plan WIDENED the planned " +
            s"file set (${rel.diff(plannedRelFiles).take(3)
              .mkString(", ")} appeared) — runtime filtering may only " +
            "narrow it, so the captured remove set would no longer " +
            "describe the rows feeding the rewrite; refusing before " +
            "any task runs")
      plannedRelFiles = rel
      planCount += 1
    }
    survivors.flatMap { pf =>
      val e = pf.entry
      e.bytes match {
        case Some(len) if len > maxSplit =>
          val n = ((len + maxSplit - 1) / maxSplit).toInt
          (0 until n).map { i =>
            val s = i * maxSplit
            GraftLogInputPartition(e.path, pf.cdcMeta,
              Some((s, math.min(s + maxSplit, len))),
              dvMask = pf.dvMask, dvEmit = pf.dvEmit)
          }
        case _ => Seq(GraftLogInputPartition(e.path, pf.cdcMeta, None,
          dvMask = pf.dvMask, dvEmit = pf.dvEmit))
      }
    }.map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftLogReaderFactory(pruned, effectivePredicate, predicateRefs,
      conf, columnar, cdc, synthFile)

  /** The log as a STREAM: each committed version is a micro-batch —
    * `readStream.format("graftlog")` tails the commit log the way
    * lakehouse formats do. Offsets are version numbers (exactly-once
    * via the standard checkpoint protocol), and column pruning / filter
    * pushdown apply to the tail exactly as to the batch scan (same
    * reader factory). APPEND-ONLY contract in snapshot mode: a version
    * that removes files (compaction, delete, rewrite) is not
    * representable as appended rows — the tail fails LOUDLY on it. In
    * CDC mode (`readChangeFeed`) removes ARE representable — they emit
    * as tagged delete rows — so the same rewrite streams through as
    * (delete old, insert new).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new GraftLogMicroBatchStream(root, pruned, effectivePredicate,
      predicateRefs, conf, cdc, cdcStart, maxVersionsPerTrigger,
      streamStart, columnar, synthFile)
}

case class GraftLogInputPartition(file: String,
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
  * version N"; a batch (start, end] reads the files ADDED by versions
  * start+1..end (plus, in CDC mode, delete rows for files REMOVED).
  * Torn commits are invisible (latestOffset stops before them), so a
  * batch can never read a half-written version.
  *
  * VACUUM SAFETY: a cold start of a VACUUMED log refuses loudly —
  * versions below the watermark are expired (their data files may be
  * gone; expanding them to an empty file list would be SILENT loss,
  * the worst failure a tail can have), so skipping them must be an
  * explicit decision: `option("startingVersion", n)` with n at or
  * above the watermark acknowledges the gap and starts there. A
  * checkpointed offset that has since fallen below the watermark
  * refuses loudly the same way — the loud/silent handling of the
  * identical gap is consistent on both paths. (CDC tails carry their
  * own `startingVersion`, watermark-checked at load.)
  *
  * CONTENT-PRESERVING rewrites (compaction/OPTIMIZE, named by the
  * commit's op row) emit NOTHING in either mode — the same logical
  * rows merely moved files; deletion-vector commits emit their appends
  * in snapshot mode and their delta positions as
  * delete/update_preimage rows in CDC mode.
  *
  * ADMISSION CONTROL: `option("maxVersionsPerTrigger", n)` caps each
  * micro-batch at n committed versions — a tail restarted after a long
  * outage catches up in bounded batches instead of one giant one (at
  * 100 TB, "read 10 000 versions in one trigger" is a driver OOM, not
  * a plan).
  */
class GraftLogMicroBatchStream(root: String, pruned: StructType,
    predicate: Option[FilterPredicate], predicateRefs: Set[String],
    conf: SerializableConfiguration, cdc: Boolean, cdcStart: Int = 1,
    maxVersionsPerTrigger: Option[Int] = None,
    streamStart: Option[Int] = None, columnar: Boolean = false,
    synthFile: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

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
    maxVersionsPerTrigger
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

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLogOffset].version
    val e = end.asInstanceOf[GraftLogOffset].version
    val c = conf.value
    val wm = GraftLog.vacuumWatermark(c, root)
    if (s + 1 < wm && s + 1 <= e) throw new IllegalStateException(
      s"graftlog stream: checkpointed offset $s requires version " +
        s"${s + 1}, but the vacuum watermark is $wm — the expired " +
        "versions' files may be gone, and skipping them would be " +
        "silent data loss; start a fresh stream from a snapshot")
    // DV state as of the batch start, so a rewrite's remove rows don't
    // re-delete positions an earlier dv commit already emitted
    lazy val running = {
      val m = mutable.HashMap[String, GraftLog.DvDescriptor]()
      if (cdc && s >= 1) m ++= GraftLog.liveState(c, root, s).dvs
      m
    }
    (s + 1 to e).flatMap { v =>
      val rows = GraftLog.versionRows(c, root, v)
      val removed = rows.collect {
        case GraftLog.ManifestRow("remove", f, _, _, _) => f }
      val dvRows = rows.collect {
        case GraftLog.ManifestRow("dv", f, _, _, Some(json)) =>
          (f, GraftLog.decodeDv(json)) }
      val opRow = rows.collectFirst {
        case GraftLog.ManifestRow("op", o, _, _, _) => o }
      // APPEND-ONLY contract, refined by the commit's OPERATION row:
      //  - a CONTENT-PRESERVING rewrite (compaction / OPTIMIZE — same
      //    logical rows, different files) emits NOTHING: its adds
      //    re-house rows earlier batches already emitted, so skipping
      //    the whole version is exactly correct;
      //  - a DELETION-VECTOR commit emits its adds only (a MoR
      //    update/merge's new row versions ARE appended rows); the
      //    masked old positions are deletions, which an append-only
      //    tail cannot retract — documented semantics, and a consumer
      //    that needs them tails the change feed instead;
      //  - any OTHER remove (copy-on-write DML, a legacy commit with
      //    no op row) still refuses loudly: its adds mix re-housed and
      //    new rows, so neither skipping nor emitting is correct.
      val preserving = removed.nonEmpty && opRow.contains("compact")
      if (removed.nonEmpty && !preserving && !cdc)
        throw new IllegalStateException(
          s"graftlog stream: version $v of $root is not append-only " +
            s"(${removed.map("removes " + _)
              .take(3).mkString(", ")}...); the tail " +
            "emits appended rows only — run maintenance rewrites on a " +
            "separate log, start a fresh stream from a snapshot, or tail " +
            "with option(\"readChangeFeed\", true) to consume removes as " +
            "delete rows")
      // a content-preserving rewrite emits NOTHING in EITHER mode: the
      // snapshot tail already emitted these rows, and the change feed
      // must not re-emit them as churn (Delta-CDF semantics) — only
      // the dv/live bookkeeping folds through
      val adds =
        if (preserving) Seq.empty
        else rows.collect {
          case r @ GraftLog.ManifestRow("add", _, _, _, _) => r }
          .flatMap(GraftLog.expandRow(c, root, _))
          .map(fe => GraftLogInputPartition(fe.path,
            if (cdc) Some((fe.stats.flatMap(_.cdcClass)
              .getOrElse("insert"), v.toLong))
            else None))
      if (cdc) rows.foreach {
        case GraftLog.ManifestRow("add", f, _, _, _) => running -= f
        case _ => ()
      }
      val dels =
        if (!cdc) Seq.empty
        else if (preserving) { removed.foreach(running.remove); Seq.empty }
        else removed.flatMap { f =>
          val mask = running.remove(f)
          GraftLog.expandEntry(c, root, f).map(p =>
            GraftLogInputPartition(p, Some(("delete", v.toLong)),
              dvMask = mask.map(d => s"$root/${d.dv}")))
        }
      val dvDels =
        if (!cdc) Seq.empty
        else dvRows.map { case (f, d) =>
          running(f) = d
          GraftLogInputPartition(s"$root/$f",
            Some((d.cdcClass.getOrElse("delete"), v.toLong)),
            dvEmit = Some(s"$root/${d.delta}"))
        }
      adds ++ dels ++ dvDels
    }.map(p => p: InputPartition).toArray
  }

  // the micro-batch tail reads through the SAME factory the batch scan
  // uses, vectorized included — supportColumnarReads routes nested
  // projections and the empty-projection-under-predicate edge to the
  // row reader per the same rules, so a streaming epoch's plan carries
  // the identical ColumnarToRow span a batch read of that version would
  // (StreamingSpec pins plan shape and batch/stream row parity); dv
  // partitions (CDC delta deletes, masked removes) read vectorized too
  override def createReaderFactory(): PartitionReaderFactory =
    GraftLogReaderFactory(pruned, predicate, predicateRefs, conf,
      columnar, cdc, synthFile)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class GraftLogReaderFactory(pruned: StructType,
    predicate: Option[FilterPredicate], predicateRefs: Set[String],
    conf: SerializableConfiguration, columnar: Boolean,
    cdc: Boolean = false, synthFile: Boolean = false)
    extends PartitionReaderFactory {

  // the meta names are only scan-synthesized when the SCAN says so
  // (CDC partitions; `_file` when the table schema doesn't shadow it) —
  // a legacy table whose OWN schema uses them reads them as data
  private def dataFieldCount: Int =
    pruned.fields.count(f =>
      (!cdc || (f.name != GraftLog.ChangeTypeCol &&
        f.name != GraftLog.CommitVersionCol)) &&
        (!synthFile || f.name != GraftLog.FileCol))

  /** Vectorized reads whenever the projection has data columns to
    * drive batch row counts OR no predicate needs record-level care;
    * the one edge kept on the row reader is an empty data projection
    * under a predicate (the runtime-filter-after-prune case), where
    * the row reader's read-full-schema fallback is the simple correct
    * answer. NESTED projections (array/map/struct columns) read through
    * the row reader — their repetition-level assembly is the Group
    * walk's job; the vectorized path stays flat-primitive-only. The
    * decision depends only on (pruned, predicate), so it is constant
    * across partitions — Spark requires that.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && !(dataFieldCount == 0 && predicate.isDefined) &&
      pruned.fields.forall(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      })

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    new GraftLogPartitionReader(p.file, pruned, predicate, predicateRefs,
      conf.value, p.cdcMeta, p.range, synthFile, p.dvMask, p.dvEmit)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    new GraftLogColumnarReader(p.file, pruned, predicate, predicateRefs,
      conf.value, p.cdcMeta, p.range, synthFile, p.dvMask, p.dvEmit)
  }
}

/** Per-file ROW reader: footer-driven projection (only the pruned
  * columns are decoded) + the pushed parquet predicate (row-group
  * skipping and record filtering happen inside parquet-hadoop, before
  * any row reaches Spark). Streaming tails and the rare
  * empty-projection-under-predicate batch edge read through this;
  * everything else reads through [[GraftLogColumnarReader]].
  */
class GraftLogPartitionReader(file: String, pruned: StructType,
    predicate: Option[FilterPredicate], predicateRefs: Set[String],
    baseConf: Configuration, cdcMeta: Option[(String, Long)] = None,
    range: Option[(Long, Long)] = None, synthFile: Boolean = false,
    dvMask: Option[String] = None, dvEmit: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private val conf = new Configuration(baseConf)

  // DELETION-VECTOR mode: dvMask SKIPS the sidecar's positions (a
  // snapshot read of a DV'd file), dvEmit emits ONLY them (the change
  // feed's delete rows for a dv commit). Positions are file-absolute
  // row indexes, tracked via parquet's OWN per-record row index
  // (`ParquetReader.getCurrentRowIndex` — file-absolute under
  // record-level filtering, row-group skips and byte-range reads
  // alike, pinned by ParquetRowIndexSpec), so the pushed predicate
  // stays live on DV'd files: row groups skip and records filter
  // exactly as on unmasked ones. Sidecar loads go through the
  // executor-wide [[GraftLog.DvSidecarCache]]: a large file split N
  // ways reads its sidecar once per executor, not once per split.
  private val dvPositions: Array[Long] =
    dvMask.orElse(dvEmit)
      .map(p => GraftLog.DvSidecarCache.get(conf, p))
      .getOrElse(Array.empty)
  private val dvActive = dvMask.isDefined || dvEmit.isDefined
  private val dvSelect = dvEmit.isDefined // emit-only vs skip mode

  // metadata columns are scan-synthesized constants at their pruned
  // positions — CDC tags only on CDC partitions (cdcMeta set), `_file`
  // only when the scan says the table schema doesn't shadow it; a
  // legacy table whose own schema uses the names reads them as data
  private val metaConst: Map[Int, Any] = {
    val cdcConsts = cdcMeta match {
      case Some((ct, v)) => pruned.fields.zipWithIndex.collect {
        case (f, i) if f.name == GraftLog.ChangeTypeCol =>
          i -> UTF8String.fromString(ct)
        case (f, i) if f.name == GraftLog.CommitVersionCol => i -> (v: Any)
      }.toMap
      case None => Map.empty[Int, Any]
    }
    val fileConsts =
      if (!synthFile) Map.empty[Int, Any]
      else pruned.fields.zipWithIndex.collect {
        case (f, i) if f.name == GraftLog.FileCol =>
          i -> (UTF8String.fromString(file): Any)
      }.toMap
    cdcConsts ++ fileConsts
  }
  private val dataFields: Array[(StructField, Int)] =
    pruned.fields.zipWithIndex.filter { case (f, _) =>
      (cdcMeta.isEmpty || !(f.name == GraftLog.ChangeTypeCol ||
        f.name == GraftLog.CommitVersionCol)) &&
        (!synthFile || f.name != GraftLog.FileCol) }

  // captured from this FILE's footer so mixed-encoding logs (INT96 in
  // one snapshot, INT64 micros in another) decode correctly per file
  // (the decoders key on the file's own parquet types), and columns a
  // WIDENING appended after this file was written are null-filled
  // instead of looked up
  private var cachedFileSchema: MessageType = _
  // pruned data columns present in THIS file, with their output index;
  // group field order == this array's order
  private var present: Array[(StructField, Int)] = Array.empty

  private val reader: ParquetReader[Group] = {
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    val fileSchema = try footer.getFileMetaData.getSchema
    finally footer.close()
    cachedFileSchema = fileSchema
    present = dataFields.filter { case (f, _) =>
      fileSchema.containsField(f.name) }
    // per-file predicate drop (Spark re-applies all filters as
    // residuals either way; deletion vectors do NOT drop it — the mask
    // keys on parquet's own per-record row index, which stays
    // file-absolute under record filtering and row-group skips,
    // ParquetRowIndexSpec):
    def resolveFilePath(path: String)
        : Option[org.apache.parquet.schema.Type] = {
      val segs = path.split('.')
      var cur: org.apache.parquet.schema.Type = fileSchema
      var i = 0
      while (i < segs.length) {
        cur match {
          case g: org.apache.parquet.schema.GroupType
            if g.containsField(segs(i)) =>
            cur = g.getType(g.getFieldIndex(segs(i))); i += 1
          case _ => return None
        }
      }
      Some(cur)
    }
    // a ref (dotted struct-leaf paths included) drops the predicate
    // for THIS file when it is absent here (written before a column or
    // struct-field widening — null for every row), INT96 here, or
    // stored under a NARROWER physical than the predicate was built
    // against (written before an ALTER COLUMN TYPE) — the validator
    // would reject the column mismatch at build either way
    def predicateDrops(r: String): Boolean =
      resolveFilePath(r) match {
        case Some(t) if t.isPrimitive =>
          val actual = t.asPrimitiveType().getPrimitiveTypeName
          actual == org.apache.parquet.schema.PrimitiveType
            .PrimitiveTypeName.INT96 ||
            !GraftLogStats.fieldAt(pruned, r).exists { pf =>
              val expected = GraftLogWrite.toParquetType(
                r.split('.').last, pf.dataType)
              expected.isPrimitive &&
                expected.asPrimitiveType().getPrimitiveTypeName == actual
            }
        case _ => true // absent, or a group — no pushable value here
      }
    val filt =
      if (predicateRefs.exists(predicateDrops)) None
      else predicate
    // projection = the file's OWN field definitions filtered to the
    // pruned names present here (guaranteed physical-type compatible);
    // an empty projection (a bare count, or a read of only-widened
    // columns) still needs one column to drive row iteration — take the
    // first field, UNLESS a predicate exists (a runtime filter can
    // arrive after pruning): parquet's filter validator requires every
    // predicate column in the read schema, so that rare case reads the
    // full schema rather than failing
    val wanted =
      if (present.nonEmpty) present.map(_._1.name).toSeq
      else if (filt.isDefined)
        fileSchema.getFields.toArray(
          Array.empty[org.apache.parquet.schema.Type]).map(_.getName).toSeq
      else Seq(fileSchema.getFields.get(0).getName)
    val projection = new MessageType(fileSchema.getName,
      wanted.map(n =>
        fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    var b = ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf)
    range.foreach { case (s, e) => b = b.withFileRange(s, e) }
    filt.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
  }

  /** Recursive decoder for one (Spark type, file parquet type) pair —
    * `(parent group, field index, repetition index) => Spark value`.
    * Primitives decode per THIS file's physical encoding (INT96
    * timestamps via julian-day+nanos); the standard nested encodings
    * recurse: LIST's `list/element` levels, MAP's `key_value`, and
    * plain struct groups (struct subfields absent from this file —
    * written before a widening — null-fill by name).
    */
  private def decoderFor(dt: DataType,
      pt: org.apache.parquet.schema.Type): (Group, Int, Int) => Any =
    (dt, pt) match {
      case (TimestampType, p: org.apache.parquet.schema.PrimitiveType)
        if p.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96 =>
        (g, i, r) => GraftLog.int96ToMicros(g.getInt96(i, r).getBytes)
      case (dec: DecimalType, p: org.apache.parquet.schema.PrimitiveType) =>
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        p.getPrimitiveTypeName match {
          case INT32 => (g, i, r) =>
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(g.getInteger(i, r)), dec.scale),
              dec.precision, dec.scale)
          case INT64 => (g, i, r) =>
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(g.getLong(i, r)), dec.scale),
              dec.precision, dec.scale)
          case FIXED_LEN_BYTE_ARRAY | BINARY => (g, i, r) =>
            org.apache.spark.sql.types.Decimal(
              BigDecimal(BigInt(new java.math.BigInteger(
                g.getBinary(i, r).getBytes)), dec.scale),
              dec.precision, dec.scale)
          case other => throw new IllegalArgumentException(
            s"graftlog: unsupported decimal physical type $other")
        }
      // TYPE-WIDENING boundary: files written before an ALTER COLUMN
      // TYPE store the NARROW physical — up-cast value-exactly here
      case (LongType, p: org.apache.parquet.schema.PrimitiveType)
        if p.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
        (g, i, r) => g.getInteger(i, r).toLong
      case (DoubleType, p: org.apache.parquet.schema.PrimitiveType)
        if p.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT =>
        (g, i, r) => g.getFloat(i, r).toDouble
      case (LongType | TimestampType | TimestampNTZType, _) =>
        (g, i, r) => g.getLong(i, r)
      case (IntegerType | DateType, _) => (g, i, r) => g.getInteger(i, r)
      case (DoubleType, _)  => (g, i, r) => g.getDouble(i, r)
      case (FloatType, _)   => (g, i, r) => g.getFloat(i, r)
      case (BooleanType, _) => (g, i, r) => g.getBoolean(i, r)
      case (StringType, _)  => (g, i, r) =>
        UTF8String.fromBytes(g.getBinary(i, r).getBytes)
      case (BinaryType, _)  => (g, i, r) => g.getBinary(i, r).getBytes
      case (ArrayType(et, _), gt: org.apache.parquet.schema.GroupType) =>
        val repeated = gt.getType(0).asGroupType() // "list"
        val elem = decoderFor(et, repeated.getType(0))
        (g, i, r) => {
          val outer = g.getGroup(i, r)
          val n = outer.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var j = 0
          while (j < n) {
            val entry = outer.getGroup(0, j)
            out(j) =
              if (entry.getFieldRepetitionCount(0) == 0) null
              else elem(entry, 0, 0)
            j += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        }
      case (MapType(kt, vt, _), gt: org.apache.parquet.schema.GroupType) =>
        val kv = gt.getType(0).asGroupType() // "key_value"
        val keyDec = decoderFor(kt, kv.getType(0))
        val valDec = decoderFor(vt, kv.getType(1))
        (g, i, r) => {
          val outer = g.getGroup(i, r)
          val n = outer.getFieldRepetitionCount(0)
          val keys = new Array[Any](n)
          val vals = new Array[Any](n)
          var j = 0
          while (j < n) {
            val entry = outer.getGroup(0, j)
            keys(j) = keyDec(entry, 0, 0)
            vals(j) =
              if (entry.getFieldRepetitionCount(1) == 0) null
              else valDec(entry, 1, 0)
            j += 1
          }
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
        }
      case (st: StructType, gt: org.apache.parquet.schema.GroupType) =>
        val subs: Array[Option[(Int, (Group, Int, Int) => Any)]] =
          st.fields.map { f =>
            if (gt.containsField(f.name)) {
              val idx = gt.getFieldIndex(f.name)
              Some((idx, decoderFor(f.dataType, gt.getType(idx))))
            } else None
          }
        (g, i, r) => {
          val nested = g.getGroup(i, r)
          val row = new GenericInternalRow(st.length)
          var j = 0
          while (j < st.length) {
            subs(j) match {
              case Some((idx, dec))
                if nested.getFieldRepetitionCount(idx) > 0 =>
                row.update(j, dec(nested, idx, 0))
              case _ => () // absent or null subfield stays null
            }
            j += 1
          }
          row
        }
      case (other, p) => throw new IllegalArgumentException(
        s"graftlog: unsupported read type $other (parquet $p)")
    }

  private lazy val getters: Array[(Group, Int, Int) => Any] =
    present.map { case (f, _) =>
      decoderFor(f.dataType, cachedFileSchema.getType(
        cachedFileSchema.getFieldIndex(f.name)))
    }

  private var current: Group = _

  // cursor into the sorted dv positions array — parquet's per-record
  // row index advances monotonically (even across row-group skips and
  // filtered records), so membership is a pointer walk, never a search
  private var dvIdx: Int = 0

  /** Is file-row `p` in the deletion vector? (Pointer walk.) */
  private def dvContains(p: Long): Boolean = {
    while (dvIdx < dvPositions.length && dvPositions(dvIdx) < p)
      dvIdx += 1
    dvIdx < dvPositions.length && dvPositions(dvIdx) == p
  }

  // records parquet actually assembled for this reader (post record
  // filtering), folded into GraftLog.scanRecordsRead at close
  private var recordsRead = 0L

  override def next(): Boolean = {
    if (!dvActive) {
      current = reader.read()
      if (current != null) recordsRead += 1
      current != null
    } else {
      // skip masked records (or, in emit mode, unmasked ones), keyed
      // on the FILE-ABSOLUTE row index parquet reports for the record
      // it just returned — exact under the pushed predicate's
      // row-group skips and record filtering, and under range splits
      while ({ current = reader.read(); current != null }) {
        recordsRead += 1
        val p = reader.getCurrentRowIndex
        require(p >= 0L,
          s"graftlog: $file reader reports no row index — cannot " +
            "apply a deletion vector to its records")
        val in = dvContains(p)
        if (in == dvSelect) return true
      }
      false
    }
  }

  override def get(): InternalRow = {
    // GenericInternalRow initializes every slot null — absent (widened)
    // columns need no explicit fill
    val row = new GenericInternalRow(pruned.length)
    metaConst.foreach { case (i, v) => row.update(i, v) }
    var d = 0
    while (d < present.length) {
      val outIdx = present(d)._2
      if (current.getFieldRepetitionCount(d) == 0) row.update(outIdx, null)
      else row.update(outIdx, getters(d)(current, d, 0))
      d += 1
    }
    row
  }

  override def close(): Unit = {
    GraftLog.scanRecordsRead.addAndGet(recordsRead)
    reader.close()
  }
}
