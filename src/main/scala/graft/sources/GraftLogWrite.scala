package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The WRITE half of the `graftlog` connector: `mode("append")` commits
  * one new log version per write — `df.write.format("graftlog")` for
  * batch, `writeStream.format("graftlog")` for a streaming sink where
  * EVERY EPOCH IS ONE COMMITTED VERSION (the exact mirror of the
  * streaming tail, which reads one version per micro-batch).
  *
  * Two-phase commit, same discipline as the read side expects:
  *  1. executors write parquet part-files DIRECTLY AT THEIR FINAL
  *     location — a write-scoped `data/w_<query>_<uuid>/` directory
  *     whose names no other writer can collide with, and which no
  *     reader can see (visibility is gated purely by the manifest) —
  *     then read their OWN footer once to record exact per-file
  *     statistics (rows, bytes, column min/max —
  *     [[GraftLogStats.describeFile]]);
  *  2. the driver CLAIMS the next version number put-if-absent
  *     (`_log/v<N>._claim`, an O_EXCL create on `file:` roots —
  *     optimistic concurrency's atomicity primitive, so concurrent
  *     writers serialize without a coordinator), writes the manifest — ONE ROW PER COMMITTED FILE
  *     carrying its statistics, plus the schema DDL — and only then
  *     drops the `v<N>._ok` marker that makes the version visible.
  *     Publication is the manifest row: commit performs ZERO renames
  *     at any file count (a 10⁵-file compaction commit is one parquet
  *     write + one marker, where per-file renames — copy+delete on
  *     object stores — would be minutes inside the commit window).
  *     A crash anywhere before the marker leaves a torn (invisible)
  *     version; `abort` deletes the write directory; a LOSER task
  *     attempt (retry/speculation) deletes its own uniquely-named
  *     files in its task abort, and files orphaned by a crashed
  *     executor are never referenced by any manifest.
  *
  * ONE ENCODER: every data file the engine writes — appends, streaming
  * epochs, SQL DML, and the rewrites and compactions of [[GraftLogOps]]
  * — goes through [[GraftLogDataWriter]], which encodes with Spark's own
  * parquet writer ([[GraftLogEncoder]]) and folds the NDV sketches as
  * rows stream through. Only the fixed-shape manifest and checkpoint
  * files keep parquet-hadoop's example writer.
  *
  * The per-file statistics rows are what make scan planning a pure
  * manifest read (GraftLogScan serves `estimateStatistics` and the
  * file-level skip from them) — the footer read is paid ONCE, by the
  * executor that just wrote the file, instead of serially by the
  * driver at every plan.
  *
  * Streaming exactly-once: the per-(writer, epoch) marker
  * `_log/_epoch_<writerId>_<epochId>` records the CLAIMED VERSION and is
  * written BETWEEN the manifest and the `_ok` marker, inside the
  * two-phase window — so a replayed epoch distinguishes "version
  * committed, checkpoint lagged" (marker + `_ok`: drop the replay)
  * from "crashed mid-commit" (marker without `_ok`: the version is
  * torn/invisible — clear the marker and redo). A marker written AFTER
  * `_ok` (the r11 shape) left a crash window where the replay
  * re-committed the same rows as a duplicate version. One function,
  * [[GraftLogWrite.commitEpoch]], runs this protocol for both callers:
  * this streaming sink (writer = its query id) and the `foreachBatch`
  * state sinks of `graft.streaming.Streams` (writer = the sink's name,
  * epoch = the micro-batch id, through [[GraftLogOps.commitBatch]]).
  *
  * [[GraftLogWrite.commitStaged]] is the ONE commit path: appends,
  * row-level rewrites, compaction, catalog DDL and the maintenance
  * fixtures all claim, write the manifest and mark through it, with
  * their files staged under `data/`. The DataFrame writer appends
  * only: overwrite would be a remove+add rewrite, which the snapshot
  * streaming tail correctly refuses — rewrites stay with the explicit
  * utilities ([[GraftLogOps]]). A brand new table bootstraps by
  * passing `option("schema", <ddl>)` on the first write (a
  * TableProvider has no catalog to CREATE through). Every subsequent
  * append resolves against the TABLE schema (from the manifest — the
  * user option cannot redefine an existing table), so a drifted FILE
  * is unrepresentable: non-storable types refuse in analysis,
  * coercible ones are cast to the table type, missing nullable columns
  * null-fill (SQL-standard insert semantics), and the write builder
  * re-checks exact name/type match as defense in depth for paths that
  * bypass Spark's resolution. The ONE admitted evolution is documented
  * WIDENING: an append passing an explicit `option("schema", <ddl>)`
  * that appends new columns (the existing fields an exact prefix)
  * commits under the extended schema; readers null-fill the new
  * columns for files written before it, and time travel returns each
  * version's own schema.
  *
  * `option("partitionBy", "c1,c2")` lays part-files out in Hive-style
  * `c1=v/c2=v/` subdirectories under the version's data directory.
  * Partition columns stay IN the data files (the Iceberg choice, not
  * the Hive one): readers need no directory-name decoding, and the
  * manifest statistics carry min=max=value for them — so partition
  * pruning IS the ordinary stats skip, no special path.
  */
/** A commit refused because a CONCURRENT writer invalidated what this
  * operation prepared — its remove set (a touched file was rewritten
  * first) or, for key-guarded operations like MERGE, its read snapshot
  * (a concurrent append added rows the operation's keys may match).
  * Retryable by re-planning against the current snapshot:
  * [[GraftLogOps]] does exactly that, bounded, so callers of the
  * utility surface never see the race at all.
  */
class GraftLogConflictException(msg: String)
  extends IllegalStateException(msg)

/** A commit that pinned its exact version number (CREATE TABLE's
  * "the empty v1") lost the claim race — NOT retryable at the same
  * number; the catalog maps it to TableAlreadyExistsException.
  */
class GraftLogVersionMismatchException(msg: String)
  extends IllegalStateException(msg)

/** The next version number is claimed but not committed — another
  * writer is in flight (retry shortly), or died mid-commit (delete the
  * stale `_claim` to recover, the documented OCC discipline).
  */
class GraftLogClaimPendingException(msg: String)
  extends IllegalStateException(msg)

object GraftLogWrite {

  /** Claim the next version put-if-absent; returns the claimed number.
    * Losing a claim to a COMMITTED winner means retry the next number;
    * losing to an UNCOMMITTED claim means another writer is in flight
    * (or died mid-commit) on exactly the number this log needs next —
    * skipping it would leave a permanent hole that "torn commits end
    * the log" turns into an invisible version, so the claim fails
    * LOUDLY and recovery (deleting the stale `_claim` once the writer
    * is known dead) is explicit, the OCC discipline.
    */
  private def claimVersion(conf: Configuration, root: String): Int = {
    val fs = new Path(root).getFileSystem(conf)
    fs.mkdirs(new Path(s"$root/_log"))
    // put-if-absent: on `file:` roots Hadoop's create(overwrite = false)
    // is check-then-create, so two writers can both "create" one claim;
    // an O_EXCL create is atomic there (FileAlreadyExistsException is
    // an IOException, handled below like any lost claim)
    def create(claim: Path): Unit =
      if (fs.getScheme == "file")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(fs.makeQualified(claim).toUri))
      else fs.create(claim, false).close()
    var n = GraftLog.latestVersion(conf, root) + 1
    var attempts = 0
    while (attempts < 1000) {
      try {
        create(new Path(s"$root/_log/v$n._claim"))
        return n
      } catch {
        case _: java.io.IOException =>
          if (fs.exists(new Path(s"$root/_log/v$n._ok"))) {
            n += 1; attempts += 1 // committed winner — rebase past it
          } else throw new GraftLogClaimPendingException(
            s"graftlog write: version $n of $root is claimed but not " +
              "committed — another writer is in flight, or died " +
              s"mid-commit; if dead, delete _log/v$n._claim to recover")
      }
    }
    throw new IllegalStateException(
      s"graftlog write: could not claim a version under $root/_log " +
        "after 1000 attempts")
  }

  /** The manifest/checkpoint parquet schema: (action, file) plus the
    * statistics columns connector adds carry.
    */
  private val manifestMessageType: MessageType = {
    import PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("action"))
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("file"))
      .addField(Types.optional(INT64).named("rows"))
      .addField(Types.optional(INT64).named("bytes"))
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("stats"))
      .named("manifest")
  }

  /** Write manifest-shaped rows to one parquet file — the shared
    * low-level writer behind version manifests AND checkpoints. The
    * fixed 5-column shape is written with parquet-hadoop's example
    * writer, the mirror of the `GroupReadSupport` that reads it back.
    * The file is overwritten: a manifest is only ever written under its
    * version's claim, and a torn version (no `_ok`) whose stale claim
    * was recovered leaves its manifest behind for the redo to replace.
    */
  private[graft] def writeManifestRows(conf: Configuration, path: Path,
      rows: Seq[GraftLog.ManifestRow]): Unit = {
    val msg = manifestMessageType
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(msg, c)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, c))
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withType(msg)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try {
      val gf = new SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = gf.newGroup()
        g.add("action", r.action); g.add("file", r.file)
        r.rows.foreach(g.add("rows", _))
        r.bytes.foreach(g.add("bytes", _))
        r.stats.foreach(g.add("stats", _))
        w.write(g)
      }
    } finally w.close()
  }

  /** Manifest write through the same Group path the reader uses: one
    * row per committed file with its statistics, plus the table-schema
    * DDL row that lets readers infer schema without any data-file I/O.
    */
  private def writeManifest(conf: Configuration, root: String, n: Int,
      adds: Seq[GraftLogFileCommit], schema: Option[StructType],
      removes: Seq[String], extraRows: Seq[GraftLog.ManifestRow],
      commitMicros: Long): Unit =
    writeManifestRows(conf, new Path(s"$root/_log/v$n/manifest.parquet"),
      // the commit timestamp lives IN the manifest: object-store marker
      // mtimes are second-granular, so two versions in one second would
      // tie under TIMESTAMP AS OF — the recorded micros are made
      // strictly increasing at commit, so resolution never depends on
      // filesystem clocks
      GraftLog.ManifestRow("committs", commitMicros.toString) +:
        // all-nullable: the parquet fields are optional and widening
        // null-fills — a query-derived NOT NULL must not be recorded
        (schema.map(s => GraftLog.ManifestRow("schema",
          GraftLog.asNullable(s).toDDL)).toSeq ++
          extraRows ++
          removes.map(GraftLog.ManifestRow("remove", _)) ++
          adds.map(fc => GraftLog.ManifestRow("add", fc.file,
            Some(fc.rows), Some(fc.bytes), fc.stats))))

  /** Driver-side commit: claim; publish the COMMITTED files (and only
    * those — the manifest is the visibility gate, so only the
    * commit-message set ever becomes readable); manifest (stats +
    * schema + remove rows); `beforeOk` hook (the streaming epoch marker
    * lands here, INSIDE the torn-commit window); marker. Returns the
    * committed version.
    *
    * Publication is O(1) filesystem mutations for the connector write
    * path: tasks write their part-files directly at the FINAL location
    * (a write-scoped `data/w_<query>_<uuid>/` directory — unique names,
    * so no writer can collide), and commit records those paths in the
    * manifest as-is — zero renames, any file count. Until the `_ok`
    * marker lands, nothing references the files (crash-before-marker
    * leaves a torn, invisible version); a retried or speculative LOSER
    * attempt's files are deleted by its own task-level abort, and a
    * crashed executor's orphans are simply never referenced (job-level
    * abort removes the whole write directory). Staging outside
    * `$root/data/` is refused: no commit ever renames a file.
    */
  private[graft] def commitStaged(conf: Configuration, root: String,
      staging: String, files: Seq[GraftLogFileCommit],
      schema: Option[StructType] = None,
      beforeOk: Int => Unit = _ => (),
      removes: Seq[String] = Nil,
      expectedVersion: Option[Int] = None,
      extraRows: Seq[GraftLog.ManifestRow] = Nil,
      addConflict: Option[(Int, GraftLog.ManifestRow => Boolean)] = None,
      allowSchemaChange: Boolean = false,
      dvFiles: Seq[String] = Nil,
      readVersion: Option[Int] = None,
      op: Option[String] = None)
      : Int = {
    require(staging.startsWith(s"$root/data/"),
      s"graftlog write: staging $staging is not under $root/data/")
    val fs = new Path(root).getFileSystem(conf)
    val n = claimVersion(conf, root)
    // EXPECTED-VERSION gate under the claim: CREATE TABLE commits "the
    // empty v1" — if a concurrent CREATE won the race, this claim
    // rebased past it and committing would silently stack a bogus
    // extra version (or re-widen the winner's schema) on a table this
    // caller did not create. Release the claim and refuse loudly; the
    // catalog maps this to TableAlreadyExistsException.
    expectedVersion.foreach { exp =>
      if (n != exp) {
        fs.delete(new Path(s"$root/_log/v$n._claim"), false)
        throw new GraftLogVersionMismatchException(
          s"graftlog write: expected to commit version $exp of $root " +
            s"but the next claimable version is $n — a concurrent " +
            "writer committed first")
      }
    }
    // REMOVE-SET revalidation under the claim: a row-level rewrite
    // (merge/update/delete) computed its remove set against the
    // snapshot it read, but a concurrent rewrite may have replaced one
    // of those files in between — committing the stale remove would
    // silently drop the OTHER writer's rewrite (a lost update). Every
    // version < n is committed and nothing can land until n releases,
    // so the check is exact, and it costs one (cached) manifest fold.
    if (removes.nonEmpty || dvFiles.nonEmpty) {
      val live = GraftLog.liveAdds(conf, root, n - 1).map(_.file).toSet
      // dvFiles are files this commit attaches a DELETION VECTOR to —
      // they must still be live (a concurrent rewrite replaced the
      // path → this mask would bind to a dead file) exactly like the
      // remove set must
      val gone = (removes ++ dvFiles).filterNot(live.contains)
      if (gone.nonEmpty) {
        fs.delete(new Path(s"$root/_log/v$n._claim"), false)
        throw new GraftLogConflictException(
          s"graftlog write: write-write conflict on $root — " +
            s"${gone.take(3).mkString(", ")}${if (gone.size > 3) ", ..."
            else ""} were rewritten or removed by a concurrent commit " +
            "after this operation read them; retry the operation " +
            "against the current snapshot")
      }
    }
    // DELETION-VECTOR revalidation under the claim: this operation
    // READ the files it now removes (their kept rows fed the rewrite)
    // or re-masks (its complete DV unions the mask it read) — a
    // concurrent dv commit on any of them in between means this plan
    // was computed on a stale mask: committing the rewrite would
    // RESURRECT the concurrently-deleted rows, and committing the dv
    // would DROP the concurrent mask (complete-replacement semantics).
    // Refuse; the bounded retry re-plans on the current snapshot.
    readVersion.foreach { rv =>
      val watched = (removes ++ dvFiles).toSet
      if (watched.nonEmpty) {
        val clash = ((rv + 1) until n).iterator.flatMap { v =>
          GraftLog.versionRows(conf, root, v).filter(r =>
            r.action == "dv" && watched.contains(r.file))
            .map(r => s"v$v:${r.file}")
        }.take(3).toSeq
        if (clash.nonEmpty) {
          fs.delete(new Path(s"$root/_log/v$n._claim"), false)
          throw new GraftLogConflictException(
            s"graftlog write: deletion-vector conflict on $root — " +
              s"${clash.mkString(", ")} were re-masked by concurrent " +
              "commits after this operation's read snapshot; retry " +
              "against the current snapshot")
        }
      }
    }
    // ADD-SET revalidation under the claim — the write-SERIALIZABLE
    // half of conflict detection: a key-guarded operation (MERGE's "one
    // LWW winner per key") planned its rewrite against the snapshot at
    // `readVersion`, but a concurrent APPEND may have landed rows its
    // keys match — committing anyway would stack a duplicate key the
    // serial order (append, then merge) would have rewritten. The
    // caller supplies the predicate (its source-key filter evaluated
    // against each concurrently-added file's manifest statistics);
    // stats-less adds conflict conservatively. Removes in the
    // intervening versions are covered by the remove revalidation.
    addConflict.foreach { case (readVersion, test) =>
      val clash = ((readVersion + 1) until n).iterator.flatMap { v =>
        GraftLog.versionRows(conf, root, v).filter(r =>
          r.action == "add" && test(r)).map(r => s"v$v:${r.file}")
      }.take(3).toSeq
      if (clash.nonEmpty) {
        fs.delete(new Path(s"$root/_log/v$n._claim"), false)
        throw new GraftLogConflictException(
          s"graftlog write: read-write conflict on $root — " +
            s"${clash.mkString(", ")} were added by concurrent commits " +
            "after this operation's read snapshot and may match its " +
            "keys; retry the operation against the current snapshot")
      }
    }
    // COMMIT-TIME schema revalidation: this write analyzed against the
    // table schema as of planning, but a concurrent WIDENING may have
    // committed in between — recording the analysis-time schema row now
    // would silently re-narrow the table (the widened column vanishes
    // from every subsequent default read even though the other writer's
    // files carry it). Re-read the current schema under the claim we
    // now hold (every version < n is committed, none can land until we
    // release n): equal → record as planned; current strictly widens
    // ours → RE-WIDEN the recorded DDL to the current schema (our files
    // carry an exact prefix; readers null-fill, exactly the widening
    // contract); anything else → release the claim and refuse.
    val recordedSchema = schema.map(GraftLog.asNullable).map { s0 =>
      // ALTER TABLE (rename/drop via column mapping) legitimately
      // records a schema that neither equals nor widens the previous
      // one — it pins expectedVersion instead, so nothing can have
      // interleaved between its read and this claim
      val cur = if (n > 1 && !allowSchemaChange)
                  GraftLog.schemaFromManifest(conf, root, n - 1)
                else None
      cur match {
        case Some(c)
          if c.fields.map(f => (f.name, f.dataType))
            .sameElements(s0.fields.map(f => (f.name, f.dataType))) => s0
        case Some(c) if GraftLog.widens(s0, c) => c // concurrent widening
        case Some(c) if GraftLog.widens(c, s0) =>
          // we ARE the widening — but the analysis-time tombstone gate
          // ran against the snapshot this write PLANNED on: a
          // concurrent ALTER DROP/RENAME committed in between could
          // have tombstoned one of our appended names, and recording
          // the widened schema now would resurrect it (old files'
          // stale data served as the new column). Re-check under the
          // claim, where the mapping can no longer move.
          val meta = GraftLog.tableMeta(conf, root, n - 1)
          val clash = s0.fields.drop(c.length).map(_.name).filter(nm =>
            meta.tombstones.contains(nm) ||
              meta.colMap.valuesIterator.contains(nm))
          if (clash.nonEmpty) {
            fs.delete(new Path(s"$root/_log/v$n._claim"), false)
            throw new GraftLogConflictException(
              s"graftlog write: widened column(s) " +
                s"${clash.mkString(", ")} collide with a column " +
                "renamed or dropped by a concurrent commit; retry " +
                "the append against the current snapshot")
          }
          s0 // we ARE the widening
        case Some(c) =>
          fs.delete(new Path(s"$root/_log/v$n._claim"), false)
          throw new IllegalStateException(
            s"graftlog write: table schema of $root changed " +
              s"incompatibly between analysis and commit — now " +
              s"[${c.toDDL}], this write prepared [${s0.toDDL}]; " +
              "retry the append")
        case None => s0
      }
    }
    // files already live at their final unique paths; the manifest
    // row IS the publication — no filesystem mutation at all (an empty
    // write is still a committed, empty version)
    val manifestAdds = files.map { fc =>
      require(fc.file.startsWith(staging),
        s"graftlog write: staged file ${fc.file} outside $staging")
      fc.copy(file = fc.file.stripPrefix(root).stripPrefix("/"))
    }
    // strictly increasing across versions even under wall-clock
    // retrograde (NTP step-back): TIMESTAMP AS OF binary-searches these
    // micros, and versions commit strictly in claim order, so the
    // recorded sequence must be monotone regardless of the host clock
    val prevMicros: Option[Long] =
      if (n <= 1) None
      else GraftLog.commitMicros(conf, root, n - 1)
    val commitMicros = math.max(System.currentTimeMillis() * 1000L,
      prevMicros.map(_ + 1L).getOrElse(Long.MinValue))
    // the OPERATION row names what this commit did ("append",
    // "delete", "compact", ...). Consumers that must distinguish
    // CONTENT-PRESERVING rewrites (compaction, optimize — same logical
    // rows, different files) from genuine data change (DML) read it:
    // the snapshot streaming tail skips preserving rewrites instead of
    // refusing, and the change feed classifies update commits. A
    // commit without the row stays "unknown" — every consumer falls
    // back to its conservative behavior.
    writeManifest(conf, root, n, manifestAdds, recordedSchema,
      removes, op.map(GraftLog.ManifestRow("op", _)).toSeq ++ extraRows,
      commitMicros)
    beforeOk(n)
    fs.create(new Path(s"$root/_log/v$n._ok"), true).close()
    // every CheckpointInterval commits, consolidate the live set so
    // snapshot resolution stays O(checkpoint + tail) at any version
    // count (a streaming sink commits one version PER EPOCH — without
    // this, a year of 1-minute triggers makes every cold plan O(500k)
    // driver round-trips). Advisory: the commit above is already
    // durable, so a failed checkpoint write must not fail the write —
    // the next interval retries.
    if (n % GraftLog.CheckpointInterval == 0)
      try GraftLog.writeCheckpoint(conf, root, n)
      catch { case scala.util.control.NonFatal(_) => () }
    n
  }

  /** Commit one epoch of one writer at most once: `commit` runs the
    * version commit and hands its `beforeOk` the hook that writes the
    * `_log/_epoch_<writerId>_<epochId>` marker inside the torn-commit
    * window. A marker whose version carries `_ok` means the epoch is
    * already in the log: nothing runs and the result is false. A marker
    * without `_ok` names a torn version: it is cleared and the commit
    * redone (a stale claim blocks loudly with its documented recovery).
    * The marker's content is the version number, written then renamed,
    * so a crash can never leave a partial number that would point the
    * replay check at the wrong, long-committed version.
    */
  private[graft] def commitEpoch(conf: Configuration, root: String,
      writerId: String, epochId: Long)(commit: (Int => Unit) => Int)
      : Boolean = {
    val fs = new Path(root).getFileSystem(conf)
    val marker = new Path(s"$root/_log/_epoch_${writerId}_$epochId")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toInt finally in.close()
      if (fs.exists(new Path(s"$root/_log/v$v._ok"))) return false
      fs.delete(marker, false)
    }
    commit { n =>
      val tmp = new Path(s"$marker.tmp")
      val out = fs.create(tmp, true)
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, marker),
        s"graftlog write: rename $tmp -> $marker failed")
    }
    true
  }

  /** Hive-style partition path segment for one column value. Values
    * render deterministically (dates as ISO dates, timestamps as
    * micros) and escape every byte outside the portable set — the
    * layout is storage, not truth: the column's VALUES stay in the
    * file, so nothing ever parses these names back.
    */
  private[sources] def partitionSegment(name: String, v: Any): String = {
    val rendered = v match {
      case null => "__HIVE_DEFAULT_PARTITION__"
      case d: java.lang.Integer => d.toString
      case other => other.toString
    }
    val esc = rendered.flatMap {
      case c if c.isLetterOrDigit || c == '.' || c == '-' || c == '_' =>
        c.toString
      case c => f"%%${c.toInt}%02X"
    }
    s"$name=$esc"
  }
}

class GraftLogWriteBuilder(root: String, info: LogicalWriteInfo,
    conf: SerializableConfiguration, tableSchema: Option[StructType],
    defaultPartCols: Seq[String] = Nil,
    colMap: Map[String, String] = Map.empty,
    tombstones: Set[String] = Set.empty)
    extends WriteBuilder {

  // COLUMN MAPPING: the incoming query and the manifest's recorded
  // schema speak LOGICAL names; part-files are written under the
  // stable PHYSICAL names a RENAME left behind (positionally
  // identical at every nesting level, so only the parquet message
  // type and the partition directory rendering change).
  // Identity-mapped tables see no-ops.
  private def phys(c: String): String =
    colMap.get(c).map(_.split('.').last).getOrElse(c)
  private def physSchema(st: StructType): StructType =
    GraftLog.physicalSchemaOf(st, colMap)

  /** Schema contract on append: the incoming query's columns must match
    * the table's, name and type, in order — checked BEFORE any task
    * launches. Without this, a drifted append writes parquet the
    * reader decodes per-file or fails late on; documented widening is
    * a future extension, silent drift is not.
    */
  private def checkSchema(): Unit = tableSchema.foreach { ts =>
    // nullability (at every nesting level) is not part of the contract:
    // the log stores everything optional, so compare normalized types
    val incoming = GraftLog.asNullable(info.schema()).fields
      .map(f => (f.name, f.dataType)).toSeq
    val table = GraftLog.asNullable(ts).fields
      .map(f => (f.name, f.dataType)).toSeq
    if (incoming != table) throw new IllegalStateException(
      s"graftlog write: schema mismatch on append to $root — table " +
        s"schema is [${ts.toDDL}] but the write's is " +
        s"[${info.schema().toDDL}]; appends must match the table " +
        "schema exactly (names and types, in order), or WIDEN it " +
        "explicitly by passing option(\"schema\", <ddl>) that appends " +
        "new columns")
  }

  // option("partitionBy") per write; a catalog-created table's declared
  // PARTITIONED BY columns are the default when the option is absent
  private def partCols: Seq[String] = {
    val opt = Option(info.options.get("partitionBy")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    if (opt.nonEmpty) opt else defaultPartCols
  }

  private def checkPartCols(): Unit = {
    val missing = partCols.filterNot(c =>
      info.schema().fieldNames.contains(c))
    require(missing.isEmpty,
      s"graftlog write: partitionBy columns ${missing.mkString(", ")} " +
        s"not in the write schema [${info.schema().toDDL}]")
  }

  private def checkReservedNames(): Unit = {
    val reserved = info.schema().fieldNames.filter(n =>
      n == GraftLog.ChangeTypeCol || n == GraftLog.CommitVersionCol ||
        n == GraftLog.FileCol)
    require(reserved.isEmpty,
      s"graftlog write: column name(s) ${reserved.mkString(", ")} are " +
        "reserved for scan metadata (change-feed tags and file " +
        "provenance are synthesized at read); rename the column(s)")
  }

  /** A widened schema's NEW columns must not resurrect a retired
    * physical name: old files still carry the dropped column's data
    * under it, and a name-resolved reader would serve that stale data
    * as the new column's values.
    */
  private def checkTombstones(): Unit = tableSchema.foreach { ts =>
    val newCols = info.schema().fields.drop(ts.length).map(_.name)
    val clash = newCols.filter(n =>
      tombstones.contains(n) || colMap.valuesIterator.contains(n))
    require(clash.isEmpty,
      s"graftlog write: column name(s) ${clash.mkString(", ")} were " +
        "used by a renamed or dropped column — old files still store " +
        "data under the name; choose a different column name")
  }

  override def build(): Write = {
    checkSchema(); checkPartCols(); checkReservedNames(); checkTombstones()
    // a partitioned write CLUSTERS and SORTS by the partition columns,
    // so each task streams one partition value at a time and the
    // writer keeps exactly ONE open parquet writer (one ~row-group
    // buffer) — without this, option("partitionBy", "event_date") over
    // a year of unclustered data holds 365 open writers per task, the
    // first thing that OOMs at scale (Spark's own FileFormatWriter
    // sorts for the same reason)
    new Write
        with org.apache.spark.sql.connector.write
          .RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
      override def requiredDistribution(): Distribution =
        if (partCols.isEmpty) Distributions.unspecified()
        else Distributions.clustered(
          partCols.map(c => Expressions.column(c):
            org.apache.spark.sql.connector.expressions.Expression).toArray)
      override def requiredOrdering(): Array[SortOrder] =
        partCols.map(c => Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING)).toArray
      // part-files land directly at their FINAL unique location (the
      // write-scoped data/w_*/ directory) — publication is the
      // manifest row, so commit performs ZERO renames at any file count
      override def toBatch: BatchWrite =
        new GraftLogBatchWrite(root, physSchema(info.schema()), partCols
            .map(phys),
          s"$root/data/w_${info.queryId()}_${UUID.randomUUID()}", conf,
          recordSchema = info.schema())
      override def toStreaming: StreamingWrite =
        new GraftLogStreamingWrite(root, physSchema(info.schema()),
          partCols.map(phys), info.queryId(), conf,
          recordSchema = info.schema())
    }
  }
}

/** One committed part-file with the statistics its writer read off its
  * own footer — the manifest row's payload.
  */
case class GraftLogFileCommit(file: String, rows: Long, bytes: Long,
    stats: Option[String])

case class GraftLogCommitMessage(files: Seq[GraftLogFileCommit])
    extends WriterCommitMessage

class GraftLogBatchWrite(root: String, schema: StructType,
    partCols: Seq[String], staging: String,
    conf: SerializableConfiguration,
    recordSchema: StructType = null) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftLogWriterFactory(staging, schema, partCols, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftLogWrite.commitStaged(conf.value, root, staging,
      messages.flatMap(_.asInstanceOf[GraftLogCommitMessage].files).toSeq,
      // the manifest records the LOGICAL schema; `schema` is the
      // physical (file-side) form under column mapping
      Some(Option(recordSchema).getOrElse(schema)),
      op = Some("append"))

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(staging)
    p.getFileSystem(conf.value).delete(p, true)
  }
}

/** Streaming sink: one committed version per epoch, replay-idempotent
  * via the per-(query, epoch) marker written INSIDE the commit's
  * torn-window (see [[GraftLogWrite]] scaladoc).
  */
class GraftLogStreamingWrite(root: String, schema: StructType,
    partCols: Seq[String], queryId: String,
    conf: SerializableConfiguration,
    recordSchema: StructType = null) extends StreamingWrite {

  // staging is per-ATTEMPT, not per-epoch: a replayed epoch (crash
  // between version commit and checkpoint advance, then restart) runs
  // under a NEW StreamingWrite instance — with a deterministic
  // per-epoch path, the replay's drop/abort cleanup would recursively
  // delete the directory the COMMITTED attempt published in place,
  // i.e. delete data files a manifest still references (silent row
  // loss surfacing as FileNotFoundException at the next real scan).
  // With the attempt id in the path, cleanup can only ever touch the
  // replay's own never-referenced files.
  private val attemptId = UUID.randomUUID().toString.take(8)

  private def staging(epochId: Long) =
    s"$root/data/w_${queryId}_${attemptId}_$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftLogStreamingWriterFactory(s"$root/data/w_${queryId}_$attemptId",
      schema, partCols, conf)

  /** Drop a REPLAYED epoch: delete only the replay attempt's OWN files
    * (named by its commit messages) — never a directory. With in-place
    * publication a directory can hold COMMITTED files (same-instance
    * epoch handling, or any future path reuse), and a recursive delete
    * here would remove data a manifest still references: the committed
    * snapshot would silently lose rows, surfacing as
    * FileNotFoundException at the next real scan.
    */
  private def dropReplay(fs: org.apache.hadoop.fs.FileSystem,
      messages: Array[WriterCommitMessage]): Unit =
    messages.flatMap(_.asInstanceOf[GraftLogCommitMessage].files)
      .foreach(fc => fs.delete(new Path(fc.file), false))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val c = conf.value
    val committed = GraftLogWrite.commitEpoch(c, root, queryId, epochId) {
      beforeOk =>
        GraftLogWrite.commitStaged(c, root, staging(epochId),
          messages.flatMap(_.asInstanceOf[GraftLogCommitMessage].files).toSeq,
          Some(Option(recordSchema).getOrElse(schema)),
          op = Some("append"), beforeOk = beforeOk)
    }
    // replayed epoch (crash between version commit and checkpoint
    // advance): the version is in the log — drop the replay
    if (!committed) dropReplay(new Path(root).getFileSystem(c), messages)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(staging(epochId))
    p.getFileSystem(conf.value).delete(p, true)
  }
}

/** The one parquet encoder of `graftlog`: Spark's own
  * `ParquetOutputWriter`, from the factory `ParquetUtils.prepareWrite`
  * builds on the driver, the way `ParquetFileFormat.prepareWrite`
  * prepares a file write. The Hadoop conf is prepared once, under
  * settings no session conf changes: every field `optional` (the schema
  * passes through [[GraftLog.asNullable]]), INT64 microsecond
  * timestamps (which carry statistics, where INT96 carries none), the
  * standard nested and decimal layouts (non-legacy), snappy pages, and
  * CORRECTED dates and timestamps (stored as given, never rebased).
  * Row groups follow parquet's own `parquet.block.size`.
  */
case class GraftLogEncoder(conf: SerializableConfiguration,
    factory: OutputWriterFactory) {

  /** A new file at `path`, written under the pinned settings. */
  def open(path: String, schema: StructType): OutputWriter =
    SQLConf.withExistingConf(GraftLogEncoder.pinned()) {
      factory.newInstance(path, schema,
        new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
    }
}

object GraftLogEncoder {

  /** The pinned settings; the write support reads the rebase modes from
    * the active SQL conf when a file opens, the rest from the prepared
    * Hadoop conf.
    */
  private def pinned(): SQLConf = {
    val c = new SQLConf
    c.setConfString(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    c.setConfString(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.setConfString(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.setConfString(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      "CORRECTED")
    c
  }

  /** Prepare on the driver; refuses a type a log table cannot store. */
  def apply(conf: Configuration, schema: StructType): GraftLogEncoder = {
    GraftLog.requireStorable(schema)
    val sqlConf = pinned()
    val job = Job.getInstance(new Configuration(conf))
    val factory = ParquetUtils.prepareWrite(sqlConf, job,
      GraftLog.asNullable(schema),
      new ParquetOptions(Map("compression" -> "snappy"), sqlConf))
    GraftLogEncoder(new SerializableConfiguration(job.getConfiguration),
      factory)
  }
}

/** Part-file names carry a per-ATTEMPT uuid besides partition/task ids:
  * files now live at their final path from the moment they're written,
  * so two attempts at the same work (a speculative twin, a task retry,
  * or a replayed streaming epoch after an app restart that reuses task
  * ids) must never target the same name — the loser's uniquely-named
  * file is deleted by its own abort (or by the replay check), never
  * fought over. The encoder is prepared when the factory is built, on
  * the driver, and ships to the tasks with it.
  */
case class GraftLogWriterFactory(staging: String, schema: StructType,
    partCols: Seq[String], @transient conf: SerializableConfiguration)
    extends DataWriterFactory {
  // tasks read only the encoder's prepared conf, so `conf` stays home
  private val encoder = GraftLogEncoder(conf.value, schema)
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftLogDataWriter(staging,
      s"part-$partitionId-$taskId-" +
        s"${UUID.randomUUID().toString.take(8)}.parquet",
      schema, partCols, encoder)
}

case class GraftLogStreamingWriterFactory(stagingBase: String,
    schema: StructType, partCols: Seq[String],
    @transient conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  // tasks read only the encoder's prepared conf, so `conf` stays home
  private val encoder = GraftLogEncoder(conf.value, schema)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftLogDataWriter(s"${stagingBase}_$epochId",
      s"part-$partitionId-$taskId-" +
        s"${UUID.randomUUID().toString.take(8)}.parquet",
      schema, partCols, encoder)
}

/** Per-task part-file writer: one file per task per partition-value
  * combination (Hive `k=v/` subdirectories when `partitionBy` is set),
  * encoded by [[GraftLogEncoder]], each described by its own footer at
  * commit (rows, bytes, column min/max → the manifest statistics row),
  * deleted on abort.
  *
  * The Write requires clustering + ordering on the partition columns,
  * so rows arrive grouped by partition value and exactly ONE parquet
  * writer (one row-group buffer) is open at a time; if a partition
  * value ever recurs anyway (a path that skipped the sort), the writer
  * reopens that directory under a suffixed file name — memory-safe and
  * collision-free either way.
  */
class GraftLogDataWriter(staging: String, fileName: String,
    schema: StructType, partCols: Seq[String], encoder: GraftLogEncoder)
    extends DataWriter[InternalRow] {

  private val conf = encoder.conf.value
  private val partIdx: Array[Int] = partCols.map(schema.fieldIndex).toArray

  private var currentDir: String = null
  private var currentFile: String = null
  private var currentWriter: OutputWriter = null
  private val finishedFiles = mutable.ArrayBuffer[String]()
  private val dirVisits = mutable.HashMap[String, Int]()

  // ------------------------------------------------------------------
  // NDV fold-at-write: the per-column HyperLogLog sketches the manifest
  // carries are hashed HERE, as rows stream through — not by re-reading
  // the just-written file (the measured ~26% worst-case write tax the
  // re-read form pays; it remains only for foreign files staged by
  // other writers). Hashing mirrors GraftLogStats.ndvSketches'
  // BY-PHYSICAL-VALUE rule exactly — NdvWriteFoldSpec pins the two
  // forms byte-identical — and covers the same leaf set: top-level
  // primitives plus plain-struct leaves, keyed by dotted path.
  // ------------------------------------------------------------------

  private def leafHash(dt: DataType): Option[
      (org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
        Int) => Long] = {
    import GraftLogStats.NdvSketch.{hashBytes, mix64}
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        Some((g, i) => mix64(g.getLong(i)))
      case IntegerType | DateType => Some((g, i) => mix64(g.getInt(i).toLong))
      case DoubleType => Some((g, i) =>
        mix64(java.lang.Double.doubleToLongBits(g.getDouble(i))))
      case FloatType => Some((g, i) =>
        mix64(java.lang.Double.doubleToLongBits(g.getFloat(i).toDouble)))
      case BooleanType => Some((g, i) =>
        mix64(if (g.getBoolean(i)) 1L else 0L))
      case StringType => Some((g, i) =>
        hashBytes(g.getUTF8String(i).getBytes))
      case BinaryType => Some((g, i) => hashBytes(g.getBinary(i)))
      case dec: DecimalType =>
        // unscaled value, ENCODING-NORMALIZED (NdvSketch.hashUnscaled):
        // INT32/INT64-stored decimals hash their unscaled long, wider
        // ones their minimal bytes — so sketches merge across the
        // physical-width changes decimal precision widening causes
        if (dec.precision <= 18)
          Some((g, i) =>
            mix64(g.getDecimal(i, dec.precision, dec.scale)
              .toUnscaledLong))
        else
          Some((g, i) => GraftLogStats.NdvSketch.hashUnscaled(
            g.getDecimal(i, dec.precision, dec.scale)
              .toJavaBigDecimal.unscaledValue()))
      case _ => None // array/map leaves: no single per-row value
    }
  }

  /** Sketchable leaves of `st` as (dotted path, per-row folder): a
    * folder hashes its (non-null, all-ancestors-present) value into
    * the POSITIONAL register it is handed — the hot loop indexes
    * parallel arrays, never a string-keyed map or a tuple, and FLAT
    * (top-level) leaves skip the parent-resolution hop entirely: at
    * a 50-column × millions-of-rows load, every virtual call per
    * value is a measurable slice of the write.
    */
  private def collectLeaves(st: StructType, prefix: String,
      parent: InternalRow => InternalRow)
      : Seq[(String, (InternalRow, Array[Byte]) => Unit)] =
    st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case nested: StructType =>
          collectLeaves(nested, path, { row =>
            val p = parent(row)
            if (p == null || p.isNullAt(i)) null
            else p.getStruct(i, nested.length)
          })
        case dt => leafHash(dt).map { h =>
          val fold: (InternalRow, Array[Byte]) => Unit =
            if (prefix.isEmpty) {
              (row: InternalRow, reg: Array[Byte]) =>
                if (!row.isNullAt(i))
                  GraftLogStats.NdvSketch.update(reg, h(row, i))
            } else
              (row: InternalRow, reg: Array[Byte]) => {
                val p = parent(row)
                if (p != null && !p.isNullAt(i))
                  GraftLogStats.NdvSketch.update(reg, h(p, i))
              }
          (path, fold)
        }.toSeq
      }
    }

  private val ndvLeaves: Array[(String, (InternalRow, Array[Byte]) => Unit)] =
    collectLeaves(schema, "", identity).toArray
  // parallel arrays for the hot loop (no tuple deref per value)
  private val ndvLeafFolds: Array[(InternalRow, Array[Byte]) => Unit] =
    ndvLeaves.map(_._2)
  // per-FILE registers (a task may write several partition files),
  // positionally parallel to ndvLeaves
  private val fileNdv = mutable.HashMap[String, Array[Array[Byte]]]()
  private var currentRegs: Array[Array[Byte]] = null

  private def fileFor(dir: String, visit: Int): String = {
    val name =
      if (visit == 0) fileName
      else s"${fileName.stripSuffix(".parquet")}-r$visit.parquet"
    if (dir.isEmpty) s"$staging/$name" else s"$staging/$dir/$name"
  }

  private def closeCurrent(): Unit = if (currentWriter != null) {
    currentWriter.close()
    finishedFiles += currentFile
    fileNdv(currentFile) = currentRegs
    currentRegs = null
    currentWriter = null
    currentDir = null
    currentFile = null
  }

  private def writerFor(dir: String): OutputWriter = {
    if (currentWriter == null || dir != currentDir) {
      closeCurrent()
      val visit = dirVisits.getOrElse(dir, 0)
      dirVisits(dir) = visit + 1
      currentFile = fileFor(dir, visit)
      currentWriter = encoder.open(currentFile, schema)
      currentDir = dir
      // every sketchable leaf gets a register set up front — an
      // all-null column records an EMPTY sketch, exactly like the
      // re-read form (byte-identity is spec-pinned)
      currentRegs = Array.fill(ndvLeaves.length)(
        GraftLogStats.NdvSketch.empty())
    }
    currentWriter
  }

  private def partitionDir(row: InternalRow): String =
    if (partIdx.isEmpty) ""
    else partIdx.zipWithIndex.map { case (fi, pi) =>
      val dt = schema(fi).dataType
      val v: Any =
        if (row.isNullAt(fi)) null
        else dt match {
          case LongType | TimestampType | TimestampNTZType => row.getLong(fi)
          case IntegerType => row.getInt(fi)
          case DateType =>
            java.time.LocalDate.ofEpochDay(row.getInt(fi).toLong)
          case DoubleType  => row.getDouble(fi)
          case FloatType   => row.getFloat(fi)
          case BooleanType => row.getBoolean(fi)
          case StringType  => row.getUTF8String(fi).toString
          case d: DecimalType =>
            row.getDecimal(fi, d.precision, d.scale)
              .toJavaBigDecimal.toPlainString
          case other => throw new IllegalArgumentException(
            s"graftlog write: unsupported partition type $other " +
              s"for ${partCols(pi)}")
        }
      GraftLogWrite.partitionSegment(partCols(pi), v)
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val w = writerFor(partitionDir(row))
    val regs = currentRegs
    val folds = ndvLeafFolds
    var l = 0
    while (l < folds.length) {
      folds(l)(row, regs(l))
      l += 1
    }
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    val files = finishedFiles.toSeq.map { f =>
      // the sketches were folded as rows streamed through — hand them
      // to describeFile so it reads ONLY the footer (bounds/nulls),
      // never the data pages
      val regs = fileNdv(f)
      val folded = ndvLeaves.indices.map(i => ndvLeaves(i)._1 ->
        GraftLogStats.NdvSketch.toB64(regs(i))).toMap
      val (rows, bytes, stats) =
        GraftLogStats.describeFile(conf, f, schema,
          ndvOverride = Some(folded))
      GraftLogFileCommit(f, rows, bytes, stats)
    }
    GraftLogCommitMessage(files)
  }

  override def abort(): Unit = {
    closeCurrent()
    finishedFiles.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
