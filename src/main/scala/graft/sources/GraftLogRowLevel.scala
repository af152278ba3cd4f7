package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL UPDATE / MERGE INTO / complex DELETE on the log, as Spark's
  * GROUP-BASED (copy-on-write) row-level operation:
  *
  *  1. Spark rewrites the DML command into a ReplaceData plan over this
  *     operation's scan ([[GraftLogScanBuilder]] in `rowLevel` mode —
  *     filters prune FILES via manifest statistics but never push a
  *     record predicate, because the rewrite must read every row of
  *     every touched file);
  *  2. `RowLevelOperationRuntimeGroupFiltering` computes the files that
  *     actually contain matched rows (a subquery over the `_file`
  *     metadata column, fully pushed) and runtime-filters the scan with
  *     `In(_file, ...)` — so only the TOUCHED files are read/rewritten,
  *     the same group discipline the explicit mergeIntoLog utility uses;
  *  3. the write lands the rewritten rows at their final write-scoped
  *     `data/w_replace_<uuid>` location (zero-rename publication) and
  *     commits remove(exactly the files the scan planned) + add(new
  *     files) as ONE version — change-feed-visible as delete+insert,
  *     and guarded by the commit-time remove revalidation (a concurrent
  *     rewrite of the same files refuses instead of losing an update).
  *
  * The scan instance is captured at build time so the write's commit
  * can read the post-runtime-filter file set: a file that was never
  * read must never be removed, and every file whose rows fed the
  * rewrite must be.
  */
class GraftLogRowLevelBuilder(root: String,
    conf: SerializableConfiguration, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftLogRowLevelOperation(root, conf, info.command)
}

class GraftLogRowLevelOperation(root: String,
    conf: SerializableConfiguration,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The copy-on-write scan, captured when Spark builds it — the
    * write's commit reads its planned (post-group-filter) file set as
    * the remove set.
    */
  @volatile private[sources] var cowScan: Option[GraftLogScan] = None

  /** How many scans Spark built for this operation. The remove-set
    * derivation ASSUMES the one-scan contract Spark's group-based
    * rewrite holds today (RowLevelOperationRuntimeGroupFiltering
    * reuses the operation's single Scan; the group-filter subquery
    * plans before the runtime-filtered main scan) — if a future Spark
    * version ever built a SECOND scan for this operation, the captured
    * file set could be the unfiltered candidate list while only
    * touched rows were rewritten: silent row loss. The commit refuses
    * loudly instead ([[GraftLogReplaceDataWrite.commit]]).
    */
  private[sources] val scanBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftLogRowLevelOperation[$cmd] root=$root"

  /** The table metadata (schema/partcols/colmap) and version this
    * operation resolved at scan time — the write half reuses them
    * instead of re-walking the manifest log twice more per statement.
    */
  @volatile private[sources] var opMeta: Option[(Int, GraftLog.TableMeta)] =
    None

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val c = conf.value
    val latest = GraftLog.latestVersion(c, root)
    require(latest >= 1, s"no committed versions under $root")
    val meta = GraftLog.tableMeta(c, root, latest)
    opMeta = Some((latest, meta))
    val schema = meta.schema
      .getOrElse(GraftLog.inferSchema(c, root, latest))
    new GraftLogScanBuilder(root, latest, schema, conf, cdc = false,
      cdcStart = 1, rowLevel = true, onBuild = { s =>
        scanBuilds.incrementAndGet(); cowScan = Some(s)
      }, colMap = meta.colMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val c = conf.value
          val tableSchema = GraftLog.inferSchema(c, root,
            GraftLog.latestVersion(c, root))
          new GraftLogReplaceDataWrite(root, info.schema(), tableSchema,
            s"$root/data/w_replace_${info.queryId()}_${UUID.randomUUID()}",
            conf, GraftLogRowLevelOperation.this)
        }
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftLog.FileCol))
}

/** The replace-data write: the same per-task parquet writers and
  * statistics discipline as an ordinary append, but commit records
  * remove rows for the operation's planned file set — one remove+add
  * version, zero renames.
  */
class GraftLogReplaceDataWrite(root: String, writeSchema: StructType,
    tableSchema: StructType, staging: String,
    conf: SerializableConfiguration,
    op: GraftLogRowLevelOperation) extends BatchWrite {

  // the rewrite must write EXACTLY the table's columns (the append
  // contract): if a plan shape ever carried a scan-synthesized
  // metadata attribute into the write schema, silently dropping it
  // would misalign every row's ordinals against the writer's schema —
  // refuse loudly instead. A table whose OWN schema uses a
  // meta-like name passes, because the comparison is against the
  // table's recorded schema, not a name blacklist.
  {
    val incoming = GraftLog.asNullable(writeSchema).fields
      .map(f => (f.name, f.dataType)).toSeq
    val table = GraftLog.asNullable(tableSchema).fields
      .map(f => (f.name, f.dataType)).toSeq
    require(incoming == table,
      s"graftlog replace-data: write schema [${writeSchema.toDDL}] " +
        s"must equal the table schema [${tableSchema.toDDL}]")
  }

  // column mapping: part-files are written under PHYSICAL names (the
  // rewrite rows arrive in logical order — positionally identical);
  // the mapping is the one the operation's scan resolved, not a fresh
  // manifest walk per write stage
  private def opMeta: GraftLog.TableMeta =
    op.opMeta.map(_._2).getOrElse(GraftLog.TableMeta(None, Nil))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftLogWriterFactory(staging, opMeta.physicalSchema(writeSchema),
      Nil, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the one-scan contract, guarded: with two scans built for one
    // operation the captured (last-planned) file set may not be the
    // set whose rows actually fed this rewrite — committing it as the
    // remove set could silently drop rows; refuse instead
    val builds = op.scanBuilds.get()
    if (builds > 1) throw new IllegalStateException(
      s"graftlog replace-data: $builds scans were built for one " +
        "row-level operation — the planner no longer reuses the " +
        "operation's single copy-on-write scan, so the captured " +
        "remove set cannot be trusted; refusing to commit")
    val removes = op.cowScan match {
      case Some(scan) => scan.plannedRelFiles
      case None => throw new IllegalStateException(
        "graftlog replace-data: commit before the copy-on-write scan " +
          "was planned — the remove set is unknown")
    }
    // flat-landed rewrite files would erase a path-inferred layout for
    // later compaction/insert defaults — re-record the observed layout
    // (meta + version reused from the operation's scan resolution)
    val c = conf.value
    val (latest, meta) = op.opMeta.getOrElse(
      (GraftLog.latestVersion(c, root), GraftLog.TableMeta(None, Nil)))
    val layout = GraftLogOps.layoutPartCols(c, root, latest,
      GraftLog.liveEntries(c, root, latest), meta)
    GraftLogWrite.commitStaged(c, root, staging,
      messages.flatMap(_.asInstanceOf[GraftLogCommitMessage].files).toSeq,
      Some(writeSchema), removes = removes,
      op = Some(op.command() match {
        case RowLevelOperation.Command.DELETE => "delete"
        case RowLevelOperation.Command.UPDATE => "update"
        case RowLevelOperation.Command.MERGE  => "merge"
        case other => other.toString.toLowerCase
      }),
      // dv-conflict guard: the rewrite read these files masked as of
      // the operation's snapshot — a concurrent dv commit on one of
      // them would be silently resurrected by this remove+add
      readVersion = op.opMeta.map(_._1),
      extraRows = GraftLog.partColsRow(layout))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(staging)
    p.getFileSystem(conf.value).delete(p, true)
  }
}
