package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL maintenance surface — table-lifecycle operations as catalog
  * STORED PROCEDURES, so the full story (CREATE → INSERT → DML →
  * OPTIMIZE → VACUUM → time travel) runs in SQL alone:
  *
  * {{{
  *   CALL graft.system.optimize('orders')            -- compact small files
  *   CALL graft.system.optimize('orders', 'o_date')  -- + cluster within bins
  *   CALL graft.system.vacuum('orders', 3)           -- expire versions < 3
  *   CALL graft.system.checkpoint('orders')          -- consolidate the log
  * }}}
  *
  * Each procedure resolves its table through the catalog's warehouse
  * mapping (namespace-qualified names join with '/', exactly like
  * table identifiers) and delegates to the SAME utilities the Scala
  * surface uses ([[GraftLogOps]] / [[GraftLog.writeCheckpoint]]) — one
  * implementation, two front doors. Results come back as ordinary
  * result sets (a [[LocalScan]] of the operation's audit row), so a
  * SQL caller sees what changed: committed version and live file
  * count for OPTIMIZE, deleted/retained counts for VACUUM.
  */
private[sources] object GraftProcedures {

  val Names: Seq[String] = Seq("optimize", "vacuum", "checkpoint",
    "history", "detail", "schema_history", "describe_stats")

  /** Result set of zero or more audit rows. */
  private final case class AuditScan(schema: StructType,
      auditRows: Seq[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = auditRows.toArray
  }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def result(schema: StructType,
      values: Any*): java.util.Iterator[Scan] =
    Collections.singletonList(
      AuditScan(schema, Seq(new GenericInternalRow(values.toArray)))
        : Scan).iterator()

  private def session: SparkSession = SparkSession.active

  /** `optimize(table [, cluster_by])` → [[GraftLogOps.compactLog]]:
    * partition-aware small-file compaction, optionally sorted within
    * each bin by the comma-separated `cluster_by` columns.
    */
  private final class Optimize(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "compact small files, partition-aware; optional clustering sort"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "optimize"
        override def description(): String = Optimize.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          if (inputType.length > 1)
            Array(param("table", StringType),
              param("cluster_by", StringType))
          else Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val clusterBy =
            if (input.numFields > 1 && !input.isNullAt(1))
              input.getUTF8String(1).toString.split(",")
                .map(_.trim).filter(_.nonEmpty).toSeq
            else Nil
          val v = GraftLogOps.compactLog(s, root, clusterBy = clusterBy)
          val live = GraftLog.liveEntries(
            s.sessionState.newHadoopConf(), root, v).size
          result(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("live_files", LongType, nullable = false))),
            v.toLong, live.toLong)
        }
      }
  }

  /** `vacuum(table, keep_from)` → [[GraftLogOps.vacuumLog]]: expire
    * versions below `keep_from`, delete unreferenced files.
    */
  private final class Vacuum(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "expire versions below keep_from and delete unreferenced files"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "vacuum"
        override def description(): String = Vacuum.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(param("table", StringType),
            param("keep_from", IntegerType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val root = rootOf(input.getUTF8String(0).toString)
          val keepFrom = input.getInt(1)
          val (deleted, retained) =
            GraftLogOps.vacuumLog(session, root, keepFrom)
          result(StructType(Seq(
            StructField("kept_from", LongType, nullable = false),
            StructField("files_deleted", LongType, nullable = false),
            StructField("files_retained", LongType, nullable = false))),
            keepFrom.toLong, deleted.toLong, retained.toLong)
        }
      }
  }

  /** `checkpoint(table)` → [[GraftLog.writeCheckpoint]] at the latest
    * version: consolidate the live set so cold planning reads
    * O(checkpoint + tail) — the manual trigger of what every
    * CheckpointInterval-th commit does automatically.
    */
  private final class Checkpoint(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "checkpoint"
    override def description(): String =
      "consolidate the live set into a checkpoint at the latest version"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "checkpoint"
        override def description(): String =
          Checkpoint.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val conf = s.sessionState.newHadoopConf()
          val latest = GraftLog.latestVersion(conf, root)
          GraftLog.writeCheckpoint(conf, root, latest)
          result(StructType(Seq(
            StructField("version", LongType, nullable = false))),
            latest.toLong)
        }
      }
  }

  /** `history(table [, max_versions])` — one row per RETAINED version,
    * newest first: version number, commit timestamp (the manifest's
    * committs micros), adds/removes
    * counts, and the operation class derivable from the manifest
    * shape. The audit surface real formats call DESCRIBE HISTORY —
    * folded entirely from the log's control plane, zero data I/O. The
    * walk is one (cached) manifest read PER RETURNED ROW, so
    * `max_versions` is the cost dial at streaming-sink version counts
    * (a year of minute-triggers is ~500k versions; asking for the
    * newest 100 reads 100 manifests, never the whole log).
    */
  private final class History(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "one row per retained version: commit time, adds, removes"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "history"
        override def description(): String = History.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          if (inputType.length > 1)
            Array(param("table", StringType),
              param("max_versions", IntegerType))
          else Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val conf = s.sessionState.newHadoopConf()
          val latest = GraftLog.latestVersion(conf, root)
          val maxV =
            if (input.numFields > 1 && !input.isNullAt(1))
              input.getInt(1)
            else Int.MaxValue
          require(maxV > 0,
            s"graft catalog: history max_versions must be positive")
          val wm = math.max(GraftLog.vacuumWatermark(conf, root),
            if (latest - maxV + 1 > 0) latest - maxV + 1 else 1)
          val schema = StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("committed_at", TimestampType, nullable = true),
            StructField("operation", StringType, nullable = false),
            StructField("n_added", LongType, nullable = false),
            StructField("n_removed", LongType, nullable = false)))
          def ddlOf(v: Int): Option[String] =
            GraftLog.versionRows(conf, root, v).collectFirst {
              case GraftLog.ManifestRow("schema", d, _, _, _) => d }
          val rows = (latest to wm by -1).map { v =>
            val mrows = GraftLog.versionRows(conf, root, v)
            // the ONE commit-instant rule TIMESTAMP AS OF uses
            val micros = GraftLog.commitMicros(conf, root, v)
            val adds = mrows.count(_.action == "add").toLong
            val removes = mrows.count(_.action == "remove").toLong
            // an empty commit is ALTER only when the recorded DDL
            // really differs from the previous version's (connector
            // commits ALL carry a schema row, so presence alone would
            // mislabel zero-row appends); the v-1 manifest this reads
            // is the cached one the walk's next row reads anyway
            def schemaChanged: Boolean = {
              val d = mrows.collectFirst {
                case GraftLog.ManifestRow("schema", x, _, _, _) => x }
              d.isDefined && v > 1 && d != ddlOf(v - 1)
            }
            // the commit's own OPERATION row names what happened
            // (DELETE vs COMPACT vs MERGE — distinctions the row mix
            // can't recover); a commit without one falls back to the
            // shape-inferred class
            val op = mrows.collectFirst {
              case GraftLog.ManifestRow("op", o, _, _, _) =>
                o.toUpperCase(java.util.Locale.ROOT)
            }.getOrElse {
              if (adds > 0 && removes > 0) "REWRITE"
              else if (removes > 0) "REMOVE"
              else if (adds > 0) "WRITE"
              else if (v == 1) "CREATE"
              else if (schemaChanged) "ALTER"
              else "EMPTY"
            }
            new GenericInternalRow(Array[Any](v.toLong,
              micros.map(Long.box).orNull,
              UTF8String.fromString(op), adds, removes))
          }
          Collections.singletonList(
            AuditScan(schema, rows): Scan).iterator()
        }
      }
  }

  /** `detail(table)` — the single-row DESCRIBE DETAIL companion to
    * `history`: format, latest version, live file count and byte size,
    * deletion-vector state (files masked / rows masked), partition
    * columns, newest checkpoint, vacuum watermark, and the column-
    * mapping generation (renamed + tombstoned counts). Folded entirely
    * from the log's control plane — zero data I/O at any table size.
    */
  private final class Detail(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "detail"
    override def description(): String =
      "one row: format, files, bytes, dv state, layout, checkpoint"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "detail"
        override def description(): String = Detail.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val conf = s.sessionState.newHadoopConf()
          val latest = GraftLog.latestVersion(conf, root)
          val st = GraftLog.liveState(conf, root, latest)
          val meta = GraftLog.tableMeta(conf, root, latest)
          // every add row is one file recording its own byte size
          val bytes = st.adds.iterator.map(_.bytes.get).sum
          val ckpt = GraftLog.newestCheckpointAt(conf, root, latest)
          result(StructType(Seq(
            StructField("format", StringType, nullable = false),
            StructField("version", LongType, nullable = false),
            StructField("num_files", LongType, nullable = false),
            StructField("size_bytes", LongType, nullable = false),
            StructField("num_dv_files", LongType, nullable = false),
            StructField("dv_masked_rows", LongType, nullable = false),
            StructField("partition_columns", StringType,
              nullable = false),
            StructField("checkpoint_version", LongType,
              nullable = false),
            StructField("vacuum_watermark", LongType, nullable = false),
            StructField("renamed_columns", LongType, nullable = false),
            StructField("tombstoned_columns", LongType,
              nullable = false))),
            UTF8String.fromString(GraftLog.ShortName), latest.toLong,
            st.adds.size.toLong, bytes,
            st.dvs.size.toLong, st.dvs.values.map(_.card).sum,
            UTF8String.fromString(meta.partCols.mkString(",")),
            ckpt.getOrElse(0).toLong,
            GraftLog.vacuumWatermark(conf, root).toLong,
            meta.colMap.count { case (l, p) => l != p }.toLong,
            meta.tombstones.size.toLong)
        }
      }
  }

  /** `schema_history(table)` — one row per version that CHANGED the
    * recorded schema or column mapping, oldest first: the per-version
    * logical naming a CDC consumer replaying history needs. The change
    * feed stamps every row `_commit_version`; joining that stamp
    * against this result recovers exactly which logical names each
    * version's rows carried — the explicit answer to "multi-version
    * reads bind read-time names" (GraftLogScanBuilder's documented
    * colmap semantics).
    */
  /** `describe_stats(table)` — one row per PRIMITIVE LEAF column
    * (struct leaves included, dotted logical paths): the
    * manifest-merged NDV estimate (the per-file HyperLogLog registers
    * OR-folded — null when any live file lacks a sketch for the
    * column), the exact null count (null when any file lacks it), and
    * the file coverage counts. Folded entirely from the manifest —
    * zero data I/O at any table size; the same register merge the
    * scan's CBO columnStats serve.
    */
  private final class DescribeStats(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "describe_stats"
    override def description(): String =
      "one row per leaf column: merged NDV estimate, null count, coverage"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "describe_stats"
        override def description(): String =
          DescribeStats.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val conf = s.sessionState.newHadoopConf()
          val latest = GraftLog.latestVersion(conf, root)
          val meta = GraftLog.tableMeta(conf, root, latest)
          val tblSchema = meta.schema.getOrElse(
            GraftLog.inferSchema(conf, root, latest))
          val entries = GraftLog.liveState(conf, root, latest).adds
            .map(GraftLog.fileEntry(root, _))
          val described = entries.filterNot(_.rows.contains(0L))
          // logical leaf paths in schema order (struct leaves dotted;
          // array/map interiors carry no single per-row value)
          def leaves(st: StructType, prefix: String): Seq[String] =
            st.fields.toSeq.flatMap { f =>
              val p = if (prefix.isEmpty) f.name
                      else s"$prefix.${f.name}"
              f.dataType match {
                case nested: StructType => leaves(nested, p)
                case _: ArrayType | _: MapType => Seq.empty
                case _ => Seq(p)
              }
            }
          val schema = StructType(Seq(
            StructField("column", StringType, nullable = false),
            StructField("ndv_estimate", LongType, nullable = true),
            StructField("null_count", LongType, nullable = true),
            StructField("files_sketched", LongType, nullable = false),
            StructField("num_files", LongType, nullable = false)))
          val rows = leaves(tblSchema, "").map { logical =>
            val phys = meta.physicalPath(logical)
            val sketches = described.flatMap(
              _.stats.flatMap(_.ndv.get(phys))
                .map(GraftLogStats.NdvSketch.fromB64))
            val nullCounts = described.map(
              _.stats.flatMap(_.nulls.get(phys)))
            val ndv: Any =
              if (described.nonEmpty &&
                  sketches.length == described.length)
                Long.box(GraftLogStats.NdvSketch.estimate(
                  sketches.reduce(GraftLogStats.NdvSketch.merge)))
              else null
            val nulls: Any =
              if (described.nonEmpty && nullCounts.forall(_.isDefined))
                Long.box(nullCounts.flatten.sum)
              else null
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(logical), ndv, nulls,
              sketches.length.toLong, described.size.toLong))
          }
          Collections.singletonList(
            AuditScan(schema, rows): Scan).iterator()
        }
      }
  }

  private final class SchemaHistory(rootOf: String => String)
      extends UnboundProcedure {
    override def name(): String = "schema_history"
    override def description(): String =
      "one row per schema/colmap change: version, ddl, column mapping"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = "schema_history"
        override def description(): String =
          SchemaHistory.this.description()
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          Array(param("table", StringType))
        override def call(input: InternalRow)
            : java.util.Iterator[Scan] = {
          val s = session
          val root = rootOf(input.getUTF8String(0).toString)
          val conf = s.sessionState.newHadoopConf()
          val latest = GraftLog.latestVersion(conf, root)
          val schema = StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("schema_ddl", StringType, nullable = false),
            StructField("column_mapping", StringType, nullable = false)))
          // the fold starts at v1 regardless of the vacuum watermark:
          // vacuum deletes DATA files, never manifests, and a colmap
          // row committed before the watermark still governs every
          // readable version — starting the carry-forward at the
          // watermark would misreport an identity mapping
          var prev: Option[(String, String)] = None
          val rows = (1 to latest).flatMap { v =>
            val mrows = GraftLog.versionRows(conf, root, v)
            val ddl = mrows.collectFirst {
              case GraftLog.ManifestRow("schema", d, _, _, _) => d }
            val cmap = mrows.collectFirst {
              case GraftLog.ManifestRow("colmap", c, _, _, _) => c }
            ddl match {
              case Some(d) =>
                // the colmap row is recorded only when it CHANGES (or
                // by rewrites re-recording it) — absent means
                // unchanged, so carry the previous value forward
                val m = cmap.getOrElse(prev.map(_._2).getOrElse(""))
                val cur = (d, m)
                if (prev.contains(cur)) { prev = Some(cur); None }
                else {
                  prev = Some(cur)
                  Some(new GenericInternalRow(Array[Any](v.toLong,
                    UTF8String.fromString(d), UTF8String.fromString(m))))
                }
              case None => None
            }
          }
          Collections.singletonList(
            AuditScan(schema, rows): Scan).iterator()
        }
      }
  }

  def load(name: String, rootOf: String => String): UnboundProcedure =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "optimize"       => new Optimize(rootOf)
      case "vacuum"         => new Vacuum(rootOf)
      case "checkpoint"     => new Checkpoint(rootOf)
      case "history"        => new History(rootOf)
      case "detail"         => new Detail(rootOf)
      case "schema_history" => new SchemaHistory(rootOf)
      case "describe_stats" => new DescribeStats(rootOf)
      case other => throw new IllegalArgumentException(
        s"graft catalog: unknown procedure system.$other — available: " +
          Names.mkString(", "))
    }
}
