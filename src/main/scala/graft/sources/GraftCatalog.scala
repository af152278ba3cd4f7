package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL catalog over graftlog tables — the surface that makes time
  * travel a LANGUAGE feature instead of a reader option:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  *   SELECT * FROM graft.db.orders VERSION AS OF 2
  *   SELECT * FROM graft.db.orders TIMESTAMP AS OF '2026-01-03 12:00:00'
  * }}}
  *
  * Identifier → path mapping is the plain warehouse layout:
  * `warehouse/<namespace.../><table>`, each table directory a graftlog
  * root (committed `_log`). Resolution reuses the connector's one
  * source of truth — [[GraftLog.resolveVersion]] — so the SQL path
  * refuses uncommitted versions and vacuum-expired snapshots with the
  * SAME errors the DataFrame option path raises, and `TIMESTAMP AS OF`
  * binds to the newest version whose COMMIT TIME (the `_ok` marker's /
  * sealed OCC manifest's filesystem timestamp — the instant the
  * version became visible) is at or before the requested instant.
  *
  * `CREATE TABLE` (and so CTAS — `CREATE TABLE graft.t AS SELECT ...`,
  * plus subsequent `INSERT INTO graft.t`) routes through the SAME
  * two-phase commit protocol the write path uses: create commits an
  * EMPTY version 1 carrying the schema DDL (the table exists and is
  * time-travelable from that instant), and the CTAS/INSERT data lands
  * as ordinary appended versions — exactly one commit protocol, no
  * catalog-private metadata. `PARTITIONED BY (col)` (identity only)
  * becomes the default Hive-layout partitioning for writes through the
  * created table instance; partitioning is physical layout, never
  * truth (values stay in the files, pruning derives from manifest
  * statistics). Schema evolution stays with the write path's
  * documented WIDENING contract — ALTER/RENAME through SQL refuse
  * loudly, as does DROP (a graftlog table's identity is its
  * directory; delete at the storage layer).
  *
  * The warehouse location is re-read from the live session conf on
  * every resolution (falling back to the option captured at
  * initialize), so a long-lived session can repoint the catalog
  * without re-registration — and a stale singleton can never silently
  * serve tables from a previous warehouse setting.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var initWarehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def warehouse: String =
    SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(
        s"spark.sql.catalog.$catalogName.warehouse"))
      .orElse(initWarehouse)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName requires spark.sql.catalog.$catalogName" +
          ".warehouse"))

  private def rootOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def conf: Configuration = GraftLog.sessionConf()

  private def tableAt(ident: Identifier, version: Option[Int]): Table = {
    val c = conf
    val root = rootOf(ident)
    if (GraftLog.latestVersion(c, root) == 0)
      throw new NoSuchTableException(ident)
    val v = GraftLog.resolveVersion(c, root, version)
    // ONE backward manifest walk resolves schema, the declared
    // PARTITIONED BY (which survives sessions through its manifest
    // row — later INSERT INTOs keep the declared layout) AND the
    // column mapping a RENAME/DROP may have recorded
    val meta = GraftLog.tableMeta(c, root, v)
    GraftLogTable(root, v,
      meta.schema.getOrElse(GraftLog.inferSchema(c, root, v)),
      new SerializableConfiguration(c),
      partitionCols = meta.partCols, colMap = meta.colMap,
      tombstones = meta.tombstones)
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** `VERSION AS OF <n>` */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft catalog: VERSION AS OF takes a version number, got " +
          s"'$version'")
    }
    tableAt(ident, Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; binds to
    * the newest version committed at or before that instant. The
    * commit time is the `committs` micros recorded IN the version's
    * manifest (strictly increasing by construction at commit, so two
    * versions landing within one filesystem-clock second still
    * resolve correctly — object-store mtimes are second-granular);
    * legacy/OCC versions without the row fall back to the marker
    * mtime, which is non-decreasing too (versions commit strictly in
    * claim order).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val c = conf
    val root = rootOf(ident)
    val latest = GraftLog.latestVersion(c, root)
    if (latest == 0) throw new NoSuchTableException(ident)
    val fs = new Path(root).getFileSystem(c)
    val occ = fs.exists(new Path(s"$root/_log/v1.txt"))
    def commitMicros(v: Int): Long =
      GraftLog.commitInstantMicros(c, root, v, occ).getOrElse(
        throw new IllegalStateException(
          s"graft catalog: version $v of $root has no commit marker"))
    // commit times are non-decreasing in v: binary-search the newest
    // version committed at or before the instant — O(log V) manifest/
    // status probes, not a newest-first linear walk (O(V) at
    // streaming-sink version counts)
    if (commitMicros(1) > timestamp)
      throw new IllegalArgumentException(
        s"graft catalog: no version of $root committed at or before " +
          s"timestamp micros=$timestamp (v1 committed at " +
          s"${commitMicros(1)})")
    var lo = 1
    var hi = latest
    while (lo < hi) { // invariant: commitMicros(lo) <= timestamp
      val mid = lo + (hi - lo + 1) / 2
      if (commitMicros(mid) <= timestamp) lo = mid else hi = mid - 1
    }
    tableAt(ident, Some(lo))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftLog.latestVersion(conf, rootOf(ident)) > 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = (warehouse +: namespace.toSeq).mkString("/")
    val c = conf
    val fs = new Path(base).getFileSystem(c)
    val p = new Path(base)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).collect {
      case st if st.isDirectory &&
        fs.exists(new Path(st.getPath, "_log")) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  /** `CREATE TABLE` / the create half of CTAS: commit an EMPTY version
    * 1 carrying the schema DDL through [[GraftLogWrite.commitStaged]] —
    * the exact protocol every data write uses (claim put-if-absent,
    * manifest, `_ok` marker), so concurrent CREATEs serialize on the
    * version claim and a torn create is invisible. The returned table
    * is immediately writable (CTAS appends its query result as v2) and
    * readable (`VERSION AS OF 1` is the committed empty snapshot).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val c = conf
    val root = rootOf(ident)
    if (GraftLog.latestVersion(c, root) > 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      val refs = t.references()
      if (t.name() == "identity" && refs.length == 1 &&
          refs(0).fieldNames().length == 1) refs(0).fieldNames()(0)
      else throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $t — only " +
          "identity partitioning (PARTITIONED BY (col)) is expressible " +
          "in the log's Hive layout")
    }
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft catalog: PARTITIONED BY column(s) ${missing.mkString(", ")}" +
        s" not in the table schema [${schema.toDDL}]")
    val normalized = GraftLog.asNullable(schema)
    // refuse unstorable types at CREATE, not at the first append
    GraftLogWrite.toMessageType(normalized)
    // expectedVersion pins "the empty v1": losing a concurrent CREATE
    // race must refuse (not silently stack a second empty version onto
    // the winner's table); the declared PARTITIONED BY is persisted as
    // a manifest row so later sessions' writes keep the layout
    try GraftLogWrite.commitStaged(c, root,
      s"$root/data/w_create_${java.util.UUID.randomUUID()}",
      Nil, Some(normalized), expectedVersion = Some(1),
      op = Some("create"),
      extraRows = GraftLog.partColsRow(partCols))
    catch {
      // typed, not message-matched: losing the v1 claim to a COMMITTED
      // concurrent CREATE (version mismatch) and losing it to one still
      // IN FLIGHT (claim pending) both mean the table is someone
      // else's — surface the SQL-standard error for each
      case _: GraftLogVersionMismatchException |
           _: GraftLogClaimPendingException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
    }
    GraftLogTable(root, 1, normalized, new SerializableConfiguration(c),
      partitionCols = partCols)
  }

  /** `ALTER TABLE ... ADD / RENAME / DROP COLUMN` — schema evolution
    * without rewriting a byte of data, top-level AND struct-nested
    * (`ALTER TABLE t RENAME COLUMN meta.score TO amount`):
    *
    *  - ADD COLUMN (appended) IS the write path's documented WIDENING
    *    contract at top level — an EMPTY version whose recorded schema
    *    appends the new nullable column; NESTED adds append a field to
    *    an existing struct (old files' struct decoder null-fills
    *    absent subfields by name, so every version stays readable).
    *  - RENAME COLUMN uses COLUMN MAPPING (the name-mode discipline
    *    real table formats use): the logical name changes, the STABLE
    *    PHYSICAL name files were written under does not — a `colmap`
    *    manifest row records the dot-joined logical path → physical
    *    path, readers and writers translate at the scan/write
    *    boundary, and no existing file is orphaned. Renaming a STRUCT
    *    rekeys its children's mapping entries (their logical prefix
    *    moved with it).
    *  - DROP COLUMN removes the logical column/field and TOMBSTONES
    *    its physical path — old files keep the bytes (time travel
    *    still reads them), current reads never see it, and no future
    *    ADD may reuse the path (a name-resolved reader would serve the
    *    stale data as the new column).
    *
    * Paths through arrays/maps, positioned adds and type changes
    * refuse loudly. Every variant commits one empty version pinned at
    * latest+1, so a concurrent schema change refuses instead of being
    * clobbered.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val c = conf
    val root = rootOf(ident)
    val latest = GraftLog.latestVersion(c, root)
    if (latest == 0) throw new NoSuchTableException(ident)
    val meta = GraftLog.tableMeta(c, root, latest)
    val current = meta.schema.getOrElse(GraftLog.inferSchema(c, root,
      latest))
    def checkName(n: String): String = {
      require(!n.exists(ch => ch == ',' || ch == ':' || ch == '!' ||
          ch == '.'),
        s"graft catalog: column name '$n' may not contain ',' ':' '!' " +
          "'.' (colmap row delimiter / path separator)")
      n
    }
    var fields = current.fields.toSeq
    var colMap = meta.colMap
    var tombstones = meta.tombstones

    /** Rewrite the struct at `path.init`, applying `fn` to its field
      * list — `path` must thread plain structs only (array/map
      * nesting refuses: a mapping on an element type has no stable
      * per-path identity in the parquet schema walk this engine uses).
      * Every segment along the way must itself be dot-free, or the
      * dot-joined colmap key would be ambiguous against it.
      */
    def rewriteAt(fs: Seq[StructField], path: Seq[String],
        fn: Seq[StructField] => Seq[StructField]): Seq[StructField] =
      if (path.isEmpty) fn(fs)
      else {
        val idx = fs.indexWhere(_.name == path.head)
        require(idx >= 0, s"graft catalog: no such column ${path.head}" +
          s" in [${StructType(fs).toDDL}]")
        checkName(path.head)
        fs(idx).dataType match {
          case st: StructType =>
            val updated = StructType(
              rewriteAt(st.fields.toSeq, path.tail, fn))
            fs.updated(idx, fs(idx).copy(dataType = updated))
          case other => throw new UnsupportedOperationException(
            s"graft catalog: cannot ALTER inside ${path.head} " +
              s"($other) — nested column changes thread plain structs " +
              "only (array/map element fields have no stable mapping " +
              "identity)")
        }
      }

    /** The would-be PHYSICAL path of a (possibly nested) logical path
      * under the CURRENT mapping — what tombstone checks compare.
      */
    def physicalPathOf(segments: Seq[String]): String =
      GraftLog.TableMeta(None, Nil, colMap, tombstones)
        .physicalPath(segments.mkString("."))

    val usedPhysical: Set[String] =
      current.fieldNames.map(n => colMap.getOrElse(n, n)).toSet
    changes.foreach {
      case a: TableChange.AddColumn if a.position() == null =>
        val path = a.fieldNames().toSeq
        val parent = path.init
        val n = checkName(path.last)
        // duplicate check FIRST (inside the struct walk) — an ADD of
        // an existing column must say "already present", not trip the
        // tombstone guard on its own identity-mapped physical name
        fields = rewriteAt(fields, parent, { fs =>
          require(!fs.exists(_.name == n),
            s"graft catalog: ADD COLUMN ${path.mkString(".")} already " +
              s"present in [${StructType(fs).toDDL}]")
          fs :+ StructField(n, GraftLog.deepNullable(a.dataType()),
            nullable = true)
        })
        val physPath =
          if (parent.isEmpty) n
          else s"${physicalPathOf(parent)}.$n"
        require(!tombstones.contains(physPath) &&
          !colMap.valuesIterator.contains(physPath) &&
          (parent.nonEmpty || !usedPhysical.contains(n)),
          s"graft catalog: column name $n was used by a renamed or " +
            "dropped column — old files still store data under it; " +
            "choose a different name")
      case r: TableChange.RenameColumn =>
        val path = r.fieldNames().toSeq
        val from = path.mkString(".")
        val to = checkName(r.newName())
        val toPath = (path.init :+ to).mkString(".")
        require(!meta.partCols.contains(from),
          s"graft catalog: $from is a PARTITIONED BY column; renaming " +
            "it would desynchronize the declared layout — unsupported")
        // the RETAINED physical path lands in the colmap row — a
        // pre-existing delimiter-bearing name would encode a row
        // decodeColMap can never parse back (a bricked table); every
        // segment is validated by rewriteAt / checkName
        val physical = physicalPathOf(path)
        physical.split('.').foreach(checkName)
        fields = rewriteAt(fields, path.init, { fs =>
          val idx = fs.indexWhere(_.name == path.last)
          require(idx >= 0, s"graft catalog: RENAME COLUMN $from — no " +
            s"such column in [${StructType(fs).toDDL}]")
          require(!fs.exists(_.name == to),
            s"graft catalog: RENAME COLUMN to $to — already present")
          fs.updated(idx, fs(idx).copy(name = to))
        })
        // rekey: the renamed path itself, plus every DESCENDANT entry
        // whose logical prefix just moved (renaming a struct carries
        // its children's mappings along)
        val prefix = from + "."
        colMap = colMap.map {
          case (l, p) if l == from => (toPath, p)
          case (l, p) if l.startsWith(prefix) =>
            (toPath + "." + l.stripPrefix(prefix), p)
          case other => other
        }
        if (!colMap.contains(toPath)) colMap += (toPath -> physical)
      case d: TableChange.DeleteColumn =>
        val path = d.fieldNames().toSeq
        val n = path.mkString(".")
        require(!meta.partCols.contains(n),
          s"graft catalog: $n is a PARTITIONED BY column; dropping it " +
            "would desynchronize the declared layout — unsupported")
        val physical = physicalPathOf(path)
        physical.split('.').foreach(checkName)
        fields = rewriteAt(fields, path.init, { fs =>
          val idx = fs.indexWhere(_.name == path.last)
          require(idx >= 0, s"graft catalog: DROP COLUMN $n — no such " +
            s"column in [${StructType(fs).toDDL}]")
          require(fs.size > 1,
            if (path.init.isEmpty)
              "graft catalog: cannot DROP the last column"
            else
              s"graft catalog: cannot DROP the last field of struct " +
                s"${path.init.mkString(".")} — drop the struct instead")
          fs.patch(idx, Nil, 1)
        })
        tombstones += physical
        val prefix = n + "."
        colMap = colMap.filter { case (l, _) =>
          l != n && !l.startsWith(prefix) }
      case t: TableChange.UpdateColumnType =>
        // TYPE WIDENING: the per-version schema machinery already
        // returns each version's own schema, and both readers decode
        // per THIS FILE's physical type — so a widening commit needs
        // no rewrite: old files' values up-cast at the read boundary
        // (INT32→long, FLOAT→double, decimal precision growth at the
        // same scale keeps the physical decode keyed on the file).
        // Anything beyond those pairs would MISREAD existing files'
        // bytes and refuses.
        val path = t.fieldNames().toSeq
        val name = path.mkString(".")
        def widensType(from: DataType, to: DataType): Boolean =
          (from, to) match {
            case (IntegerType, LongType)  => true
            case (FloatType, DoubleType)  => true
            case (f: DecimalType, w: DecimalType) =>
              w.scale == f.scale && w.precision > f.precision
            case _ => false
          }
        fields = rewriteAt(fields, path.init, { fs =>
          val idx = fs.indexWhere(_.name == path.last)
          require(idx >= 0, s"graft catalog: ALTER COLUMN $name — no " +
            s"such column in [${StructType(fs).toDDL}]")
          val cur = fs(idx).dataType
          require(widensType(cur, t.newDataType()),
            s"graft catalog: ALTER COLUMN $name TYPE " +
              s"${t.newDataType().sql} — only WIDENING type changes " +
              s"are supported from ${cur.sql} (INT->BIGINT, " +
              "FLOAT->DOUBLE, DECIMAL precision growth at the same " +
              "scale); anything else would misread existing files")
          fs.updated(idx, fs(idx).copy(dataType = t.newDataType()))
        })
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER $other — ADD COLUMN " +
          "(appended) follows the WIDENING contract, RENAME/DROP use " +
          "column mapping, ALTER COLUMN TYPE widens (INT->BIGINT, " +
          "FLOAT->DOUBLE, DECIMAL precision); positioned adds and " +
          "narrowing changes would misread existing files' columns")
    }
    val next = GraftLog.asNullable(StructType(fields))
    // refuse unstorable types now, not at the next append
    GraftLogWrite.toMessageType(next)
    // one empty commit carrying the new DDL (and the mapping, when one
    // exists) — pinned at latest+1 so a concurrent commit of ANY kind
    // refuses this ALTER instead of being silently clobbered by it
    GraftLogWrite.commitStaged(c, root,
      s"$root/data/w_alter_${java.util.UUID.randomUUID()}",
      Nil, Some(next), expectedVersion = Some(latest + 1),
      allowSchemaChange = true, op = Some("alter"),
      extraRows =
        if (colMap.isEmpty && tombstones.isEmpty) Nil
        else Seq(GraftLog.ManifestRow("colmap",
          GraftLog.encodeColMap(colMap, tombstones))))
    loadTable(ident)
  }

  // deliberately refuses (never destructive): a graftlog table IS its
  // directory + log — deleting history through SQL would discard every
  // time-travelable version; delete at the storage layer if truly
  // meant. A loud refusal, not `false`: returning false makes Spark's
  // DropTableExec report NoSuchTableException for a table that
  // demonstrably exists — a misleading error hiding the real reason.
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "graft catalog: DROP TABLE is deliberately not supported — a " +
        "graftlog table is its directory and versioned log, and " +
        "dropping through SQL would discard every time-travelable " +
        "version; delete the table directory at the storage layer if " +
        "that is truly meant")

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: a graftlog table's identity is its directory; " +
        "rename at the storage layer")

  // ------------------------------------------------------------------
  // Stored procedures: the SQL maintenance surface —
  // CALL graft.system.optimize/vacuum/checkpoint('<table>').
  // Table arguments accept dot-qualified names and resolve through the
  // same warehouse mapping as table identifiers.
  // ------------------------------------------------------------------

  private def procRootOf(table: String): String = {
    val root =
      (warehouse +: table.split('.').toSeq.filter(_.nonEmpty))
        .mkString("/")
    if (GraftLog.latestVersion(conf, root) == 0)
      throw new NoSuchTableException(
        Identifier.of(Array.empty, table))
    root
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"graft catalog: procedures live under the `system` namespace " +
        s"(got ${ident.namespace.mkString(".")}.${ident.name})")
    GraftProcedures.load(ident.name, procRootOf)
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.Names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty
}
