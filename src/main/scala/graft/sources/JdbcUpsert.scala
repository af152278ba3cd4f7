package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

/** JDBC upsert sink — the reference's warehouse load re-expressed for Spark
  * (lambda_function.py:176-271): CREATE TABLE IF NOT EXISTS with the
  * 17-column transaction DDL, then INSERT .. ON CONFLICT (transaction_id)
  * DO UPDATE SET amount, processed_timestamp.
  *
  * Set-oriented instead of the reference's per-row cursor loop: executors
  * append partitions in parallel into a staging table via `df.write.jdbc`,
  * then ONE `MERGE INTO target USING staging` statement applies the
  * conflict semantics on the database side. That is the only shape that
  * holds at scale — the row-at-a-time INSERT loop serializes the whole
  * batch through the driver; the staged MERGE moves data in parallel and
  * leaves conflict resolution to the warehouse's own set execution.
  *
  * Exercised against embedded Derby (`jdbc:derby:memory:`; supports
  * ANSI MERGE) in JdbcUpsertSpec; the same calls run against any MERGE-
  * capable JDBC warehouse. All identifiers are written lowercase-quoted so
  * reserved-word column names from the reference DDL ("date", "timestamp",
  * "month", "year") survive every dialect's folding rules.
  */
object JdbcUpsert {

  /** Spark's stock Derby mapping writes StringType as CLOB, which (a)
    * cannot appear in a MERGE join condition and (b) makes `setNull` fail
    * against VARCHAR staging columns (the driver validates the null's JDBC
    * type against the declared column). Stage strings as VARCHAR with a
    * VARCHAR null type instead; every other type falls through to Spark's
    * defaults. Registration is JVM-global for jdbc:derby URLs, so the
    * default width is Derby's VARCHAR maximum (32672) — narrower columns
    * come from `createTableColumnTypes`; only >32k-char strings (which the
    * transaction schema cannot produce) would need the old CLOB mapping.
    */
  private object VarcharDerbyDialect extends JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case _: StringType =>
        Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
      case _ => None
    }
  }
  JdbcDialects.registerDialect(VarcharDerbyDialect)

  /** Mirror of `is_redshift_configured` (lambda_function.py:170-173):
    * the sink activates only when the connection env vars are present.
    */
  def fromEnv(env: Map[String, String] = sys.env): Option[(String, Properties)] =
    env.get("GRAFT_JDBC_URL").map { url =>
      val props = new Properties()
      env.get("GRAFT_JDBC_DRIVER").foreach(props.setProperty("driver", _))
      env.get("GRAFT_JDBC_USER").foreach(props.setProperty("user", _))
      env.get("GRAFT_JDBC_PASSWORD").foreach(props.setProperty("password", _))
      (url, props)
    }

  /** The reference's 17-column target DDL (lambda_function.py:186-207),
    * ANSI types, every identifier lowercase-quoted.
    */
  def targetDdl(table: String): String =
    s"""CREATE TABLE $table (
       |  "transaction_id" VARCHAR(50) PRIMARY KEY,
       |  "date" DATE,
       |  "timestamp" TIMESTAMP,
       |  "amount" DECIMAL(10,2),
       |  "amount_abs" DECIMAL(10,2),
       |  "amount_category" VARCHAR(20),
       |  "category" VARCHAR(50),
       |  "description" VARCHAR(200),
       |  "transaction_type" VARCHAR(20),
       |  "account" VARCHAR(50),
       |  "location" VARCHAR(100),
       |  "day_of_week" VARCHAR(20),
       |  "month" INTEGER,
       |  "year" INTEGER,
       |  "processed_timestamp" TIMESTAMP,
       |  "processed_by" VARCHAR(50),
       |  "source_file" VARCHAR(500))""".stripMargin

  /** The target DDL's VARCHAR widths — the single source both for the
    * staging column types and for the pre-MERGE row validity guard.
    */
  private val varcharWidths: Seq[(String, Int)] = Seq(
    "transaction_id" -> 50, "amount_category" -> 20, "category" -> 50,
    "description" -> 200, "transaction_type" -> 20, "account" -> 50,
    "location" -> 100, "day_of_week" -> 20, "processed_by" -> 50,
    "source_file" -> 500)

  /** DECIMAL(10,2) columns — values at or beyond 10⁸ overflow the target. */
  private val decimalCols = Seq("amount", "amount_abs")

  /** Staging column types for the columns the batch carries (Spark
    * rejects a listed column the frame lacks): the target's VARCHAR
    * widths (Spark's Derby default for StringType is CLOB, which cannot
    * appear in a MERGE join condition) and its DECIMAL(10,2) columns —
    * Derby's MERGE fails with XSDA7 assigning a DOUBLE staging column
    * into a DECIMAL(10,2) target once the batch has more than five rows,
    * and the staging insert truncates to scale 2 exactly as the MERGE
    * would.
    */
  private def stagingColumnTypes(cols: Seq[String]): String =
    (varcharWidths.map { case (c, w) => c -> s"VARCHAR($w)" } ++
      decimalCols.map(_ -> "DECIMAL(10,2)"))
      .collect { case (c, t) if cols.contains(c) => s"$c $t" }
      .mkString(", ")

  /** Deterministic full-row hash for LWW tie-breaks, shared by this
    * upsert and the streaming warehouse merge (Streams.fileWarehouse
    * pipeline) so the two merge paths can never desynchronize. xxhash64
    * SKIPS null inputs (the accumulator is unchanged by a null child),
    * so hashing raw string casts would collide rows whose non-null
    * values align after null-skipping — e.g. (a=NULL, b="x") vs
    * (a="x", b=NULL) — and the "deterministic" winner would silently
    * fall back to partition order. Each column therefore contributes an
    * explicit null marker plus its coalesced value, making the null
    * PATTERN part of the hash.
    */
  private[graft] def fullRowHash(columns: Seq[String]): Column =
    xxhash64(columns.flatMap(c => Seq(
      isnull(col(c)).cast("string"),
      coalesce(col(c).cast("string"), lit("")))): _*)

  /** Row validity against the target DDL, evaluated over whichever of the
    * guarded columns the batch carries: VARCHAR width fits, DECIMAL(10,2)
    * magnitude fits, and the primary key is non-null. Mirrors the
    * reference's per-row tolerance (lambda_function.py:258-260 logs and
    * skips un-insertable rows) set-orientedly: one un-insertable row must
    * not abort the whole MERGE.
    */
  private def validityPredicate(cols: Seq[String]): Column = {
    val widthOk = varcharWidths.collect {
      case (c, w) if cols.contains(c) => col(c).isNull || length(col(c)) <= w
    }
    // strict bound is 1e8, but a warehouse that half-up-rounds to scale 2
    // (Redshift-style) would round [99999999.995, 1e8) up INTO overflow —
    // reject those too (Derby truncates, so the difference never shows in
    // tests; the filter guards the rounding target)
    val decimalOk = decimalCols.collect {
      case c if cols.contains(c) => col(c).isNull || abs(col(c)) < 99999999.995
    }
    val keyOk = Seq(col("transaction_id").isNotNull)
    (widthOk ++ decimalOk ++ keyOk).reduce(_ && _)
  }

  /** Upsert `df` into `table` with the reference's conflict semantics:
    * insert new transaction_ids; on conflict update ONLY amount and
    * processed_timestamp (lambda_function.py:230-236). Within-batch key
    * conflicts resolve last-writer-wins on processed_timestamp before
    * staging (a MERGE source must be key-unique).
    *
    * Rows that cannot land in the target DDL (oversized VARCHAR, decimal
    * overflow, null key) are filtered out BEFORE staging and returned as a
    * lazy side-output DataFrame, so one dirty row no longer aborts the
    * whole batch — the reference's per-row log-and-skip tolerance,
    * set-orientedly. Callers that care sink or count the returned frame;
    * callers that don't can ignore it (nothing is computed unless read).
    */
  def upsert(df: DataFrame, url: String, table: String,
      props: Properties): DataFrame = {
    val isValid  = validityPredicate(df.columns.toSeq)
    val rejected = df.filter(!isValid)
    val clean    = df.filter(isValid)
    // within-batch LWW: latest processed_timestamp wins; ties (the common
    // case — a batch usually carries ONE timestamp literal) break on a
    // deterministic full-row hash, never on partition/scan order
    val rowHash = JdbcUpsert.fullRowHash(df.columns.toSeq)
    val deduped = {
      val order =
        if (df.columns.contains("processed_timestamp"))
          Seq(col("processed_timestamp").desc_nulls_last, rowHash.desc)
        else Seq(rowHash.desc)
      val w = Window.partitionBy(col("transaction_id")).orderBy(order: _*)
      clean.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    // month/year arrive as long (Spark date-part convention); the target
    // DDL says INTEGER — align before staging so MERGE assigns cleanly
    val aligned = Seq("month", "year").foldLeft(deduped) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast("int")) else d
    }
    // per-invocation staging name: concurrent upserts into the same target
    // must not clobber each other's staging data
    val stage = s"${table}_stg_${java.util.UUID.randomUUID().toString
      .replace("-", "").take(10)}"
    try {
      aligned.write.mode("overwrite")
        .option("createTableColumnTypes",
          stagingColumnTypes(aligned.columns.toSeq))
        .jdbc(url, stage, props)
    } catch { case e: Throwable =>
      // the write creates the table before inserting partitions — a
      // mid-insert failure must not leak the orphan staging table either
      try withConnection(url, props)(dropStage(_, stage))
      catch { case _: Throwable => () }
      throw e
    }
    val cols    = aligned.columns
    val colList = cols.map(c => s""""$c"""").mkString(", ")
    val valList = cols.map(c => s"""s."$c"""").mkString(", ")
    // the reference updates ONLY these two on conflict; restrict further to
    // what the batch actually carries (the deterministic transform chain
    // omits processed_timestamp)
    val setList = Seq("amount", "processed_timestamp").filter(cols.contains)
      .map(c => s""""$c" = s."$c"""").mkString(", ")
    // a batch with neither updatable column degenerates to insert-only —
    // an empty WHEN MATCHED clause would not parse
    val matchedClause =
      if (setList.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $setList\n" else ""
    withConnection(url, props) { conn =>
      ensureTable(conn, table)
      val st = conn.createStatement()
      try {
        st.executeUpdate(
          s"""MERGE INTO $table t USING $stage s
             |ON t."transaction_id" = s."transaction_id"
             |${matchedClause}WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($valList)"""
            .stripMargin)
      } finally {
        // drop staging even when the MERGE throws — a failed run must not
        // leak staging tables into the warehouse
        dropStage(conn, stage)
        st.close()
      }
    }
    rejected
  }

  private def dropStage(conn: java.sql.Connection, stage: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(s"DROP TABLE $stage")
    catch { case _: java.sql.SQLException => () }
    finally st.close()
  }

  /** CREATE TABLE IF NOT EXISTS via metadata probe (Derby has no native
    * IF NOT EXISTS; the probe form is portable).
    */
  private def ensureTable(conn: java.sql.Connection, table: String): Unit = {
    val md  = conn.getMetaData
    // getTables takes a PATTERN: '_' is a single-char wildcard, so escape it
    // or PORTFOLIOxTRANSACTIONS would false-positive and skip the CREATE
    val esc = md.getSearchStringEscape
    val pattern = table.toUpperCase(java.util.Locale.ROOT)
      .replace("_", s"${esc}_")
    val rs = md.getTables(null, null, pattern, Array("TABLE"))
    val exists = try rs.next() finally rs.close()
    if (!exists) {
      val st = conn.createStatement()
      // a concurrent upsert can win the probe-create race; losing it is
      // fine — the table exists, which is all this method guarantees
      try st.executeUpdate(targetDdl(table))
      catch {
        case e: java.sql.SQLException
            if Option(e.getSQLState).contains("X0Y32") => ()
      } finally st.close()
    }
  }

  private def withConnection[T](url: String, props: Properties)
      (f: java.sql.Connection => T): T = {
    Option(props.getProperty("driver"))
      .foreach(d => Class.forName(d)) // register before DriverManager lookup
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }
}
