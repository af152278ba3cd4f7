package graft.operators

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{JdbcUpsert, JsonArraySink}
import graft.streaming.Streams

/** The reference's `lambda_handler` as one composed entry point
  * (lambda_function.py:22-93): landed CSV → transform chain → JSON output
  * (+ warehouse upsert when configured). A user of the reference switches
  * to this library by calling [[processFile]] where the Lambda fired.
  *
  * The streaming form of the same topology (many files, incremental
  * target) is `Streams.fileEtlPipeline` / `Streams.fileUpsertPipeline`,
  * the latter merging each micro-batch into a `graftlog` table as one
  * atomic version; this batch form is the single-file unit of work the
  * reference processes per invocation, which is why the JSON-array
  * document output is bounded by design.
  */
object EtlPipeline {

  /** The reference handler's response envelope (lambda_function.py:54-71):
    * 200 + message/record-count on success, 200 + skip message when the
    * file is outside the watched folder (lambda_function.py:29-34), 500 +
    * the error message on any failure — always carrying the source file.
    */
  final case class EtlResult(statusCode: Int, message: String,
      recordsProcessed: Option[Long], sourceFile: String,
      error: Option[String])

  /** Folder gate the reference applies before processing
    * (lambda_function.py:29): only keys under `raw-data/` are processed.
    */
  val WatchedFolder = "raw-data"

  /** Name of the observed-metrics set [[processFile]] attaches to its
    * transform chain; read them after the run via
    * `result._2.queryExecution.observedMetrics(MetricsName)`.
    */
  val MetricsName = "etl_quality"

  /** [[processFile]] wrapped in the reference's full handler contract
    * (lambda_function.py:20-71): the folder gate short-circuits to a 200
    * skip, any failure anywhere in the chain (unreadable file, sink error,
    * upsert error) is caught and returned as a structured 500 result with
    * the message and source file — never a raw throw. `watchedFolder =
    * None` disables the gate (process any path).
    */
  def handle(spark: SparkSession, csvPath: String, outJsonPath: String,
      processedTimestamp: String,
      jdbc: Option[(String, String, Properties)] = None,
      watchedFolder: Option[String] = None): EtlResult = {
    val inWatched = watchedFolder.forall(dir =>
      csvPath.split('/').dropRight(1).contains(dir))
    if (!inWatched)
      // name the folder the gate actually checked, not the default constant
      EtlResult(200,
        s"File skipped - not in ${watchedFolder.getOrElse(WatchedFolder)} folder",
        None, csvPath, None)
    else
      try {
        val (n, _) = processFile(spark, csvPath, outJsonPath,
          processedTimestamp, jdbc)
        EtlResult(200, "ETL pipeline completed successfully", Some(n),
          csvPath, None)
      } catch {
        case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          EtlResult(500, "ETL pipeline failed", None, csvPath, Some(msg))
      }
  }

  /** Process one landed CSV exactly like the reference handler:
    * read (9-column schema, header) → full transform chain with per-file
    * lineage → single-JSON-array output with object metadata → optional
    * JDBC upsert (active when `jdbc` is configured, like
    * `is_redshift_configured`). Returns (record count, transformed frame).
    */
  def processFile(spark: SparkSession, csvPath: String, outJsonPath: String,
      processedTimestamp: String,
      jdbc: Option[(String, String, Properties)] = None)
      : (Long, DataFrame) = {
    val raw = spark.read
      .schema(Streams.transactionSchema)
      .option("header", "true")
      .csv(csvPath)
    // both sinks consume the chain; persist so the CSV is read and
    // transformed once per invocation, not once per sink. The caller's
    // processedTimestamp becomes a real column here — the reference stamps
    // it on every row (lambda_function.py:121-122) and its warehouse DDL
    // carries it; the oracle-checked queries exclude it only because a
    // wall-clock column can't be hash-compared (SURVEY §5).
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val transformed = RefTransforms.transformTransactionsWithLineage(raw)
      .withColumn("processed_timestamp",
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.lit(processedTimestamp)))
      // the reference logs per-file record counts (lambda_function.py:60,
      // 151); observe() is the Spark-native form — data-quality metrics
      // (row count, exact cent sum, coerced-null-amount count) as a
      // CollectMetrics node: no extra scan or shuffle in the plan, just
      // accumulators riding whichever execution flows the rows
      .observe(MetricsName,
        count(lit(1)).as("n_rows"),
        sum(RefTransforms.cents(col("amount"))).as("amount_cents"),
        count(when(col("amount").isNull, 1)).as("n_null_amount"))
      .persist()
    try {
      val n = JsonArraySink.write(transformed, outJsonPath, csvPath,
        processedTimestamp)
      jdbc.foreach { case (url, table, props) =>
        val rejected = JdbcUpsert.upsert(transformed, url, table, props)
        // the reference logs every skipped row (lambda_function.py:258-260);
        // rows invalid against the DDL must not vanish silently — the count
        // is cheap here (rejected reads the persisted chain)
        val nRejected = rejected.count()
        if (nRejected > 0) System.err.println(
          s"[etl] $table: skipped $nRejected row(s) invalid against the " +
            "target DDL")
      }
      // metrics land on the QueryExecution that runs them; the sinks
      // execute DERIVED plans, so flow the persisted frame once through
      // its OWN execution (a cheap cache pass, no shuffle) — after this,
      // queryExecution.observedMetrics(MetricsName) is populated on the
      // returned frame, and the count line below is the reference's
      // per-file log (lambda_function.py:60) in structured form
      transformed.foreach(_ => ())
      transformed.queryExecution.observedMetrics.get(MetricsName)
        .foreach { m =>
          System.err.println(s"[etl] $csvPath: rows=" +
            m.getAs[Long]("n_rows") + " amount_cents=" +
            m.getAs[Any]("amount_cents") + " null_amounts=" +
            m.getAs[Long]("n_null_amount"))
        }
      (n, transformed)
    } finally transformed.unpersist()
  }
}
