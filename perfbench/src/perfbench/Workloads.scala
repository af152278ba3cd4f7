package perfbench

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkEntry
import graft.operators.{EtlPipeline, Maintenance}
import graft.sources.{GraftCatalog, GraftLog, GraftLogOps}

/** A fixed list of `SparkEntry` queries over seeded tables. Set-up runs
  * every query once in its sorted `SparkEntry.queries` form: that pass is
  * the warm-up, gives each query's expected row signature and dumps the
  * rows for the DuckDB oracle check. A cycle runs the production form
  * (`SparkEntry.benchQueries`), each timed as construction plus a `noop`
  * write that also computes the rows' signature, which must match.
  */
final class QueryList(ctx: Ctx, spec: QueryList.Spec) extends Workload {
  import ctx.spark
  val primary = "query"
  private val dir = s"${ctx.work}/data"
  private val names = spec.queries
  private val expected = mutable.Map[String, String]()
  private val refError = mutable.Map[String, String]()

  def setup(): Unit = {
    ctx.phase("generate_s")(spec.generate(ctx, dir))
    // serially: the engine's operator objects initialize each other, and
    // concurrent first use of Dedup, Ann and TextAnalysis deadlocks in
    // their static initializers
    ctx.phase("warmup_s")(names.foreach { name =>
      try {
        val (df, ob) = ctx.withSignature(SparkEntry.queries(name)(spark, dir))
        df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/ref/$name")
        expected(name) = ctx.signature(ob)
      } catch { case scala.util.control.NonFatal(e) => refError(name) = ctx.message(e) }
    })
    if (ctx.corruptExpected) expected(names.head) = "0:0:0"
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"${ctx.work}/ref/oracle_sql.json"), Report.json(oracle.toMap))
    Files.writeString(Paths.get(s"${ctx.work}/ref/tables.json"),
      Report.json(Option(new java.io.File(dir).list()).toSeq.flatten.sorted))
  }

  def cycle(): Unit = names.foreach { name =>
    ctx.op("query", name) {
      val df = SparkEntry.benchQueries(name)(spark, dir)
      ctx.built()
      val (d, ob) = ctx.withSignature(df)
      d.write.format("noop").mode("overwrite").save()
      (expected.get(name), refError.get(name)) match {
        case (Some(e), _) if e == ctx.signature(ob) => None
        case (Some(_), _) => Some(s"$name: row signature differs from the sorted form's")
        case (None, err) => Some(s"$name: sorted form failed: ${err.getOrElse("")}")
      }
    }
  }
}

object QueryList {
  /** Queries run in list order every cycle: a seeded shuffle made each
    * query's latency depend on its predecessor (background unpersist and
    * cleanup of the iterative queries), which spread per-query medians
    * 20-30% across seeds against 2% at a fixed seed.
    */
  final case class Spec(queries: Seq[String], generate: (Ctx, String) => Unit)

  /** Fixed-cost and planning bound: `q_tpch_q5` resolves six tables
    * (one schema-inference job each), `q_recursive_cte` is
    * scheduling-bound, `q_bfs_levels` does its work during construction.
    * Tables in the sf0.001 shape of the repository's test tables (1,500
    * orders), where every query is fixed-cost bound.
    */
  val Warehouse = Spec(Seq("q_tpch_q5", "q_recursive_cte", "q_bfs_levels"),
    (c, dir) => Gen.warehouse(c.spark, dir, c.seed, 1500L))

  /** The LLM-data chain in chain order: scrub, exact dedup, near-duplicate
    * clusters and embedding clusters (both iterative, construction-heavy),
    * over a `ScaleData`-shaped corpus of 1,000 docs and 400 vectors.
    */
  val Corpus = Spec(Seq("q_pii_redact", "q_dedup_exact", "q_dedup_clusters", "q_embed_clusters"),
    (c, dir) => if (c.tiny) Gen.corpus(c.spark, dir, c.seed, 300L, 200L, 1)
      else Gen.corpus(c.spark, dir, c.seed, 1000L, 400L, 1))
}

/** The reference's unit of work: one landed CSV through
  * `EtlPipeline.handle` with the JSON sink and, with `warehouse`, the JDBC
  * warehouse upsert into an in-memory Derby database, as in
  * `EtlPipelineSpec`. `LakehouseMerge` lands one file per cycle through
  * the JSON sink alone.
  */
final class EtlLanding(ctx: Ctx, warehouse: Boolean) extends Workload {
  import ctx.spark
  val primary = "file"
  private val h = new Seeded(ctx.seed)
  private val land = s"${ctx.work}/landing/raw-data"
  private val out = s"${ctx.work}/landing/processed-data"
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val table = "transactions"
  private val props = new Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
  /** A landed file and the ids of the rows the chain keeps. */
  private final case class Landed(name: String, ids: Seq[String]) {
    def rows: Int = ids.size
  }
  private val backlog = mutable.ArrayBuffer[Landed]()
  private var next = 0
  /** transaction id → processed timestamp of the latest file that landed it */
  private val latest = mutable.Map[String, String]()
  private val opIds = mutable.Map[Int, Seq[String]]()
  private val landedRows = mutable.Map[Int, Int]()

  def setup(): Unit = {
    val nFiles = if (ctx.tiny) 4 else if (warehouse) 200 else 10
    for (f <- 0 until nFiles) {
      val rows = 20 + h.u(f, 70, 81).toInt
      // a quarter of the files re-land ids an earlier file already carried
      val reuse =
        if (f >= 4 && h.u(f, 71, 100) < 25) {
          val g = backlog(h.u(f, 72, f).toInt)
          g.ids.take(5 + h.u(f, 73, 11).toInt).toIndexedSeq
        } else IndexedSeq.empty
      val name = f"batch_$f%04d.csv"
      backlog += Landed(name, Gen.landedCsv(Paths.get(s"$land/$name"), h, f, 1 + f % 30, rows, reuse))
    }
    // warm-up: the first file of the backlog, untimed
    landNext()
  }

  private def landNext(): Option[String] = {
    val f = backlog(next % backlog.size)
    val stamp = java.time.LocalDateTime.of(2024, 8, 1, 0, 0).plusSeconds(next).toString
    next += 1
    val json = s"$out/${f.name.stripSuffix(".csv")}_$next.json"
    val r = EtlPipeline.handle(spark, s"$land/${f.name}", json, stamp,
      if (warehouse) Some((url, table, props)) else None, Some(EtlPipeline.WatchedFolder))
    if (r.statusCode != 200) Some(s"status ${r.statusCode}: ${r.error.getOrElse(r.message)}")
    else {
      val arr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(json))
      val meta = Files.readString(Paths.get(json + ".meta.json"))
      if (arr.size != f.rows) Some(s"JSON array holds ${arr.size} rows, CSV kept ${f.rows}")
      else if (!meta.contains(s""""record_count": "${f.rows}"""))
        Some(s"meta record_count differs from ${f.rows}")
      else {
        f.ids.foreach(latest(_) = stamp.replace('T', ' '))
        None
      }
    }
  }

  def cycle(): Unit = {
    val f = backlog(next % backlog.size)
    val r = ctx.op("file", f.name, eager = true)(landNext())
    opIds(r.id) = f.ids
    landedRows(r.id) = f.rows
  }

  /** The warehouse holds one row per distinct landed id, each carrying
    * the processed timestamp of the last file that landed it.
    */
  override def finish(): Unit = if (warehouse && latest.nonEmpty) {
    val got = mutable.Map[String, String]()
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "transaction_id", "processed_timestamp" FROM $table""")
      while (rs.next()) got(rs.getString(1)) = String.valueOf(rs.getTimestamp(2))
    } finally conn.close()
    val wrong = latest.filter { case (id, ts) => !got.get(id).exists(_.startsWith(ts)) }.keySet
    val extra = got.size - latest.size
    ctx.ops.filter(r => r.ok && opIds.contains(r.id)).foreach { r =>
      if (extra != 0 || opIds(r.id).exists(wrong)) ctx.fail(r,
        s"warehouse check: ${wrong.size} ids with a stale or missing row, $extra extra rows")
    }
  }

  override def extra(measured: Seq[OpRec], loopS: Double): Map[String, (Option[Double], String)] = {
    val ok = measured.filter(r => r.kind == "file" && r.ok)
    Map("etl.rows_per_s" -> (Some(ok.map(r => landedRows(r.id)).sum / loopS), "1/s"))
  }
}

/** Writes beside reads on a `graftlog` transactions table partitioned by
  * date (30 days, 20,000 rows). A cycle lands one reference-sized CSV
  * through `EtlPipeline.handle` with the JSON sink alone, then merges three
  * seeded 500-row batches (90% updates skewed to recent days, 10% inserts
  * on a new day), one through each write path: copy-on-write and
  * merge-on-read `mergeIntoLog`, and SQL `MERGE INTO` through
  * `GraftCatalog`. The last commit is followed by an aggregate scan, a
  * point lookup of a just-merged key and a time-travel read; the cycle
  * ends with `compactLog`. Each batch is generated just before its merge, outside
  * the timed operation. Expected states are last-writer-wins replays of
  * the base table and the batches, computed by the harness.
  */
final class LakehouseMerge(ctx: Ctx) extends Workload {
  import ctx.spark
  val primary = "merge"
  private val h = new Seeded(ctx.seed)
  private val nRows = if (ctx.tiny) 2000L else 20000L
  private val days = 30
  private val batchSize = if (ctx.tiny) 40 else 500
  private val wh = s"${ctx.work}/lake"
  private val root = s"$wh/txns"
  private val batchDir = s"${ctx.work}/batches"
  private val conf = spark.sessionState.newHadoopConf()
  private val landing = new EtlLanding(ctx, warehouse = false)
  // merge-on-read last, so the compaction that ends the cycle folds its
  // deletion vectors and appended files
  private val Modes = Seq("cow", "sql", "mor")
  private val cols = Gen.LogSchema.fieldNames.toSeq
  /** batch → (key, row hash, amount) of each row */
  private val batchRows = mutable.Map[Int, Seq[(Long, Long, Long)]]()
  private var baseRows = Seq[(Long, Long, Long)]()
  private val applied = mutable.ArrayBuffer[Int]()
  private val batchesAt = mutable.Map[Int, Int](1 -> 0) // version → batches applied
  private final case class Check(op: OpRec, version: Int, sig: String)
  private val checks = mutable.ArrayBuffer[Check]()
  private val merges = mutable.ArrayBuffer[(OpRec, Int, Int)]() // (op, version, batch)
  private val compactions = mutable.ArrayBuffer[(OpRec, Int)]()
  private val scanned = mutable.ArrayBuffer[(OpRec, Int)]()
  private var bytesAtStart = -1L

  private def batchPath(b: Int) = s"$batchDir/b$b"
  private def rowHash = xxhash64(cols.map(col): _*)
  private def hashes(df: org.apache.spark.sql.DataFrame) =
    df.select(col("txn_id"), rowHash, col("amount_cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  def setup(): Unit = {
    ctx.phase("generate_s")(generate())
    ctx.phase("warmup_s") {
      landing.setup()
      rotation(None)
    }
  }

  private def generate(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    // local frames: their row hashes are computed in the driver, no job
    val base = spark.createDataFrame((0L until nRows).map(k =>
      Gen.logRow(h, k, Gen.day(k % days), 0)).asJava, Gen.LogSchema)
    base.write.format(GraftLog.Format).option("path", root)
      .option("schema", Gen.LogSchema.toDDL).option("partitionBy", "date")
      .mode("append").save()
    baseRows = hashes(base)
  }

  /** Writes merge batch `b` as one parquet file and keeps its row hashes. */
  private def writeBatch(b: Int): Unit = {
    val df = spark.createDataFrame(Gen.logBatch(h, b, batchSize, nRows, days).asJava, Gen.LogSchema)
    df.coalesce(1).write.mode("overwrite").parquet(batchPath(b))
    batchRows(b) = hashes(df)
  }

  def cycle(): Unit = {
    if (bytesAtStart < 0) bytesAtStart = dirBytes(root)
    landing.cycle()
    rotation(Some(ctx))
  }

  override def finish(): Unit = {
    landing.finish()
    checkStates()
  }

  /** One commit through each write path, the three reads, then a
    * compaction.
    */
  private def rotation(rec: Option[Ctx]): Unit = {
    Modes.foreach(commit(rec, _))
    val c = timed(rec, "compact", "compact", eager = true) {
      GraftLogOps.compactLog(spark, root); None
    }
    val cv = latestVersion
    batchesAt(cv) = applied.size
    c.foreach(o => compactions += ((o, cv)))
  }

  private def timed(rec: Option[Ctx], kind: String, name: String, eager: Boolean = false)(
      body: => Option[String]): Option[OpRec] =
    rec match {
      case Some(c) => Some(c.op(kind, name, eager)(body))
      case None => body.foreach(e => sys.error(s"warm-up $kind $name failed: $e")); None
    }

  private def latestVersion = GraftLog.latestVersion(conf, root)
  private def table = spark.read.format(GraftLog.Format).option("path", root).load()

  private def commit(rec: Option[Ctx], mode: String): Unit = {
    val b = applied.size + 1
    writeBatch(b)
    val src = spark.read.schema(Gen.LogSchema).parquet(batchPath(b))
      .select(cols.map(col): _*)
    val m = timed(rec, "merge", mode, eager = true) {
      mode match {
        case "cow" => GraftLogOps.mergeIntoLog(spark, root, src, Seq("txn_id"), GraftLogOps.DeleteModeCow)
        case "mor" => GraftLogOps.mergeIntoLog(spark, root, src, Seq("txn_id"), GraftLogOps.DeleteModeMor)
        case "sql" =>
          src.createOrReplaceTempView("perfbench_batch")
          spark.sql("""MERGE INTO graft.txns t USING perfbench_batch s ON t.txn_id = s.txn_id
                      |WHEN MATCHED THEN UPDATE SET *
                      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      None
    }
    if (m.forall(_.ok)) {
      applied += b
      val v = latestVersion
      batchesAt(v) = applied.size
      m.foreach(o => merges += ((o, v, b)))
    }
    // reads follow the cycle's last commit, merge-on-read, so they also
    // resolve its deletion vectors; the replayed states check every
    // commit before it through the aggregate and time-travel reads
    if (mode == Modes.last) reads(rec, b)
  }

  /** The three reads after the commit of batch `b`. */
  private def reads(rec: Option[Ctx], b: Int): Unit = {
    val v = latestVersion
    var sig = ""
    var df: org.apache.spark.sql.DataFrame = null
    def checked(o: OpRec, version: Int): Unit = {
      if (sig.nonEmpty) checks += Check(o, version, sig)
      if (df != null && ctx.traced) scanned += ((o, scanPartitions(df.queryExecution.executedPlan)))
    }
    timed(rec, "read", "aggregate") {
      df = table.agg(count(lit(1)), sum(pmod(rowHash, lit(2147483647L))), bit_xor(rowHash))
      rec.foreach(_.built())
      val r = df.collect()(0)
      sig = s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
      None
    }.foreach(checked(_, v))
    val key = batchRows(b).head._1
    sig = ""
    timed(rec, "read", "point") {
      df = table.filter(col("txn_id") === key).select("amount_cents", "batch")
      rec.foreach(_.built())
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val want = if (applied.lastOption.contains(b)) Seq((batchRows(b).head._3, b)) else got
      if (got == want) None else Some(s"point lookup of $key read $got, expected $want")
    }.foreach(checked(_, v))
    val tv = math.max(1, v - 2) // the cycle's copy-on-write commit
    df = null
    timed(rec, "read", "time_travel") {
      val (d, ob) = ctx.withSignature(Maintenance.readVersion(spark, root, tv))
      rec.foreach(_.built())
      d.write.format("noop").mode("overwrite").save()
      sig = ctx.signature(ob)
      None
    }.foreach(checked(_, tv))
  }

  /** Input partitions the read's scan planned (one per live file here). */
  private def scanPartitions(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => scanPartitions(a.executedPlan)
    case s: QueryStageExec => scanPartitions(s.plan)
    case b: BatchScanExec => b.inputPartitions.size
    case other => other.children.map(scanPartitions).sum
  }

  /** (count, hash sum, hash xor) of the last-writer-wins state after each
    * number of applied batches, replayed in the driver.
    */
  private def expectedStates(): IndexedSeq[String] = {
    val state = mutable.HashMap[Long, Long]()
    baseRows.foreach { case (k, hh, _) => state(k) = hh }
    def sig = {
      var s = 0L; var x = 0L
      state.valuesIterator.foreach { hh => s += Math.floorMod(hh, 2147483647L); x ^= hh }
      s"${state.size}:$s:$x"
    }
    sig +: applied.toIndexedSeq.map { b =>
      batchRows(b).foreach { case (k, hh, _) => state(k) = hh }
      sig
    }
  }

  private def checkStates(): Unit = {
    val want = expectedStates()
    checks.foreach { c =>
      val w = want(batchesAt(c.version))
      if (c.op.ok && c.sig != w) ctx.fail(c.op,
        s"read of version ${c.version} gave ${c.sig}, last-writer-wins state is $w")
    }
    val (d, ob) = ctx.withSignature(table.select(cols.map(col): _*))
    d.write.format("noop").mode("overwrite").save()
    val fin = ctx.signature(ob)
    if (fin != want.last) merges.foreach { case (r, _, _) => if (r.ok) ctx.fail(r,
      s"final snapshot $fin differs from the last-writer-wins state ${want.last}") }
  }

  private def dirBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  override def extra(measured: Seq[OpRec], loopS: Double): Map[String, (Option[Double], String)] = {
    val ids = measured.map(_.id).toSet
    val merged = merges.filter(m => ids(m._1.id) && m._1.ok).map(_._3)
    val batchBytes = merged.map(b => dirBytes(batchPath(b))).sum
    val live = GraftLog.liveState(conf, root, latestVersion).adds
      .map(r => r.bytes.getOrElse(Files.size(Paths.get(s"$root/${r.file}")))).sum
    val reads = measured.filter(r => r.kind == "read" && r.ok).map(_.ns / 1e9)
    Map("log.read_p50_s" -> (Report.pct(reads, 0.5), "s"),
      "log.read_p90_s" -> (Report.pct(reads, 0.9), "s"),
      "log.write_amp" -> (if (batchBytes > 0) Some((dirBytes(root) - bytesAtStart).toDouble / batchBytes)
        else None, "ratio"),
      "log.space_amp" -> (Some(dirBytes(root).toDouble / live), "ratio"))
  }

  override def layers(measured: Seq[OpRec], tracer: Tracer): Map[String, Double] = {
    val ids = measured.map(_.id).toSet
    val ms = merges.filter(m => ids(m._1.id))
    val rows = ms.map(m => GraftLog.versionRows(conf, root, m._2))
    def n(a: String) = rows.map(_.count(_.action == a)).sum.toDouble
    val written = rows.map(_.filter(_.action == "add").flatMap(_.rows).sum).sum.toDouble
    val source = ms.map(m => batchRows(m._3).size).sum.toDouble
    val cs = compactions.filter(c => ids(c._1.id))
    val sc = scanned.filter(s => ids(s._1.id)).map(_._2)
    Map("log.merge.jobs" -> tracer.layers(ms.map(_._1).toSeq)("sched.jobs"),
      "log.merge.files_added" -> n("add"), "log.merge.files_removed" -> n("remove"),
      "log.merge.dv_files" -> n("dv"),
      "log.merge.rows_written_per_source_row" -> (if (source > 0) written / source else 0.0),
      "log.read.files_scanned" -> (if (sc.nonEmpty) sc.sum.toDouble / sc.size else 0.0),
      "log.compact_s" -> cs.map(_._1.ns / 1e9).sum,
      "log.compact.bytes_rewritten" -> cs.map(c => GraftLog.versionRows(conf, root, c._2)
        .filter(_.action == "add").flatMap(_.bytes).sum).sum.toDouble)
  }
}
