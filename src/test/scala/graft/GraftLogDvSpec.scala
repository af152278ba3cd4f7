package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogOps}

/** Merge-on-read DELETE via DELETION VECTORS: a sparse delete commits a
  * positions sidecar + one `dv` manifest row instead of rewriting the
  * file (write amplification ∝ matched rows, not touched files — the
  * 100 TB scattered-key shape copy-on-write is worst at). The contract
  * pinned here:
  *
  *  - a MoR delete's snapshot equals the CoW delete's row-for-row;
  *  - masks apply per version (time travel), union across deletes, and
  *    survive checkpoint consolidation and byte-range splits;
  *  - dense deletes fall back to rewrite ([[GraftLogOps
  *    .DvRewriteFraction]]), sparse and dense mixing in ONE commit;
  *  - every rewrite path (compaction, SQL UPDATE, merge) reads MASKED —
  *    a deleted row can never resurrect — and OPTIMIZE folds vectors
  *    away entirely;
  *  - the change feed emits the DELTA positions as delete rows; the
  *    snapshot streaming tail refuses a dv version loudly;
  *  - the manifest-served aggregate pushdown refuses on a DV'd
  *    snapshot (counts/bounds describe the unmasked file).
  */
class GraftLogDvSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  /** 400 rows, Hive-partitioned on bucket = id mod 4. */
  private def mkTable(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    spark.range(0, 400)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, v DOUBLE")
      .option("partitionBy", "bucket").mode("append").save()
    root
  }

  private def snap(root: String, v: Int = -1) = {
    val r = spark.read.format("graftlog").option("path", root)
    (if (v > 0) r.option("version", v) else r).load()
  }

  test("a sparse MoR delete commits a dv row (no rewrite), masks " +
      "snapshot reads, unions across deletes, and equals the CoW " +
      "delete row-for-row; time travel applies each version's own mask") {
    val mor = mkTable("graft_dv_mor")
    val cow = mkTable("graft_dv_cow")
    val cond1 = col("id") % 16 === 3 // 25 of 400 rows, scattered
    GraftLogOps.deleteFromLog(spark, mor, cond1, GraftLogOps.DeleteModeMor)
    GraftLogOps.deleteFromLog(spark, cow, cond1, GraftLogOps.DeleteModeCow)
    // v2: a dv commit, not a rewrite — the live FILE set is unchanged
    assert(GraftLog.liveEntries(conf, mor, 2)
      === GraftLog.liveEntries(conf, mor, 1))
    val st2 = GraftLog.liveState(conf, mor, 2)
    assert(st2.dvs.size === 1) // all matches land in the bucket=3 file
    assert(st2.dvs.values.head.card === 25L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(rows(snap(mor)) === rows(snap(cow)))
    // second sparse delete on the SAME file: complete mask unions,
    // delta carries only the new positions
    val cond2 = col("id") % 16 === 11
    GraftLogOps.deleteFromLog(spark, mor, cond2, GraftLogOps.DeleteModeMor)
    val st3 = GraftLog.liveState(conf, mor, 3)
    assert(st3.dvs.values.head.card === 50L)
    assert(st3.dvs.values.head.deltaCard === 25L)
    assert(snap(mor).count() === 350L)
    // time travel: v2 masks only the first delete, v1 nothing
    assert(snap(mor, 2).count() === 375L)
    assert(snap(mor, 1).count() === 400L)
    // filters still work over the masked read (residual re-application)
    assert(snap(mor).filter(col("id") % 16 === 3).count() === 0L)
    assert(snap(mor).filter(col("bucket") === 3L).count() ===
      100L - 50L)
  }

  test("a DENSE delete falls back to rewrite; sparse+dense mix in one " +
      "commit (dv row for the sparse file, remove+add for the dense)") {
    val root = mkTable("graft_dv_dense")
    // bucket=1 loses ALL rows (dense: 100 of 100); bucket=2 loses 13
    // of 100 (sparse)
    val cond = (col("bucket") === 1L) ||
      (col("bucket") === 2L && col("id") % 32 === 2)
    GraftLogOps.deleteFromLog(spark, root, cond, GraftLogOps.DeleteModeMor)
    val st = GraftLog.liveState(conf, root, 2)
    assert(st.dvs.size === 1) // only the sparse file is masked
    // the dense file was REWRITTEN: its rows are gone from the live set
    assert(snap(root).filter(col("bucket") === 1L).count() === 0L)
    assert(snap(root).count() === 400L - 100L - 13L)
    // manifest shape: one version, remove+add for dense, dv for sparse
    val rows = GraftLog.versionRows(conf, root, 2)
    assert(rows.count(_.action == "remove") === 1)
    assert(rows.count(_.action == "dv") === 1)
  }

  test("OPTIMIZE folds deletion vectors away (the lone DV'd file " +
      "compacts, the mask materializes, reads go vectorized again) and " +
      "every rewrite path reads MASKED — no resurrection anywhere") {
    val root = mkTable("graft_dv_fold")
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 3,
      GraftLogOps.DeleteModeMor)
    val want = snap(root).collect().map(_.toSeq).sortBy(_.toString)
    // the DV'd scan stays VECTORIZED (survivors are a row selection
    // over each batch's vectors)
    val planDv = snap(root).queryExecution.executedPlan.toString
    assert(planDv.contains("ColumnarToRow"), planDv.take(800))
    val v = GraftLogOps.compactLog(spark, root)
    assert(GraftLog.liveState(conf, root, v).dvs.isEmpty)
    assert(snap(root).collect().map(_.toSeq).sortBy(_.toString) === want)
    // a merge over a STILL-DV'd table must not resurrect masked rows
    val root2 = mkTable("graft_dv_merge")
    GraftLogOps.deleteFromLog(spark, root2, col("id") % 16 === 3,
      GraftLogOps.DeleteModeMor)
    val src = spark.range(0, 1)
      .selectExpr("CAST(5 AS BIGINT) AS id", "CAST(1 AS BIGINT) AS bucket",
        "CAST(-5.0 AS DOUBLE) AS v")
    GraftLogOps.mergeIntoLog(spark, root2, src, Seq("id"))
    assert(snap(root2).filter(col("id") % 16 === 3).count() === 0L)
    assert(snap(root2).filter(col("id") === 5L).count() === 1L)
  }

  test("masked reads survive BYTE-RANGE SPLITS: positions stay " +
      "file-absolute when a DV'd file reads as several range tasks " +
      "(the midpoint start-row rule)") {
    // one larger unpartitioned file so splits have several row groups
    val root = Files.createTempDirectory("graft_dv_split").toString
    spark.range(0, 200000).coalesce(1)
      .selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, v BIGINT")
      .mode("append").save()
    GraftLogOps.deleteFromLog(spark, root, col("id") % 1000 === 7,
      GraftLogOps.DeleteModeMor)
    val whole = snap(root).agg(count(lit(1)), sum(col("id"))).head()
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "65536")
      val split = snap(root)
      // the tiny cap really split the file into multiple tasks
      assert(split.rdd.getNumPartitions > 1)
      assert(split.agg(count(lit(1)), sum(col("id"))).head() === whole)
      assert(split.filter(col("id") % 1000 === 7).count() === 0L)
    } finally spark.conf.set(key, prev)
  }

  test("SQL front door: DELETE routes merge-on-read via the session " +
      "conf; a later SQL UPDATE (copy-on-write) over the DV'd table " +
      "reads masked and its rewrite folds the vector for touched files") {
    val wh = Files.createTempDirectory("graft_dv_sql").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE TABLE graft.t_dv (id BIGINT, bucket BIGINT, " +
      "v DOUBLE) PARTITIONED BY (bucket)")
    spark.range(0, 400)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .createOrReplaceTempView("dv_src")
    spark.sql("INSERT INTO graft.t_dv SELECT * FROM dv_src")
    try {
      spark.conf.set(GraftLogOps.DeleteModeConf, GraftLogOps.DeleteModeMor)
      // id < 25 masks 6-7 rows in each of the 4 bucket files — sparse
      // everywhere
      spark.sql("DELETE FROM graft.t_dv WHERE id < 25")
      val root = s"$wh/t_dv"
      val latest = GraftLog.latestVersion(conf, root)
      assert(GraftLog.liveState(conf, root, latest).dvs.size === 4)
      assert(spark.table("graft.t_dv").count() === 375L)
      // copy-on-write UPDATE over the DV'd table: reads masked, and its
      // remove+add of the touched (bucket=3) file folds that vector
      spark.sql("UPDATE graft.t_dv SET v = -1.0 WHERE id % 16 = 11")
      assert(spark.table("graft.t_dv")
        .filter(col("id") < 25).count() === 0L)
      // 24, not 25: id=11 (≡11 mod 16) was already deleted by id < 25,
      // and a masked row must NOT come back as an updated row
      assert(spark.table("graft.t_dv")
        .filter(col("v") === -1.0).count() === 24L)
      assert(spark.table("graft.t_dv").count() === 375L)
      assert(GraftLog.liveState(conf, root,
        GraftLog.latestVersion(conf, root)).dvs.size === 3)
    } finally spark.conf.unset(GraftLogOps.DeleteModeConf)
  }

  test("the change feed emits DELTA positions as delete rows; the " +
      "snapshot streaming tail TOLERATES dv versions (appends only) " +
      "and skips the OPTIMIZE fold; checkpoint consolidation carries " +
      "the vectors; COUNT refuses the manifest pushdown and answers " +
      "exactly") {
    val root = mkTable("graft_dv_cdc")
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 3,
      GraftLogOps.DeleteModeMor)
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 11,
      GraftLogOps.DeleteModeMor)
    val cdc = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
    val byV = cdc.filter(col(GraftLog.ChangeTypeCol) === "delete")
      .groupBy(col(GraftLog.CommitVersionCol)).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byV === Map(2L -> 25L, 3L -> 25L)) // deltas, never the union
    // the delete rows carry the DELETED rows' values
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "delete" &&
      col(GraftLog.CommitVersionCol) === 2L)
      .filter(col("id") % 16 === 3).count() === 25L)
    // snapshot tail: dv versions are TOLERATED — the tail emits
    // appended rows only, a MoR delete appends nothing, and the masked
    // positions (not retractable in an append-only stream) surface via
    // the change feed instead
    val ckp = Files.createTempDirectory("graft_dv_ckp").toString
    val tailOut = Files.createTempDirectory("graft_dv_tail").toString
    def drainTail(): Unit =
      spark.readStream.format("graftlog").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(tailOut)
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drainTail()
    assert(spark.read.parquet(tailOut).count() === 400L) // v2/v3 dv: none
    // checkpoint: the consolidated live state must keep the mask
    GraftLog.writeCheckpoint(conf, root, 3)
    GraftLog.clearPlanCaches()
    assert(GraftLog.liveState(conf, root, 3).dvs.size === 1)
    assert(snap(root).count() === 350L)
    // COUNT(*) stays MANIFEST-SERVED under deletion vectors — the
    // mask cardinalities subtract exactly (zero data bytes); bounded
    // aggregates refuse (a masked row may have held the extremum)
    val agg = snap(root).agg(count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("GraftLogAggScan"))
    assert(agg.head().getLong(0) === 350L)
    val mn = snap(root).agg(min(col("id")).as("m"))
    assert(!mn.queryExecution.executedPlan.toString
      .contains("GraftLogAggScan"))
    assert(mn.head().getLong(0) === 0L)
    // vacuum keeps the referenced sidecars: reads stay correct after
    GraftLogOps.vacuumLog(spark, root, 3)
    GraftLog.clearPlanCaches()
    assert(snap(root).count() === 350L)
    // tail across the FOLD: OPTIMIZE is a content-preserving rewrite
    // (op=compact) — its adds re-house rows the tail already emitted,
    // so the resumed stream emits NOTHING for it, then a genuine
    // append streams through normally
    GraftLogOps.compactLog(spark, root) // v4: folds the vectors
    spark.range(1000, 1010)
      .selectExpr("id", "id % 4 AS bucket",
        "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .mode("append").save() // v5
    drainTail() // resume past offset 3: v4 skipped, v5 streams through
    assert(spark.read.parquet(tailOut).count() === 410L)
  }

  test("merge-on-read MERGE: matched rows mask, the source appends, " +
      "NOTHING rewrites (sparse) — snapshot equals the copy-on-write " +
      "merge row-for-row; dense matches still rewrite; OPTIMIZE folds") {
    import spark.implicits._
    val mor = mkTable("graft_dvm_mor")
    val cow = mkTable("graft_dvm_cow")
    // sparse: update 5 scattered ids, insert 2 new — 400-row table
    val source = Seq(
      (1L, 1L, -1.0), (17L, 1L, -17.0), (33L, 1L, -33.0),
      (2L, 2L, -2.0), (18L, 2L, -18.0),
      (1001L, 1L, -1001.0), (1002L, 2L, -1002.0))
      .toDF("id", "bucket", "v")
    GraftLogOps.mergeIntoLog(spark, mor, source, Seq("id"),
      GraftLogOps.DeleteModeMor)
    GraftLogOps.mergeIntoLog(spark, cow, source, Seq("id"),
      GraftLogOps.DeleteModeCow)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(snap(mor)) === rows(snap(cow)))
    // the MoR commit removed NOTHING (sparse) and masked exactly the
    // matched old versions
    val vrows = GraftLog.versionRows(conf, mor, 2)
    assert(vrows.count(_.action == "remove") === 0)
    val st = GraftLog.liveState(conf, mor, 2)
    assert(st.dvs.values.map(_.deltaCard).sum === 5L)
    // change feed, CLASSIFIED: the 5 matched keys' masked old versions
    // are update preimages, their re-appended new versions postimages,
    // and only the 2 genuinely-new keys plain inserts — no anonymous
    // delete/insert churn for a row-level merge
    val cdc = spark.read.format("graftlog").option("path", mor)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === 2L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "update_preimage")
      .count() === 5L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "update_postimage")
      .count() === 5L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "insert")
      .count() === 2L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "delete")
      .count() === 0L)
    // preimages carry the OLD values, postimages the NEW
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "update_preimage"
        && col("id") === 1L).head().getAs[Double]("v") === 10.0)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "update_postimage"
        && col("id") === 1L).head().getAs[Double]("v") === -1.0)
    // a DENSE merge source (rewrites ≥ half a file) still lands
    // correctly: every bucket=1 key replaced
    val dense = spark.range(0, 400)
      .filter(pmod(col("id"), lit(4L)) === 1L)
      .selectExpr("id", "CAST(1 AS BIGINT) AS bucket",
        "CAST(-9.0 AS DOUBLE) AS v")
    GraftLogOps.mergeIntoLog(spark, mor, dense, Seq("id"),
      GraftLogOps.DeleteModeMor)
    // the bucket=1 file AND the v2 source files holding ≡1-mod-4 keys
    // all matched densely → rewrote
    assert(GraftLog.versionRows(conf, mor, 3)
      .count(_.action == "remove") >= 1)
    assert(snap(mor).filter(col("bucket") === 1L && col("id") < 400L)
      .select(col("v")).distinct().head().getDouble(0) === -9.0)
    // OPTIMIZE folds the masks and preserves content
    val want = rows(snap(mor))
    val v = GraftLogOps.compactLog(spark, mor)
    assert(GraftLog.liveState(conf, mor, v).dvs.isEmpty)
    assert(rows(snap(mor)) === want)
  }

  test("merge-on-read UPDATE: matched old versions mask, transformed " +
      "rows append, nothing rewrites (sparse) — equal to the CoW " +
      "update row-for-row; already-masked rows NEVER resurrect as " +
      "transformed copies; dense updates rewrite") {
    val mor = mkTable("graft_dvu_mor")
    val cow = mkTable("graft_dvu_cow")
    val cond = col("id") % 16 === 3
    val set = Map("v" -> (col("v") * 10))
    GraftLogOps.updateLog(spark, mor, cond, set, GraftLogOps.DeleteModeMor)
    GraftLogOps.updateLog(spark, cow, cond, set, GraftLogOps.DeleteModeCow)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(snap(mor)) === rows(snap(cow)))
    assert(snap(mor).count() === 400L) // update conserves rows
    val vrows = GraftLog.versionRows(conf, mor, 2)
    assert(vrows.count(_.action == "remove") === 0) // sparse: no rewrite
    assert(GraftLog.liveState(conf, mor, 2).dvs.size === 1)
    // RESURRECTION GUARD: delete some keys, then update a condition
    // that ALSO matches the deleted rows — they must stay deleted
    GraftLogOps.deleteFromLog(spark, mor, col("id") === 19L,
      GraftLogOps.DeleteModeMor)
    GraftLogOps.updateLog(spark, mor, col("id") % 16 === 3,
      Map("v" -> lit(-1.0)), GraftLogOps.DeleteModeMor)
    assert(snap(mor).filter(col("id") === 19L).count() === 0L)
    assert(snap(mor).filter(col("v") === -1.0).count() === 24L)
    assert(snap(mor).count() === 399L)
    // DENSE update (every bucket=1 row) rewrites instead of masking
    val root2 = mkTable("graft_dvu_dense")
    GraftLogOps.updateLog(spark, root2, col("bucket") === 1L,
      Map("v" -> lit(0.0)), GraftLogOps.DeleteModeMor)
    assert(GraftLog.versionRows(conf, root2, 2)
      .count(_.action == "remove") === 1)
    assert(GraftLog.liveState(conf, root2, 2).dvs.isEmpty)
    assert(snap(root2).filter(col("bucket") === 1L && col("v") =!= 0.0)
      .count() === 0L)
    assert(snap(root2).count() === 400L)
  }

  test("merge-on-read DML under NESTED column mapping: a condition on " +
      "a renamed struct field resolves in every mode's matched scan " +
      "(the positional-cast read, not a top-level-only rename)") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dv_cmn").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE TABLE graft.dvn (id BIGINT, " +
      "meta STRUCT<score: DOUBLE>)")
    spark.sql("INSERT INTO graft.dvn SELECT id, " +
      "named_struct('score', CAST(id AS DOUBLE)) FROM range(0, 100)")
    spark.sql("ALTER TABLE graft.dvn RENAME COLUMN meta.score TO amount")
    val root = s"$wh/dvn"
    GraftLogOps.deleteFromLog(spark, root,
      col("meta.amount") === 7.0, GraftLogOps.DeleteModeMor)
    assert(GraftLog.liveState(conf, root,
      GraftLog.latestVersion(conf, root)).dvs.size === 1)
    assert(spark.table("graft.dvn").count() === 99L)
    GraftLogOps.updateLog(spark, root,
      col("meta.amount") === 9.0,
      Map("meta" -> org.apache.spark.sql.functions
        .struct(lit(-9.0).as("amount"))),
      GraftLogOps.DeleteModeMor)
    assert(spark.table("graft.dvn")
      .filter(col("meta.amount") === -9.0).count() === 1L)
    assert(spark.table("graft.dvn").count() === 99L)
  }

  test("concurrent re-mask of the same file refuses (complete-mask " +
      "replacement would lose the other delete) and the bounded retry " +
      "re-plans: two sequential MoR deletes both land") {
    // the conflict path itself is exercised through the public retry:
    // interleave by committing a dv between another delete's read and
    // commit is internal — here we pin the GUARD's positive effect,
    // both deletes surviving, plus the dv-file liveness revalidation
    // being part of the commit (spec of record: GraftLogWrite)
    val root = mkTable("graft_dv_conc")
    GraftLogOps.deleteFromLog(spark, root, col("id") === 3L,
      GraftLogOps.DeleteModeMor)
    GraftLogOps.deleteFromLog(spark, root, col("id") === 19L,
      GraftLogOps.DeleteModeMor)
    assert(snap(root).filter(col("id").isin(3L, 19L)).count() === 0L)
    assert(snap(root).count() === 398L)
  }

  test("CDC state folds across dv -> fold -> dv sequences and a " +
      "MID-HISTORY startingVersion: the skipped compaction's " +
      "bookkeeping still kills the old mask, and the second dv's " +
      "delta emits against the compacted file") {
    val root = mkTable("graft_dv_refold")
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 3,
      GraftLogOps.DeleteModeMor) // v2: dv on the bucket=3 file
    GraftLogOps.compactLog(spark, root) // v3: fold (op=compact, CDC-silent)
    GraftLogOps.deleteFromLog(spark, root, col("id") % 16 === 11,
      GraftLogOps.DeleteModeMor) // v4: dv on the COMPACTED file
    val ct = col(GraftLog.ChangeTypeCol)
    val cv = col(GraftLog.CommitVersionCol)
    // full-range feed: v2 and v4 deltas only, v3 silent
    val feed = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
    val byV = feed.filter(ct === "delete")
      .groupBy(cv).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byV === Map(2L -> 25L, 4L -> 25L), byV.toString)
    assert(feed.filter(cv === 3L).count() === 0L) // fold is silent
    // mid-history start AFTER the fold: the running-dv seed comes from
    // the live state at startingVersion-1 (post-fold: no masks), so
    // v4's delta emits fully and nothing re-deletes v2's positions
    val tail = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).option("startingVersion", 4).load()
    assert(tail.filter(ct === "delete").count() === 25L)
    assert(tail.filter(ct === "delete")
      .filter(col("id") % 16 === 11).count() === 25L)
  }

  test("classification EDGES: a merge key matching only ALREADY-" +
      "DELETED rows is a plain INSERT (no orphan postimage), and a " +
      "mixed sparse+dense commit falls back to the unclassified feed") {
    import spark.implicits._
    val root = mkTable("graft_dvm_class")
    GraftLogOps.deleteFromLog(spark, root, col("id") === 7L,
      GraftLogOps.DeleteModeMor) // v2: id=7 masked
    // id=7 matches only the deleted row -> semantically an insert;
    // id=8 matches a live row -> a classified update
    val source = Seq((7L, 3L, -7.0), (8L, 0L, -8.0))
      .toDF("id", "bucket", "v")
    GraftLogOps.mergeIntoLog(spark, root, source, Seq("id"),
      GraftLogOps.DeleteModeMor) // v3
    val ct = col(GraftLog.ChangeTypeCol)
    val cdc3 = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === 3L)
    assert(cdc3.filter(ct === "insert").select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(cdc3.filter(ct === "update_preimage").select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L))
    assert(cdc3.filter(ct === "update_postimage").select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(8L))
    // the deleted row re-enters via the merge INSERT (LWW semantics)
    assert(snap(root).filter(col("id") === 7L).count() === 1L)
    // MIXED commit: every bucket=1 key (dense) plus one bucket=2 key
    // (sparse) — classification refuses wholesale, the feed falls back
    // to plain delete/insert so pre/postimage counts can never disagree
    val mixed = spark.range(0, 400)
      .filter(pmod(col("id"), lit(4L)) === 1L)
      .selectExpr("id", "CAST(1 AS BIGINT) AS bucket",
        "CAST(-1.0 AS DOUBLE) AS v")
      .union(Seq((2L, 2L, -2.0)).toDF("id", "bucket", "v"))
    GraftLogOps.mergeIntoLog(spark, root, mixed, Seq("id"),
      GraftLogOps.DeleteModeMor) // v4: dense rewrite + sparse dv
    val cdc4 = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === 4L)
    assert(cdc4.filter(ct.startsWith("update")).count() === 0L)
    assert(cdc4.filter(ct === "insert").count() >= 101L)
    assert(cdc4.filter(ct === "delete").count() >= 101L)
  }

  test("the STREAMING change feed classifies a MoR update and skips " +
      "an OPTIMIZE fold, exactly like the batch feed") {
    val root = mkTable("graft_dv_cdcstream")
    GraftLogOps.updateLog(spark, root, col("id") % 16 === 3,
      Map("v" -> (col("v") * 10)), GraftLogOps.DeleteModeMor) // v2
    GraftLogOps.compactLog(spark, root) // v3: folds, op=compact
    spark.range(1000, 1005)
      .selectExpr("id", "id % 4 AS bucket",
        "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .mode("append").save() // v4
    val out = Files.createTempDirectory("graft_dv_cdcs_out").toString
    spark.readStream.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dv_cdcs_ckp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val byVt = spark.read.parquet(out)
      .groupBy(col(GraftLog.CommitVersionCol),
        col(GraftLog.ChangeTypeCol)).count()
      .collect().map(r =>
        (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVt === Map(
      (1L, "insert") -> 400L,
      (2L, "update_preimage") -> 25L,
      (2L, "update_postimage") -> 25L,
      // v3 OPTIMIZE: nothing — content-preserving
      (4L, "insert") -> 5L), byVt.toString)
  }

  test("the pushed predicate SURVIVES a deletion vector: row-group " +
      "skips and record filtering stay live on masked files, and both " +
      "reader paths equal the unpushed twin value-for-value") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = Files.createTempDirectory("graft_dv_push").toString
    // ONE data file forced into MANY small row groups, so group skips
    // are observable at test scale
    // NOTE: runtime session confs reach newHadoopConf VERBATIM — the
    // spark.hadoop. prefix is only stripped from the STARTUP SparkConf,
    // so hadoop-conf knobs are set by their bare key here
    spark.conf.set("parquet.block.size", "8192")
    try spark.range(0, 40000)
      .selectExpr("id", "id * 7 AS v")
      .coalesce(1)
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, v BIGINT").mode("append").save()
    finally spark.conf.unset("parquet.block.size")
    val dataFile = GraftLog.dataFiles(conf, root, 1).head
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(dataFile), conf))
    val totalGroups = try footer.getRowGroups.size finally footer.close()
    assert(totalGroups >= 8, s"fixture wants many groups: $totalGroups")
    // scattered sparse delete → deletion vector on the file; one masked
    // position (39000) sits INSIDE the predicate's matching range, so a
    // desynchronized mask would surface it (or hide a neighbor)
    GraftLogOps.deleteFromLog(spark, root, col("id") % 1000 === 0,
      GraftLogOps.DeleteModeMor)
    assert(GraftLog.liveState(conf, root, 2).dvs.size === 1)
    val pred = col("id") >= 39000L
    // the unpushed twin: full masked scan, filtered in memory
    val want = snap(root).collect().toSeq
      .filter(_.getLong(0) >= 39000L).map(_.toSeq).sortBy(_.toString)
    assert(want.size === 999) // 1000 rows minus the masked id=39000
    // row groups SKIP despite the mask, and the plan stays vectorized
    val filtered = snap(root).filter(pred)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan.take(800))
    val (got, recs) = recordsRead(
      filtered.collect().map(_.toSeq).sortBy(_.toString))
    assert(got === want)
    assert(recs > 0 && recs < 40000L / 2,
      s"expected row-group skips on the DV'd file: read $recs of 40000 " +
        s"records ($totalGroups row groups)")
    // change-feed delete rows (dvEmit) honor the same pushed predicate
    val feed = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).option("startingVersion", 2).load()
      .filter(pred)
    assert(feed.select("id").collect().map(_.getLong(0)).toSeq ===
      Seq(39000L))
  }
}
