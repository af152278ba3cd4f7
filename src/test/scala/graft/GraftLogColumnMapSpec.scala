package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftLog}

/** COLUMN MAPPING: ALTER TABLE RENAME/DROP COLUMN without rewriting a
  * byte of data — the logical name changes, the stable PHYSICAL name
  * files were written under does not (a `colmap` manifest row records
  * the mapping; scan and write builders translate at the boundary).
  * Old files stay readable, new files interleave, pushdown and the
  * stats skip keep working, DML keeps working, tombstoned names can
  * never be resurrected, and time travel returns each version's own
  * schema and mapping.
  */
class GraftLogColumnMapSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def register(warehouse: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
  }

  test("RENAME COLUMN: old files read under the new name with values " +
      "intact, new INSERTs interleave, filters on the renamed column " +
      "push down and skip files, and time travel shows each version's " +
      "own name") {
    val wh = Files.createTempDirectory("graft_cmap").toString
    register(wh)
    val root = s"$wh/t"
    spark.sql("CREATE TABLE graft.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.t SELECT id, CAST(id * 10 AS DOUBLE) " +
      "FROM range(0, 50)")                                        // v2
    spark.sql("ALTER TABLE graft.t RENAME COLUMN v TO score")     // v3
    assert(spark.sql("SELECT * FROM graft.t").schema.fieldNames.toSeq
      === Seq("id", "score"))
    // old files' values arrive under the NEW logical name
    assert(spark.sql("SELECT sum(score) FROM graft.t")
      .collect().head.getDouble(0) === (0 until 50).map(_ * 10.0).sum)
    // new data interleaves; the file it lands in uses the PHYSICAL name
    spark.sql("INSERT INTO graft.t VALUES (100, 999.0)")          // v4
    assert(spark.sql(
      "SELECT id FROM graft.t WHERE score = 999.0")
      .collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(spark.sql("SELECT count(*) FROM graft.t")
      .collect().head.getLong(0) === 51L)
    // the new file's parquet schema carries the stable physical name
    val newest = GraftLog.versionRows(conf, root, 4)
      .filter(_.action == "add").map(_.file)
    assert(newest.size === 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/${newest.head}"), conf))
    val names = try footer.getFileMetaData.getSchema.getFields
      .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type]
        .getName).toSeq
    finally footer.close()
    assert(names === Seq("id", "v"), names)
    // manifest stats key on the physical name; a selective filter on
    // the LOGICAL name still prunes files through the mapping
    val meta = GraftLog.tableMeta(conf, root, 4)
    assert(meta.colMap === Map("score" -> "v"))
    val live = GraftLog.liveAdds(conf, root, 4)
    val matching = live.count { r =>
      val st = graft.sources.GraftLogStats.parseStats(r.stats.get).get
      graft.sources.GraftLogStats.mayMatch(meta.physicalSchema(
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, score DOUBLE")),
        st, r.rows, org.apache.spark.sql.sources.EqualTo("v", 999.0))
    }
    assert(matching === 1, s"$matching files may match score=999")
    // time travel returns the PRE-rename schema
    assert(spark.sql("SELECT * FROM graft.t VERSION AS OF 2")
      .schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.sql("SELECT sum(v) FROM graft.t VERSION AS OF 2")
      .collect().head.getDouble(0) === (0 until 50).map(_ * 10.0).sum)
  }

  test("DROP COLUMN tombstones the physical name: reads lose the " +
      "column, re-ADDing the name refuses, a fresh name works, and " +
      "time travel still reads the dropped column's data") {
    val wh = Files.createTempDirectory("graft_cmap_drop").toString
    register(wh)
    spark.sql("CREATE TABLE graft.d (id BIGINT, junk STRING, v DOUBLE)")
    spark.sql("INSERT INTO graft.d SELECT id, concat('x', id), " +
      "CAST(id AS DOUBLE) FROM range(0, 20)")                     // v2
    spark.sql("ALTER TABLE graft.d DROP COLUMN junk")             // v3
    assert(spark.sql("SELECT * FROM graft.d").schema.fieldNames.toSeq
      === Seq("id", "v"))
    assert(spark.sql("SELECT sum(v) FROM graft.d")
      .collect().head.getDouble(0) === (0 until 20).map(_.toDouble).sum)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // the tombstone: re-adding `junk` would serve old files' stale
    // strings as the new column — refuse
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.d ADD COLUMN junk STRING")
    }
    assert(msgs(e).exists(_.contains("renamed or dropped")),
      msgs(e).mkString(" | "))
    // a fresh name widens normally and null-fills
    spark.sql("ALTER TABLE graft.d ADD COLUMN note STRING")       // v4
    spark.sql("INSERT INTO graft.d VALUES (100, 1.0, 'hi')")      // v5
    assert(spark.sql(
      "SELECT count(*) FROM graft.d WHERE note IS NULL")
      .collect().head.getLong(0) === 20L)
    // time travel: the dropped column still reads at its own versions
    assert(spark.sql("SELECT junk FROM graft.d VERSION AS OF 2 " +
      "WHERE id = 3").collect().head.getString(0) === "x3")
    // the OPTION-path widening (format("graftlog").option("schema"))
    // enforces the same tombstone: both front doors refuse resurrection
    val root = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/d"
    val e2 = intercept[Exception] {
      spark.range(0, 1)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v", "'n' AS note",
          "'zz' AS junk")
        .write.format("graftlog").option("path", root)
        .option("schema",
          "id BIGINT, v DOUBLE, note STRING, junk STRING")
        .mode("append").save()
    }
    assert(msgs(e2).exists(_.contains("renamed or dropped")),
      msgs(e2).mkString(" | "))
    // and the RACE variant: a widening whose analysis-time gate passed
    // but whose appended name was tombstoned by a commit in between
    // refuses AT COMMIT (the claim-time recheck) — without it, the
    // widening would resurrect the dropped column's physical name
    val e3 = intercept[graft.sources.GraftLogConflictException] {
      graft.sources.GraftLogWrite.commitStaged(conf, root,
        s"$root/data/w_race_widen", Nil,
        Some(org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, v DOUBLE, note STRING, junk STRING")))
    }
    assert(e3.getMessage.contains("renamed or dropped"), e3.getMessage)
    // the refused claim was released; the table still reads and appends
    assert(spark.sql("SELECT count(*) FROM graft.d")
      .collect().head.getLong(0) === 21L)
  }

  test("DML and OPTIMIZE keep working on a renamed table: UPDATE / " +
      "DELETE / MERGE through SQL, utility merge, compaction with the " +
      "partition discipline intact") {
    val wh = Files.createTempDirectory("graft_cmap_dml").toString
    register(wh)
    val root = s"$wh/m"
    spark.sql("CREATE TABLE graft.m (id BIGINT, bucket BIGINT, " +
      "v DOUBLE) PARTITIONED BY (bucket)")
    spark.sql("INSERT INTO graft.m SELECT id, id % 4, CAST(id * 10 AS " +
      "DOUBLE) FROM range(0, 50)")                                // v2
    spark.sql("INSERT INTO graft.m SELECT id, id % 4, CAST(id * 10 AS " +
      "DOUBLE) FROM range(50, 100)")                              // v3
    spark.sql("ALTER TABLE graft.m RENAME COLUMN v TO amount")    // v4
    // SQL UPDATE through the renamed column (copy-on-write rewrite)
    spark.sql("UPDATE graft.m SET amount = -amount WHERE id % 16 = 3")
    // SQL DELETE
    spark.sql("DELETE FROM graft.m WHERE id = 7")
    // utility merge with the RENAMED logical schema
    import spark.implicits._
    val src = Seq((1L, 1L, -111.0), (200L, 0L, -200.0))
      .toDF("id", "bucket", "amount")
    graft.sources.GraftLogOps.mergeIntoLog(spark, root, src, Seq("id"))
    // OPTIMIZE through SQL — partition-aware under the mapping
    spark.sql("CALL graft.system.optimize('m')").collect()
    val got = spark.sql("SELECT id, amount FROM graft.m").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = ((0L until 100L).filterNot(_ == 7L).map(i => (i,
      if (i == 1L) -111.0
      else if (i % 16 == 3) -i * 10.0 else i * 10.0)) :+
      ((200L, -200.0))).toMap
    assert(got === want)
    // every live file keeps min==max on the partition column (keyed by
    // its PHYSICAL name, here unrenamed `bucket`)
    val latest = GraftLog.latestVersion(conf, root)
    GraftLog.liveAdds(conf, root, latest).foreach { r =>
      val st = graft.sources.GraftLogStats.parseStats(r.stats.get).get
      assert(st.min("bucket") === st.max("bucket"), r.file)
    }
  }

  test("rename/drop refusals: partition columns, delimiter characters, " +
      "and unknown columns") {
    val wh = Files.createTempDirectory("graft_cmap_ref").toString
    register(wh)
    spark.sql("CREATE TABLE graft.r (id BIGINT, grp BIGINT) " +
      "PARTITIONED BY (grp)")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.r RENAME COLUMN grp TO g2")
    }
    assert(msgs(e1).exists(_.contains("PARTITIONED BY")),
      msgs(e1).mkString(" | "))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.r DROP COLUMN grp")
    }
    assert(msgs(e2).exists(_.contains("PARTITIONED BY")),
      msgs(e2).mkString(" | "))
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.r RENAME COLUMN id TO `a:b`")
    }
    assert(msgs(e3).exists(_.contains("delimiter")),
      msgs(e3).mkString(" | "))
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.r RENAME COLUMN nope TO x")
    }
    assert(msgs(e4).exists(m => m.contains("no such column") ||
      m.contains("UNRESOLVED") || m.contains("not found") ||
      m.contains("missing field") || m.toLowerCase.contains("resolve")),
      msgs(e4).mkString(" | "))
    // a PRE-EXISTING delimiter-bearing column name must refuse
    // rename/drop too: its PHYSICAL name would land in the colmap row
    // verbatim and encode an undecodable entry — a bricked table
    spark.sql("CREATE TABLE graft.weird (`a,b` STRING, id BIGINT)")
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.weird DROP COLUMN `a,b`")
    }
    assert(msgs(e5).exists(_.contains("delimiter")),
      msgs(e5).mkString(" | "))
    val e6 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.weird RENAME COLUMN `a,b` TO ok")
    }
    assert(msgs(e6).exists(_.contains("delimiter")),
      msgs(e6).mkString(" | "))
    // the refused ALTERs committed nothing — the table still loads
    assert(spark.sql("SELECT * FROM graft.weird").schema.fieldNames
      .toSeq === Seq("a,b", "id"))
  }

  test("compaction group keys are injective for hostile string " +
      "partition values: '=' and '/' inside values can never collide " +
      "two different partition tuples into one group") {
    import graft.sources.{GraftLogOps, GraftLogStats}
    def fe(vals: (String, String)*): GraftLogStats.FileEntry =
      GraftLogStats.FileEntry("f", rows = Some(1L), bytes = Some(1L),
        stats = Some(GraftLogStats.ColStats(
          vals.map { case (c, v) => c -> (v: Any) }.toMap,
          vals.map { case (c, v) => c -> (v: Any) }.toMap,
          vals.map { case (c, _) => c -> 0L }.toMap)))
    val cols = Seq("x", "y")
    // the classic joined-string collision shape: both would render
    // "x=p/y=q/y=r" under a '/'-joined key
    val a = GraftLogOps.partGroupKey(cols, fe("x" -> "p/y=q", "y" -> "r"))
    val b = GraftLogOps.partGroupKey(cols, fe("x" -> "p", "y" -> "q/y=r"))
    assert(a !== b, s"collided: $a")
    // equal tuples still group together
    val c1 = GraftLogOps.partGroupKey(cols, fe("x" -> "p", "y" -> "q"))
    val c2 = GraftLogOps.partGroupKey(cols, fe("x" -> "p", "y" -> "q"))
    assert(c1 === c2)
  }
}
