package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogWrite}

/** SQL DML over the log through the [[graft.sources.GraftLogDml]] front
  * door: UPDATE, the keyed-upsert MERGE INTO and DELETE run
  * [[graft.sources.GraftLogOps]]' row-level bodies as copy-on-write
  * versions — only the files containing matched rows are rewritten
  * (pinned via the manifest's remove rows, which prove the match pass,
  * not file statistics, chose them), results match the command's
  * semantics row-for-row, other MERGE shapes and nested assignments
  * refuse at analysis, and a concurrent rewrite of the same files
  * refuses at commit instead of losing an update. The `_file` metadata
  * column itself is part of the read surface.
  */
class GraftLogSqlDmlSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  /** 100 rows in 4 Hive-partitioned files (bucket = id mod 4), behind
    * the SQL catalog.
    */
  private def mkTable(): (String, String) = {
    val root = Files.createTempDirectory("graft_dml").toString
    spark.range(0, 100)
      .selectExpr("id", "id % 4 AS bucket", "CAST(id * 10 AS DOUBLE) AS v")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, v DOUBLE")
      .option("partitionBy", "bucket").mode("append").save()
    val parent = root.substring(0, root.lastIndexOf('/'))
    val name = root.substring(root.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent)
    (root, name)
  }

  private def removesOf(root: String, v: Int): Seq[String] =
    GraftLog.versionRows(conf, root, v).filter(_.action == "remove")
      .map(_.file)

  test("the _file metadata column reads per-row file provenance, on " +
      "both reader paths") {
    val (root, name) = mkTable()
    val perFile = spark.sql(
      s"SELECT `_file`, count(*) AS n FROM graft.`$name` GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(perFile.length === 4, perFile.mkString(", "))
    assert(perFile.forall(_._2 == 25L), perFile.mkString(", "))
    assert(perFile.forall(_._1.contains("bucket=")), perFile.head._1)
    // the DataFrame front door reads the same column
    val viaDf = spark.read.format("graftlog").option("path", root).load()
      .select(col(GraftLog.FileCol)).distinct().count()
    assert(viaDf === 4L)
  }

  test("SQL UPDATE rewrites ONLY the files holding matched rows (the " +
      "match pass, not stats, narrows bounds-overlapping files), " +
      "updates them exactly, and commits one remove+add version") {
    val (root, name) = mkTable()
    // ids 5 and 9 both live in the bucket=1 file, but [5, 9] overlaps
    // every file's id bounds — only the match pass can narrow
    // the rewrite to one file
    spark.sql(s"UPDATE graft.`$name` SET v = -1.0 WHERE id IN (5, 9)")
    assert(GraftLog.latestVersion(conf, root) === 2)
    val removes = removesOf(root, 2)
    assert(removes.size === 1, removes.mkString(", "))
    assert(removes.head.contains("bucket=1"), removes.head)
    val got = spark.sql(s"SELECT id, v FROM graft.`$name`")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length === 100)
    assert(got(5) === ((5L, -1.0)) && got(9) === ((9L, -1.0)))
    assert(got(1) === ((1L, 10.0)) && got(13) === ((13L, 130.0)))
    // the change feed shows the rewrite as delete(old file)+insert
    val cdc = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
      .filter(col(GraftLog.CommitVersionCol) === 2L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "delete").count()
      === 25L)
    assert(cdc.filter(col(GraftLog.ChangeTypeCol) === "insert").count()
      === 25L)
  }

  test("SQL MERGE INTO applies matched updates and unmatched inserts " +
      "as one copy-on-write version, touching only the matched files") {
    import spark.implicits._
    val (root, name) = mkTable()
    Seq((2L, 2L, -2.0), (6L, 2L, -6.0), (1002L, 2L, -1002.0))
      .toDF("id", "bucket", "v").createOrReplaceTempView("dml_src")
    spark.sql(
      s"""MERGE INTO graft.`$name` t USING dml_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(GraftLog.latestVersion(conf, root) === 2)
    val removes = removesOf(root, 2)
    assert(removes.size === 1, removes.mkString(", "))
    assert(removes.head.contains("bucket=2"), removes.head)
    val got = spark.sql(s"SELECT id, v FROM graft.`$name`")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      .toSeq
    val want = ((0L until 100L).map(i =>
      (i, if (i == 2 || i == 6) -i.toDouble else i * 10.0)) :+
      ((1002L, -1002.0))).sortBy(_._1)
    assert(got === want)
  }

  test("a DELETE whose predicate the metadata path cannot express " +
      "rewrites through the row-level plan; TRUNCATE-then-read and " +
      "time travel stay intact") {
    val (root, name) = mkTable()
    // id % 10 = 3 is not a data-source filter: no file prunes on
    // statistics, and the match pass finds the files to rewrite
    spark.sql(s"DELETE FROM graft.`$name` WHERE id % 10 = 3")
    assert(GraftLog.latestVersion(conf, root) === 2)
    val got = spark.sql(s"SELECT id FROM graft.`$name`")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (0L until 100L).filterNot(_ % 10 == 3))
    // ids ≡3 (mod 10) all have bucket = id%4 ∈ {1, 3}: exactly the two
    // odd-bucket files are rewritten
    val removes = removesOf(root, 2)
    assert(removes.size === 2, removes.mkString(", "))
    assert(removes.forall(f => f.contains("bucket=1") ||
      f.contains("bucket=3")), removes.mkString(", "))
    // v1 still time-travels complete
    assert(spark.read.format("graftlog").option("path", root)
      .option("version", 1).load().count() === 100L)
  }

  /** The analyzed plan of `sql`, without running it. */
  private def analyze(sql: String) = {
    val st = spark.sessionState
    st.analyzer.executeAndCheck(st.sqlParser.parsePlan(sql),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker)
  }

  /** `sql` refuses at analysis with a message holding `shape`, and
    * running it commits no version of the table at `root`.
    */
  private def refused(root: String, sql: String, shape: String): Unit = {
    val before = GraftLog.latestVersion(conf, root)
    val e = intercept[Exception](analyze(sql))
    assert(e.getMessage.contains(shape), e.getMessage)
    intercept[Exception](spark.sql(sql))
    assert(GraftLog.latestVersion(conf, root) === before, sql)
  }

  test("MERGE shapes other than the keyed upsert refuse at analysis, " +
      "name the supported shape and commit nothing") {
    import spark.implicits._
    val (root, name) = mkTable()
    Seq((2L, 2L, -2.0), (1002L, 2L, -1002.0))
      .toDF("id", "bucket", "v").createOrReplaceTempView("shape_src")
    val upsert = "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *"
    val into = s"MERGE INTO graft.`$name` t USING shape_src s"
    Seq(
      s"$into ON t.id = s.id WHEN MATCHED AND s.v < 0 THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *",
      s"$into ON t.id = s.id WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT *",
      s"$into ON t.id = s.id $upsert " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
      s"$into ON t.id < s.id $upsert"
    ).foreach(refused(root, _, upsert))
    assert(spark.sql(s"SELECT * FROM graft.`$name`").count() === 100L)
  }

  test("an UPDATE that assigns a nested field refuses at analysis and " +
      "commits nothing") {
    mkTable()
    val wh = Files.createTempDirectory("graft_dml_nested").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE TABLE graft.nested_upd (id BIGINT, " +
      "meta STRUCT<score: DOUBLE, tag: STRING>)")
    spark.sql("INSERT INTO graft.nested_upd SELECT 1L, " +
      "named_struct('score', 0.5D, 'tag', 'a')")
    val root = s"$wh/nested_upd"
    refused(root, "UPDATE graft.nested_upd SET meta.score = 0.9D " +
      "WHERE id = 1", "SET meta = named_struct(")
  }

  test("SQL MERGE INTO on a table that already holds a matched key twice " +
      "refuses and commits nothing") {
    import spark.implicits._
    val (root, name) = mkTable()
    // a second copy of id 5 (bucket 1) lands in its own file
    spark.sql(s"INSERT INTO graft.`$name` SELECT 5L, 1L, 55.0D")
    Seq((5L, 1L, -5.0), (1005L, 1L, -1005.0))
      .toDF("id", "bucket", "v").createOrReplaceTempView("dup_src")
    val before = GraftLog.latestVersion(conf, root)
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$name` t USING dup_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("more than one"), e.getMessage)
    assert(GraftLog.latestVersion(conf, root) === before)
    assert(spark.sql(s"SELECT v FROM graft.`$name` WHERE id = 5")
      .collect().map(_.getDouble(0)).sorted.toSeq === Seq(50.0, 55.0))
  }

  test("a concurrent rewrite of the same files refuses at commit (the " +
      "remove set is revalidated under the version claim) — no lost " +
      "updates") {
    val (root, _) = mkTable()
    val live = GraftLog.liveAdds(conf, root, 1).map(_.file)
    val victim = live.find(_.contains("bucket=0")).get
    // writer A rewrites bucket=0 (simulated as a remove-only commit)
    GraftLogWrite.commitStaged(conf, root, s"$root/data/w_a", Nil,
      removes = Seq(victim))
    assert(GraftLog.latestVersion(conf, root) === 2)
    // writer B prepared against v1 and still wants to remove the same
    // file — its stale remove must refuse, not silently drop A's commit
    val e = intercept[IllegalStateException] {
      GraftLogWrite.commitStaged(conf, root, s"$root/data/w_b", Nil,
        removes = Seq(victim))
    }
    assert(e.getMessage.contains("write-write conflict"), e.getMessage)
    assert(GraftLog.latestVersion(conf, root) === 2)
  }
}
