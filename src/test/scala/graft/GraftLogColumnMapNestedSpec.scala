package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, GraftLog}

/** NESTED column mapping: ALTER RENAME/DROP/ADD of struct FIELDS via
  * dot-path colmap entries — files keep the stable physical subfield
  * names, readers/writers translate at every nesting level, and the
  * refusals (array/map paths, tombstone reuse inside a struct) stay
  * loud. The hash-gated end-to-end story lives in `q_log_rename_nested`
  * (Maintenance.renamedNestedTableDir); this spec pins the mechanics
  * and the corners the fixture can't reach.
  */
class GraftLogColumnMapNestedSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def mkCatalog(prefix: String): String = {
    val wh = Files.createTempDirectory(prefix).toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    wh
  }

  test("RENAME of a struct field maps the dot path (files keep the " +
      "physical subfield name), both generations read under the new " +
      "name, time travel keeps per-version nested schemas, and DML " +
      "through the renamed field works") {
    val wh = mkCatalog("graft_cmn")
    spark.sql("CREATE TABLE graft.n1 (id BIGINT, " +
      "meta STRUCT<score: DOUBLE, tag: STRING>)")
    spark.sql("INSERT INTO graft.n1 SELECT id, " +
      "named_struct('score', CAST(id AS DOUBLE), 'tag', 't') " +
      "FROM range(0, 10)")                                        // v2
    spark.sql("ALTER TABLE graft.n1 RENAME COLUMN meta.score TO amount")
    spark.sql("INSERT INTO graft.n1 SELECT id, " +
      "named_struct('amount', CAST(id AS DOUBLE), 'tag', 't') " +
      "FROM range(10, 20)")                                       // v4
    // the mapping row carries the dot-joined paths
    val meta = GraftLog.tableMeta(conf, s"$wh/n1",
      GraftLog.latestVersion(conf, s"$wh/n1"))
    assert(meta.colMap === Map("meta.amount" -> "meta.score"))
    // both generations' files store the PHYSICAL subfield name
    val snap = spark.table("graft.n1")
    assert(snap.select(sum(col("meta.amount"))).head().getDouble(0)
      === (0 until 20).sum.toDouble)
    assert(snap.count() === 20L)
    // time travel: v2's own nested schema speaks the OLD name
    val v2 = spark.sql("SELECT meta.score FROM graft.n1 VERSION AS OF 2")
    assert(v2.collect().map(_.getDouble(0)).sum
      === (0 until 10).sum.toDouble)
    // DML through the renamed field (the rewrite reads+writes mapped)
    spark.sql("UPDATE graft.n1 SET meta = " +
      "named_struct('amount', meta.amount * 10, 'tag', meta.tag) " +
      "WHERE id = 3")
    assert(spark.table("graft.n1").filter(col("id") === 3L)
      .select(col("meta.amount")).head().getDouble(0) === 30.0)
  }

  test("DROP of a struct field tombstones the physical PATH: the " +
      "field vanishes from reads, old files keep the bytes for time " +
      "travel, and re-ADDing the path refuses until a different name " +
      "is chosen; renaming the PARENT rekeys the children's entries") {
    val wh = mkCatalog("graft_cmn2")
    spark.sql("CREATE TABLE graft.n2 (id BIGINT, " +
      "meta STRUCT<score: DOUBLE, tag: STRING>)")
    spark.sql("INSERT INTO graft.n2 SELECT id, " +
      "named_struct('score', CAST(id AS DOUBLE), 'tag', 't') " +
      "FROM range(0, 5)")
    spark.sql("ALTER TABLE graft.n2 DROP COLUMN meta.tag")
    val root = s"$wh/n2"
    val meta = GraftLog.tableMeta(conf, root,
      GraftLog.latestVersion(conf, root))
    assert(meta.tombstones === Set("meta.tag"))
    val fields = spark.table("graft.n2").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(fields.toSeq === Seq("score"))
    // time travel still reads the dropped field from old files
    assert(spark.sql(
      "SELECT meta.tag FROM graft.n2 VERSION AS OF 2").head()
      .getString(0) === "t")
    // the retired path may not come back
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE graft.n2 ADD COLUMN meta.tag STRING")
    }
    assert(err.getMessage.contains("renamed or dropped"))
    spark.sql("ALTER TABLE graft.n2 ADD COLUMN meta.label STRING") // ok
    // rename the child THEN the parent: both mapping keys must move
    spark.sql("ALTER TABLE graft.n2 RENAME COLUMN meta.score TO amount")
    spark.sql("ALTER TABLE graft.n2 RENAME COLUMN meta TO info")
    val meta2 = GraftLog.tableMeta(conf, root,
      GraftLog.latestVersion(conf, root))
    assert(meta2.colMap.get("info") === Some("meta"))
    assert(meta2.colMap.get("info.amount") === Some("meta.score"))
    assert(spark.table("graft.n2")
      .select(sum(col("info.amount"))).head().getDouble(0)
      === (0 until 5).sum.toDouble)
    // and a post-parent-rename write still lands physical names
    spark.sql("INSERT INTO graft.n2 SELECT id, " +
      "named_struct('amount', CAST(id AS DOUBLE), 'label', 'x') " +
      "FROM range(5, 8)")
    assert(spark.table("graft.n2").count() === 8L)
    assert(spark.table("graft.n2")
      .select(sum(col("info.amount"))).head().getDouble(0)
      === (0 until 8).sum.toDouble)
  }

  test("refusals stay loud: paths through arrays/maps, dotted names, " +
      "and nested changes never silently pass through") {
    mkCatalog("graft_cmn3")
    spark.sql("CREATE TABLE graft.n3 (id BIGINT, " +
      "xs ARRAY<STRUCT<a: DOUBLE>>, m STRUCT<k: STRING>)")
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.n3 RENAME COLUMN xs.element.a TO b")
    }
    // either our struct-only refusal or Spark's own resolution error —
    // both are loud, never a silent no-op
    assert(e1.getMessage != null)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.n3 RENAME COLUMN m.k TO `a.b`")
    }
    assert(e2.getMessage.contains("may not contain"))
  }
}
