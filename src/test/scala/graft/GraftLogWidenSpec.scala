package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogOps}

/** TYPE-WIDENING schema evolution: `ALTER TABLE ... ALTER COLUMN ...
  * TYPE` commits a new schema WITHOUT rewriting a byte — old files keep
  * their narrow physical (INT32 / FLOAT / short decimal) and the reader
  * up-casts value-exactly at the file boundary. Pinned here:
  *
  *  - INT→BIGINT and FLOAT→DOUBLE reads equal the values written;
  *  - DECIMAL precision growth at the same scale widens; scale changes
  *    and narrowings refuse loudly;
  *  - a pushed predicate on the widened column still answers correctly
  *    over mixed physicals (converted per file by Spark's reader, and
  *    re-applied as a residual either way);
  *  - point-in-time reads return each version's OWN types;
  *  - DML (MoR delete) masks rows in both generations, and OPTIMIZE
  *    lands everything under the wide physical type.
  */
class GraftLogWidenSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private def mkWiden(prefix: String): (String, String) = {
    val root = Files.createTempDirectory(prefix).toString
    spark.range(0, 200)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id AS FLOAT) AS f",
        "CAST(id AS DECIMAL(9,2)) AS m")
      .coalesce(1)
      .write.format("graftlog").option("path", root)
      .option("schema", "k INT, f FLOAT, m DECIMAL(9,2)")
      .mode("append").save()
    val parent = root.substring(0, root.lastIndexOf('/'))
    val table = root.substring(root.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent)
    (root, s"graft.`$table`")
  }

  private def snap(root: String, v: Int = -1) = {
    val r = spark.read.format("graftlog").option("path", root)
    (if (v > 0) r.option("version", v) else r).load()
  }

  test("INT->BIGINT, FLOAT->DOUBLE, DECIMAL precision growth widen in " +
      "place; mixed-generation reads agree on both reader paths; " +
      "point-in-time reads keep each version's own types") {
    val (root, ident) = mkWiden("graft_widen")
    spark.sql(s"ALTER TABLE $ident ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $ident ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $ident ALTER COLUMN m TYPE DECIMAL(18,2)")
    // wide append: values only the wide types hold
    spark.range(0, 10)
      .selectExpr("id + 3000000000 AS k", "CAST(id AS DOUBLE) + 0.5 AS f",
        "CAST(1234567890123456.78 AS DECIMAL(18,2)) AS m")
      .write.format("graftlog").option("path", root)
      .option("schema", "k BIGINT, f DOUBLE, m DECIMAL(18,2)")
      .mode("append").save()
    val df = snap(root)
    assert(df.schema.map(f => f.dataType.simpleString) ===
      Seq("bigint", "double", "decimal(18,2)"))
    assert(df.count() === 210L)
    // old-generation values up-cast EXACTLY
    assert(df.agg(sum(col("k"))).head().getLong(0) ===
      (0L until 200L).sum + (0L until 10L).map(_ + 3000000000L).sum)
    assert(df.filter(col("f") === 7.0).count() === 1L) // float 7.0 == 7.0d
    assert(df.agg(sum(col("m"))).head().getDecimal(0) ===
      new java.math.BigDecimal("12345678901234567.80")
        .add(java.math.BigDecimal.valueOf((0 until 200).sum.toLong, 0)
          .setScale(2)))
    // a pushed equality on the widened key answers over MIXED physicals
    assert(df.filter(col("k") === 42L).count() === 1L) // narrow file
    assert(df.filter(col("k") === 3000000001L).count() === 1L) // wide
    // point-in-time: v1 keeps its own narrow schema
    assert(snap(root, 1).schema.map(_.dataType.simpleString) ===
      Seq("int", "float", "decimal(9,2)"))
  }

  test("narrowing and scale changes refuse loudly") {
    val (_, ident) = mkWiden("graft_widen_ref")
    def refuse(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    // cross-family / narrowing changes die in Spark's own analyzer
    // (Cast.canUpCast gate) before reaching the catalog
    refuse(s"ALTER TABLE $ident ALTER COLUMN f TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    // changes Spark WOULD up-cast but the stored bytes can't express
    // refuse in the CATALOG: a scale change shifts every stored
    // unscaled value, int→double has no narrow-physical decode here
    refuse(s"ALTER TABLE $ident ALTER COLUMN m TYPE DECIMAL(18,4)",
      "WIDENING")
    refuse(s"ALTER TABLE $ident ALTER COLUMN k TYPE DOUBLE", "WIDENING")
    spark.sql(s"ALTER TABLE $ident ALTER COLUMN k TYPE BIGINT")
    refuse(s"ALTER TABLE $ident ALTER COLUMN k TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
  }

  test("DML masks across both physical generations and OPTIMIZE lands " +
      "the wide physical type") {
    val (root, ident) = mkWiden("graft_widen_dml")
    spark.sql(s"ALTER TABLE $ident ALTER COLUMN k TYPE BIGINT")
    spark.range(0, 200)
      .selectExpr("id + 3000000000 AS k", "CAST(id AS FLOAT) AS f",
        "CAST(id AS DECIMAL(9,2)) AS m")
      .write.format("graftlog").option("path", root)
      .option("schema", "k BIGINT, f FLOAT, m DECIMAL(9,2)")
      .mode("append").save()
    // sparse MoR delete matching rows in BOTH generations
    GraftLogOps.deleteFromLog(spark, root, col("k") % 64 === 3,
      GraftLogOps.DeleteModeMor)
    val afterDelete = snap(root)
    assert(afterDelete.filter(col("k") % 64 === 3).count() === 0L)
    // 3e9 % 64 == 0, so each half loses ceil(200/64)-ish: k in
    // {3,67,131,195} and {3e9+3, 3e9+67, 3e9+131, 3e9+195}
    assert(afterDelete.count() === 400L - 8L)
    // OPTIMIZE folds the masks and writes the WIDE physical
    val v = GraftLogOps.compactLog(spark, root)
    assert(GraftLog.liveState(conf, root, v).dvs.isEmpty)
    assert(snap(root).count() === 392L)
    val files = GraftLog.dataFiles(conf, root, v)
    files.foreach { f =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      val pt = try {
        val sch = footer.getFileMetaData.getSchema
        sch.getType(sch.getFieldIndex("k"))
          .asPrimitiveType().getPrimitiveTypeName
      } finally footer.close()
      assert(pt === org.apache.parquet.schema.PrimitiveType
        .PrimitiveTypeName.INT64, s"$f still narrow")
    }
  }
}
