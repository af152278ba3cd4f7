package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.GraftLog

/** Round-13: nested types (array / map / struct, arbitrarily composed)
  * through the graftlog connector — write, both read directions
  * (connector-written files via Spark's reader, Spark-written files via
  * the connector), widening, time travel, CDC. This is what lets the
  * engine's OWN `embeddings.embedding: array<float>` live in the
  * versioned table format instead of plain parquet beside it.
  */
class GraftLogNestedSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private val nestedDdl = "id BIGINT, emb ARRAY<FLOAT>, tags ARRAY<STRING>, " +
    "props MAP<STRING, BIGINT>, meta STRUCT<w: INT, name: STRING>, " +
    "mat ARRAY<ARRAY<BIGINT>>"

  private def nestedDf(from: Long, until: Long) =
    spark.range(from, until).selectExpr(
      "id",
      "transform(sequence(0, 3), j -> CAST(id * 0.5 + j AS FLOAT)) AS emb",
      "CASE WHEN id % 3 = 0 THEN array(concat('t-', id), NULL, 'x') " +
        "ELSE array() END AS tags",
      "map(concat('k', id % 2), id, 'fixed', CAST(NULL AS BIGINT)) AS props",
      "named_struct('w', CAST(id % 7 AS INT), 'name', " +
        "CASE WHEN id % 5 = 0 THEN CAST(NULL AS STRING) " +
        "ELSE concat('n-', id) END) AS meta",
      "array(array(id, id + 1), array(), CAST(NULL AS ARRAY<BIGINT>)) AS mat")

  test("nested round-trip: array/map/struct/array-of-array columns " +
      "written through the connector read back exactly — through the " +
      "connector AND through Spark's own parquet reader") {
    val root = Files.createTempDirectory("graft_nested").toString
    nestedDf(0, 200).write.format("graftlog").option("path", root)
      .option("schema", nestedDdl).mode("append").save()
    val back = spark.read.format("graftlog").option("path", root).load()
    assert(back.schema.map(f => (f.name, f.dataType.sql)).toSeq ===
      nestedDf(0, 1).schema.map(f => (f.name, f.dataType.sql)).toSeq)
    // exact content equality, both directions of except (maps cannot
    // enter set ops — canonicalize them to sorted entry arrays)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("props", array_sort(map_entries(col("props"))))
    val orig = nestedDf(0, 200)
    assert(canon(back).exceptAll(canon(orig)).isEmpty &&
      canon(orig).exceptAll(canon(back)).isEmpty,
      "connector round-trip drifted")
    // interchange: the written files are STANDARD parquet nesting
    val native = spark.read.parquet(GraftLog.dataFiles(conf, root, 1): _*)
    assert(canon(native).exceptAll(canon(orig)).isEmpty &&
      canon(orig).exceptAll(canon(native)).isEmpty,
      "Spark's own reader disagrees with the connector's files")
    // Spark's reader is vectorized for nested projections and flat
    // ones alike
    val nestedPlan = back.select("id", "emb")
      .queryExecution.executedPlan.toString
    assert(nestedPlan.contains("ColumnarToRow"), nestedPlan)
    val flatPlan = back.select("id")
      .queryExecution.executedPlan.toString
    assert(flatPlan.contains("ColumnarToRow"), flatPlan)
    // a primitive predicate beside nested columns still prunes files
    // (manifest stats on the primitive) and filters rows
    val sel = spark.read.format("graftlog").option("path", root).load()
      .filter(col("id") === 42L)
    val got = sel.collect()
    assert(got.length === 1 &&
      got.head.getAs[Seq[Float]]("emb") === Seq(21.0f, 22.0f, 23.0f, 24.0f))
  }

  test("the OTHER direction: Spark-written nested parquet committed as a " +
      "legacy version reads through the connector (schema inferred from " +
      "the footer, nested decode per-file)") {
    val root = Files.createTempDirectory("graft_nestedlegacy").toString
    // Spark's own writer lays the nested file down; the commit records
    // the DataFrame's schema, and the reader decodes the file per-file
    commitParquet(root, nestedDf(0, 100).schema)(dir =>
      nestedDf(0, 100).coalesce(1).write.parquet(dir))
    val back = spark.read.format("graftlog").option("path", root).load()
    val orig = nestedDf(0, 100)
    assert(back.schema.map(_.name) === orig.schema.map(_.name))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("props", array_sort(map_entries(col("props"))))
    assert(canon(back).exceptAll(canon(orig)).isEmpty &&
      canon(orig).exceptAll(canon(back)).isEmpty)
  }

  test("widening APPENDS a nested column: old files null-fill it, time " +
      "travel keeps each version's own schema, CDC tags nested rows") {
    val root = Files.createTempDirectory("graft_nestedwiden").toString
    spark.range(0, 50).selectExpr("id")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT").mode("append").save()
    spark.range(50, 80).selectExpr("id",
        "array(CAST(id AS FLOAT)) AS emb")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, emb ARRAY<FLOAT>")
      .mode("append").save()
    val latest = spark.read.format("graftlog").option("path", root).load()
    assert(latest.schema.toDDL === "id BIGINT,emb ARRAY<FLOAT>")
    assert(latest.count() === 80L)
    assert(latest.filter(col("emb").isNull).count() === 50L,
      "pre-widening files must null-fill the nested column")
    val v1 = spark.read.format("graftlog").option("path", root)
      .option("version", 1).load()
    assert(v1.schema.toDDL === "id BIGINT")
    // CDC read carries the nested column plus the meta tags
    val cdc = spark.read.format("graftlog").option("path", root)
      .option("readChangeFeed", true).load()
    assert(cdc.filter(col("_commit_version") === 2 &&
      col("_change_type") === "insert" && col("emb").isNotNull)
      .count() === 30L)
  }

  test("a STRUCT-LEAF predicate pushes into parquet: record filtering " +
      "cuts assembled records on the row reader, values equal the " +
      "unpushed twin, and a file predating the leaf drops it per-file") {
    val root = Files.createTempDirectory("graft_nestpush").toString
    // one file, many row groups, monotone nested score
    spark.conf.set("parquet.block.size", "8192")
    try spark.range(0, 40000)
      .selectExpr("id",
        "named_struct('score', CAST(id AS DOUBLE), " +
          "'tag', CAST(id % 7 AS STRING)) AS meta")
      .coalesce(1)
      .write.format("graftlog").option("path", root)
      .option("schema",
        "id BIGINT, meta STRUCT<score: DOUBLE, tag: STRING>")
      .mode("append").save()
    finally spark.conf.unset("parquet.block.size")
    val df = spark.read.format("graftlog").option("path", root).load()
    val want = df.collect().filter(_.getStruct(1).getDouble(0) >= 39000.0)
      .map(_.toSeq).sortBy(_.toString)
    val (got, recs) = recordsRead(df.filter(col("meta.score") >= 39000.0)
      .collect().map(_.toSeq).sortBy(_.toString))
    assert(got === want)
    assert(want.size === 1000)
    assert(recs > 0 && recs < 5000L,
      s"expected nested row-group skips: read $recs of 40000 records")
    // a file written BEFORE the struct gained the leaf: the predicate
    // drops for it per-file, residual null-semantics keep it correct
    val root2 = Files.createTempDirectory("graft_nestpush2").toString
    spark.range(0, 100)
      .selectExpr("id", "named_struct('tag', 'a') AS meta")
      .write.format("graftlog").option("path", root2)
      .option("schema", "id BIGINT, meta STRUCT<tag: STRING>")
      .mode("append").save()
    // the struct gains the leaf through the catalog (nested ADD COLUMN)
    val parent2 = root2.substring(0, root2.lastIndexOf('/'))
    val table2 = root2.substring(root2.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent2)
    spark.sql(
      s"ALTER TABLE graft.`$table2` ADD COLUMN meta.score DOUBLE")
    spark.range(100, 200)
      .selectExpr("id",
        "named_struct('tag', 'b', 'score', CAST(id AS DOUBLE)) AS meta")
      .write.format("graftlog").option("path", root2)
      .option("schema",
        "id BIGINT, meta STRUCT<tag: STRING, score: DOUBLE>")
      .mode("append").save()
    val mixed = spark.read.format("graftlog").option("path", root2).load()
    assert(mixed.filter(col("meta.score") >= 150.0).count() === 50L)
    assert(mixed.filter(col("meta.score").isNull).count() === 100L)
  }
}
