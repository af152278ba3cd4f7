package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.sources.GraftLog

/** The on-disk encoding of a `graftlog` data file, pinned: for one column
  * of every storable type, each leaf's repetition, physical type and
  * logical annotation as the file's own footer records them, the
  * manifest statistics JSON the writer records for the file (min, max,
  * null counts, NDV sketches), and the Hive `k=v/` directories a
  * partitioned write lays out. A change of encoder must leave all of it
  * as it is.
  */
class GraftLogEncodingSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  private val ddl = "b BIGINT, i INT, d DOUBLE, f FLOAT, z BOOLEAN, " +
    "s STRING, bin BINARY, dt DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ, " +
    "m9 DECIMAL(9,2), m18 DECIMAL(18,2), m30 DECIMAL(30,2), " +
    "arr ARRAY<STRUCT<x: BIGINT, y: STRING>>, mp MAP<STRING, BIGINT>, " +
    "st STRUCT<a: INT, inner: STRUCT<c: STRING>>, nn BIGINT"

  /** 200 rows; every column but `nn` is null on every tenth row. */
  private def rows = spark.range(0, 200).selectExpr(
    "IF(id % 10 = 0, NULL, id * 3 - 100) AS b",
    "IF(id % 10 = 0, NULL, CAST(id % 37 AS INT)) AS i",
    "IF(id % 10 = 0, NULL, CAST(id AS DOUBLE) / 8) AS d",
    "IF(id % 10 = 0, NULL, CAST(id % 11 AS FLOAT) - 5) AS f",
    "IF(id % 10 = 0, NULL, id % 3 = 0) AS z",
    "IF(id % 10 = 0, NULL, concat('s', CAST(id % 23 AS STRING))) AS s",
    "IF(id % 10 = 0, NULL, CAST(concat('b', CAST(id % 7 AS STRING)) " +
      "AS BINARY)) AS bin",
    "IF(id % 10 = 0, NULL, date_add(DATE'2024-01-01', CAST(id AS INT)))" +
      " AS dt",
    "IF(id % 10 = 0, NULL, timestamp_micros(1700000000000000 + " +
      "id * 3600000000)) AS ts",
    "IF(id % 10 = 0, NULL, CAST(timestamp_micros(1600000000000000 + " +
      "id * 60000000) AS TIMESTAMP_NTZ)) AS ntz",
    "IF(id % 10 = 0, NULL, CAST(id / 4 - 20 AS DECIMAL(9,2))) AS m9",
    "IF(id % 10 = 0, NULL, CAST(id * 1000003 AS DECIMAL(18,2))) AS m18",
    "IF(id % 10 = 0, NULL, CAST(id AS DECIMAL(30,2)) * " +
      "CAST(100000000000000000000 AS DECIMAL(30,2)) - 7) AS m30",
    "IF(id % 10 = 0, NULL, array(named_struct('x', id, 'y', " +
      "CAST(id % 4 AS STRING)))) AS arr",
    "IF(id % 10 = 0, NULL, map(CAST(id % 5 AS STRING), id)) AS mp",
    "IF(id % 10 = 0, NULL, named_struct('a', CAST(id % 9 AS INT), " +
      "'inner', named_struct('c', CAST(id % 6 AS STRING)))) AS st",
    "id AS nn")

  test("every storable type: footer encoding and manifest statistics " +
      "are pinned") {
    val root = Files.createTempDirectory("graft_encoding").toString
    val df = rows
    assert(!df.schema("nn").nullable, "the spec needs one NOT NULL column")
    df.coalesce(1).write.format("graftlog").option("path", root)
      .option("schema", ddl).mode("append").save()
    val adds = GraftLog.liveState(conf, root, 1).adds
    assert(adds.size === 1)
    val file = GraftLog.fileEntry(root, adds.head).path
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    val schema = try footer.getFooter.getFileMetaData.getSchema
      finally footer.close()
    // one line per leaf: its path, the repetition of every level on the
    // way down, its physical type and its logical annotation
    val leaves = schema.getColumns.asScala.map { c =>
      val path = c.getPath
      val reps = path.indices.map(k =>
        schema.getType(path.take(k + 1): _*).getRepetition.name
          .toLowerCase).mkString("/")
      val p = c.getPrimitiveType
      val phys = p.getPrimitiveTypeName.name.toLowerCase +
        (if (p.getTypeLength > 0) s"(${p.getTypeLength})" else "")
      s"${path.mkString(".")} $reps $phys " +
        Option(p.getLogicalTypeAnnotation).map(_.toString).getOrElse("-")
    }.toSeq
    assert(leaves === Seq(
      "b optional int64 -",
      "i optional int32 -",
      "d optional double -",
      "f optional float -",
      "z optional boolean -",
      "s optional binary STRING",
      "bin optional binary -",
      "dt optional int32 DATE",
      "ts optional int64 TIMESTAMP(MICROS,true)",
      "ntz optional int64 TIMESTAMP(MICROS,false)",
      "m9 optional int32 DECIMAL(9,2)",
      "m18 optional int64 DECIMAL(18,2)",
      "m30 optional fixed_len_byte_array(13) DECIMAL(30,2)",
      "arr.list.element.x optional/repeated/optional/optional int64 -",
      "arr.list.element.y optional/repeated/optional/optional binary STRING",
      "mp.key_value.key optional/repeated/required binary STRING",
      "mp.key_value.value optional/repeated/optional int64 -",
      "st.a optional/optional int32 -",
      "st.inner.c optional/optional/optional binary STRING",
      "nn optional int64 -"))
    // the group annotations of the nested columns
    assert(Seq("arr", "mp", "st").map(n =>
      Option(schema.getType(Seq(n): _*).getLogicalTypeAnnotation)
        .map(_.toString).getOrElse("-")) === Seq("LIST", "MAP", "-"))
    assert(adds.head.rows === Some(200L))
    assert(adds.head.stats === Some(GraftLogEncodingSpec.Stats))
    // and the rows read back as written
    val back = spark.read.format("graftlog").option("path", root).load()
    assert(back.schema.fieldNames.toSeq === df.schema.fieldNames.toSeq)
    // (set operations refuse map columns: compare the map as JSON)
    def flat(x: org.apache.spark.sql.DataFrame) =
      x.selectExpr("*", "to_json(mp) AS mp_json").drop("mp")
    assert(flat(back).exceptAll(flat(df)).isEmpty &&
      flat(df).exceptAll(flat(back)).isEmpty)
  }

  test("a partitioned write lays out Hive k=v/ directories") {
    val root = Files.createTempDirectory("graft_encoding_part").toString
    spark.range(0, 40).selectExpr("id",
        "CASE WHEN id % 4 = 0 THEN NULL WHEN id % 4 = 1 THEN 'a/b' " +
          "WHEN id % 4 = 2 THEN 'c d' ELSE 'e' END AS region",
        "date_add(DATE'2024-02-28', CAST(id % 2 AS INT)) AS day")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, region STRING, day DATE")
      .option("partitionBy", "region,day").mode("append").save()
    val dirs = GraftLog.liveState(conf, root, 1).adds
      .map(a => a.file.split('/').toSeq.drop(2).dropRight(1).mkString("/"))
      .distinct.sorted
    assert(dirs === Seq(
      "region=__HIVE_DEFAULT_PARTITION__/day=2024-02-28",
      "region=a%2Fb/day=2024-02-29",
      "region=c%20d/day=2024-02-28",
      "region=e/day=2024-02-29"))
    // partition columns stay in the files, so their stats are the value
    GraftLog.liveState(conf, root, 1).adds.foreach { a =>
      val st = GraftLog.fileEntry(root, a).stats.get
      assert(st.min.get("day") === st.max.get("day"), a.file)
    }
  }
}

object GraftLogEncodingSpec {
  /** The manifest statistics of the pinned file, as the writer records
    * them: min, max and null counts per leaf, and the NDV sketches.
    */
  val Stats: String = Seq(
    """{"min":{"b":-97,"i":0,"d":"0.125","f":"-5.0","z":false,"s":"s0",""",
    """"dt":19724,"ts":1700003600000000,"ntz":1600000060000000,"m9":"-1""",
    """9.75","m18":"1000003.00","m30":"99999999999999999993.00","st.a":""",
    """0,"st.inner.c":"0","nn":0},"max":{"b":497,"i":36,"d":"24.875","f""",
    """":"5.0","z":true,"s":"s9","dt":19922,"ts":1700716400000000,"ntz"""",
    """:1600011940000000,"m9":"29.75","m18":"199000597.00","m30":"19899""",
    """999999999999999993.00","st.a":8,"st.inner.c":"5","nn":199},"null""",
    """s":{"b":20,"i":20,"d":20,"f":20,"z":20,"s":20,"bin":20,"dt":20,"""",
    """ts":20,"ntz":20,"m9":20,"m18":20,"m30":20,"st.a":20,"st.inner.c"""",
    """:20,"nn":0},"ndv":{"b":"AAAAAQEEAwMABwIBAAACAgABBAUAAAUAAQABAAAA""",
    """AAABAAAHAQMEAAEAAQAAAAEAAAADAAABAgYDAQMCAgAAAAAAAAIAAAACAQ0BAQAC""",
    """AAABAQAAAQAAAgAAAAAAAAEAAAACBwIBAAABAQUBBAAAAQEBAgMAAgEBAwICAQAB""",
    """AgEDAAABAwEACAUABAAAAAIBAAADAAEDAQIBAAEAAAQCAAABAAAAAAEAAAAFAQEA""",
    """AQABAAABAwQCAgAAAAIAAwIAAQIBAQYAAAACAAEAAAACAAEHAQIAAQAAAQADAAAC""",
    """AAUABAABAQECAAIBAQgAAAMCAQAAAAcAAAAAAAACAAEAAg==","bin":"AAAAAAA""",
    """AAAAAAAIEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAQAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAADAAAAAAAAAAAAAAAAAAADAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAA==","d":"AQABAAABAAEABAMAAAUAAAEABQAAAQAAAAACAAEB""",
    """AAAAAgAAAAAAAAIDAwEABAIABAMDAAcBAAAEAQIAAAEBAgEAAQAAAAAAAAMAAAMB""",
    """AAECAAMGAgQABgAAAAACAQIAAwABBgIABAEAAAABAAEAAAECAgEBAAEBAwAAAQMA""",
    """AAIAAAABAQAAAwIDAAADAAAEAgIAAQIAAwEDAAADAAEAAQQAAAAAAAAAAQEAAAAA""",
    """AgAAAAACAAAAAQABAwEGAAAAAQAAAgIAAAAFAQMAAAMAAAAAAAEAAQIEAAABAAEC""",
    """AAACAQMCAQIAAAACAQIAAAIABQABAQICAAABAQIBAwAABA==","dt":"AAEAAAAC""",
    """AAAAAAQCAQADAAEAAQIBAAIAAAAAAAUAAAEAAAAAAAAAAwcAAAAAAgAAAAQFAAAA""",
    """AQAEAgAFAwEAAAQAAAAAAAACAAIAAgMAAAQAAgACAgACAAICAAAAAAEAAAQCAgMB""",
    """AAEAAAIAAgEEAAABAQIBAQABAQACAAEABQACAQEAAwEAAwEAAAAGAAAAAAABAAAB""",
    """AAABAAADAQABAQADAAADAgcAAAEDAAQAAgUAAAICAAACAQYAAQADAQEDAAEDAAIB""",
    """AQECBQAABQEABQAAAAIBAAAAAAAAAQAAAAIAAQAFAwMCAAMBAAABAgMDAQMBAQEB""",
    """AAICAQAFAQAAAQ==","f":"AQAAAAAAAAAAAgAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAQAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAABAAAAAAIAA""",
    """AAAAQAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAABAAAAA""",
    """AAAAAMAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA==","i":"AAAAAAAAAQ""",
    """ABAAAAAAAAAAADAAAAAAAAAAAAAAAFAAAAAAAAAAAAAAAAAAAFAAAAAAAAAAAAAw""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAACAAABAAAAAAAAAAAAAAAAAQAAAAAABwAAAA""",
    """AAAAEAAAACAAAAAAAAAAAAAAAAAAAAAAABAAAAAAAAAgADAAAAAAAAAgUAAAMAAA""",
    """IAAAAAAAACAAAABQAAAAAAAQABAAAAAQAAAAAAAAAAAAAAAAICAgAAAAAAAQEAAA""",
    """AFAAAAAAAAAAAAAAAAAAACAAAAAAAAAAAAAAMAAAAAAAEBAQAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAA==","m18":"AAEAAAACAAAGAAIABQAEAAACAAYKAgAAAQQFAAAAA""",
    """wIAAAIDAwMABQACAgICAAEDBQAAAAAAAAAAAAADAQkAAAADAQIAAwADAAAFBQIAA""",
    """wQCAAMCAQAAAQEBAwIGAQEAAAMBAwAAAQABAQIFBAABAAAAAgEAAQAABQAAAgEDA""",
    """QAEAgEAAAMAAgACAAAAAAEBAAEAAQMAAgAAAAADAgABAAICAAAAAgAAAAAAAAAEA""",
    """QABAAQBAwAAAAAAAAEAAQAAAAEAAgABAQABAAAAAwADAAAGAgABAAAAAAIABAAAA""",
    """AgBAwQBAAABCAIBBQMDAAMBAQACAQEABQAAAAMAAAMAAA==","m30":"AgIAAAAA""",
    """AAADAQEAAAEBAAQHAAAAAAQAAAAAAwEAAgAAAwACAQMAAAIAAwIDAgAAAAACBQAB""",
    """AAAAAQEFBAcBAQMAAQABAQMAAQAAAAEBAAIAAAEAAAECBQAAAQEAAAIAAAEAAAMA""",
    """CQQBAAABAAABAAEBAAMAAAABAwIAAQEDAAIAAAEEAwABAQIBBAECAgIAAQIBAAIA""",
    """AAAAAgEAAAAAAAABAAEAAAkCAAEEAAAAAAAAAAIAAAIAAQAAAAUDAgEAAAAEAgIB""",
    """AgQCAAAABQAAAAIAAQAAAgAAAQACAgEEAAAAAAAABQMCAQAAAgAABQAFAAEFAAQC""",
    """AAAAAAEBAQIAAg==","m9":"AAIDAgEAAAEBAAcAAAIAAAAABQAAAAMAAAAAAwAD""",
    """AwMCAAIDAAABAAAHAAAAAAAEAAACAAABAgAAAAAAAAMABAEBAQUAAAEAAgAAAAEB""",
    """AAAAAAIAAAACAgAGAgABAgAAAQABAAIAAQEAAAAAAAICAAIBAgAAAQEABAMBBQAA""",
    """AAIABQAAAwMAAAIAAQIBAQEABgABAQACAAIBAQAAAQABAwABBQAAAAAABAIEAAIB""",
    """AAEBAQIAAQAFAAICAAUCAQAAAQEAAwECAgICAAECAAMCAAAAAQAFAAACAAABAAAD""",
    """AQACAwEAAQABAAABAAAAAAAABAEAAQIAAgEBBgAAAAAAAw==","nn":"AAQBAQUE""",
    """AQABAQAAAAEAAAADAAEAAAACAQEAAAIFAAAAAQIHAAAAAAIAAQAFAAAAAAADAAAB""",
    """BgYAAAACAgMAAQACAQAAAAACAAEABAAEAQMBAAACAAAABQACAAEAAQAAAAADBwAD""",
    """AQYCAAUAAAAEAAAAAAYFAAAAAAAAAQABAAEBBQAAAAAAAgADAAICAQIBAgUBAAMA""",
    """AgIBAAAAAAQCAAAABQAAAAAAAQABAQACAgABAAIDBAABAAAAAgUCAgAAAQAAAQYC""",
    """AAEFAAMAAAQCAgIHAAIAAAECAAABAAAAAAAAAAMAAAEBAAIBAQgAAAABAQAAAAcB""",
    """AAECAwACAAEAAA==","ntz":"BgIFAAABAQQAAAEEAAABBAABAAIAAAABBQABAAI""",
    """AAgIAAAAAAAECAAAAAAABAAIBAAAEAAABBAEBAgAAAAAABQEDAAECAgAAAQAAAAM""",
    """DAgABAQEABgAABAAAAAACAwADAAABAQIAAQECAAEAAAICAQICAAIAAAMAAwAAAAA""",
    """DAAEAAgAAAAIAAAACBQABAAAAAAIAAAAAAAAAAAMAAQADAQABBAAAAAAAAgABAAA""",
    """AAAMAAAICAwACAAABAAECAQIAAQABAAEBAQAAAwIAAgEAAAICBAEAAgAGAAACAQA""",
    """AAQABCAUDAwMBAAEAAAIAAQABAgECAgEABQQCAAEAAAQDAg==","s":"AgAAAAAE""",
    """AAAAAAAAAAAAAAACAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEA""",
    """AAACAAIABgAAAAAAAAEAAAACAAAAAAAAAAAAAAAAAAAAAQAAAAAAAAAAAAAAAAAA""",
    """AAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAEAAgAAAAAAAAAAAQAAAAAAAAAA""",
    """AAAFAAAAAAAAAQAAAAAAAAAAAgAAAAAAAAAAAAAAAAACAAAAAAAAAgEAAAABAAAA""",
    """AAAAAAAAAAAFAA==","st.a":"AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AFAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAABwAAAAAAAAAAAAACAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAUAAAAAAAIAAAAAAAACAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAgAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAMAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA==","st.inner.c"""",
    """:"AAAAAAAAAAAAAAAAAAAAAAAAAAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """ABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAACAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAQ""",
    """AAAAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAA==","ts":"AAABAgMDAwEAAQABBAgAAQAGAgMAAA""",
    """ABAQABBgMBAgAAAAIAAAEEAQQAAAAAAQIDAQEAAgUCAgABAAMAAAgAAAABAgIEAA""",
    """EBAAABBAMDAgECAgEAAAAAAAECAAICAQMAAAABAAABAAIAAAAAAAAAAAIAAAACAA""",
    """AAAQAAAgAAAAQFAAEAAAEABAUDAQEAAQAAAQAAAQEAAAUBAAACAAADAgECAAACAA""",
    """AAAgACAQQCAAIAAwAAAAABAAAFAAcBBgEAAAEAAQAAAAAEAQMCBQEAAQEAAAMBAQ""",
    """IBAQEBAAAAAgABAgIAAAEAAwAAAAMAAAAEAAABAAAAAAAAAQAAAAICAw==","z":""",
    """"AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAUAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAMAAAAAAAAAAAAAAAA""",
    """AAAAAAAAAAAAAAAAAAAAAAA=="}}""").mkString
}
