package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.JsonArraySink

/** Pins the reference's JSON output shape (lambda_function.py:285-298):
  * one JSON array document per input file + object metadata.
  */
class JsonArraySinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("writes one JSON array document that round-trips, plus metadata") {
    val dir = Files.createTempDirectory("graft_jsonarr").toString
    val out = s"$dir/processed-data/batch.json"
    val df = Seq((1L, "alpha", "2024-07-01"), (2L, "beta", "2024-07-02"))
      .toDF("id", "name", "d")
      .withColumn("d", col("d").cast("date"))
    val n = JsonArraySink.write(df, out, "raw-data/batch.csv",
      "2024-07-01T12:00:00")
    assert(n === 2L)
    val text = Files.readString(Paths.get(out)).trim
    assert(text.startsWith("[") && text.endsWith("]"))
    // the document is ONE JSON array (multiLine), not JSON-lines
    val back = spark.read.option("multiLine", "true").json(out)
    assert(back.count() === 2)
    assert(back.columns.sorted === Array("d", "id", "name"))
    assert(back.filter(col("name") === "alpha")
      .select(col("d")).as[String].head() === "2024-07-01")
    val meta = Files.readString(Paths.get(out + ".meta.json"))
    assert(meta.contains("\"record_count\": \"2\""))
    assert(meta.contains("\"original_file\": \"raw-data/batch.csv\""))
    assert(meta.contains("\"processing_stage\": \"transformed\""))
  }

  test("write is retry-safe over a stale tmp dir from a crashed run") {
    val dir = Files.createTempDirectory("graft_jsonarr_r").toString
    val out = s"$dir/retry.json"
    // simulate a crashed prior run: stale tmp dir with leftover content
    Files.createDirectories(Paths.get(s"$out.tmpdir"))
    Files.writeString(Paths.get(s"$out.tmpdir/part-00000"), "stale")
    val df = Seq((1L, "fresh")).toDF("id", "name")
    val n = JsonArraySink.write(df, out, "raw/f.csv", "2024-07-01T12:00:00")
    assert(n === 1L)
    val back = spark.read.option("multiLine", "true").json(out)
    assert(back.select(col("name")).as[String].collect().toSeq === Seq("fresh"))
  }

  test("a stale temp file from a crashed attempt never reaches the output") {
    val dir = Files.createTempDirectory("graft_jsonarr_s").toString
    val out = s"$dir/landed.json"
    // what crashed attempts of earlier writes leave beside the output
    val stale = """[{"id":99,"name":"stale"}]"""
    Seq(s"$out.0-a0.tmp", s"$out.tmp", s"$out.1-a7.tmp").foreach(p =>
      Files.writeString(Paths.get(p), stale))
    val df = Seq((1L, "fresh"), (2L, "also")).toDF("id", "name")
    assert(JsonArraySink.write(df, out, "raw/f.csv", "t") === 2L)
    val back = spark.read.option("multiLine", "true").json(out)
    assert(back.select(col("name")).as[String].collect().toSeq.sorted ===
      Seq("also", "fresh"))
  }

  test("empty input produces a valid empty array") {
    val dir = Files.createTempDirectory("graft_jsonarr_e").toString
    val out = s"$dir/empty.json"
    val df = Seq.empty[(Long, String)].toDF("id", "name")
    val n = JsonArraySink.write(df, out, "raw-data/none.csv", "t")
    assert(n === 0L)
    val text = Files.readString(Paths.get(out)).trim
    assert(text === "[]" || text.replaceAll("\\s", "") === "[]")
  }
}
