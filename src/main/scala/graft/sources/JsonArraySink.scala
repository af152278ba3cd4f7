package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Faithful form of the reference's JSON output (lambda_function.py:285-298):
  * `df.to_json(orient='records')` produces ONE JSON document — an array of
  * record objects — uploaded with object metadata (original_file,
  * processed_timestamp, record_count, processing_stage). The engine's
  * default JSON sink is JSON-lines (the scalable shape); this writer closes
  * the fidelity gap for consumers that expect the reference's exact format.
  *
  * One job lands the document: records serialize in `Dataset.toJSON` (ISO
  * date/timestamp formats) and a single task streams them into the array,
  * counting as it goes, in a temp file beside the output — which is the
  * honest mapping, because the reference's unit of work is one landed
  * input file, so each output document is bounded by design. The driver
  * moves that file into place. Object metadata lands in a
  * `<file>.meta.json` sidecar (the filesystem stand-in for S3 object
  * metadata). Paths are local.
  */
object JsonArraySink {

  /** Writes `df` to `outFile` as a single JSON array document plus the
    * metadata sidecar. Returns the record count (the reference's
    * `record_count` metadata field). A caller-managed cache on `df` is
    * left as it is; the write reads `df` once.
    */
  def write(df: DataFrame, outFile: String, originalFile: String,
      processedTimestamp: String): Long = {
    val out = Paths.get(outFile).toAbsolutePath
    val dir = out.getParent
    Files.createDirectories(dir)
    // temp names unique to this write and task attempt: a retried task
    // never reuses a dead attempt's file, only the file the winning
    // attempt reports moves into place, and debris of a crashed earlier
    // write is never picked up
    val prefix = s"${out.getFileName}.${UUID.randomUUID()}-a"
    val dirName = dir.toString
    def sweep(): Unit = {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .foreach(Files.deleteIfExists(_))
      finally ls.close()
    }
    val landed = try {
      df.toJSON.coalesce(1).rdd.mapPartitions { recs =>
        val tmp = Paths.get(dirName,
          s"$prefix${TaskContext.get().taskAttemptId()}.tmp")
        val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
        var n = 0L
        try {
          w.write("[\n")
          recs.foreach { rec =>
            if (n > 0) w.write(',')
            w.write(rec)
            w.write('\n')
            n += 1
          }
          w.write("]\n")
        } finally w.close()
        Iterator.single((tmp.toString, n))
      }.collect()
    } catch { case NonFatal(e) => sweep(); throw e }
    val count = landed match {
      case Array((tmp, n)) =>
        Files.move(Paths.get(tmp), out, StandardCopyOption.REPLACE_EXISTING)
        n
      case _ => // zero-partition input: an empty array
        Files.writeString(out, "[]")
        0L
    }
    sweep()
    val meta = Map(
      "original_file"       -> originalFile,
      "processed_timestamp" -> processedTimestamp,
      "record_count"        -> count.toString,
      "processing_stage"    -> "transformed")
    Files.writeString(Paths.get(outFile + ".meta.json"),
      meta.map { case (k, v) => s""""$k": "${jsonEscape(v)}"""" }
        .mkString("{", ", ", "}"))
    count
  }

  /** Full JSON string escaping — backslash FIRST, then quote + controls. */
  private def jsonEscape(s: String): String = s.flatMap {
    case '\\'         => "\\\\"
    case '"'          => "\\\""
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }
}
