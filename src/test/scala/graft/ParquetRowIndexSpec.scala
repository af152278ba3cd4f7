package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite

/** Pins the parquet-hadoop row-index semantics the deletion-vector
  * readers rely on to keep PREDICATE PUSHDOWN alive on masked files:
  *
  *  1. predicate-driven ROW-GROUP filtering preserves each surviving
  *     block's `rowIndexOffset` (file-absolute), so the vectorized
  *     reader's per-group mask positions stay exact under skips;
  *  2. `ParquetReader.getCurrentRowIndex` returns the FILE-ABSOLUTE
  *     index of the record just returned — under record-level
  *     filtering, with filtering disabled, and under byte-range reads —
  *     so a row-at-a-time reader can mask from parquet's own counter instead
  *     of a stream-relative one that desyncs the moment a row group
  *     or record is skipped.
  *
  * If a parquet upgrade ever breaks one of these, this spec fails
  * before any silent mask misalignment can.
  */
class ParquetRowIndexSpec extends AnyFunSuite {

  private val schema = MessageTypeParser.parseMessageType(
    "message probe { required int64 id; }")

  /** One file of `n` rows where row i carries id == i, forced into
    * many small row groups.
    */
  private def writeFile(n: Int): String = {
    val dir = Files.createTempDirectory("rowidx").toString
    val file = s"$dir/probe.parquet"
    val conf = new Configuration()
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(file))
      .withConf(conf)
      .withType(schema)
      .withRowGroupSize(8L * 1024)
      .withPageSize(1024)
      .withDictionaryEncoding(false)
      .build()
    try (0 until n).foreach { i =>
      w.write(factory.newGroup().append("id", i.toLong))
    } finally w.close()
    file
  }

  private lazy val file = writeFile(50000)
  private val conf = new Configuration()

  test("row-group predicate filtering preserves file-absolute " +
    "rowIndexOffset on surviving blocks") {
    val unfiltered = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    val all = try unfiltered.getRowGroups.asScala.toSeq
      .map(b => (b.getStartingPos, b.getRowIndexOffset, b.getRowCount))
    finally unfiltered.close()
    assert(all.size >= 4, s"need several row groups, got ${all.size}")
    // offsets are the prefix sums of row counts — file-absolute
    assert(all.map(_._2) ==
      all.map(_._3).scanLeft(0L)(_ + _).dropRight(1))

    // filter to the id range of the LAST group only
    val lastStart = all.last._2
    val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.get(FilterApi.gtEq(
        FilterApi.longColumn("id"),
        java.lang.Long.valueOf(lastStart))))
      .build()
    val filtered = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf), opts)
    try {
      val kept = filtered.getRowGroups.asScala.toSeq
      assert(kept.size < all.size, "stats filter must drop groups")
      // every kept block keeps its ORIGINAL file-absolute offset
      val bySP = all.map(b => b._1 -> b._2).toMap
      kept.foreach { b =>
        assert(b.getRowIndexOffset == bySP(b.getStartingPos))
      }
      // and the PageReadStore agrees with the block metadata
      val pages = filtered.readNextRowGroup()
      assert(pages.getRowIndexOffset.isPresent)
      assert(pages.getRowIndexOffset.get() == kept.head.getRowIndexOffset)
    } finally filtered.close()
  }

  private def readIndexed(c: Configuration,
      filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate],
      range: Option[(Long, Long)] = None)
      : Seq[(Long, Long)] = { // (currentRowIndex, id)
    var b = ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(c)
    range.foreach { case (s, e) => b = b.withFileRange(s, e) }
    filter.foreach(p => b = b.withFilter(FilterCompat.get(p)))
    val r = b.build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(g => (r.getCurrentRowIndex, g.getLong("id", 0))).toList
    finally r.close()
  }

  test("getCurrentRowIndex is file-absolute under record-level " +
    "filtering (rows scattered across groups)") {
    // ids ≡ 0 mod 9973 — a handful of matches scattered over the file
    val pred = FilterApi.eq(FilterApi.longColumn("id"),
      java.lang.Long.valueOf(9973L * 3))
    val got = readIndexed(conf, Some(pred))
    assert(got == Seq((9973L * 3, 9973L * 3)))
  }

  test("getCurrentRowIndex is file-absolute with record-level " +
    "filtering disabled (row-group skips only)") {
    val c = new Configuration(conf)
    c.setBoolean("parquet.filter.record-level.enabled", false)
    val pred = FilterApi.gtEq(FilterApi.longColumn("id"),
      java.lang.Long.valueOf(49000L))
    val got = readIndexed(c, Some(pred))
    // whole surviving row groups emit (no record filtering), and each
    // record still reports its true file-absolute index
    assert(got.size > 1000, s"expected whole groups, got ${got.size}")
    got.foreach { case (idx, id) => assert(idx == id) }
    // row groups before the matching range were SKIPPED
    assert(got.head._2 < 49000L && got.head._2 > 0L)
  }

  test("getCurrentRowIndex is file-absolute under a byte-range read") {
    val len = new java.io.File(file).length()
    val got = readIndexed(conf, None, Some((len / 2, len)))
    assert(got.nonEmpty && got.head._2 > 0L)
    got.foreach { case (idx, id) => assert(idx == id) }
  }

  test("getCurrentRowIndex is file-absolute under byte-range AND " +
    "predicate together") {
    val len = new java.io.File(file).length()
    val pred = FilterApi.eq(FilterApi.longColumn("id"),
      java.lang.Long.valueOf(48000L))
    val got = readIndexed(conf, Some(pred), Some((len / 2, len)))
    assert(got == Seq((48000L, 48000L)))
  }
}
