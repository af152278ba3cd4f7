package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.sources.{GraftLog, GraftLogStats}

/** The NDV sketches the manifest carries are folded AT WRITE (hashed as
  * rows stream through the connector's one writer, which every data
  * file the engine writes goes through — zero extra I/O); the re-read
  * form serves foreign files staged by other writers only. Pinned here:
  *
  *  - the folded sketches are BYTE-IDENTICAL to what re-reading the
  *    file computes — same leaves (struct leaves included, dotted
  *    paths; array/map interiors excluded), same registers, including
  *    the empty sketch an all-null column records;
  *  - merged estimates land within HLL tolerance of the truth;
  *  - nested-leaf manifest stats (min/max/null) prune FILES on a
  *    struct-field predicate, and `describe_stats` surfaces the
  *    merged per-leaf NDV with coverage counts.
  */
class NdvWriteFoldSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()

  test("write-folded sketches are byte-identical to the re-read form " +
      "across types, struct leaves and all-null columns") {
    val root = Files.createTempDirectory("graft_ndvfold").toString
    spark.range(0, 5000)
      .selectExpr(
        "id",
        "CAST(id % 97 AS INT) AS i",
        "CAST(id AS DOUBLE) / 7 AS dbl",
        "CAST(id % 13 AS FLOAT) AS flt",
        "id % 2 = 0 AS b",
        "CAST(id % 211 AS STRING) AS s",
        "CAST(CAST(id AS DECIMAL(9,2)) / 3 AS DECIMAL(9,2)) AS d9",
        "CAST(CAST(id AS DECIMAL(24,2)) * 1234567 AS DECIMAL(24,2)) AS d24",
        // unscaled value beyond Long range: exercises the minimal-bytes
        // arm of the encoding-normalized decimal hash
        "CAST(CAST(id AS DECIMAL(30,2)) + 20000000000000000000 " +
          "AS DECIMAL(30,2)) AS dhuge",
        "CAST(NULL AS BIGINT) AS nul",
        "named_struct('score', CAST(id % 31 AS DOUBLE), " +
          "'tag', CAST(id % 5 AS STRING), " +
          "'inner', named_struct('deep', id % 17)) AS meta",
        "array(id) AS arr")
      .coalesce(2)
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, i INT, dbl DOUBLE, flt FLOAT, " +
        "b BOOLEAN, s STRING, d9 DECIMAL(9,2), d24 DECIMAL(24,2), " +
        "dhuge DECIMAL(30,2), " +
        "nul BIGINT, meta STRUCT<score: DOUBLE, tag: STRING, " +
        "inner: STRUCT<deep: BIGINT>>, arr ARRAY<BIGINT>")
      .mode("append").save()
    val entries = GraftLog.liveState(conf, root, 1).adds
      .map(GraftLog.fileEntry(root, _))
    assert(entries.size === 2)
    entries.foreach { e =>
      val folded = e.stats.get.ndv
      val footer = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(e.path), conf))
      val reread = try GraftLogStats.ndvSketches(footer)
        finally footer.close()
      assert(folded.keySet === reread.keySet, e.path)
      // the leaf set: every primitive + struct leaves, no array, and
      // the all-null column still records an (empty) sketch
      assert(folded.keySet === Set("id", "i", "dbl", "flt", "b", "s",
        "d9", "d24", "dhuge", "nul", "meta.score", "meta.tag",
        "meta.inner.deep"))
      folded.foreach { case (k, v) =>
        assert(v === reread(k), s"${e.path} leaf $k diverged")
      }
    }
    // merged estimates within HLL tolerance (p=8 → ~7% typical)
    def est(col: String): Long =
      GraftLogStats.NdvSketch.estimate(entries
        .map(e => GraftLogStats.NdvSketch.fromB64(e.stats.get.ndv(col)))
        .reduce(GraftLogStats.NdvSketch.merge))
    def within(got: Long, want: Long): Boolean =
      math.abs(got - want) <= math.max(3L, (want * 0.15).toLong)
    assert(within(est("id"), 5000))
    assert(within(est("i"), 97))
    assert(within(est("dhuge"), 5000))
    assert(within(est("meta.score"), 31))
    assert(within(est("meta.inner.deep"), 17))
    assert(est("nul") === 0L)
  }

  test("a struct-leaf predicate prunes FILES from manifest statistics " +
      "and describe_stats surfaces merged nested NDV") {
    val root = Files.createTempDirectory("graft_ndvnest").toString
    // bucket-partitioned so each bucket lands its own file, with
    // DISJOINT nested score ranges per bucket → a score predicate can
    // prove file pruning
    spark.range(0, 4000)
      .selectExpr("id", "id % 4 AS bucket",
        "named_struct('score', CAST(id % 4 AS DOUBLE) * 100 + " +
          "CAST(id % 50 AS DOUBLE), 'lang', CAST(id % 3 AS STRING)) " +
          "AS meta")
      .write.format("graftlog").option("path", root)
      .option("schema", "id BIGINT, bucket BIGINT, " +
        "meta STRUCT<score: DOUBLE, lang: STRING>")
      .option("partitionBy", "bucket").mode("append").save()
    val df = spark.read.format("graftlog").option("path", root).load()
    // scores: bucket b holds [100b, 100b+49] — filter to bucket 3's
    // range ONLY via the NESTED field; rows-served proves masks, and
    // the planned-partition count proves the manifest skip
    val sel = df.filter(col("meta.score") >= 300.0)
    assert(sel.count() === 1000L)
    val scanned = sel.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    // physical partition count: only 1 of 4 files planned
    val parts = sel.rdd.getNumPartitions
    assert(parts === 1, s"expected the 3 non-matching files pruned " +
      s"from the plan, got $parts partitions\n$scanned")
    // describe_stats: dotted nested rows with full coverage
    val parent = root.substring(0, root.lastIndexOf('/'))
    val table = root.substring(root.lastIndexOf('/') + 1)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", parent)
    val stats = spark.sql(s"CALL graft.system.describe_stats('$table')")
      .collect().map(r => r.getString(0) ->
        (r.get(1), r.get(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats.keySet ===
      Set("id", "bucket", "meta.score", "meta.lang"))
    val (ndvLang, nullsLang, sk, nf) = stats("meta.lang")
    assert(sk === 4L && nf === 4L)
    assert(nullsLang === 0L)
    assert(math.abs(ndvLang.asInstanceOf[Long] - 3L) <= 1L)
    val (ndvId, _, _, _) = stats("id")
    assert(math.abs(ndvId.asInstanceOf[Long] - 4000L) <= 600L)
  }
}
