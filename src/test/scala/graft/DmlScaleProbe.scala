import org.apache.spark.sql.functions._

/** Dev-loop scale probe (not a spec): times each SQL DML statement
  * (the GraftLogDml front door) on a bucket-partitioned orders log at
  * the given scale directory — the 1×/10×/100× ladder PLANS.md records
  * for the touched-files thesis (rewrite cost scales with touched
  * files + source, not table size). Mirrors the q_log_dml
  * fixture shape exactly (bucket = key mod 8; UPDATE keys ≡3 mod 16,
  * DELETE ≡11 mod 16, MERGE ≡5 mod 16).
  */
object DmlScaleProbe {
  def main(args: Array[String]): Unit = {
    System.setProperty("spark.log.level", "ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.build(s"local[$cpus]", cpus, "dml-scale")
    spark.sparkContext.setLogLevel("ERROR")
    val wh = s"/tmp/graft_dml_scale_${System.nanoTime()}"
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[dmlscale] $label%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    // one throwaway DML round at the smallest scale pays JIT/codegen
    // warmup OUTSIDE the measured points (the same reason Bench runs
    // shape warmups): without it the 1x point absorbs C2 compilation
    // of the whole write/scan path and reads SLOWER than 10x
    graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("dml_src")
    spark.sql("CREATE TABLE graft.warm (o_orderkey BIGINT, bucket " +
      "BIGINT, o_totalprice DOUBLE) PARTITIONED BY (bucket)")
    spark.sql("INSERT INTO graft.warm SELECT o_orderkey, o_orderkey % " +
      "8, o_totalprice FROM dml_src")
    spark.sql("UPDATE graft.warm SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderkey % 16 = 3")
    spark.sql("DELETE FROM graft.warm WHERE o_orderkey % 16 = 11")
    spark.sql("CALL graft.system.optimize('warm')").collect()
    graft.Tables.orders(spark, d).createOrReplaceTempView("dml_src")
    println(s"[dmlscale] sfDir=$d rows=" +
      graft.Tables.orders(spark, d).count())
    timed("load") {
      spark.sql("CREATE TABLE graft.t (o_orderkey BIGINT, bucket " +
        "BIGINT, o_totalprice DOUBLE) PARTITIONED BY (bucket)")
      spark.sql("INSERT INTO graft.t SELECT o_orderkey, o_orderkey % " +
        "8, o_totalprice FROM dml_src")
    }
    timed("update") {
      spark.sql("UPDATE graft.t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 16 = 3")
    }
    timed("delete") {
      spark.sql("DELETE FROM graft.t WHERE o_orderkey % 16 = 11")
    }
    graft.Tables.orders(spark, d).filter(col("o_orderkey") % 16 === 5)
      .select(col("o_orderkey"), lit(5L).as("bucket"),
        (col("o_totalprice") * 3).as("o_totalprice"))
      .createOrReplaceTempView("dml_merge_src")
    timed("merge") {
      spark.sql(
        """MERGE INTO graft.t t USING dml_merge_src s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    timed("optimize") {
      spark.sql("CALL graft.system.optimize('t')").collect()
    }
    val conf = spark.sessionState.newHadoopConf()
    val latest = graft.sources.GraftLog.latestVersion(conf, s"$wh/t")
    println(s"[dmlscale] versions=$latest live_files=" +
      graft.sources.GraftLog.liveEntries(conf, s"$wh/t", latest).size +
      " rows=" + spark.sql("SELECT count(*) FROM graft.t")
        .collect().head.getLong(0))

    // ---- merge-on-read vs copy-on-write on a SPARSE scattered delete
    // (the deletion-vector thesis: write amplification ∝ matched rows,
    // not touched files — every bucket file holds matches, so CoW
    // rewrites the whole table while MoR writes KB sidecars)
    import graft.sources.GraftLogOps
    def mkLog(name: String): String = {
      val root = s"$wh/$name"
      graft.Tables.orders(spark, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(8L)).as("bucket"),
          col("o_totalprice"))
        .write.format(graft.sources.GraftLog.Format)
        .option("path", root)
        .option("schema",
          "o_orderkey BIGINT, bucket BIGINT, o_totalprice DOUBLE")
        .option("partitionBy", "bucket").mode("append").save()
      root
    }
    val cow = mkLog("sparse_cow")
    val mor = mkLog("sparse_mor")
    val cond = col("o_orderkey") % 256 === 7
    timed("del_cow") {
      GraftLogOps.deleteFromLog(spark, cow, cond,
        GraftLogOps.DeleteModeCow)
    }
    timed("del_mor") {
      GraftLogOps.deleteFromLog(spark, mor, cond,
        GraftLogOps.DeleteModeMor)
    }
    timed("read_cow") {
      spark.read.format(graft.sources.GraftLog.Format)
        .option("path", cow).load().agg(sum(col("o_totalprice")))
        .collect()
    }
    timed("read_mor") { // the masking tax OPTIMIZE clears
      spark.read.format(graft.sources.GraftLog.Format)
        .option("path", mor).load().agg(sum(col("o_totalprice")))
        .collect()
    }
    // the DV thesis in BYTES (what dominates at object-store scale):
    // data bytes the delete commit wrote, each mode
    def commitBytes(root: String, v: Int): Long = {
      val fsys = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      graft.sources.GraftLog.versionRows(conf, root, v).collect {
        case r if r.action == "add" => r.bytes.getOrElse(0L)
        case r if r.action == "dv" =>
          val d = graft.sources.GraftLog.decodeDv(r.stats.get)
          fsys.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${d.dv}")).getLen +
            fsys.getFileStatus(
              new org.apache.hadoop.fs.Path(s"$root/${d.delta}")).getLen
      }.sum
    }
    println(s"[dmlscale] del_cow_bytes=${commitBytes(cow, 2)} " +
      s"del_mor_bytes=${commitBytes(mor, 2)}")
    timed("fold_mor") { GraftLogOps.compactLog(spark, mor) }
    val morV = graft.sources.GraftLog.latestVersion(conf, mor)
    println(s"[dmlscale] mor dvs_after_fold=" +
      graft.sources.GraftLog.liveState(conf, mor, morV).dvs.size)

    // ---- merge-on-read vs copy-on-write MERGE, same sparse shape:
    // a small CDC batch whose keys scatter across every file — the
    // streaming-ingest merge pattern where CoW rewrites the world
    val mCow = mkLog("merge_cow")
    val mMor = mkLog("merge_mor")
    val mSrc = graft.Tables.orders(spark, d)
      .filter(col("o_orderkey") % 256 === 7)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(8L)).as("bucket"),
        (col("o_totalprice") * 2).as("o_totalprice"))
    timed("mrg_cow") {
      GraftLogOps.mergeIntoLog(spark, mCow, mSrc, Seq("o_orderkey"),
        GraftLogOps.DeleteModeCow)
    }
    timed("mrg_mor") {
      GraftLogOps.mergeIntoLog(spark, mMor, mSrc, Seq("o_orderkey"),
        GraftLogOps.DeleteModeMor)
    }
    println(s"[dmlscale] mrg_cow_bytes=${commitBytes(mCow, 2)} " +
      s"mrg_mor_bytes=${commitBytes(mMor, 2)}")

    // ---- WIDE-TABLE variant: the deletion-vector bytes gap is
    // data-width-proportional (a sidecar is rows x 16 B regardless of
    // column count) — measure it on a 50-column table, with the load
    // time beside it
    def mkWide(name: String): String = {
      val root = s"$wh/$name"
      val wideCols = Seq(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(8L)).as("bucket")) ++
        (0 until 48).map(i =>
          (col("o_totalprice") + i).as(s"m$i"))
      val ddl = "o_orderkey BIGINT, bucket BIGINT, " +
        (0 until 48).map(i => s"m$i DOUBLE").mkString(", ")
      timed(name) {
        graft.Tables.orders(spark, d).select(wideCols: _*)
          .write.format(graft.sources.GraftLog.Format)
          .option("path", root).option("schema", ddl)
          .option("partitionBy", "bucket")
          .mode("append").save()
      }
      root
    }
    // the FIRST wide write in the JVM pays one-time costs (codegen of
    // the 50-column projection, committer init) that are not under
    // measurement — burn them on a warm-up first
    mkWide("wide_warm")
    val wCow = mkWide("wide_cow")
    val wMor = mkWide("wide_mor")
    timed("wdel_cow") {
      GraftLogOps.deleteFromLog(spark, wCow, cond,
        GraftLogOps.DeleteModeCow)
    }
    timed("wdel_mor") {
      GraftLogOps.deleteFromLog(spark, wMor, cond,
        GraftLogOps.DeleteModeMor)
    }
    println(s"[dmlscale] wdel_cow_bytes=${commitBytes(wCow, 2)} " +
      s"wdel_mor_bytes=${commitBytes(wMor, 2)}")
    spark.stop()
  }
}
