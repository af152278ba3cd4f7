package graft

import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Lakehouse-maintenance operators: incremental-MV merge parity with a
  * full recompute, compaction-plan invariants, and the Z-order layout's
  * data-skipping property (the reason the operator exists).
  */
class MaintenanceSpec extends SparkSpecBase {

  test("mv_incremental merged partials equal a full recompute") {
    val got = Maintenance.mvIncremental(spark, sfDir).collect()
    val want = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("price_cents"))
      .groupBy(col("o_orderpriority"), col("o_year"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
        min(col("price_cents")).as("min_cents"),
        max(col("price_cents")).as("max_cents"))
      .withColumn("avg_cents", expr("sum_cents div n"))
      .orderBy(col("o_year"), col("o_orderpriority"))
      .select("o_orderpriority", "o_year", "n", "sum_cents", "min_cents",
        "max_cents", "avg_cents")
      .collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("mv base state is group-sized, not row-sized") {
    // the stored partial-aggregate table must be |groups| rows — that is
    // the whole point of incremental maintenance
    val dir = graft.sources.SetupOnce.runtimeDir(sfDir, "mv_orders_base")
    Maintenance.mvIncremental(spark, sfDir).collect() // ensure laid down
    val baseRows = spark.read.parquet(dir).count()
    val sourceRows = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(Maintenance.MvCutoff).cast("date"))
      .count()
    assert(baseRows < sourceRows / 10,
      s"base state $baseRows rows vs $sourceRows source rows")
  }

  test("mv_sketch: merged slice sketches estimate exactly like one pass, " +
      "and the gate holds") {
    val rows = Maintenance.mvSketchDistinct(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(2), s"gate failed: $r"))
    // merge-parity: union of the two slice sketches ≡ one single-pass
    // sketch of all rows (register-wise max is order-insensitive)
    val single = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lo = lit(Maintenance.MvCutoff).cast("date")
    val slices = Seq(col("o_orderdate") < lo, col("o_orderdate") >= lo)
    val mergedEst = slices.map(p =>
        Tables.orders(spark, sfDir).filter(p)
          .groupBy(col("o_orderpriority"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk")))
      .reduce(_.unionByName(_))
      .groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mergedEst == single)
  }

  test("compact_plan: contiguous groups, conservation, bounded group size") {
    val rows = Maintenance.compactPlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sizes = rows.map(_.getLong(3))
    val total = sizes.sum
    val target = (total + Maintenance.CompactBins - 1) / Maintenance.CompactBins
    // groups are non-decreasing in manifest order (contiguity); ids may
    // SKIP under skew — a file larger than a whole bin advances the
    // start offset past it — so only monotonicity is structural
    val grps = rows.map(_.getLong(0))
    grps.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, s"group order violated: $a -> $b")
    case _ => ()
    }
    // conservation: per-group totals sum to the corpus total
    val byGrp = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    assert(byGrp.values.sum == total)
    // grp_rows column agrees with the recomputed per-group total
    rows.foreach(r => assert(r.getLong(4) == byGrp(r.getLong(0))))
    // bound: a group exceeds the target only by (its last file − 1) rows
    val maxFile = sizes.max
    byGrp.values.foreach(g =>
      assert(g <= target + maxFile - 1, s"group of $g vs target $target"))
  }

  test("compact_execute rewrites each planned group; nothing lost or invented") {
    val dir = Maintenance.compactExecute(spark, sfDir)
    val out = spark.read.parquet(dir)
      .withColumn("grp", col("grp").cast("long"))
    val plan = Maintenance.compactPlan(spark, sfDir).collect()
    val wantByGrp = plan.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    val gotByGrp = out.groupBy(col("grp")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotByGrp == wantByGrp)
    // full-row conservation vs the source table
    val src = Tables.orders(spark, sfDir)
    assert(out.drop("grp").exceptAll(src).count() == 0L)
    assert(src.exceptAll(out.drop("grp")).count() == 0L)
    // the point of compaction: one data file per group
    wantByGrp.keys.foreach { g =>
      val files = new java.io.File(s"$dir/grp=$g")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"group $g has $files files")
    }
  }

  test("zorder layout: disjoint z-ranges, 2-D skipping beats 1-D on the second key") {
    val dir = Maintenance.zorderLayoutDir(spark, sfDir)
    // per-file stats off the layout's own footers-worth of data
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("zcode").as("zlo"), max("zcode").as("zhi"),
        min("l_partkey").as("plo"), max("l_partkey").as("phi"),
        min("l_suppkey").as("slo"), max("l_suppkey").as("shi"))
      .collect()
    assert(perFile.length > 1)
    // z-ranges disjoint (range-partitioned layout)
    val zr = perFile.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    zr.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(lo > hi, s"overlapping z-ranges: hi $hi vs next lo $lo")
    case _ => ()
    }
    // the query's 2-D predicate box intersects only a minority of files:
    // this is the zone-map skip a reader performs with footer min/max
    val (pLo, pHi, sLo, sHi) = Maintenance.zBox(spark, sfDir)
    val hit2d = perFile.count(r =>
      r.getLong(3) <= pHi && r.getLong(4) >= pLo &&
        r.getLong(5) <= sHi && r.getLong(6) >= sLo)
    assert(hit2d < perFile.length / 2,
      s"2-D box hits $hit2d of ${perFile.length} files — no skipping")
    // the Z-curve's locality claim itself: most files cover a narrow span
    // of BOTH dimensions (a 1-D layout on either key leaves the other
    // key's span ≈ the full domain in every file)
    val pDomain = perFile.map(_.getLong(4)).max - perFile.map(_.getLong(3)).min
    val sDomain = perFile.map(_.getLong(6)).max - perFile.map(_.getLong(5)).min
    val narrowBoth = perFile.count(r =>
      (r.getLong(4) - r.getLong(3)) * 2 <= pDomain &&
        (r.getLong(6) - r.getLong(5)) * 2 <= sDomain)
    assert(narrowBoth * 2 >= perFile.length,
      s"only $narrowBoth of ${perFile.length} files narrow in both dims")
    // and the query over the layout matches the straight-scan aggregate
    val got = Maintenance.zorderLayout(spark, sfDir).collect()
    val want = Tables.lineitem(spark, sfDir)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_suppkey").cast("long").as("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("price_cents"))
      .orderBy(col("l_suppkey"))
      .collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1) &&
        g.getLong(2) == w.getLong(2))
    }
  }

  test("zorder scan pushes both box predicates to the parquet source") {
    // the stats-derived literals must reach the scan as PushedFilters —
    // a runtime stats-join comparison would leave the source unfiltered
    val plan = Maintenance.zorderLayout(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    val pushed = plan.split("PushedFilters: \\[").last.split("\\]").head
    assert(pushed.contains("l_partkey") && pushed.contains("l_suppkey"),
      s"box predicates not pushed: $pushed")
  }

  test("bloom index lookup: partition pruning is real, files skipped, " +
      "rows equal the full-scan filter") {
    val df = Maintenance.bloomSkipLookup(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val filesTotal   = rows.head.getAs[Long]("files_total")
    val filesScanned = rows.head.getAs[Long]("files_scanned")
    val filesHit     = rows.head.getAs[Long]("files_hit")
    // no false negatives, and the index must actually skip: the customer
    // cannot live in every date-range file, and bloom FPs at this
    // geometry are rare
    assert(filesHit <= filesScanned && filesScanned < filesTotal,
      s"hit=$filesHit scanned=$filesScanned total=$filesTotal")
    // the candidate list landed as a literal partition predicate — the
    // scan's PartitionFilters prune non-candidate files at plan time
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [file_id"), scan.take(1500))
    // exactness: the looked-up rows equal the plain full-scan filter
    val key = rows.head.getAs[Long]("o_custkey")
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === key)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    assert(rows.map(_.getAs[Long]("o_orderkey")).sorted.toSeq === want)
  }

  test("forget layout: erased cohort gone from disk, fully-erased bucket " +
      "dirs removed, untouched buckets intact") {
    val rows = Maintenance.forgetAudit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("leaked") === 0L, s"leak in bucket ${r.get(0)}")
      assert(r.getAs[Long]("rows_after") ===
        r.getAs[Long]("rows_before") - r.getAs[Long]("rows_deleted"))
    }
    assert(rows.exists(_.getAs[Long]("rows_deleted") > 0), "cohort empty")
    val dir = Maintenance.forgetLayoutDir(spark, sfDir)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val exists = new java.io.File(s"$dir/bucket=$b").exists()
      // a bucket with zero survivors must have no partition dir at all
      // (dynamic overwrite alone would have left its old files behind)
      assert(exists === (r.getAs[Long]("rows_after") > 0L),
        s"bucket=$b dir presence wrong")
    }
    // the physical layout holds not a single forgotten row
    val e = Tables.events(spark, sfDir)
      .agg(max(col("user_id"))).head().getLong(0)
    val leaked = spark.read.parquet(dir)
      .filter(col("user_id") < (e + 1) / 10).count()
    assert(leaked === 0L)
  }

  test("morton code interleaves bits exactly") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (5L, 3L))
      .toDF("bx", "by")
      .withColumn("z", Maintenance.morton(col("bx"), col("by")))
      .collect()
    def ref(x: Long, y: Long): Long =
      (0 until Maintenance.ZBits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.sum
    df.foreach { r =>
      assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1)),
        s"morton(${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("transaction log: AS-OF reads reproduce each version, compaction " +
      "commits a content-identical live set, torn commits are invisible") {
    val root = Maintenance.txnTableDir(spark, sfDir)
    assert(Maintenance.latestVersion(spark, root) == 3)
    // v1/v2 live sets are the snapshot derivations, bit for bit
    val o = Tables.orders(spark, sfDir)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), col("o_orderpriority"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keyed(Maintenance.readVersion(spark, root, 1)) ===
      keyed(o.filter(col("o_orderkey") % 10 =!= 0)))
    val wantB = keyed(o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit("9-RECLASS"))
          .otherwise(col("o_orderpriority"))))
    assert(keyed(Maintenance.readVersion(spark, root, 2)) === wantB)
    // COMPACTION is invisible to readers: v3's single rewritten file
    // carries exactly v2's rows, while the live-file sets are disjoint
    assert(keyed(Maintenance.readVersion(spark, root, 3)) === wantB)
    val live2 = Maintenance.liveFiles(spark, root, 2).toSet
    val live3 = Maintenance.liveFiles(spark, root, 3).toSet
    assert(live3.size == 1 && live2.intersect(live3).isEmpty)
    assert(live2.size == Maintenance.TxnBuckets)
    // a manifest directory WITHOUT its marker (torn commit) is invisible:
    // latest stays 3 and AS-OF 4 refuses
    import spark.implicits._
    Seq(("add", "data_torn")).toDF("action", "file")
      .write.mode("overwrite").parquet(s"$root/_log/v4")
    assert(Maintenance.latestVersion(spark, root) == 3)
    intercept[IllegalArgumentException] {
      Maintenance.liveFiles(spark, root, 4)
    }
    // the time-travel diff classifies exactly the planted changes
    val diff = Maintenance.timeTravel(spark, sfDir).collect()
    assert(diff.nonEmpty)
    diff.foreach { r =>
      val k = r.getLong(0)
      r.getString(1) match {
        case "insert" => assert(k % 10 == 0 && k % 13 != 0)
        case "delete" => assert(k % 13 == 0 && k % 10 != 0)
        case "update" => assert(k % 7 == 0 && k % 10 != 0 && k % 13 != 0)
        case t        => fail(s"unexpected change_type $t")
      }
    }
  }

  test("vacuum: expired version refused at the watermark, retained reads " +
      "intact, boundary-shared files survive, idempotent") {
    val root = Maintenance.vacuumedTableDir(spark, sfDir)
    // v1 expired: the read refuses CLEANLY at the watermark (not a
    // mid-scan missing-file failure)
    val e = intercept[IllegalArgumentException] {
      Maintenance.readVersion(spark, root, 1)
    }
    assert(e.getMessage.contains("watermark"))
    // retained versions read back: v3 is v2's compaction, so both must
    // equal the B-snapshot derivation — proof vacuum deleted no LIVE file
    val v2 = Maintenance.readVersion(spark, root, 2)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val v3 = Maintenance.readVersion(spark, root, 3)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val want = graft.Tables.orders(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 13 =!= 0)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(v2.toSeq === want.toSeq && v3.toSeq === want.toSeq)
    // a second vacuum at the same watermark finds nothing to delete
    val (deleted2, retained2) = Maintenance.vacuumLog(spark, root, 2)
    assert(deleted2 === 0 && retained2 === Maintenance.TxnBuckets + 1)
  }

  test("vacuum watermark: a FIRST vacuum at keepFrom=3 (no _vacuum_v2 " +
      "marker) still raises the watermark — non-contiguous markers are " +
      "max'd, not walked consecutively") {
    // fresh 3-commit log that has NEVER been vacuumed at 2
    val shared = Maintenance.vacuumedTableDir(spark, sfDir)
    val root = shared + "_wm3"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_log"))) {
      // clone the shared fixture's directory tree minus its own markers
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(shared), fs,
        new org.apache.hadoop.fs.Path(root), false, false,
        spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/_log/_vacuum_v2"),
        false)
      val (_, _) = Maintenance.vacuumLog(spark, root, 3)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_log/_vacuum_v2")))
    assert(Maintenance.vacuumWatermark(spark, root) === 3)
    // both expired versions refuse cleanly AT THE WATERMARK — with the
    // old consecutive walk v2 would pass the guard and die mid-scan
    Seq(1, 2).foreach { v =>
      val e = intercept[IllegalArgumentException] {
        Maintenance.readVersion(spark, root, v)
      }
      assert(e.getMessage.contains("watermark"), s"v$v: ${e.getMessage}")
    }
    val v3 = Maintenance.readVersion(spark, root, 3)
    assert(v3.count() > 0)
  }

  test("occ: the version claim is put-if-absent (one winner), disjoint " +
      "losers rebase, overlapping losers get a conflict, torn manifests " +
      "end the log and recover explicitly") {
    // optimistic concurrency on the connector's one commit path
    import graft.sources.{GraftLogClaimPendingException, GraftLogConflictException, GraftLogOps, GraftLogWrite}
    val root = java.nio.file.Files
      .createTempDirectory("graft_occ_spec").toString
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    def ids(from: Long, until: Long): String => Unit =
      dir => spark.range(from, until).coalesce(1).write.parquet(dir)
    def stage(from: Long, until: Long) =
      GraftLogOps.stageParquet(conf, root, "occ", schema)(ids(from, until))
    def commit(staged: (String, Seq[graft.sources.GraftLogFileCommit]),
        removes: Seq[String] = Nil): Int =
      GraftLogWrite.commitStaged(conf, root, staged._1, staged._2,
        Some(schema), removes = removes, readVersion = Some(1))
    def rel(staged: (String, Seq[graft.sources.GraftLogFileCommit])) =
      staged._2.map(_.file.stripPrefix(s"$root/"))
    def live(v: Int): Set[String] =
      graft.sources.GraftLog.liveEntries(conf, root, v).toSet
    // writer 1 commits v1 = f1 + f2
    val Seq(f1, f2) = commitParquet(root, schema)(ids(0, 10), ids(10, 20))
    assert(Maintenance.latestVersion(spark, root) == 1)
    // two writers stage against v1; A (rewrites f2) wins v2, B
    // (disjoint: adds only) rebases past it to v3
    val a = stage(10, 15)
    val b = stage(20, 30)
    assert(commit(a, removes = Seq(f2)) == 2)
    assert(commit(b) == 3)
    assert(live(3) == Set(f1) ++ rel(a) ++ rel(b))
    // writer C also staged against v1 and ALSO removes f2 — the race
    // loser must see the write-write conflict, not blindly rebase
    val e = intercept[GraftLogConflictException] {
      commit(stage(10, 12), removes = Seq(f2))
    }
    assert(e.getMessage.contains(f2))
    assert(Maintenance.latestVersion(spark, root) == 3)
    // one winner per version: every committed number keeps its claim,
    // so no later writer can claim it again
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    (1 to 3).foreach { v =>
      intercept[java.io.IOException] {
        fs.create(new org.apache.hadoop.fs.Path(s"$root/_log/v$v._claim"),
          false)
      }
    }
    // a torn claim (claimed, never committed) ends the log and blocks
    // its number until explicitly recovered
    val torn = new org.apache.hadoop.fs.Path(s"$root/_log/v4._claim")
    fs.create(torn, false).close()
    assert(Maintenance.latestVersion(spark, root) == 3)
    val next = stage(200, 210)
    intercept[GraftLogClaimPendingException] { commit(next) }
    assert(fs.delete(torn, false))
    assert(commit(next) == 4)
    assert(live(4) == live(3) ++ rel(next))
    // CONCURRENT committers: a fixed six threads race for the claim,
    // over repeated trials. The claim is the only serialization, so
    // every commit lands exactly once, versions stay dense and no row is
    // lost; a loser rebases past a committed winner, or sees the named
    // pending-claim exception and retries
    val committers = 6
    (1 to 5).foreach { trial =>
      val race = java.nio.file.Files
        .createTempDirectory("graft_occ_race").toString
      val base = commitParquet(race, schema)(ids(0, 10))
      val staged = (1 to committers).map(i =>
        GraftLogOps.stageParquet(conf, race, "race", schema)(
          ids(100L * i, 100L * i + 10)))
      val go = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(committers)
      try {
        val versions = staged.map { st =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            override def call(): Int = {
              val c = new org.apache.hadoop.conf.Configuration(conf)
              go.await()
              var attempts = 0
              var v = -1
              while (v < 0) {
                try v = GraftLogWrite.commitStaged(c, race, st._1, st._2,
                  Some(schema))
                catch {
                  case _: GraftLogClaimPendingException if attempts < 500 =>
                    attempts += 1
                    Thread.sleep(2)
                }
              }
              v
            }
          })
        }
        go.countDown()
        val got = versions.map(
          _.get(120, java.util.concurrent.TimeUnit.SECONDS)).sorted
        assert(got === (2 to committers + 1), s"trial $trial")
        assert(Maintenance.latestVersion(spark, race) == committers + 1)
        assert(graft.sources.GraftLog.liveEntries(conf, race, committers + 1)
          .toSet == (base ++ staged.flatMap(_._2.map(
            _.file.stripPrefix(s"$race/")))).toSet, s"trial $trial")
        assert(spark.read.format("graftlog").option("path", race).load()
          .count() == 10L * (committers + 1), s"trial $trial")
      } finally pool.shutdownNow()
    }
  }

  test("vacuum sweeps crashed-writer orphans under data/ by AGE: old " +
      "uncommitted staging deletes (dir and all), fresh staging and " +
      "every referenced file survive") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files
      .createTempDirectory("graft_vac_orphan").toString
    def append(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("id")
        .write.format("graftlog").option("path", root)
        .option("schema", "id BIGINT").mode("append").save()
    append(0, 100) // v1
    append(100, 200) // v2
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    // crashed-writer debris: a stale staging dir (with a dv sidecar
    // beside the part-file, the morDelete abort shape) and a FRESH
    // in-flight one the age guard must protect
    def mkOrphan(name: String, old: Boolean): Path = {
      val p = new Path(s"$root/data/$name/part-junk.parquet")
      fs.mkdirs(p.getParent)
      fs.create(p, true).close()
      if (old) {
        // age file AND dir: the sweep age-guards both (a fresh empty
        // dir may be an in-flight writer's just-created staging)
        val t = System.currentTimeMillis() - 48L * 3600 * 1000
        fs.setTimes(p, t, -1)
        fs.setTimes(p.getParent, t, -1)
      }
      p
    }
    val oldOrphan = mkOrphan("w_crashed_a", old = true)
    val oldDv = mkOrphan("dv_crashed_b", old = true)
    val fresh = mkOrphan("w_inflight_c", old = false)
    val live = graft.sources.GraftLog.dataFiles(conf, root, 2)
    assert(live.nonEmpty)
    val (deleted, _) =
      graft.sources.GraftLogOps.vacuumLog(spark, root, 2)
    assert(deleted === 2, s"expected exactly the two old orphans: $deleted")
    assert(!fs.exists(oldOrphan) && !fs.exists(oldOrphan.getParent))
    assert(!fs.exists(oldDv) && !fs.exists(oldDv.getParent))
    assert(fs.exists(fresh))
    live.foreach(f => assert(fs.exists(new Path(f)), f))
    graft.sources.GraftLog.clearPlanCaches()
    assert(spark.read.format("graftlog").option("path", root).load()
      .count() === 200L)
  }
}
