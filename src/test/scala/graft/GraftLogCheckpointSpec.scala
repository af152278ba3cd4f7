package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftLog, GraftLogWrite}

/** Round-13 control plane: manifest CHECKPOINTS make snapshot
  * resolution O(checkpoint + tail) instead of O(versions) — the direct
  * successor of round 12's zero-footer-opens pin, one level up. The
  * counter here is [[GraftLog.planControlReads]] (listings + status
  * probes + manifest/checkpoint opens), pinned INDEPENDENT of the
  * table's version count, exactly the property a one-version-per-epoch
  * streaming sink needs at 10⁵⁺ versions.
  */
class GraftLogCheckpointSpec extends SparkSpecBase {

  private def conf = spark.sessionState.newHadoopConf()
  private def fs(root: String) =
    new Path(root).getFileSystem(conf)

  private val ddl = "id BIGINT"
  private val schema = StructType.fromDDL(ddl)

  /** One committed append of `ids` through the REAL two-phase commit
    * (staged part-file → claim → manifest+stats → marker), without a
    * Spark job per version — checkpointing triggers inside commitStaged
    * exactly as the connector write path does.
    */
  private def append(root: String, ids: Seq[Long]): Int = {
    val staging = s"$root/data/w_spec_${java.util.UUID.randomUUID()}"
    GraftLogWrite.commitStaged(conf, root, staging,
      Seq(stageIds(staging, ids)), Some(schema))
  }

  private def readIds(root: String, version: Option[Int] = None): Seq[Long] = {
    val r = spark.read.format("graftlog").option("path", root)
    version.foreach(v => r.option("version", v))
    r.load().collect().map(_.getLong(0)).sorted.toSeq
  }

  test("snapshot resolution reads O(checkpoint + tail), INDEPENDENT of " +
      "the version count: a 22-version table cold-plans with exactly as " +
      "many control-plane round-trips as a 12-version one") {
    def build(n: Int): String = {
      val root = Files.createTempDirectory(s"graft_ckpt_$n").toString
      (1 to n).foreach(v => append(root, Seq(v.toLong)))
      root
    }
    val rootA = build(12) // checkpoint at v10, tail v11..v12
    val rootB = build(22) // checkpoints at v10 and v20, tail v21..v22
    assert(fs(rootA).exists(new Path(s"$rootA/_log/_ckpt_v10._ok")))
    assert(fs(rootB).exists(new Path(s"$rootB/_log/_ckpt_v20._ok")))
    def coldPlanReads(root: String, expect: Seq[Long]): Long = {
      GraftLog.clearPlanCaches()
      val before = GraftLog.planControlReads.get()
      assert(readIds(root) === expect)
      GraftLog.planControlReads.get() - before
    }
    val a = coldPlanReads(rootA, (1L to 12L))
    val b = coldPlanReads(rootB, (1L to 22L))
    info(s"cold-plan control reads: 12-version=$a, 22-version=$b")
    assert(a === b,
      s"control-plane reads grew with version count: $a vs $b")
    // absolute sanity bound: listings + 1 checkpoint + 2 tail manifests
    // (each a status probe + at most one open), across the load/plan
    // round — far below the 12/22 manifests a full fold would read
    assert(a <= 30, s"cold plan paid $a control-plane reads")
  }

  test("the checkpointed fold equals the full fold across removes, " +
      "legacy versions and AS-OF reads on either side of the boundary") {
    val root = Files.createTempDirectory("graft_ckptfold").toString
    // v1..v12: connector appends (checkpoint lands at v10)
    (1 to 12).foreach(v => append(root, Seq(100L + v)))
    // v13: a remove-only commit of v2's file
    val v2File = GraftLog.versionRows(conf, root, 2)
      .collectFirst { case GraftLog.ManifestRow("add", f, _, _, _) => f }.get
    assert(GraftLogWrite.commitStaged(conf, root,
      s"$root/data/w_spec_rm", Nil, Some(schema),
      removes = Seq(v2File)) === 13)
    // v14..v20: more connector appends — the v20 checkpoint must bake
    // in the remove
    (14 to 20).foreach(v => append(root, Seq(100L + v)))
    assert(fs(root).exists(new Path(s"$root/_log/_ckpt_v20._ok")))
    // v21..v22 tail
    (21 to 22).foreach(v => append(root, Seq(100L + v)))
    val expectLatest =
      ((1 to 12) ++ (14 to 22)).map(100L + _).filterNot(_ == 102L)
    GraftLog.clearPlanCaches()
    assert(readIds(root) === expectLatest.sorted)
    // AS-OF below the first checkpoint: plain full fold
    assert(readIds(root, Some(9)) === (1 to 9).map(100L + _))
    // AS-OF between checkpoints: ckpt@10 + tail including the remove
    assert(readIds(root, Some(15)) ===
      ((1 to 12) ++ Seq(14, 15)).map(100L + _).filterNot(_ == 102L))
    // version spine stays exact at every point
    assert(readIds(root, Some(13)) ===
      (1 to 12).map(100L + _).filterNot(_ == 102L))
  }

  test("schema resolution is served by the checkpoint for legacy tails, " +
      "and widening across the boundary keeps each version's own schema") {
    val root = Files.createTempDirectory("graft_ckptschema").toString
    (1 to 10).foreach(v => append(root, Seq(v.toLong))) // ckpt@10
    // v11: a Spark-written file committed past the checkpoint — the
    // backward walk stops at the newest manifest, never descending to v1
    commitParquet(root, schema)(dir =>
      spark.range(50, 53).selectExpr("id").coalesce(1).write.parquet(dir))
    GraftLog.clearPlanCaches()
    val before = GraftLog.planControlReads.get()
    assert(GraftLog.schemaFromManifest(conf, root, 11).get.toDDL
      === StructType.fromDDL(ddl).toDDL)
    val reads = GraftLog.planControlReads.get() - before
    assert(reads <= 8,
      s"schema walk paid $reads reads — descended past the checkpoint?")
    assert(readIds(root) === ((1L to 10L) ++ (50L to 52L)))
  }

  test("a torn checkpoint (no ._ok) is invisible and an unreadable one " +
      "falls back to the full fold — checkpoints accelerate, never decide") {
    val root = Files.createTempDirectory("graft_ckpttorn").toString
    (1 to 5).foreach(v => append(root, Seq(v.toLong)))
    // torn: manifest parquet without marker — must be ignored
    GraftLogWrite.writeManifestRows(conf,
      new Path(s"$root/_log/_ckpt_v3/manifest.parquet"),
      Seq(GraftLog.ManifestRow("add", "nonexistent.parquet")))
    GraftLog.clearPlanCaches()
    assert(readIds(root) === (1L to 5L))
    // committed but CORRUPT: ._ok present, content unreadable — the
    // fold must fall back to v1..asOf and still answer correctly
    val corrupt = fs(root).create(
      new Path(s"$root/_log/_ckpt_v4/manifest.parquet"), true)
    corrupt.write("not parquet".getBytes("UTF-8")); corrupt.close()
    fs(root).create(new Path(s"$root/_log/_ckpt_v4._ok"), true).close()
    GraftLog.clearPlanCaches()
    assert(readIds(root) === (1L to 5L))
  }

  test("on-demand checkpointing: writeCheckpoint is idempotent, refuses " +
      "uncommitted versions, and serves subsequent AS-OF plans") {
    val root = Files.createTempDirectory("graft_ckptdemand").toString
    (1 to 4).foreach(v => append(root, Seq(v.toLong)))
    GraftLog.writeCheckpoint(conf, root, 3)
    GraftLog.writeCheckpoint(conf, root, 3) // idempotent
    assert(fs(root).exists(new Path(s"$root/_log/_ckpt_v3._ok")))
    intercept[IllegalArgumentException] {
      GraftLog.writeCheckpoint(conf, root, 9)
    }
    GraftLog.clearPlanCaches()
    assert(readIds(root, Some(3)) === (1L to 3L))
    assert(readIds(root) === (1L to 4L))
  }
}
