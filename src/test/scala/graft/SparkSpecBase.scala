package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: small parallelism (tiny data), UTC,
  * AQE left on — the same knobs Verify/Bench use.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Commit parquet written by Spark's own writer as ONE new version of
    * the log at `root`, through the connector's commit path: each
    * `write` lands part-files in the staging directory it is handed
    * (under `root/data/`), and the version records `schema` and
    * removes `removes`. Returns the added files, root-relative.
    */
  def commitParquet(root: String, schema: StructType,
      removes: Seq[String] = Nil, op: Option[String] = None)(
      writes: (String => Unit)*): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val (staging, files) = graft.sources.GraftLogOps.stageParquet(conf,
      root, "test", schema)(writes: _*)
    graft.sources.GraftLogWrite.commitStaged(conf, root, staging, files,
      Some(schema), removes = removes, op = op)
    files.map(_.file.stripPrefix(s"$root/"))
  }

  /** `ids` as one `id BIGINT` part-file under `staging`, written
    * job-free through the connector's own writer; returns the file with
    * the statistics its writer recorded.
    */
  def stageIds(staging: String, ids: Seq[Long])
      : graft.sources.GraftLogFileCommit = {
    val w = graft.sources.GraftLogWriterFactory(staging,
      StructType.fromDDL("id BIGINT"), Nil,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())).createWriter(0, 0)
    ids.foreach(i => w.write(org.apache.spark.sql.catalyst.InternalRow(i)))
    val Seq(file) = w.commit()
      .asInstanceOf[graft.sources.GraftLogCommitMessage].files
    file
  }

  /** `body`'s result and the Spark jobs it started. */
  def jobs[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result with the records Spark's tasks report reading
    * while it runs (`inputMetrics.recordsRead`, summed over tasks).
    */
  def recordsRead[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val n = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          n.addAndGet(m.inputMetrics.recordsRead))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession =
    Sessions.build("local[4]", "4", "graft-tests")
}
