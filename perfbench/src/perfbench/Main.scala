package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One timed operation: a landed file, a query, a merge, a read or a
  * compaction. Wall-clock ms bounds attribute Spark jobs to it; `ns` is
  * the monotonic duration the latency metrics use.
  */
final case class OpRec(id: Int, kind: String, name: String, pass: Int,
    wall0: Long, buildEnd: Long, wall1: Long, ns: Long, var ok: Boolean,
    traced: Boolean) {
  /** What per-operation statistics group by: the query, write path or
    * read; every landed file is the same operation.
    */
  def group: String = if (kind == "file") kind else s"$kind:$name"
}

/** What the workloads share: the session, the work directory, the
  * operation log and the timing of a closed loop with one client.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tiny: Boolean, val corruptExpected: Boolean) {
  val ops = mutable.ArrayBuffer[OpRec]()
  /** Steal share of the machine's CPU time during each timed cycle. */
  val cycleSteal = mutable.ArrayBuffer[Option[Double]]()
  val errors = mutable.LinkedHashMap[String, Int]()
  var pass = 0
  var traced = false
  /** Set-up phase → seconds, for the run record. */
  val setupPhases = mutable.LinkedHashMap[String, Double]()
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupPhases(name) = (System.nanoTime() - t0) / 1e9
  }
  private var nextId = 0
  private var buildEndMs = 0L

  /** Marks the end of the construction phase inside an operation. */
  def built(): Unit = {
    buildEndMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.PhaseProp, "execute")
  }

  /** Runs `body` as one operation; it returns None when the operation's
    * output passed its check, or the failure message. A throw also fails.
    * An `eager` operation (a merge, a compaction, a landed file) has no
    * query function to construct, so all of it is execution; otherwise
    * construction lasts until the body calls [[built]].
    */
  def op(kind: String, name: String, eager: Boolean = false)(body: => Option[String]): OpRec = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProp, id.toString)
    sc.setLocalProperty(Tracer.PhaseProp, "build")
    buildEndMs = -1L
    if (eager) built()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try body catch { case NonFatal(e) => Some(message(e)) }
    val ns = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.OpProp, null)
    sc.setLocalProperty(Tracer.PhaseProp, null)
    val r = OpRec(id, kind, name, pass, w0, if (buildEndMs < 0) w1 else math.max(buildEndMs, w0), w1,
      ns, err.isEmpty, traced)
    err.foreach(fail(r, _))
    ops += r
    r
  }

  def fail(r: OpRec, msg: String): Unit = {
    r.ok = false
    errors(msg) = errors.getOrElse(msg, 0) + 1
  }

  def message(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val m = Option(root.getMessage).getOrElse(root.getClass.getName)
    s"${root.getClass.getSimpleName}: ${m.linesIterator.nextOption().getOrElse("").take(200)}"
  }

  /** Order-insensitive content signature of a frame's rows, computed in
    * the same execution as the frame's sink: row count, the sum of
    * per-row xxhash64 values mod 2^31-1 and their xor.
    */
  def withSignature(df: DataFrame): (DataFrame, Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => f.dataType match {
      case _: MapType => to_json(col(f.name))
      case _ => col(f.name)
    })
    val h = xxhash64(cols.toIndexedSeq: _*)
    val ob = Observation()
    (named.observe(ob, count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("s"),
      bit_xor(h).as("x")).toDF(df.columns.toIndexedSeq: _*), ob)
  }

  def signature(ob: Observation): String = {
    val m = ob.get
    s"${m("n")}:${m("s")}:${m("x")}"
  }
}

object Ctx {
  /** The machine's aggregate CPU ticks from /proc/stat (user, nice,
    * system, idle, iowait, irq, softirq, steal, ...); empty elsewhere.
    */
  def machineTicks(): Seq[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong) finally src.close()
  }.getOrElse(Nil)

  /** Share of the machine's CPU time stolen by the hypervisor between two
    * readings of [[machineTicks]].
    */
  def stealShare(a: Seq[Long], b: Seq[Long]): Option[Double] = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.size > 7 && d.sum > 0) Some(d(7).toDouble / d.sum) else None
  }
}

/** A workload: set-up (inputs from the seed plus a warm-up that also
  * derives the expected outputs), then whole cycles in a closed loop.
  */
trait Workload {
  /** Operation kind whose median and p90 latency the run record reports. */
  def primary: String
  def setup(): Unit
  def cycle(): Unit
  /** Checks that need the whole run (warehouse contents, table state). */
  def finish(): Unit = ()
  /** Workload-specific figures for the run record. */
  def extra(measured: Seq[OpRec], loopS: Double): Map[String, (Option[Double], String)] = Map.empty
  /** Per-layer figures the workload measures itself. */
  def layers(measured: Seq[OpRec], tracer: Tracer): Map[String, Double] = Map.empty
}

object Main {
  /** Every per-layer metric, in `BENCHMARK.json` order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "tables.schema_jobs" -> "count", "tables.schema_s" -> "s",
    "build.s" -> "s", "build.jobs" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_free_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_util" -> "share",
    "io.input_bytes" -> "bytes", "io.shuffle_write_bytes" -> "bytes",
    "io.shuffle_read_bytes" -> "bytes", "io.spill_bytes" -> "bytes",
    "etl.jobs_per_file" -> "count", "etl.json_sink_s" -> "s", "etl.jdbc_stage_s" -> "s",
    "etl.driver_s" -> "s",
    "log.merge.jobs" -> "count", "log.merge.files_added" -> "count",
    "log.merge.files_removed" -> "count", "log.merge.dv_files" -> "count",
    "log.merge.rows_written_per_source_row" -> "ratio",
    "log.read.files_scanned" -> "count", "log.compact_s" -> "s",
    "log.compact.bytes_rewritten" -> "bytes",
    "trace.overhead_share" -> "share")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = a("work")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(s"local[$n]", n.toString, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, a.get("tiny").contains("1"),
      a.get("corrupt-expected").contains("1"))
    ctx.setupPhases("jvm_start_s") = (System.currentTimeMillis() - jvmStart) / 1e3 - (System.nanoTime() - t0) / 1e9
    ctx.setupPhases("session_s") = (System.nanoTime() - t0) / 1e9
    val w: Workload = workload match {
      case "etl_landing" => new EtlLanding(ctx, warehouse = true)
      case "warehouse_sql" => new QueryList(ctx, QueryList.Warehouse)
      case "corpus_prep" => new QueryList(ctx, QueryList.Corpus)
      case "lakehouse_merge" => new LakehouseMerge(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      w.setup()
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      // closed loop, one client: whole cycles until the window is used,
      // at least three, so each operation's median has three samples and
      // the first timed cycle's JIT tail is outvoted. A traced run traces
      // the even cycles; the untraced ones after the first give the
      // tracing overhead.
      val tracer = if (trace) Some(new Tracer) else None
      ctx.pass = 0
      val t0 = System.nanoTime()
      while (ctx.pass < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        ctx.pass += 1
        val on = tracer.filter(_ => ctx.pass % 2 == 0)
        on.foreach { t =>
          spark.sparkContext.addSparkListener(t)
          spark.listenerManager.register(t)
        }
        ctx.traced = on.isDefined
        val ticks = Ctx.machineTicks()
        w.cycle()
        ctx.cycleSteal += Ctx.stealShare(ticks, Ctx.machineTicks())
        on.foreach { t =>
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(t)
          spark.listenerManager.unregister(t)
        }
      }
      val loopS = (System.nanoTime() - t0) / 1e9
      w.finish()
      val measured = ctx.ops.toSeq
      val record = Report.record(ctx, w, workload, seed, seconds, trace, setupS,
        measured, loopS)
      val layerRecord = tracer.map { t =>
        val (traced, plain) = measured.partition(_.traced)
        t.writeSpans(s"$work/trace_spans.jsonl", workload, traced)
        Report.layers(w, t, plain, traced)
      }
      Files.writeString(Paths.get(s"$work/result.json"),
        Report.json(record ++ layerRecord.map("layers" -> _)))
    } finally {
      spark.stop()
      Cleanup.engineTmp()
    }
  }
}

/** The engine places its session warehouse and runtime fixtures under
  * `/tmp/graft_*_<pid>`; remove this process's copies on exit.
  */
object Cleanup {
  def engineTmp(): Unit = {
    val pid = ProcessHandle.current().pid()
    val rt = Option(new java.io.File("/tmp/graft_rt").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(s"_$pid"))
    (new java.io.File(s"/tmp/graft_warehouse_$pid") +: rt).filter(_.exists).foreach(delete)
  }
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
