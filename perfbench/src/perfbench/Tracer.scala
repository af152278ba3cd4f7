package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans from outside the engine, kept in memory for the traced run:
  * Spark jobs (tagged with the operation and phase local properties the
  * harness sets before each call, and with the job's call-site source
  * file), their stages and tasks, and each executed query's planning
  * phases (`qe.tracker.phases`, attributed to the operation whose
  * interval holds the first phase's start). Timed runs never construct one.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._
  private val jobs = mutable.LinkedHashMap[Int, JobSpan]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageSpan]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val phases = mutable.ArrayBuffer[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the job's call site ("parquet at Tables.scala:15") names the final
    // stage; keep the source file
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val file = site.split(" at ").last.takeWhile(_ != ':')
    jobs(e.jobId) = JobSpan(e.jobId, prop(OpProp), prop(PhaseProp), file, e.time, -1L)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageSpan(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    synchronized { phases += QeRec(start, ms("analysis"), ms("optimization"), ms("planning")) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Per-layer totals over the operations in `ops` (wall-clock ms
    * intervals), attributed by the operation tag each job carries.
    */
  def layers(ops: Seq[OpRec]): Map[String, Double] = synchronized {
    val ids = ops.map(_.id.toString).toSet
    val js = jobs.values.filter(j => ids(j.op)).toSeq
    val jobIds = js.map(_.id).toSet
    val st = stages.filter(s => jobIds(s.job))
    val stageIds = st.map(_.id).toSet
    val tk = tasks.filter(t => stageIds(t.stage))
    def jobS(p: JobSpan => Boolean) = js.filter(p).map(j => (j.end - j.start) / 1e3).sum
    val qes = phases.filter(q => ops.exists(o => q.start >= o.wall0 && q.start <= o.wall1))
    val wallS = ops.map(o => (o.wall1 - o.wall0) / 1e3).sum
    val runS = tk.map(_.runMs).sum / 1e3
    // operation wall time during which none of its tasks (or, for the
    // ETL driver share, none of its jobs) was running
    def uncovered(o: OpRec, iv: Seq[(Long, Long)]): Double =
      (o.wall1 - o.wall0 - coveredMs(iv.map { case (a, b) =>
        (math.max(a, o.wall0), math.min(b, o.wall1)) })) / 1e3
    val byOp = js.groupBy(_.op)
    val stageByJob = st.groupBy(_.job)
    val taskByStage = tk.groupBy(_.stage)
    val taskFree = ops.map { o =>
      val iv = byOp.getOrElse(o.id.toString, Nil).flatMap(j => stageByJob.getOrElse(j.id, Nil))
        .flatMap(s => taskByStage.getOrElse(s.id, Nil)).map(t => (t.launch, t.finish))
      uncovered(o, iv)
    }.sum
    val jobFree = ops.map(o =>
      uncovered(o, byOp.getOrElse(o.id.toString, Nil).map(j => (j.start, j.end)))).sum
    Map(
      "tables.schema_jobs" -> js.count(_.site == "Tables.scala").toDouble,
      "tables.schema_s" -> jobS(_.site == "Tables.scala"),
      "build.jobs" -> js.count(_.phase == "build").toDouble,
      "plan.analysis_ms" -> qes.map(_.analysisMs).sum.toDouble,
      "plan.optimization_ms" -> qes.map(_.optMs).sum.toDouble,
      "plan.planning_ms" -> qes.map(_.planMs).sum.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> tk.size.toDouble,
      "sched.task_free_s" -> taskFree,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> tk.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tk.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> (if (wallS > 0) runS / (wallS * Runtime.getRuntime.availableProcessors) else 0.0),
      "io.input_bytes" -> tk.map(_.inBytes).sum.toDouble,
      "io.shuffle_write_bytes" -> tk.map(_.shW).sum.toDouble,
      "io.shuffle_read_bytes" -> tk.map(_.shR).sum.toDouble,
      "io.spill_bytes" -> tk.map(_.spill).sum.toDouble,
      "etl.json_sink_s" -> jobS(_.site == "JsonArraySink.scala"),
      "etl.jdbc_stage_s" -> jobS(_.site == "JdbcUpsert.scala"),
      "etl.driver_s" -> jobFree)
  }

  /** The span tree, one JSON object per line: workload → operation →
    * phase (build / execute) → job → stage. Operations and phases come
    * from the harness; jobs and stages from the listener.
    */
  def writeSpans(path: String, workload: String, ops: Seq[OpRec]): Unit = synchronized {
    val out = new PrintWriter(path)
    def span(id: String, name: String, parent: String, s: Long, e: Long,
        extra: Map[String, Any] = Map.empty) =
      out.println(Report.json(Map("id" -> id, "name" -> name, "parent" -> parent,
        "start_ms" -> s, "end_ms" -> e) ++ extra))
    if (ops.nonEmpty) span("w", workload, "", ops.map(_.wall0).min, ops.map(_.wall1).max)
    ops.foreach { o =>
      span(s"op${o.id}", s"${o.kind}:${o.name}", "w", o.wall0, o.wall1, Map("ok" -> o.ok))
      span(s"op${o.id}.build", "build", s"op${o.id}", o.wall0, o.buildEnd)
      span(s"op${o.id}.execute", "execute", s"op${o.id}", o.buildEnd, o.wall1)
    }
    val opIds = ops.map(_.id.toString).toSet
    jobs.values.filter(j => opIds(j.op)).foreach { j =>
      val parent = s"op${j.op}.${if (j.phase == "build") "build" else "execute"}"
      span(s"job${j.id}", s"job@${j.site}", parent, j.start, j.end)
    }
    val jobIds = jobs.values.filter(j => opIds(j.op)).map(_.id).toSet
    stages.filter(s => jobIds(s.job)).foreach(s =>
      span(s"stage${s.id}", "stage", s"job${s.job}", s.start, s.end, Map("tasks" -> s.tasks)))
    out.close()
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"

  final case class JobSpan(id: Int, op: String, phase: String, site: String,
      start: Long, var end: Long)
  final case class StageSpan(id: Int, job: Int, start: Long, end: Long, tasks: Int)
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, shW: Long, shR: Long, spill: Long)
  final case class QeRec(start: Long, analysisMs: Long, optMs: Long, planMs: Long)

  /** Length of the union of intervals (ms). */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
