package perfbench

/** The run record: end-to-end metrics, per-layer metrics, operation
  * counts, distinct failure messages and percentile sample counts.
  */
object Report {
  /** Linear-interpolated percentile; None without samples. */
  def pct(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }

  private def metric(v: Option[Double], unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  /** Geometric mean of each operation's median latency over successful
    * runs, so every query, write path and read weighs the same and one
    * kind's speed-up moves it. None without a successful operation.
    */
  def medianGmean(ok: Seq[OpRec]): Option[Double] = {
    val medians = ok.groupBy(_.group).values.flatMap(rs => pct(rs.map(_.ns / 1e9), 0.5)).toSeq
    if (medians.isEmpty) None else Some(math.exp(medians.map(math.log).sum / medians.size))
  }

  def record(ctx: Ctx, w: Workload, workload: String, seed: Long, seconds: Double,
      trace: Boolean, setupS: Double, measured: Seq[OpRec], loopS: Double): Map[String, Any] = {
    val ok = measured.filter(_.ok)
    val prim = ok.filter(_.kind == w.primary).map(_.ns / 1e9)
    // a cycle counts only when every operation in it succeeded
    val cycles = measured.groupBy(_.pass).values.filter(_.forall(_.ok))
      .map(_.map(_.ns / 1e9).sum).toSeq
    val passS = if (workload == "etl_landing") {
      if (prim.isEmpty) None else Some(loopS / prim.size)
    } else pct(cycles, 0.5)
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
    val failed = measured.count(!_.ok)
    val e2e = Map(
      "setup_s" -> metric(Some(setupS), "s", 1),
      "op_median_gmean_s" -> metric(medianGmean(ok), "s", ok.size),
      "pass_s" -> metric(passS, "s", if (workload == "etl_landing") prim.size else cycles.size),
      s"${w.primary}_p50_s" -> metric(pct(prim, 0.5), "s", prim.size),
      s"${w.primary}_p90_s" -> metric(pct(prim, 0.9), "s", prim.size),
      "rss_peak_mb" -> metric(rss, "MB", 1),
      "failed_share" -> metric(Some(failed.toDouble / math.max(measured.size, 1)), "share",
        measured.size)) ++
      w.extra(measured, loopS).map { case (k, (v, unit)) => k -> metric(v, unit, ok.size) }
    val byKind = measured.groupBy(_.kind).map { case (k, rs) =>
      k -> Map("attempted" -> rs.size, "succeeded" -> rs.count(_.ok))
    }
    val perOp = measured.groupBy(_.group).map { case (k, rs) =>
      k -> Map("n" -> rs.size, "ok" -> rs.count(_.ok),
        "median_s" -> pct(rs.filter(_.ok).map(_.ns / 1e9), 0.5),
        "p90_s" -> pct(rs.filter(_.ok).map(_.ns / 1e9), 0.9))
    }
    Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "spark_version" -> ctx.spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "cores" -> Runtime.getRuntime.availableProcessors,
      "attempted" -> measured.size, "failed" -> failed, "cycles" -> measured.map(_.pass).distinct.size,
      "loop_s" -> loopS, "setup_phases" -> ctx.setupPhases.toMap,
      "cycle_s" -> measured.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.ns / 1e9).sum),
      "cycle_steal_share" -> ctx.cycleSteal.toSeq,
      "operations" -> byKind, "errors" -> ctx.errors.toMap,
      "metrics" -> e2e, "per_operation" -> perOp)
  }

  /** Per-layer metrics over the traced cycles, per cycle (one pass over
    * the query list, one landed file or one lakehouse rotation). The ETL
    * sink metrics cover the landed-file operations only, per file.
    */
  def layers(w: Workload, t: Tracer, plain: Seq[OpRec],
      traced: Seq[OpRec]): Map[String, Any] = {
    val cycles = math.max(traced.map(_.pass).distinct.size, 1).toDouble
    val files = traced.filter(_.kind == "file")
    val perFile = t.layers(files).map { case (k, v) => k -> v / math.max(files.size, 1) }
    val etl = perFile.filter(_._1.startsWith("etl.")) +
      ("etl.jobs_per_file" -> perFile("sched.jobs"))
    val per = (t.layers(traced).filter { case (k, _) => !k.startsWith("etl.") } ++
        w.layers(traced, t)).map { case (k, v) =>
      k -> (if (k == "exec.core_util" || k.endsWith("_per_source_row") ||
        k == "log.read.files_scanned") v else v / cycles)
    }
    def perCycle(ops: Seq[OpRec]) =
      ops.map(_.ns).sum / 1e9 / math.max(ops.map(_.pass).distinct.size, 1)
    val warm = plain.filter(_.pass > 1)
    val overhead = if (warm.isEmpty) 0.0 else perCycle(traced) / perCycle(warm) - 1
    val all = per ++ etl ++ Map(
      "build.s" -> traced.map(r => (r.buildEnd - r.wall0) / 1e3).sum / cycles,
      "trace.overhead_share" -> overhead)
    Main.LayerMetrics.map { case (k, unit) =>
      k -> Map("value" -> all.getOrElse(k, 0.0), "unit" -> unit)
    }.toMap
  }

  /** JSON for the run record, span lines and reference files; Scala maps,
    * sequences and options (None → null) included.
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}
