package graft

/** Dev scratchpad: print plan + timing for one named query. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-scratch")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.benchQueries(name)(spark, sfDir)
    df.explain() // simple mode: *(n) marks WholeStageCodegen spans
    // Bench semantics: construction + materialization together, because
    // iterative operators (dedupClusters) do their work eagerly while the
    // frame is being BUILT — timing only the final write would miss it.
    // benchQueries (sort-stripped) so the timed plan is the graded plan.
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.benchQueries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"RUN$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
