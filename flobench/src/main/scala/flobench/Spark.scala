package flobench

/** The `spark.*` layer: plan and execute work under the given spans,
  * per traced pass. */
object Spark {
  def layers(run: Run, spans: Seq[Span]): Unit = {
    val t = run.trace
    val passes = math.max(1, run.passes.count(_._2)).toDouble
    val work = spans.flatMap(t.workUnder)
    val wallS = spans.map(s => (s.end - s.start) / 1e9).sum
    val taskRunS = work.map(_.taskRunMs).sum / 1e3
    run.layers("spark.plan_ms") = spans.flatMap(t.executionsIn).map(_.planMs).sum / passes
    run.layers("spark.execute_s") = work.flatMap(_.jobMs.values).sum / 1e3 / passes
    run.layers("spark.execute_jobs") = work.map(_.jobs).sum / passes
    run.layers("spark.stages") = work.map(_.stages).sum / passes
    run.layers("spark.tasks") = work.map(_.tasks).sum / passes
    run.layers("spark.shuffle_write_bytes") = work.map(_.shuffleWriteBytes).sum / passes
    run.layers("spark.spill_bytes") = work.map(_.spillBytes).sum / passes
    run.layers("spark.task_run_s") = taskRunS / passes
    run.layers("spark.busy_ratio") =
      if (wallS == 0) 0.0 else taskRunS / (wallS * run.spark.sparkContext.defaultParallelism)
    run.layers("spark.gc_ms") = work.map(_.gcMs).sum / passes
  }
}
