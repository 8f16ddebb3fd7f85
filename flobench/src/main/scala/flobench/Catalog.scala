package flobench

/**
 * `catalog`: a fixed list of oracle-backed catalog queries on the generated
 * tables, in a fixed order, each executed to the `noop` sink. Per query the
 * build (the query function returning its DataFrame) and the execute (the
 * sink write) are timed apart. Cache hygiene runs between queries and a GC
 * between passes, outside the timed region. The set-up pass writes every
 * result as parquet for the runner's DuckDB oracle check.
 */
object Catalog {
  val Queries = Seq(
    "dedup_components", "q1_pricing_summary", "q_asof_native", "text_quality_model")
  /** Timed passes per second of `--seconds` (the nominal rate on a 4-CPU machine). */
  val PassesPerSecond = 0.67
  val WarmupPasses = 4

  def run(run: Run): Unit = {
    val spark = run.spark
    val fns = Queries.map(n => n -> graft.SparkEntry.queries(n))

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    def onePass(timed: Boolean): Unit = fns.foreach { case (name, fn) =>
      run.trace.span(s"query.$name") {
        val (df, buildS) = Main.time(run.trace.span("build")(run.op(name)(fn(spark, run.data))))
        df.foreach { d =>
          val (ok, execS) = Main.time(run.trace.span("execute")(run.op(name)(Main.noop(d))))
          if (ok.isDefined && timed) {
            val tag = if (run.trace.enabled) "@traced" else ""
            run.sample(s"$name.build_s$tag", buildS)
            run.sample(s"$name.execute_s$tag", execS)
          }
        }
      }
      run.untimed(hygiene())
    }

    // set-up: one cold pass that writes every result for the oracle check,
    // then untimed warm-up passes; pass times fall by about a third over
    // the first passes after the cold one
    val dump = s"${run.work}/dump"
    run.setupS = Main.time {
      fns.foreach { case (name, fn) =>
        run.op(name)(fn(spark, run.data).write.mode("overwrite").parquet(s"$dump/$name"))
        hygiene()
      }
      (0 until WarmupPasses).foreach { _ =>
        onePass(timed = false)
        System.gc()
      }
    }._2

    val timed = math.max(2, math.round(PassesPerSecond * run.seconds).toInt)
    (0 until timed).foreach { i =>
      run.pass(i)(onePass(timed = true))
      System.gc()
    }

    run.extra("dump_dir") = dump
    run.extra("oracle_sql") = Queries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    run.counts("queries") = Queries.size
    run.counts("warmup_passes") = 1 + WarmupPasses
    run.counts("timed_passes") = timed
    if (run.traced) layers(run)
  }

  private def layers(run: Run): Unit = {
    val t = run.trace
    t.drain()
    val passes = math.max(1, run.passes.count(_._2)).toDouble
    val builds = t.spansNamed("build")
    run.layers("queries.build_s") = builds.map(s => (s.end - s.start) / 1e9).sum / passes
    run.layers("queries.build_jobs") = builds.flatMap(t.workUnder).map(_.jobs).sum / passes
    Queries.foreach { n =>
      Seq("build_s", "execute_s").foreach { k =>
        run.layers(s"query.$n.$k") =
          Main.median(run.samples.getOrElse(s"$n.$k@traced", Nil).toSeq)
      }
    }
    val querySpans = Queries.flatMap(n => t.spansNamed(s"query.$n"))
    run.layers("operators.quality_model_build_s") = querySpans.flatMap(t.workUnder)
      .flatMap(_.jobMs.collect { case (site, ms) if site.contains("QualityModel.scala") => ms })
      .sum / 1e3 / passes
    Spark.layers(run, querySpans)
  }
}
