package flobench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.engine.FloEngine
import graft.model.VersionVector

/**
 * `log_scan`: bulk writes beside reads on a 3-partition stream. Set-up loads
 * the generated events frame [[Loads]] times; each pass then appends it once
 * more and runs `status`, a glob `consumeAll`, a `consume` seeking to the
 * last batch and `tableView`, each written to the `noop` sink.
 */
object LogScan {
  val Stream = "bench"
  val Glob = "/events/p*"
  val SetUps = 3
  val Loads = 4
  val WarmUp = 2
  /** Timed passes per second of `--seconds` (the nominal rate on a 4-CPU machine). */
  val PassesPerSecond = 0.75

  def run(run: Run): Unit = {
    val spark = run.spark
    val frame = graft.Tables.floEvents(spark, run.data)
      .select("partition", "namespace", "parent_counter", "parent_partition", "data")
      .localCheckpoint()
    val batch = frame.count()
    val globRows = frame.filter(col("namespace").startsWith("/events/p")).count()
    val namespaces = frame.select("namespace").distinct().count()

    var engine: FloEngine = null
    var loads = 0L

    def produce(): Unit = {
      run.op("produce") {
        val acked = run.trace.span("engine.produce_bulk")(engine.produce(Stream, frame))
        run.trace.span("engine.bulk_ack_read")(Main.noop(acked))
      }
      loads += 1
    }

    def read(name: String, df: => DataFrame, covered: Long, expected: Long, check: Boolean): Unit = {
      val (ok, s) = Main.time(run.trace.span(name)(run.op(name)(Main.noop(df))))
      if (ok.isDefined) {
        run.sample("read_s" + tag, s)
        run.sample("read_events" + tag, covered.toDouble)
        run.sample("read_returned" + tag, expected.toDouble)
      }
      if (check) run.untimed(run.op(s"$name count")(df.count()).foreach(n =>
        run.check(n == expected, s"$name returned $n rows, expected $expected")))
    }

    def tag = if (run.trace.enabled) "@traced" else ""

    // row counts are checked untimed on the warm-up passes and the last
    // timed pass; status and every produce's head are checked on each pass
    def onePass(check: Boolean): Unit = {
      val (_, ps) = Main.time(produce())
      run.sample("produce_s" + tag, ps)
      val total = loads * batch
      run.trace.span("engine.status") {
        run.op("status")(engine.status(Stream)).foreach(h =>
          run.check(h.values.max == total, s"status head ${h.values.max} != $total"))
      }
      read("engine.consume_glob", engine.consumeAll(Stream, Glob), total, loads * globRows, check)
      val seek = VersionVector((1 to 3).map(_ -> (loads - 1) * batch): _*)
      read("engine.consume_seek", engine.consume(Stream, "/**/*", seek), batch, batch, check)
      read("engine.table_view", engine.tableView(Stream), total, namespaces, check)
    }

    // set-up: a fresh stream loaded `Loads` times; repeated, the last is kept
    val setups = (1 to SetUps).map { i =>
      Main.time {
        if (engine != null) engine.close()
        engine = new FloEngine(spark, s"${run.work}/scan/$i")
        engine.createStream(FloEngine.EventStreamOptions(name = Stream, numPartitions = 3))
        loads = 0
        (1 to Loads).foreach(_ => produce())
      }._2
    }
    val (_, warmS) = Main.time((1 to WarmUp).foreach(_ => onePass(check = true)))
    run.setupS = Main.median(setups) + warmS
    run.samples.clear()

    val timed = math.max(2, math.round(PassesPerSecond * run.seconds).toInt)
    (0 until timed).foreach(i => run.pass(i)(onePass(check = i == timed - 1)))

    run.counts("batch_events") = batch
    run.counts("setups") = SetUps
    run.counts("setup_loads") = Loads
    run.counts("warmup_passes") = WarmUp
    run.counts("timed_passes") = timed
    run.counts("stream_events") = loads * batch
    if (run.traced) layers(run, engine, batch)
    engine.close()
  }

  private def layers(run: Run, engine: FloEngine, batch: Long): Unit = {
    val t = run.trace
    t.drain()
    def ms(spans: Seq[Span]) = spans.map(s => (s.end - s.start) / 1e6)
    val produces = t.spansNamed("engine.produce_bulk")
    val pw = produces.flatMap(t.workUnder)
    // the count job is the one collect in produce; the write's jobs run
    // under AQE, whose call sites do not name the engine
    def jobS(count: Boolean) = pw.flatMap(_.jobMs.collect {
      case (site, v) if site.startsWith("collect at FloEngine") == count => v
    }).sum / 1e3 / math.max(1, produces.size)
    val produceS = ms(produces).sum / 1e3 / math.max(1, produces.size)
    run.layers("engine.bulk_count_job_s") = jobS(count = true)
    run.layers("engine.bulk_write_job_s") = jobS(count = false)
    run.layers("engine.bulk_outside_jobs_s") =
      produceS - run.layers("engine.bulk_count_job_s") - run.layers("engine.bulk_write_job_s")
    run.layers("engine.bulk_shuffle_write_bytes") =
      pw.map(_.shuffleWriteBytes).sum.toDouble / math.max(1, produces.size)

    val reads = Seq("engine.consume_glob", "engine.consume_seek", "engine.table_view")
      .flatMap(t.spansNamed)
    val execs = reads.flatMap(t.executionsIn)
    val planMs = execs.map(_.planMs.toDouble).sum
    run.layers("engine.read_plan_ms") = planMs / math.max(1, reads.size)
    run.layers("engine.read_execute_ms") = (ms(reads).sum - planMs) / math.max(1, reads.size)
    run.layers("engine.read_files_scanned") =
      execs.map(_.filesScanned).sum.toDouble / math.max(1, reads.size)
    val scanned = execs.map(_.rowsScanned).sum.toDouble
    run.layers("engine.read_rows_scanned") = scanned / math.max(1, reads.size)
    val returned = run.samples.get("read_returned@traced").map(_.sum).getOrElse(0.0)
    run.layers("engine.read_useful_ratio") = if (scanned == 0) 0.0 else returned / scanned
    run.layers("engine.status_ms") = Main.median(ms(t.spansNamed("engine.status")))
    run.layers("engine.stream_files") = Option(new java.io.File(s"${engine.root}/$Stream").listFiles())
      .map(_.filter(_.getName.startsWith("partition="))
        .map(d => d.list().count(_.endsWith(".parquet"))).sum).getOrElse(0).toDouble
    Spark.layers(run,
      produces ++ t.spansNamed("engine.bulk_ack_read") ++ reads ++ t.spansNamed("engine.status"))
  }
}
