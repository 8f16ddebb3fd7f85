package flobench

import scala.collection.mutable

import graft.engine.FloEngine

/**
 * `log_append`: single-event produce with a synchronous ack, one client in a
 * closed loop, while a `consumeStreamOrdered` tail runs on the same stream.
 * Each append waits for both its ack and its delivery to the tail. A pass is
 * a block of [[Block]] appends; the run is a fixed number of appends so that
 * every run ends with the same stream size.
 */
object LogAppend {
  val Stream = "bench"
  val Namespace = "/events"
  val PayloadBytes = 1024
  val SetUps = 3
  val WarmUp = 30
  val Block = 5
  /** Timed appends per second of `--seconds` (the nominal rate on a 4-CPU machine). */
  val AppendsPerSecond = 4
  val VisibleTimeoutMs = 20000L

  /** The tailing consumer: records when each counter reached the handler. */
  final class Tail(engine: FloEngine) {
    val delivered = mutable.ArrayBuffer.empty[Long]
    private val arrival = mutable.HashMap.empty[Long, Long]

    val query = engine.consumeStreamOrdered(Stream, Namespace) { batch =>
      val counters = batch.select("event_counter").collect().map(_.getLong(0))
      val now = System.nanoTime()
      synchronized {
        counters.foreach { c => delivered += c; arrival(c) = now }
        notifyAll()
      }
    }

    /** When `counter` reached the handler, waiting up to the timeout. */
    def await(counter: Long): Option[Long] = synchronized {
      val deadline = System.currentTimeMillis() + VisibleTimeoutMs
      while (!arrival.contains(counter) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      arrival.get(counter)
    }

    def stop(): Unit = query.stop()
  }

  final class Producer(run: Run, dir: String, rnd: scala.util.Random) {
    val engine = new FloEngine(run.spark, dir)
    engine.createStream(FloEngine.EventStreamOptions(name = Stream, numPartitions = 1))
    val tail = new Tail(engine)
    var appended = 0L
    var lost = false

    /** One append; returns (ack ms, visible ms) when both happened. */
    def append(): Option[(Double, Double)] = run.trace.span("append", appended + 1) {
      val expected = appended + 1
      val payload = rnd.alphanumeric.take(PayloadBytes).mkString
      val t0 = System.nanoTime()
      val acked = run.op("produceStrings") {
        run.trace.span("engine.produce", expected) {
          engine.produceStrings(Stream, 1, Seq(Namespace -> payload))
        }
      }.flatMap(frame => run.op("ack read") {
        run.trace.span("engine.ack_read", expected)(frame.collect())
      })
      val t1 = System.nanoTime()
      appended = expected
      acked.foreach { rows =>
        run.check(rows.length == 1 &&
          rows(0).getAs[Long]("event_counter") == expected &&
          rows(0).getAs[String]("namespace") == Namespace &&
          java.util.Arrays.equals(rows(0).getAs[Array[Byte]]("data"), payload.getBytes("UTF-8")),
          s"append $expected: ack is not the one event sent with counter $expected")
      }
      val seen = tail.await(expected)
      run.check(seen.isDefined, s"append $expected: not delivered to the tail within $VisibleTimeoutMs ms")
      if (seen.isEmpty) lost = true
      for (_ <- acked; v <- seen) yield ((t1 - t0) / 1e6, (v - t0) / 1e6)
    }

    def close(): Unit = { tail.stop(); engine.close() }
  }

  def run(run: Run): Unit = {
    val timed = math.max(Block, (AppendsPerSecond * run.seconds + Block - 1) / Block * Block)

    // set-up: a fresh engine, stream and running tail, up to the first
    // append seen by the tail; repeated, and the last one is kept
    val setups = (1 to SetUps).map { i =>
      Main.time {
        val p = new Producer(run, s"${run.work}/append/$i", new scala.util.Random(run.seed + i))
        p.append()
        p
      }
    }
    setups.init.foreach(_._1.close())
    val p = setups.last._1
    val (_, warmS) = Main.time((1 to WarmUp).foreach(_ => if (!p.lost) p.append()))
    run.setupS = Main.median(setups.map(_._2)) + warmS

    (0 until timed / Block).foreach { b =>
      if (!p.lost) run.pass(b) {
        (1 to Block).foreach { _ =>
          p.append().foreach { case (ack, vis) =>
            val tag = if (run.trace.enabled) "@traced" else ""
            run.sample("ack_ms" + tag, ack)
            run.sample("visible_ms" + tag, vis)
          }
        }
      }
    }

    val total = p.appended
    val head = run.op("status")(p.engine.status(Stream))
    head.foreach(h => run.check(h.get(1).contains(total),
      s"status head ${h.get(1)} != $total appends"))
    p.tail.synchronized {
      run.check(p.tail.delivered.toSeq == (1L to total),
        s"tail delivered ${p.tail.delivered.size} counters, not 1..$total once each in order")
    }
    run.counts("setups") = SetUps
    run.counts("warmup_appends") = WarmUp + 1
    run.counts("timed_appends") = timed
    run.counts("stream_events") = total
    if (run.traced) layers(run, p)
    p.close()
  }

  private def layers(run: Run, p: Producer): Unit = {
    val t = run.trace
    t.drain()
    val appends = t.spansNamed("append")
    val n = math.max(1, appends.size).toDouble
    val work = appends.flatMap(t.workUnder)
    run.layers("engine.produce_call_ms") =
      Main.median(t.spansNamed("engine.produce").map(s => (s.end - s.start) / 1e6))
    run.layers("engine.ack_read_ms") =
      Main.median(t.spansNamed("engine.ack_read").map(s => (s.end - s.start) / 1e6))
    run.layers("engine.jobs_per_append") = work.map(_.jobs).sum / n
    run.layers("engine.tasks_per_append") = work.map(_.tasks).sum / n
    val streamDir = new java.io.File(s"${p.engine.root}/$Stream/partition=1")
    run.layers("engine.stream_files") =
      Option(streamDir.list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0).toDouble
    val triggers = t.allTriggers
    Seq("trigger" -> "triggerExecution", "latest_offset" -> "latestOffset",
      "planning" -> "queryPlanning", "add_batch" -> "addBatch", "wal_commit" -> "walCommit")
      .foreach { case (name, key) =>
        run.layers(s"streaming.${name}_ms") =
          Main.median(triggers.flatMap(_.durations.get(key)).map(_.toDouble))
      }
    run.layers("streaming.batches") = triggers.size
    run.layers("streaming.rows_per_batch") =
      if (triggers.isEmpty) 0.0 else triggers.map(_.rows).sum.toDouble / triggers.size
  }
}
