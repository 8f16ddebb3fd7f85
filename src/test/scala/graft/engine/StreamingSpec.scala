package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.FloEngine.EventStreamOptions
import graft.model.{VersionVector, VersionVectorAggregator}

/** Streaming semantics (SURVEY §2.9) beyond the basic tail tests. */
class StreamingSpec extends SparkSuite {

  private def newEngine(partitions: Int = 1): (FloEngine, String) = {
    val root = tempDir("flo-streaming")
    val e = new FloEngine(spark, root)
    e.createStream(EventStreamOptions(name = "default", numPartitions = partitions))
    (e, root)
  }

  test("ordered egress emits strict (counter, partition) order per batch (O1)") {
    val (e, _) = newEngine(partitions = 3)
    (1 to 30).foreach { i => e.produceStrings("default", 1 + (i % 3), Seq(s"/o/$i" -> "")) }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = e.consumeStreamOrdered("default") { batch =>
      val counters = batch.collect().map(_.getAs[Long]("event_counter"))
      seen.synchronized { seen ++= counters }
    }
    try q.processAllAvailable() finally q.stop()
    assert(seen.toSeq == (1L to 30L), "events must arrive in global counter order")
  }

  test("cumulative maxEvents stops the ordered stream at the budget (O2, consumer_stream/mod.rs:65-88)") {
    val (e, _) = newEngine()
    // 5 produce batches of 20 -> 5 files; 1 file per trigger would give 5
    // micro-batches, but the budget of 30 must cut delivery mid-batch-2
    (1 to 5).foreach { b =>
      e.produceStrings("default", 1, (1 to 20).map(i => (s"/lim/$b/$i", "")))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var batches = 0
    val q = e.consumeStreamOrdered("default", maxEvents = Some(30L),
        maxFilesPerTrigger = Some(1)) { batch =>
      val counters = batch.collect().map(_.getAs[Long]("event_counter"))
      seen.synchronized { seen ++= counters; if (counters.nonEmpty) batches += 1 }
    }
    q.awaitTermination(120000)
    assert(seen.toSeq == (1L to 30L),
      s"expected exactly events 1..30 in order, got ${seen.take(40)}")
    assert(batches >= 2, s"budget should span >=2 micro-batches, got $batches")
    assert(!q.isActive, "query must stop itself once the budget is exhausted")
  }

  test("maxEvents = 0 means CONSUME_UNLIMITED on the stream path too (O2)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 15).map(i => (s"/u/$i", "")))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = e.consumeStreamOrdered("default", maxEvents = Some(0L)) { batch =>
      val counters = batch.collect().map(_.getAs[Long]("event_counter"))
      seen.synchronized { seen ++= counters }
    }
    try {
      q.processAllAvailable()
      assert(seen.toSeq == (1L to 15L),
        s"0 budget must deliver everything (unlimited), got ${seen.toSeq}")
      assert(q.isActive, "unlimited stream keeps tailing; it must not self-stop")
    } finally q.stop()
  }

  test("watermarked tumbling windows aggregate event time (T5)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 12).map(i => (s"/w/${i % 2}", "")))
    val q = e.consumeWindowed("default", "/w/*", windowDuration = "1 hour")
      .writeStream.format("memory").queryName("windowed")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("windowed").collect()
    // all events share one produce timestamp -> one window per namespace
    assert(rows.map(_.getAs[Long]("count")).sum == 12)
    assert(rows.length == 2)
  }

  test("redelivered events are deduplicated by id (T7)") {
    val (e, root) = newEngine()
    e.produceStrings("default", 1, (1 to 5).map(i => (s"/r/$i", "")))
    // simulate at-least-once redelivery: duplicate a segment file on disk
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$root/default/partition=1")
    val file = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, file, fs,
      new Path(dir, "redelivered-" + file.getName), false,
      spark.sparkContext.hadoopConfiguration)

    val raw = e.consumeAll("default")
    assert(raw.count() == 10, "duplicate segment should double-deliver")
    val deduped = e.dedupRedelivered(raw)
    assert(deduped.count() == 5)

    // streaming variant drops duplicates within the watermark horizon
    val q = e.consumeStreamDeduped("default")
      .writeStream.format("memory").queryName("dedup_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("dedup_stream").count() == 5)
  }

  test("batch flow control paces consumption by files per trigger (T4)") {
    val (e, _) = newEngine()
    (1 to 3).foreach { i => e.produceStrings("default", 1, Seq(s"/f/$i" -> "")) }
    var batches = 0
    val q = e.consumeStream("default", maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches += 1
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // 3 produce batches = 3 files; 1 file per trigger = 3 non-empty batches
    assert(batches == 3, s"expected 3 paced batches, got $batches")
  }

  test("byte-budget flow control paces the parquet stream (T4 analog)") {
    val (e, _) = newEngine()
    (1 to 4).foreach { i => e.produceStrings("default", 1, Seq(s"/byte/$i" -> ("x" * 100))) }
    var batches = 0
    // 1-byte budget admits at least one file per trigger but never several
    val q = e.consumeStream("default", maxBytesPerTrigger = Some(1L))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches += 1
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batches == 4, s"expected 4 byte-paced batches, got $batches")
  }

  test("checkpointed streaming consume resumes without redelivery (T3)") {
    val (e, _) = newEngine()
    val ckpt = tempDir("flo-ckpt")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = e.consumeStream("default")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= b.collect().map(_.getAs[Long]("event_counter")) }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    e.produceStrings("default", 1, (1 to 5).map(i => (s"/c/$i", "")))
    run()
    assert(out.sorted.toSeq == (1L to 5L))
    // second incarnation of the query must pick up ONLY the new events
    e.produceStrings("default", 1, (6 to 8).map(i => (s"/c/$i", "")))
    run()
    assert(out.sorted.toSeq == (1L to 8L), s"redelivery or loss: ${out.sorted}")
  }

  test("consumerPosition recovers the vv from a checkpoint; batch resume continues it") {
    val (e, _) = newEngine(partitions = 2)
    val ckpt = tempDir("flo-pos")
    e.produceStrings("default", 1, (1 to 3).map(i => (s"/p/$i", "")))
    e.produceStrings("default", 2, (1 to 2).map(i => (s"/q/$i", "")))
    val q = e.consumeStream("default")
      .writeStream.format("memory").queryName("postrack")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val vv = e.consumerPosition(ckpt)
    assert(vv.entries == e.status("default"),
      s"checkpoint position ${vv.entries} != heads ${e.status("default")}")

    // produce more, then batch-consume FROM the recovered position:
    // exactly the new events, none of the old
    e.produceStrings("default", 1, Seq("/p/new" -> ""))
    val resumed = e.consume("default", "/**/*", vv).collect()
    assert(resumed.map(_.getAs[String]("namespace")).toSeq == Seq("/p/new"))
  }

  test("consumerPosition skips processed files that retention removed; a resume re-delivers, never skips") {
    val (e, _) = newEngine(partitions = 2)
    val ckpt = tempDir("flo-pos-expired")
    e.produceStrings("default", 2, Seq("/q/old" -> ""))
    e.produceStrings("default", 1, Seq("/p/old" -> ""))
    Thread.sleep(30)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(30)
    e.produceStrings("default", 1, Seq("/p/1" -> "", "/p/2" -> ""))
    val q = e.consumeStream("default")
      .writeStream.format("memory").queryName("posexpired")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("posexpired").count() == 4)

    // both old files were processed; partition 2's only file is now gone
    assert(e.expireOldEvents("default", cutoff).size == 2)
    val vv = e.consumerPosition(ckpt)
    assert(vv.entries == Map(1 -> 4L, 2 -> 0L), vv)

    e.produceStrings("default", 1, Seq("/p/new" -> ""))
    e.produceStrings("default", 2, Seq("/q/new" -> ""))
    val resumed = e.consume("default", "/**/*", vv).collect()
    assert(resumed.map(_.getAs[String]("namespace")).toSeq == Seq("/p/new", "/q/new"))
  }

  test("stream-static dimension join enriches consumed events (§2.3)") {
    val (e, _) = newEngine(partitions = 2)
    e.produceStrings("default", 1, Seq("/j/a" -> ""))
    e.produceStrings("default", 2, Seq("/j/b" -> ""))
    import spark.implicits._
    val dims = Seq((1, "alpha"), (2, "beta")).toDF("partition_key", "region_name")
    val joined = e.consumeStream("default", "/j/*")
      .join(dims, col("partition") === col("partition_key"))
    val q = joined.writeStream.format("memory").queryName("enriched")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("enriched").orderBy("event_counter")
      .select("namespace", "region_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("/j/a", "alpha"), ("/j/b", "beta")))
  }

  test("session_window builtin sessionizes a consumed stream (T5)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 6).map(i => (s"/sw/$i", "")))
    import org.apache.spark.sql.functions._
    val q = e.consumeStream("default", "/sw/*")
      .withWatermark("timestamp", "10 seconds")
      .groupBy(session_window(col("timestamp"), "5 minutes"), col("partition"))
      .count()
      .writeStream.format("memory").queryName("sesswin")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("sesswin").collect()
    // one produce batch -> one timestamp -> a single session holding all 6
    assert(rows.length == 1 && rows.head.getAs[Long]("count") == 6)
  }

  test("stream-stream event-time range join holds state across micro-batches (T5 x J)") {
    // both sides LIVE: clicks join purchases of the same user within the
    // following hour — Structured Streaming's symmetric hash join with
    // watermark-bounded state, the production shape when the enrichment
    // side is itself a stream (stream-static covers the fixed-dim case
    // above). The time-range condition + watermarks are what let Spark
    // evict join state; without them state grows unboundedly.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Long)] // (click_id, user, epoch-sec)
    val buys = MemoryStream[(Long, Long, Long)]   // (buy_id, user, epoch-sec)
    val c = clicks.toDF().toDF("click_id", "user", "cs")
      .select(col("click_id"), col("user"), timestamp_seconds(col("cs")).as("cts"))
      .withWatermark("cts", "1 minute")
    val b = buys.toDF().toDF("buy_id", "buser", "bs")
      .select(col("buy_id"), col("buser"), timestamp_seconds(col("bs")).as("bts"))
      .withWatermark("bts", "1 minute")
    val joined = c.join(b, col("user") === col("buser") &&
      col("cts") >= col("bts") &&
      col("cts") < col("bts") + expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName("sstream_join").start()
    try {
      clicks.addData((1L, 1L, 100L), (2L, 1L, 4000L), (3L, 2L, 100L))
      buys.addData((10L, 1L, 50L), (11L, 2L, 200L))
      q.processAllAvailable()
      // cross-batch: the buy arrives AFTER the click's micro-batch — the
      // click must still match from retained state
      buys.addData((12L, 1L, 3900L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sstream_join").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("buy_id"))).toSet
    // click1@100 in buy10's [50, 3650); click2@4000 only in buy12's
    // [3900, 7500) (cross-batch); click3 (user 2) precedes buy11 - no match
    assert(got == Set((1L, 10L), (2L, 12L)), s"got $got")
  }

  test("StreamingQueryListener observes consumer progress (ConsumerNotifier analog, §2.10)") {
    val (e, _) = newEngine()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rowsSeen = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          event: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          event: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        rowsSeen.addAndGet(event.progress.numInputRows)
      }
      override def onQueryTerminated(
          event: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      e.produceStrings("default", 1, (1 to 7).map(i => (s"/l/$i", "")))
      val q = e.consumeStream("default", "/l/*")
        .writeStream.format("memory").queryName("listened")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      // listener events are delivered asynchronously
      var waited = 0
      while (rowsSeen.get() < 7 && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(rowsSeen.get() == 7, s"listener saw ${rowsSeen.get()} rows")
      assert(batches.get() >= 1)
    } finally spark.streams.removeListener(listener)
  }

  test("flatMapGroupsWithState tracks the vv cursor across batches and restarts") {
    val (e, _) = newEngine(partitions = 2)
    val ckpt = tempDir("flo-vvprog")
    def drain(): Seq[graft.streaming.VvProgress.PartitionProgress] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[graft.streaming.VvProgress.PartitionProgress]
      val q = e.consumeProgress("default")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.VvProgress.PartitionProgress],
           _: Long) =>
            out.synchronized { out ++= b.collect() }
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      out.toSeq
    }

    e.produceStrings("default", 1, (1 to 3).map(i => (s"/vp/$i", "")))
    e.produceStrings("default", 2, (1 to 2).map(i => (s"/vq/$i", "")))
    val first = drain()
    assert(first.map(p => p.partition -> p.head).toMap == e.status("default"))
    assert(first.map(p => p.partition -> p.events_total).toMap == Map(1 -> 3L, 2 -> 2L))

    // STATE survives the restart: totals accumulate, heads advance
    e.produceStrings("default", 1, Seq("/vp/4" -> ""))
    val second = drain()
    assert(second.map(p => p.partition -> p.events_total).toMap == Map(1 -> 4L),
      s"state lost or duplicated across restart: $second")
    assert(second.head.head == e.status("default")(1))
    assert(second.head.batch_events == 1L)
  }

  test("produceStream replicates one engine's stream into another (async producer parity)") {
    val (a, _) = newEngine()
    val rootB = tempDir("flo-replica")
    val b = new FloEngine(spark, rootB)
    b.createStream(EventStreamOptions("replica", numPartitions = 1))

    // THREE produce batches (= three source files) land before the first
    // trigger: the replicating batch must sort by source counter, because
    // file order within a micro-batch is arbitrary
    a.produceStrings("default", 1, (1 to 5).map(i => (s"/r/$i", s"v$i")))
    a.produceStrings("default", 1, (6 to 9).map(i => (s"/r/$i", s"v$i")))
    a.produceStrings("default", 1, (10 to 12).map(i => (s"/r/$i", s"v$i")))
    val q = b.produceStream("replica", a.consumeStream("default"),
      checkpointDir = Some(tempDir("flo-replica-ckpt")))
    try {
      q.processAllAvailable()
      assert(b.consumeAll("replica").count() == 12)
      // live tail: new events on A flow into B in the next micro-batch,
      // counters stay contiguous on the replica
      a.produceStrings("default", 1, (13 to 15).map(i => (s"/r/$i", s"v$i")))
      q.processAllAvailable()
      val got = b.consumeAll("replica").orderBy("event_counter").collect()
      assert(got.map(_.getAs[Long]("event_counter")).toSeq == (1L to 15L))
      // replica counter order REPRODUCES source counter order exactly
      assert(got.map(_.getAs[String]("namespace")).toSeq ==
        (1 to 15).map(i => s"/r/$i"))
    } finally q.stop()
  }

  test("produceStream skips re-delivered batch ids (idempotent retry marker)") {
    val (a, _) = newEngine()
    val rootB = tempDir("flo-idem")
    val b = new FloEngine(spark, rootB)
    b.createStream(EventStreamOptions("replica", numPartitions = 1))
    a.produceStrings("default", 1, (1 to 5).map(i => (s"/i/$i", "")))

    // prime the marker as if batches <= 1000 already committed: the fresh
    // query's batch 0 must be SKIPPED (the retried-epoch path)
    val ckpt = tempDir("flo-idem-ckpt")
    b.batchTracker(ckpt).commit(1000L)
    val q = b.produceStream("replica", a.consumeStream("default"), Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    assert(b.consumeAll("replica").count() == 0, "replayed batch must not re-append")
    assert(b.batchTracker(ckpt).lastCommitted == 1000L)

    // the marker LIVES IN the checkpoint: deleting the checkpoint to
    // reprocess from scratch resets it too (no stale-skip data loss)
    val fs = new Path(ckpt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(ckpt), true)
    assert(b.batchTracker(ckpt).lastCommitted == -1L)

    // an independent checkpoint tracks independently and produces normally
    val q2 = b.produceStream("replica", a.consumeStream("default"),
      Some(tempDir("flo-idem-ckpt2")))
    try q2.processAllAvailable() finally q2.stop()
    assert(b.consumeAll("replica").count() == 5)
    // marker writes are atomic (tmp+rename), re-commit advances, and the
    // cached value matches a fresh read
    val t = b.batchTracker(tempDir("flo-idem-ckpt3"))
    assert(t.lastCommitted == -1L)
    t.commit(0L); t.commit(7L)
    assert(t.lastCommitted == 7L)
  }

  test("version-vector aggregator folds consumed positions (A2)") {
    val (e, _) = newEngine(partitions = 3)
    (1 to 9).foreach { i => e.produceStrings("default", 1 + (i % 3), Seq(s"/v/$i" -> "")) }
    import spark.implicits._
    val vv = e.consumeAll("default")
      .select(col("partition"), col("event_counter"))
      .as[(Int, Long)]
      .select(VersionVectorAggregator.column)
      .first()
    assert(vv == e.status("default"))
    // the aggregated vector resumes consumption exactly at the head
    assert(e.consume("default", "/**/*", VersionVector(vv)).count() == 0)
  }

  test("live table view updates keys across micro-batches and matches the batch view") {
    val (e, _) = newEngine(partitions = 1)
    e.produceStrings("default", 1, Seq("/k/a" -> "v1", "/k/b" -> "b1"))
    val q = e.tableViewStream("default")
      .writeStream.format("memory").queryName("ktable")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def view() = spark.table("ktable").collect()
      .map(r => r.getAs[String]("namespace") ->
        ((r.getAs[Long]("event_counter"),
          new String(r.getAs[Array[Byte]]("data"), "UTF-8"),
          r.getAs[Long]("n_versions")))).toMap
    val v1 = view()
    assert(v1("/k/a") == ((1L, "v1", 1L)) && v1("/k/b") == ((2L, "b1", 1L)))

    // a later produce overwrites /k/a; a restarted AvailableNow run
    // replays the whole log to the same state the batch view computes
    e.produceStrings("default", 1, Seq("/k/a" -> "v2"))
    val q2 = e.tableViewStream("default")
      .writeStream.format("memory").queryName("ktable2")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    val v2 = spark.table("ktable2").collect()
      .map(r => r.getAs[String]("namespace") ->
        ((r.getAs[Long]("event_counter"),
          new String(r.getAs[Array[Byte]]("data"), "UTF-8"),
          r.getAs[Long]("n_versions")))).toMap
    assert(v2("/k/a") == ((3L, "v2", 2L)))
    val batch = e.tableView("default").collect()
      .map(r => r.getAs[String]("namespace") ->
        ((r.getAs[Long]("event_counter"),
          new String(r.getAs[Array[Byte]]("data"), "UTF-8"),
          r.getAs[Long]("n_versions")))).toMap
    assert(v2 == batch, "live view must equal the batch view on the same log")
  }
}
