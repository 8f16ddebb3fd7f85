package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.FloEngine.EventStreamOptions
import graft.model.VersionVector

/**
 * End-to-end engine parity tests mirroring the reference's embedded suite
 * (flo-server/tests/embedded_tests.rs) and sync-client suite
 * (flo-server/tests/sync_client_tests.rs).
 */
class FloEngineSpec extends SparkSuite {

  private def newEngine(partitions: Int = 1): (FloEngine, String) = {
    val root = tempDir("flo-engine")
    val e = new FloEngine(spark, root)
    e.createStream(EventStreamOptions(name = "default", numPartitions = partitions))
    (e, root)
  }

  private def namespaces(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_counter").select("namespace").collect().map(_.getString(0)).toSeq

  test("produce then consume round-trips events in order (embedded_tests.rs:319-338,293-317)") {
    val (e, _) = newEngine()
    val acked = e.produceStrings("default", 1, (1 to 20).map(i => (s"/events/$i", s"payload-$i")))
    assert(acked.count() == 20)

    val out = e.consumeAll("default").collect()
    assert(out.map(_.getAs[Long]("event_counter")).toSeq == (1L to 20L))
    assert(out.map(_.getAs[String]("namespace")).toSeq == (1 to 20).map(i => s"/events/$i"))
    // payload round-trip
    assert(new String(out.head.getAs[Array[Byte]]("data"), "UTF-8") == "payload-1")
  }

  test("counters continue across produce batches (gap-free, contiguous)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/a" -> "1", "/b" -> "2"))
    val second = e.produceStrings("default", 1, Seq("/c" -> "3"))
    assert(second.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(3L))
    assert(e.status("default") == Map(1 -> 3L))
  }

  test("engine recovers the highest counter from an existing log (S5 recovery)") {
    val (e, root) = newEngine()
    e.produceStrings("default", 1, Seq("/a" -> "1", "/b" -> "2"))
    // clean handover: the first writer releases its lease, then a fresh
    // engine over the same root must continue, not restart, the sequence
    e.close()
    val e2 = new FloEngine(spark, root)
    val acked = e2.produceStrings("default", 1, Seq("/c" -> "3"))
    assert(acked.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(3L))
  }

  test("writer lease: a second live engine fails loudly; close() hands over; stale leases are taken over") {
    val (e, root) = newEngine()
    e.produceStrings("default", 1, Seq("/a" -> "1"))

    // a second engine on the SAME root while the first is live: produce
    // must raise descriptively instead of minting a colliding range
    // (flo-server/src/main.rs:38-95 gets this from process ownership)
    val e2 = new FloEngine(spark, root)
    val err = intercept[IllegalStateException] {
      e2.produceStrings("default", 1, Seq("/b" -> "2"))
    }
    assert(err.getMessage.contains("live writer") &&
      err.getMessage.contains("default"), err.getMessage)
    // the refused engine wrote nothing and reserved nothing
    assert(e.status("default") == Map(1 -> 1L))

    // released on close: the second engine now continues the sequence
    e.close()
    val acked = e2.produceStrings("default", 1, Seq("/c" -> "3"))
    assert(acked.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(2L))
    e2.close()

    // lease file gone after close
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")),
      "close() must delete the lease file")
  }

  test("writer lease: a stale (crashed-writer) lease is taken over; a paused writer loses") {
    val (e, root) = newEngine()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")
    def plantLease(owner: String, heartbeatMs: Long): Unit = {
      val out = f.create(lease, true)
      try out.write(s"""{"owner":"$owner"}""".getBytes("UTF-8"))
      finally out.close()
      f.setTimes(lease, heartbeatMs, -1)
    }
    def leaseOwner(): String = {
      val in = f.open(lease)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }

    // simulate a crashed writer: a foreign lease whose heartbeat (mtime)
    // is long past the TTL — produce takes it over with a warning
    plantLease("dead-engine",
      System.currentTimeMillis() - 10 * FloEngine.DefaultWriterLeaseTtlMillis)
    e.produceStrings("default", 1, Seq("/a" -> "1"))
    assert(leaseOwner().contains(e.engineId), leaseOwner())

    // lease LOSS detection: another engine takes over (simulated by a
    // fresh foreign lease — the paused-JVM scenario); the original writer
    // must refuse to produce rather than mint a colliding range
    plantLease("other-engine", System.currentTimeMillis())
    val err = intercept[IllegalStateException] {
      e.produceStrings("default", 1, Seq("/b" -> "2"))
    }
    assert(err.getMessage.contains("TAKEN OVER"), err.getMessage)
    e.close()
    // close() must NOT delete a lease this engine no longer owns
    assert(f.exists(lease) && leaseOwner().contains("other-engine"))
  }

  test("writer lease: a torn (owner-less) lease file wedges only until its mtime goes stale") {
    val (e, root) = newEngine()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")
    // a writer that crashed between the exclusive create and the close
    // leaves a ZERO-BYTE lease: no parsable owner, so the stale-takeover
    // arm that keys on the owner never fires, and pre-fix the exclusive
    // create failed on the existing file forever ('another engine
    // (<unknown>) acquired')
    f.create(lease, true).close()
    // fresh mtime: a torn CONCURRENT create in progress — refuse (once)
    val err = intercept[IllegalStateException] {
      e.produceStrings("default", 1, Seq("/a" -> "1"))
    }
    assert(err.getMessage.contains("acquired the writer lease"), err.getMessage)
    // mtime past the TTL: a crashed creation — taken over, produce works
    f.setTimes(lease,
      System.currentTimeMillis() - 10 * FloEngine.DefaultWriterLeaseTtlMillis, -1)
    val acked = e.produceStrings("default", 1, Seq("/a" -> "1"))
    assert(acked.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(1L))
    e.close()
  }

  test("writer lease: two engines racing one stale lease — exactly one wins, the loser writes nothing") {
    val (e0, root) = newEngine()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")
    val out = f.create(lease, true)
    try out.write("""{"owner":"crashed-engine"}""".getBytes("UTF-8"))
    finally out.close()
    f.setTimes(lease,
      System.currentTimeMillis() - 10 * FloEngine.DefaultWriterLeaseTtlMillis, -1)

    // both observe the stale lease and start takeover simultaneously:
    // the aside-rename + exclusive create + commit-edge re-verify chain
    // must let exactly ONE commit
    val a = new FloEngine(spark, root)
    val b = new FloEngine(spark, root)
    val errors = new java.util.concurrent.ConcurrentHashMap[Int, Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(a, b).zipWithIndex.map { case (eng, i) =>
      val t = new Thread(() => {
        gate.await()
        try eng.produceStrings("default", 1, Seq((s"/race/$i", "")))
        catch { case t: Throwable => errors.put(i, t) }
      })
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join())

    assert(errors.size == 1,
      s"exactly one racer must lose, got ${errors.size}: $errors")
    assert(errors.values.iterator.next().isInstanceOf[IllegalStateException])
    // only the winner's event landed, counters contiguous from 1
    val rows = e0.consumeAll("default").collect()
    assert(rows.length == 1 &&
      rows.head.getAs[Long]("event_counter") == 1L, rows.mkString(","))
    a.close(); b.close(); e0.close()
  }

  test("writer lease: a future-dated heartbeat (clock skew past the TTL) is refused loudly") {
    val (e, root) = newEngine()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")
    val out = f.create(lease, true)
    try out.write("""{"owner":"fast-clock-engine"}""".getBytes("UTF-8"))
    finally out.close()
    f.setTimes(lease,
      System.currentTimeMillis() + 3 * FloEngine.DefaultWriterLeaseTtlMillis, -1)

    val err = intercept[IllegalStateException] {
      e.produceStrings("default", 1, Seq("/a" -> "1"))
    }
    assert(err.getMessage.contains("clock skew") &&
      err.getMessage.contains("FUTURE"), err.getMessage)
    // the skewed lease is left untouched for a human to look at
    assert(f.exists(lease))
    e.close()
  }

  test("commit-edge ownership re-verify aborts a produce whose lease was usurped") {
    val (e, root) = newEngine()
    e.produceStrings("default", 1, Seq("/a" -> "1"))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/default/_writer.lease")
    val out = f.create(lease, true)
    try out.write("""{"owner":"usurper"}""".getBytes("UTF-8"))
    finally out.close()

    // the commit-lock re-verify (produce's last look before files land)
    val err = intercept[IllegalStateException] { e.verifyLeaseOwnership("default") }
    assert(err.getMessage.contains("BEFORE the commit"), err.getMessage)
    // the local claim is dropped: the next produce reports the live writer
    val err2 = intercept[IllegalStateException] {
      e.produceStrings("default", 1, Seq("/b" -> "2"))
    }
    assert(err2.getMessage.contains("live writer"), err2.getMessage)
    e.close()
  }

  test("glob routing fixture (sync_client_tests.rs:179-206)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq(
      "/meals" -> "", "/meals/breakfast" -> "",
      "/meals/breakfast/foods/bacon" -> "", "/meals/breakfast/foods/eggs" -> "",
      "/meals/breakfast/drinks/coffee" -> "", "/meals/lunch" -> "",
      "/meals/lunch/foods/hamburgers" -> "", "/meals/lunch/drinks/soda" -> "").map {
      case (ns, p) => (ns, p)
    })
    assert(namespaces(e.consumeAll("default", "/meals/breakfast/foods/*")) ==
      Seq("/meals/breakfast/foods/bacon", "/meals/breakfast/foods/eggs"))
    assert(namespaces(e.consumeAll("default", "/**/drinks/*")) ==
      Seq("/meals/breakfast/drinks/coffee", "/meals/lunch/drinks/soda"))
    assert(namespaces(e.consumeAll("default", "/meals/breakfast")) ==
      Seq("/meals/breakfast"))
  }

  test("mid-path glob with limit (embedded_tests.rs:222-251)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq(
      "/foo" -> "", "/bar" -> "", "/foo/bar/baz" -> "", "/foo/bar" -> "",
      "/who/bar/qux" -> ""))
    assert(namespaces(e.consumeAll("default", "/**/bar/*", maxEvents = Some(2))) ==
      Seq("/foo/bar/baz", "/who/bar/qux"))
  }

  test("version-vector seek is exclusive and absent partitions are unread (F3/F4)") {
    val (e, _) = newEngine(partitions = 2)
    e.produceStrings("default", 1, (1 to 3).map(i => (s"/p1/$i", "")))
    e.produceStrings("default", 2, (1 to 3).map(i => (s"/p2/$i", "")))

    // exclusive start: from {1 -> counter-of-/p1/1} we get /p1/2, /p1/3 only
    val firstP1 = e.consumeAll("default", "/p1/*").collect().head.getAs[Long]("event_counter")
    val resumed = e.consume("default", "/**/*", VersionVector(1 -> firstP1))
    assert(namespaces(resumed) == Seq("/p1/2", "/p1/3"))

    // re-consume from zero re-delivers event 1 (sync_client_tests.rs:58-81)
    val again = e.consume("default", "/p1/*", VersionVector(1 -> 0L))
    assert(namespaces(again).head == "/p1/1")

    // empty vv reads nothing
    assert(e.consume("default", "/**/*", VersionVector.empty).count() == 0)
  }

  test("multi-partition consume returns global counter order (embedded_tests.rs:168-200)") {
    val (e, _) = newEngine(partitions = 3)
    // round-robin 50 events over partitions 1..3, one produce per event so
    // counters interleave across partitions like flo's shared HighestCounter
    (1 to 50).foreach { i => e.produceStrings("default", 1 + (i % 3), Seq(s"/n/$i" -> "")) }
    val out = e.consume("default", "/**/*", VersionVector.zero(Seq(1, 2, 3))).collect()
    assert(out.map(_.getAs[Long]("event_counter")).toSeq == (1L to 50L))
    assert(out.map(_.getAs[String]("namespace")).toSeq == (1 to 50).map(i => s"/n/$i"))
  }

  test("limit caps the consumed events (consumer max_events, O2)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 30).map(i => (s"/e/$i", "")))
    assert(e.consumeAll("default", maxEvents = Some(10)).count() == 10)
    // 0 = unlimited (CONSUME_UNLIMITED, client.rs:147)
    assert(e.consumeAll("default", maxEvents = Some(0)).count() == 30)
  }

  test("large payload round-trips intact (sync_client_tests.rs:83-100)") {
    val (e, _) = newEngine()
    val big = Array.fill[Byte](1 << 20)(42)
    import spark.implicits._
    val req = Seq((1, "/big", null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Integer], big))
      .toDF("partition", "namespace", "parent_counter", "parent_partition", "data")
    e.produce("default", req)
    val got = e.consumeAll("default").collect().head.getAs[Array[Byte]]("data")
    assert(got.length == (1 << 20) && got.forall(_ == 42))
  }

  test("typed Dataset[FloEvent] view preserves the envelope (SURVEY §1.5)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/typed/x" -> "payload"))
    val ev = e.readTyped("default").collect().head
    assert(ev.event_counter == 1L && ev.partition == 1)
    assert(ev.namespace == "/typed/x")
    assert(ev.parent_counter.isEmpty && ev.parent_partition.isEmpty)
    assert(new String(ev.data, "UTF-8") == "payload")
  }

  test("parent id links survive the round trip (causality, §2.3)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/root" -> ""))
    import spark.implicits._
    val child = Seq((1, "/child", java.lang.Long.valueOf(1L), java.lang.Integer.valueOf(1), Array.empty[Byte]))
      .toDF("partition", "namespace", "parent_counter", "parent_partition", "data")
    e.produce("default", child)
    val events = e.read("default")
    val joined = events.as("c").join(events.as("p"),
      col("c.parent_counter") === col("p.event_counter") &&
        col("c.parent_partition") === col("p.partition"))
      .select(col("c.namespace"), col("p.namespace"))
      .collect()
    assert(joined.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("/child", "/root")))
  }

  test("configured retention drives the tick janitor (S6 policy wiring)") {
    val root = tempDir("flo-retention")
    val e = new FloEngine(spark, root)
    e.createStream(EventStreamOptions("default", 1, eventRetentionMillis = Some(60000)))
    assert(e.streamOptions("default").get.eventRetentionMillis.contains(60000L))
    e.produceStrings("default", 1, Seq("/r/keep" -> ""))
    // everything is younger than 60s: no-op
    assert(e.runRetention("default").isEmpty)
    // pretend the clock jumped 2 minutes: the file expires
    assert(e.runRetention("default", System.currentTimeMillis() + 120000).nonEmpty)
    assert(e.consumeAll("default").count() == 0)
    // forever-retention stream: always a no-op
    e.createStream(EventStreamOptions("forever", 1))
    e.produceStrings("forever", 1, Seq("/f/x" -> ""))
    assert(e.runRetention("forever", System.currentTimeMillis() + 999999999L).isEmpty)
  }

  test("retention janitor drops whole expired files only (S6, embedded_tests.rs:104-146)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/old/1" -> "", "/old/2" -> ""))
    Thread.sleep(50)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(50)
    e.produceStrings("default", 1, Seq("/new/3" -> ""))

    val deleted = e.expireOldEvents("default", cutoff)
    assert(deleted.nonEmpty)
    assert(namespaces(e.consumeAll("default")) == Seq("/new/3"))
    // counters keep advancing after expiry
    val after = e.produceStrings("default", 1, Seq("/new/4" -> ""))
    assert(after.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(4L))
  }

  test("readers survive the janitor deleting files under a planned query (§7.3 #3)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/race/old" -> ""))
    Thread.sleep(30)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(30)
    e.produceStrings("default", 1, Seq("/race/new" -> ""))
    // plan FIRST (file listing happens here), delete UNDER the plan, then run
    val planned = e.consumeAll("default")
    assert(e.expireOldEvents("default", cutoff).nonEmpty)
    val got = planned.collect().map(_.getAs[String]("namespace")).toSeq
    assert(got == Seq("/race/new"), s"reader should skip expired files, got $got")
  }

  test("compaction merges small files, preserves data, keeps pruning tight") {
    val (e, root) = newEngine(partitions = 2)
    (1 to 10).foreach { i => e.produceStrings("default", 1 + (i % 2), Seq(s"/k/$i" -> s"v$i")) }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileCount(p: Int): Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/default/partition=$p"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(fileCount(1) == 5 && fileCount(2) == 5)

    val before = e.consumeAll("default").collect().map(_.getAs[Long]("event_counter")).toSeq
    e.compact("default")
    assert(fileCount(1) == 1 && fileCount(2) == 1)
    val after = e.consumeAll("default").collect().map(_.getAs[Long]("event_counter")).toSeq
    assert(after == before && after == (1L to 10L))
    // counters keep advancing after compaction
    assert(e.produceStrings("default", 1, Seq("/k/next" -> ""))
      .collect().head.getAs[Long]("event_counter") == 11L)
  }

  test("incremental compaction folds only the small tail, mature segments untouched") {
    val (e, root) = newEngine()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$root/default/partition=1")
    def files() = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // one "mature" segment (a padded batch producing a larger file), then a
    // tail of 6 tiny per-append files
    e.produceStrings("default", 1,
      (1 to 50).map(i => s"/big/$i" -> ("x" * 2000)))
    val mature = files().map(_.getPath.getName).toSet
    val matureMax = files().map(_.getLen).max
    (1 to 6).foreach(i => e.produceStrings("default", 1, Seq(s"/small/$i" -> s"v$i")))
    assert(files().length == mature.size + 6)

    val before = e.consumeAll("default").collect()
      .map(_.getAs[Long]("event_counter")).toSeq
    // threshold sits between the tiny files and the mature segment
    val merged = e.compactSmall("default", minFileBytes = matureMax)
    assert(merged(1) == 6, s"must fold exactly the 6 small files: $merged")
    val now = files().map(_.getPath.getName).toSet
    assert(mature.subsetOf(now), "mature segments must not be rewritten")
    assert(now.size == mature.size + 1, s"tail folded to one segment, got $now")
    // data parity, order preserved
    val after = e.consumeAll("default").collect()
      .map(_.getAs[Long]("event_counter")).toSeq
    assert(after == before)
    // idempotent: a single folded file is never re-merged with itself
    assert(e.compactSmall("default", minFileBytes = matureMax)(1) == 0)
    // counters keep advancing
    assert(e.produceStrings("default", 1, Seq("/k/next" -> ""))
      .collect().head.getAs[Long]("event_counter") == before.max + 1)
  }

  test("compaction self-heals duplicates left by a torn rename/delete swap") {
    val (e, root) = newEngine()
    (1 to 6).foreach { i => e.produceStrings("default", 1, Seq(s"/h/$i" -> s"v$i")) }
    // simulate a compact that crashed between rename-in and delete-originals:
    // the same counters exist in two files of one partition dir
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$root/default/partition=1")
    val file = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, file, fs,
      new org.apache.hadoop.fs.Path(dir, s"compacted-dup-${file.getName}"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(e.consumeAll("default").count() == 7, "precondition: duplicate visible")
    e.compact("default")
    val after = e.consumeAll("default").collect().map(_.getAs[Long]("event_counter")).toSeq.sorted
    assert(after == (1L to 6L), s"compact must drop torn-swap duplicates, got $after")
  }

  test("status reports heads for empty and populated partitions (S7)") {
    val (e, _) = newEngine(partitions = 2)
    e.produceStrings("default", 1, Seq("/a" -> ""))
    assert(e.status("default") == Map(1 -> 1L, 2 -> 0L))
    assert(e.listStreams() == Seq("default", "system"))
  }

  test("consuming an unknown stream errors like NoSuchStream (engine/mod.rs:69-82)") {
    val (e, _) = newEngine()
    intercept[NoSuchStream](e.consumeAll("nope"))
  }

  test("one produce batch can span partitions; counters stay contiguous") {
    val (e, _) = newEngine(partitions = 3)
    import spark.implicits._
    val reqs = (1 to 30).map(i => (1 + (i % 3), s"/mix/$i",
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Integer],
        s"p$i".getBytes("UTF-8")))
      .toDF("partition", "namespace", "parent_counter", "parent_partition", "data")
    val acked = e.produce("default", reqs)
    assert(acked.collect().map(_.getAs[Long]("event_counter")).sorted.toSeq == (1L to 30L))
    // each event landed in the partition the request named
    val byPartition = e.consumeAll("default").collect()
      .map(r => r.getAs[String]("namespace") -> r.getAs[Int]("partition")).toMap
    (1 to 30).foreach { i => assert(byPartition(s"/mix/$i") == 1 + (i % 3)) }
  }

  test("unicode namespaces round-trip and glob-match correctly") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq(
      "/café/croissant" -> "买", "/café/日本/ラーメン" -> "",
      "/plain/x" -> ""))
    assert(namespaces(e.consumeAll("default", "/café/*")) == Seq("/café/croissant"))
    assert(namespaces(e.consumeAll("default", "/café/**/*")) ==
      Seq("/café/croissant", "/café/日本/ラーメン"))
    val payload = e.consumeAll("default", "/café/croissant").collect()
      .head.getAs[Array[Byte]]("data")
    assert(new String(payload, "UTF-8") == "买")
    // and through the binary codec too (u32 ns_len is BYTES, not chars)
    val ev = graft.model.FloEvent(1L, 1, new java.sql.Timestamp(0), None, None,
      "/café/日本", "買い物".getBytes("UTF-8"))
    val decoded = graft.sources.FloBinaryCodec.decode(
      graft.sources.FloBinaryCodec.encode(ev), 0).get._1
    assert(decoded.namespace == "/café/日本")
    assert(new String(decoded.data, "UTF-8") == "買い物")
  }

  test("streams have independent counter sequences (engine/mod.rs:40-44)") {
    val (e, _) = newEngine()
    e.createStream(EventStreamOptions(name = "other", numPartitions = 1))
    e.produceStrings("default", 1, Seq("/a" -> "", "/b" -> ""))
    val acked = e.produceStrings("other", 1, Seq("/x" -> ""))
    // "other" starts its own sequence at 1, unaffected by "default"
    assert(acked.collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(1L))
    assert(e.listStreams().sorted == Seq("default", "other", "system"))
    assert(e.status("default") == Map(1 -> 2L) && e.status("other") == Map(1 -> 1L))
  }

  test("prefix globs push a StartsWith filter into the parquet scan") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/meals/breakfast/eggs" -> "", "/other" -> ""))
    val df = e.consumeAll("default", "/meals/*/eggs")
    // (the simple plan string truncates long filter lists — match the prefix)
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).get
    assert(scanLine.substring(scanLine.indexOf("PushedFilters"))
      .contains("StringStartsWith(n"), scanLine)
    // exactness preserved: the regex conjunct still applies
    assert(df.collect().map(_.getAs[String]("namespace")).toSeq ==
      Seq("/meals/breakfast/eggs"))
  }

  test("streaming consume with AvailableNow drains and terminates (T2)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 15).map(i => (s"/s/$i", "")))
    val q = e.consumeStream("default", "/s/*")
      .writeStream.format("memory").queryName("drain1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("drain1").count() == 15)
  }

  test("streaming tail picks up new produces across micro-batches (T1/T3)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, Seq("/t/1" -> ""))
    val q = e.consumeStream("default", "/t/*")
      .writeStream.format("memory").queryName("tail1").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail1").count() == 1)
      e.produceStrings("default", 1, Seq("/t/2" -> "", "/t/3" -> ""))
      q.processAllAvailable()
      val got = spark.table("tail1").orderBy("event_counter")
        .select("namespace").collect().map(_.getString(0)).toSeq
      assert(got == Seq("/t/1", "/t/2", "/t/3"))
    } finally q.stop()
  }

  test("registerView exposes a stream to plain SQL with ns_glob available") {
    val root = tempDir("flo-sqlview")
    val e = new FloEngine(spark, root)
    e.createStream(graft.engine.FloEngine.EventStreamOptions("default", numPartitions = 2))
    e.produceStrings("default", 1, Seq("/a/x" -> "1", "/a/y" -> "2", "/b/z" -> "3"))
    val view = e.registerView("default", "flo_default")
    assert(view == "flo_default")
    val rows = spark.sql(
      s"""SELECT event_counter, namespace FROM $view
         |WHERE ns_glob(namespace, '/a/*') AND event_counter > 1
         |ORDER BY event_counter""".stripMargin).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("/a/y"))
    spark.catalog.dropTempView(view)
  }

  test("tableView compacts the log to the latest event per namespace") {
    val (e, _) = newEngine(partitions = 2)
    e.produceStrings("default", 1,
      Seq("/k/a" -> "v1", "/k/b" -> "b1", "/k/a" -> "v2"))
    e.produceStrings("default", 2, Seq("/k/a" -> "v3-p2"))
    val view = e.tableView("default").collect()
      .map(r => r.getAs[String]("namespace") ->
        ((r.getAs[Long]("event_counter"), r.getAs[Int]("partition"),
          new String(r.getAs[Array[Byte]]("data"), "UTF-8"),
          r.getAs[Long]("n_versions")))).toMap
    // counters are globally contiguous across partitions, so the p2
    // produce (counter 4) is /k/a's latest of its 3 versions
    assert(view("/k/a") == ((4L, 2, "v3-p2", 3L)))
    assert(view("/k/b") == ((2L, 1, "b1", 1L)))
  }

  test("frequentNamespaces surfaces the dominant namespaces with true lower bounds") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1,
      (1 to 40).map(_ => "/hot/a" -> "x") ++
        (1 to 10).map(_ => "/warm/b" -> "y") ++
        (1 to 5).map(i => s"/cold/$i" -> "z"))
    val got = e.frequentNamespaces("default", k = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 40 > 55/(4+1): /hot/a is guaranteed, with a count at most the truth
    assert(got.contains("/hot/a"))
    assert(got("/hot/a") <= 40L && got("/hot/a") >= 40L - 55L / 5)
    assert(got.size <= 4)
  }

  test("graft_consume table function: any stream in FROM position, pure SQL") {
    val root = tempDir("flo-tvf")
    val e = new FloEngine(spark, root)
    e.createStream(graft.engine.FloEngine.EventStreamOptions("default", numPartitions = 1))
    e.produceStrings("default", 1,
      Seq("/a/x" -> "1", "/b/y" -> "2", "/a/z" -> "3"))
    graft.expressions.GraftExtensions.register(spark)
    val rows = spark.sql(
      s"SELECT event_counter, namespace FROM graft_consume('$root', 'default', '/a/*')")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "/a/x"), (3L, "/a/z")))
    // limit argument + join against another relation in the same query
    val joined = spark.sql(
      s"""SELECT c.namespace FROM graft_consume('$root', 'default', '/**/*', 2) c
         |JOIN (SELECT '/a/x' AS ns) probe ON c.namespace = probe.ns""".stripMargin)
    assert(joined.collect().map(_.getString(0)).toSeq == Seq("/a/x"))
    // non-literal / unknown-stream arguments fail loudly, not silently
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_consume('$root', 'nope')").collect()
    }
  }

  test("a fresh engine always hosts the system stream (engine/mod.rs:34-38)") {
    val root = tempDir("flo-system")
    val e = new FloEngine(spark, root)
    assert(e.listStreams() == Seq("system"))
    assert(e.streamExists("system"))
    // idempotent on re-open over the same root
    val e2 = new FloEngine(spark, root)
    assert(e2.listStreams() == Seq("system"))
  }

  test("scheduled janitor drops expired files without an explicit runRetention call") {
    val root = tempDir("flo-janitor")
    val e = new FloEngine(spark, root)
    // 1 ms retention: everything expires immediately
    e.createStream(EventStreamOptions("default", 1, eventRetentionMillis = Some(1L)))
    e.produceStrings("default", 1, Seq("/j/1" -> ""))
    Thread.sleep(20)
    e.startJanitor(tickMillis = Some(50L))
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (e.consumeAll("default").count() > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(e.consumeAll("default").count() == 0, "janitor never dropped the expired file")
    } finally e.stopJanitor()
  }

  test("segmentMaxSizeBytes rolls one oversized produce into multiple files (segment/mod.rs:65-74)") {
    val root = tempDir("flo-rotate")
    val e = new FloEngine(spark, root)
    // ~58-byte rows, 600-byte segments -> ~10 rows per file, 100 rows -> ~10 files
    e.createStream(EventStreamOptions("default", 1, segmentMaxSizeBytes = 600L))
    e.produceStrings("default", 1, (1 to 100).map(i => (f"/seg/$i%03d", "x" * 40)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/default/partition=1"))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(files.length >= 5, s"expected rotation into >=5 files, got ${files.length}")
    // data intact and ordered
    assert(e.consumeAll("default").collect()
      .map(_.getAs[Long]("event_counter")).toSeq == (1L to 100L))
    // retention granularity: a cutoff after commit drops ALL those files but a
    // later batch survives — whole-file drops now operate on rolled segments
    Thread.sleep(30)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(30)
    e.produceStrings("default", 1, Seq("/seg/new" -> ""))
    val dropped = e.expireOldEvents("default", cutoff)
    assert(dropped.size >= 5 && namespaces(e.consumeAll("default")) == Seq("/seg/new"))
  }

  test("footer-stats recovery takes the distributed path on many-file streams") {
    val root = tempDir("flo-manyfiles")
    val e = new FloEngine(spark, root)
    // tiny segments: one produce of 300 rows rolls into ~100 files, past
    // the 64-file threshold where footer reads fan out as a Spark job
    e.createStream(EventStreamOptions("default", 1, segmentMaxSizeBytes = 180L))
    e.produceStrings("default", 1, (1 to 300).map(i => (f"/mf/$i%03d", "x" * 10)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/default/partition=1"))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(nFiles > FloEngine.DriverFooterThreshold, s"only $nFiles files — raise the row count")
    // status + recovery + retention all ride the bulk footer path
    assert(e.status("default") == Map(1 -> 300L))
    e.close()
    val e2 = new FloEngine(spark, root)
    assert(e2.produceStrings("default", 1, Seq("/mf/next" -> ""))
      .collect().head.getAs[Long]("event_counter") == 301L)
    assert(e2.expireOldEvents("default",
      new java.sql.Timestamp(System.currentTimeMillis() + 60000)).size >= nFiles)
  }

  test("concurrent produce calls reserve disjoint counter ranges (highest_counter.rs CAS)") {
    val (e, _) = newEngine()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val futures = (1 to 4).map { t =>
      Future(e.produceStrings("default", 1, (1 to 25).map(i => (s"/c/$t/$i", ""))))
    }
    Await.result(Future.sequence(futures), 120.seconds)
    val ids = e.consumeAll("default").collect().map(_.getAs[Long]("event_counter")).toSeq
    assert(ids.sorted == (1L to 100L), s"overlapping/gapped id ranges: ${ids.sorted.take(20)}...")
  }

  test("streaming consume honors the version-vector start (T3)") {
    val (e, _) = newEngine()
    e.produceStrings("default", 1, (1 to 10).map(i => (s"/v/$i", "")))
    val q = e.consumeStream("default", "/v/*", VersionVector(1 -> 7L))
      .writeStream.format("memory").queryName("vvseek")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("vvseek").orderBy("event_counter")
      .collect().map(_.getAs[Long]("event_counter")).toSeq == Seq(8L, 9L, 10L))
  }

  test("namespace bloom index: pruned consume matches, appends stay visible") {
    val (e, _) = newEngine(partitions = 2)
    // 6 produce batches -> >= 6 segment files, each dominated by one namespace
    for (b <- 1 to 6; p <- 1 to 2) {
      e.produceStrings("default", p,
        (1 to 10).map(i => (s"/topic/t$b", s"b$b-p$p-$i")))
    }
    e.indexNamespaces("default")

    val viaIndex = e.consumeIndexed("default", "/topic/t3")
    val viaGlob = e.consumeAll("default", "/topic/t3")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("event_counter"), r.getAs[Int]("partition"),
        r.getAs[String]("namespace"))).toSeq
    assert(canon(viaIndex) == canon(viaGlob))
    assert(viaIndex.count() == 20)
    // the index pruned: only the files holding /topic/t3 are planned
    val all = e.read("default").inputFiles.length
    assert(viaIndex.inputFiles.length < all,
      s"no pruning: ${viaIndex.inputFiles.length} of $all files")

    // events produced AFTER the index build must still be found (stale
    // index degrades to scanning the unindexed tail, never to a miss)
    e.produceStrings("default", 1, Seq("/topic/t9" -> "late"))
    assert(e.consumeIndexed("default", "/topic/t9").count() == 1)
    // and a stream with no index at all falls back to the glob consume
    val (e2, _) = newEngine()
    e2.produceStrings("default", 1, Seq("/x" -> "1"))
    assert(e2.consumeIndexed("default", "/x").count() == 1)
    // a glob PATTERN routes to the glob path even when an index exists
    // (an equality probe on the pattern text would match nothing)
    assert(e.consumeIndexed("default", "/topic/t*").count() == 121)
  }

  // ------------------------------------------- both produce paths, one contract

  /** Produce requests with string payloads and no parent links (a null
    * partition stays null). */
  private def requestFrame(rows: Seq[(java.lang.Integer, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (p, ns, payload) =>
      (p, ns, null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Integer],
        payload.getBytes("UTF-8"))
    }.toDF("partition", "namespace", "parent_counter", "parent_partition", "data")
  }

  /** The two shapes of one request: driver-resident rows take the local
    * path, the same rows checkpointed take the distributed path. */
  private val producePaths: Seq[(String, DataFrame => DataFrame)] = Seq(
    "driver-local" -> identity[DataFrame],
    "distributed" -> (_.localCheckpoint()))

  private def files(root: String, partition: Int): Seq[String] = {
    val dir = new Path(s"$root/default/partition=$partition")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  private def counters(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("event_counter")).toSeq.sorted

  test("the two request shapes reach the two produce paths") {
    val req = requestFrame(Seq((1, "/a", "x")))
    // produce normalizes with casts; Spark folds them into local rows only
    val local = producePaths.map { case (_, shape) =>
      shape(req).select(col("partition").cast("int"))
        .queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    }
    assert(local == Seq(true, false))
  }

  for ((path, shape) <- producePaths) {
    test(s"$path produce: counters stay contiguous across calls") {
      val (e, _) = newEngine()
      val first = e.produce("default", shape(requestFrame(Seq((1, "/a", "1"), (1, "/b", "2")))))
      assert(counters(first) == Seq(1L, 2L))
      val second = e.produce("default", shape(requestFrame(Seq((1, "/c", "3")))))
      assert(counters(second) == Seq(3L))
      assert(namespaces(e.consumeAll("default")) == Seq("/a", "/b", "/c"))
      assert(e.status("default") == Map(1 -> 3L))
      e.close()
    }

    test(s"$path produce: one batch spans partitions") {
      val (e, root) = newEngine(partitions = 3)
      val acked = e.produce("default",
        shape(requestFrame((1 to 30).map(i => (Int.box(1 + i % 3), s"/mix/$i", s"p$i")))))
      assert(counters(acked) == (1L to 30L))
      val byPartition = e.consumeAll("default").collect()
        .map(r => r.getAs[String]("namespace") -> r.getAs[Int]("partition")).toMap
      (1 to 30).foreach(i => assert(byPartition(s"/mix/$i") == 1 + i % 3))
      // one file per partition for a batch under the segment size
      (1 to 3).foreach(p => assert(files(root, p).count(_.endsWith(".parquet")) == 1))
      e.close()
    }

    test(s"$path produce: segmentMaxSizeBytes rolls one batch into files by the shared rule") {
      val root = tempDir("flo-rotate")
      val e = new FloEngine(spark, root)
      e.createStream(EventStreamOptions("default", 1, segmentMaxSizeBytes = 600L))
      e.produce("default",
        shape(requestFrame((1 to 100).map(i => (Int.box(1), f"/seg/$i%03d", "x" * 40)))))
      // 48 + 8 + 40 = 96 estimated bytes a row -> 6 rows a file -> 17 files
      assert(files(root, 1).count(_.endsWith(".parquet")) == 17, files(root, 1))
      assert(counters(e.consumeAll("default")) == (1L to 100L))
      e.close()
    }

    test(s"$path produce: concurrent calls reserve disjoint counter ranges") {
      val (e, _) = newEngine()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val futures = (1 to 4).map { t =>
        Future(e.produce("default",
          shape(requestFrame((1 to 25).map(i => (Int.box(1), s"/c/$t/$i", ""))))))
      }
      Await.result(Future.sequence(futures), 120.seconds)
      assert(counters(e.consumeAll("default")) == (1L to 100L))
      e.close()
    }

    test(s"$path produce: a lease usurped mid-produce aborts with nothing committed or staged") {
      val (e, root) = newEngine()
      val lease = s"$root/default/${FloEngine.WriterLeaseFile}"
      // plants a foreign lease as the request rows are evaluated: after
      // produce's lease check, before its commit edge
      val usurp = udf { (ns: String) =>
        val p = new Path(lease)
        val out = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).create(p, true)
        try out.write("""{"owner":"usurper"}""".getBytes("UTF-8")) finally out.close()
        ns
      }
      val req = shape(requestFrame(Seq((1, "/u/1", "a"), (1, "/u/2", "b"))))
        .withColumn("namespace", usurp(col("namespace")))
      val err = intercept[IllegalStateException](e.produce("default", req))
      assert(err.getMessage.contains("BEFORE the commit"), err.getMessage)
      // no committed file, no staged file, no checksum sidecar
      assert(files(root, 1).isEmpty, files(root, 1))
      assert(e.status("default") == Map(1 -> 0L))
      e.close()
    }

    test(s"$path produce: a null partition is rejected before any counter is reserved") {
      val (e, root) = newEngine()
      e.produce("default", shape(requestFrame(Seq((1, "/ok/1", "")))))
      val err = intercept[IllegalArgumentException] {
        e.produce("default", shape(requestFrame(Seq((1, "/ok/2", ""), (null, "/bad", "")))))
      }
      assert(err.getMessage.contains("null `partition`"), err.getMessage)
      // nothing written: the head is unchanged, status and consume still work
      assert(e.status("default") == Map(1 -> 1L))
      assert(namespaces(e.consumeAll("default")) == Seq("/ok/1"))
      assert(!new java.io.File(s"$root/default/partition=__HIVE_DEFAULT_PARTITION__").exists())
      // and nothing was reserved: the next event continues the sequence
      assert(counters(e.produce("default", shape(requestFrame(Seq((1, "/ok/3", "")))))) == Seq(2L))
      e.close()
    }
  }

  test("both produce paths write identical parquet footers and ack schemas") {
    import spark.implicits._
    val req = Seq(
      (1, "/f/root", null.asInstanceOf[java.lang.Long], null.asInstanceOf[java.lang.Integer],
        "r".getBytes("UTF-8")),
      (1, "/f/child", java.lang.Long.valueOf(1L), java.lang.Integer.valueOf(1),
        "c".getBytes("UTF-8")))
      .toDF("partition", "namespace", "parent_counter", "parent_partition", "data")
    val conf = spark.sparkContext.hadoopConfiguration
    val outcomes = producePaths.map { case (_, shape) =>
      val (e, root) = newEngine()
      val acked = e.produce("default", shape(req))
      val file = files(root, 1).filter(_.endsWith(".parquet")) match {
        case Seq(one) => new Path(s"$root/default/partition=1/$one")
        case other => fail(s"expected one file, got $other")
      }
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      val ack = acked.collect()
        .map(r => (r.getAs[Long]("event_counter"), r.getAs[String]("namespace"))).toSeq
      e.close()
      (meta.getSchema,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        acked.schema, ack)
    }
    val Seq(local, distributed) = outcomes
    assert(local._1 == distributed._1, s"${local._1} vs ${distributed._1}")
    assert(local._2 != null && local._2 == distributed._2, s"${local._2} vs ${distributed._2}")
    assert(local._3 == distributed._3)
    assert(local._4.sorted == distributed._4.sorted)
  }

  test("one produceStrings call plus its ack collect runs no Spark job") {
    val (e, _) = newEngine()
    // lease acquisition and counter recovery happen on the first call
    e.produceStrings("default", 1, Seq("/warm" -> ""))
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobGroups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("produce-under-test", "one produce and its ack")
      val acked = try e.produceStrings("default", 1, Seq("/one" -> "payload")).collect()
        finally sc.clearJobGroup()
      assert(acked.map(_.getAs[Long]("event_counter")).toSeq == Seq(2L))
      // the listener bus delivers in order: once this job is seen, every
      // job the produce started has been seen too
      sc.setJobGroup("sentinel", "drains the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobGroups.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(jobGroups.contains("sentinel"))
      assert(!jobGroups.contains("produce-under-test"), jobGroups)
    } finally sc.removeSparkListener(listener)
    e.close()
  }

  test("lease locks are keyed by the qualified lease path: `file:/x` and `/x` share one lock") {
    val root = tempDir("flo-leasekey")
    val plain = new FloEngine(spark, root)
    val qualified = new FloEngine(spark, s"file:$root")
    assert(plain.leaseLockKey("default") == qualified.leaseLockKey("default"))
    assert(plain.leaseLockKey("default").startsWith("file:/"), plain.leaseLockKey("default"))
  }

  // ------------------------------------------------------------ segment index

  /** (counter, partition, namespace) rows of a frame, in counter order. */
  private def canon(df: DataFrame): Seq[(Long, Int, String)] = df.collect()
    .map(r => (r.getAs[Long]("event_counter"), r.getAs[Int]("partition"),
      r.getAs[String]("namespace"))).toSeq.sorted

  /** The files the query's parquet scans opened: the scan node's
    * `number of files read` metric, summed, after running it. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum
  }

  /** Bytes this thread has read from the local filesystem so far. */
  private def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.toArray
      .collect { case st: org.apache.hadoop.fs.FileSystem.Statistics if st.getScheme == "file" =>
        st.getThreadStatistics.getBytesRead
      }.sum

  test("segment index: warm and fresh engines agree on status and every version-vector consume") {
    val (e, root) = newEngine(partitions = 3)
    def batch(tag: String, n: Int) =
      requestFrame((1 to n).map(i => (Int.box(1 + i % 3), s"/ix/$tag/$i", s"$tag$i")))
    // files the retention janitor will drop, seen by the index first
    e.produceStrings("default", 1, Seq("/ix/old/1" -> "", "/ix/old/2" -> ""))
    e.produceStrings("default", 2, Seq("/ix/old/3" -> ""))
    e.status("default")
    Thread.sleep(30)
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(30)
    e.produce("default", batch("d1", 30).localCheckpoint())
    (1 to 3).foreach(i => e.produceStrings("default", 1, Seq(s"/ix/l$i" -> "")))
    assert(e.expireOldEvents("default", cutoff).size == 2)
    e.status("default")
    assert(e.compactSmall("default", minFileBytes = 1L << 30).values.sum > 0)
    e.produce("default", batch("l2", 12))
    e.compact("default")
    e.produce("default", batch("d2", 9).localCheckpoint())
    e.produceStrings("default", 3, Seq("/ix/tail" -> ""))

    val truth = spark.read.schema(graft.model.FloSchema.eventType).parquet(s"$root/default")
    val heads = e.status("default")
    assert(heads == truth.groupBy("partition").agg(max("event_counter")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val fresh = new FloEngine(spark, root)
    assert(fresh.status("default") == heads)

    val vectors = Seq(
      "above every head" -> VersionVector(heads.map { case (p, h) => p -> (h + 100) }),
      "partition 2 left out" -> VersionVector(1 -> heads(1) / 2, 3 -> 0L),
      "zero" -> VersionVector.zero(Seq(1, 2, 3)),
      "mid-stream" -> VersionVector(heads.map { case (p, h) => p -> (h - 6) }))
    vectors.foreach { case (name, vv) =>
      val expected = canon(truth.filter(vv.toPredicate(col("partition"), col("event_counter"))))
      val (warm, cold) = (e.consume("default", "/**/*", vv), fresh.consume("default", "/**/*", vv))
      assert(canon(warm) == expected, name)
      assert(canon(cold) == expected, name)
      assert(warm.schema == e.read("default").schema && cold.schema == warm.schema, name)
    }
    assert(e.consume("default", "/**/*", vectors.head._2).isEmpty)
    e.close()
  }

  test("segment index: a second engine on the same root sees the writer's new files") {
    val (writer, root) = newEngine(partitions = 2)
    writer.produceStrings("default", 1, Seq("/w/1" -> "", "/w/2" -> ""))
    val reader = new FloEngine(spark, root)
    assert(reader.status("default") == Map(1 -> 2L, 2 -> 0L))
    val from = VersionVector(1 -> 2L, 2 -> 0L)
    assert(reader.consume("default", "/**/*", from).isEmpty)
    writer.produceStrings("default", 2, Seq("/w/3" -> ""))
    writer.produce("default", requestFrame(Seq((1, "/w/4", ""))).localCheckpoint())
    assert(reader.status("default") == Map(1 -> 4L, 2 -> 3L))
    assert(namespaces(reader.consume("default", "/**/*", from)) == Seq("/w/3", "/w/4"))
    writer.close()
  }

  test("segment index: a seek past all but the newest batch opens only that batch's files") {
    val (e, _) = newEngine(partitions = 3)
    // one request across all partitions per batch: one file per partition
    def batch(b: Int) = requestFrame((1 to 9).map(i => (Int.box(1 + i % 3), s"/b$b/$i", "")))
    (1 to 4).foreach(b => e.produce("default", batch(b)))
    val before = e.status("default").values.max
    e.produce("default", batch(5))
    assert(filesRead(e.consumeAll("default")) == 15)
    val seek = e.consume("default", "/**/*", VersionVector((1 to 3).map(_ -> before): _*))
    assert(filesRead(seek) == 3)
    assert(seek.count() == 9)
    // a user filter on the counter prunes the same way
    assert(filesRead(e.read("default").filter(col("event_counter") === before + 1)) == 1)
    // the distributed path's ack reads back only the files it committed
    val ack = e.produce("default", batch(6).localCheckpoint())
    assert(filesRead(ack) == 3 && ack.count() == 9)
    e.close()
  }

  test("segment index: every counter filter shape prunes files and keeps every matching row") {
    val (e, root) = newEngine(partitions = 2)
    // six files of four contiguous counters: 1-4, 5-8, ..., 21-24
    (1 to 6).foreach(b => e.produceStrings("default", 1 + b % 2, (1 to 4).map(i => s"/f$b/$i" -> "")))
    val truth = spark.read.schema(graft.model.FloSchema.eventType).parquet(s"$root/default")
    val c = col("event_counter")
    val shapes = Seq(
      "col > lit" -> (c > 10, 4),
      "lit < col" -> (lit(10) < c, 4),
      "lit >= col" -> (lit(10) >= c, 3),
      "lit <= col" -> (lit(17) <= c, 2),
      "lit > col" -> (lit(5) > c, 1),
      "between" -> (c.between(5, 8), 1),
      "lit === col" -> (lit(22) === c, 1),
      "in (hull)" -> (c.isin(2, 14), 4),
      "inset" -> (c.isin(13 to 24: _*), 3),
      "or (hull)" -> (c === 6 || c === 22, 5),
      "or with an empty side" -> (c === 6 || (c > 20 && c < 10), 1),
      "and of two sides" -> (c > 6 && c <= 12, 2),
      "below every counter" -> (c < 1, 0),
      "in with a null" -> (c.isin(3, null), 6),
      "not a range" -> (c % 2 === 0, 6))
    shapes.foreach { case (name, (f, files)) =>
      // a fresh frame each: a re-run plan keeps its file listing but not
      // its plan-time metrics
      assert(canon(e.read("default").filter(f)) == canon(truth.filter(f)), name)
      assert(filesRead(e.read("default").filter(f)) == files, name)
    }
    e.close()
  }

  test("segment index: a second status on an unchanged stream opens no footer") {
    val (writer, root) = newEngine(partitions = 2)
    (1 to 3).foreach(i => writer.produceStrings("default", 1 + i % 2, Seq(s"/s/$i" -> "")))
    writer.close()
    val e = new FloEngine(spark, root)
    val cold = localBytesRead()
    val heads = e.status("default")
    val warm = localBytesRead()
    assert(e.status("default") == heads)
    assert(warm > cold, "the first status reads each footer once")
    assert(localBytesRead() == warm, "the second status read file bytes")
  }
}
