package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ns_glob
import graft.model.{FloSchema, VersionVector}

/**
 * Embedded event-stream engine: the Spark rendering of flo's server core
 * (reference: flo-server/src/engine; embedded mode flo-server/src/embedded/mod.rs:21-78).
 *
 * A stream is a directory of partition subdirs of parquet files:
 * {{{ <root>/<stream>/partition=<p>/&#42;.parquet }}}
 * The `partition=` layout makes Spark's partition pruning replace flo's
 * per-partition readers (SURVEY §1.5). A per-stream [[SegmentIndex]]
 * replaces flo's in-memory counter→offset index (partition/index.rs:24-36):
 * one entry per segment file, holding its `event_counter` min/max and
 * `timestamp` max, read from the parquet footer once and kept under the
 * key (path, length, modification time). Committed files are immutable and
 * never reuse a name, so an entry cannot go stale; each listing drops the
 * entries of files that retention or compaction removed. [[status]],
 * counter recovery, [[consumerPosition]] and [[expireOldEvents]] answer
 * from it, and a consume with a version-vector start (or any
 * `event_counter` filter) plans only the files whose counter range can
 * match, so the files below the requested counters are never opened.
 *
 * Scale notes (designed for a real cluster, tested on local):
 *  - produce picks its write path by where the request rows live: rows
 *    already on the driver (the optimized request plan is a
 *    `LocalRelation`, as for `produceStrings`) are appended from the
 *    driver with no Spark job, so a one-event append pays no job or
 *    codegen cost; any other input is `repartition(col("partition"))`-ed
 *    so one task owns one partition's files per batch — flo's
 *    single-writer-per-partition discipline (partition/mod.rs:245-278)
 *    without any global lock. Both commit under the stream's commit lock
 *    after the writer-lease re-check (the local path by renaming
 *    `.`-prefixed staged files in), and both ack with the committed rows;
 *  - consume is a declarative scan: vv + glob predicates push into the
 *    parquet reader (pruning + row-group skipping), ordering is only added
 *    at the egress edge where the caller requires total order;
 *  - the stream-wide highest counter (flo's HighestCounter CAS,
 *    engine/event_stream/highest_counter.rs:7-67) is an engine-local
 *    AtomicLong recovered from file stats on open; producing to one stream
 *    from multiple engines concurrently is out of contract, same as flo's
 *    single-server model — and ENFORCED, not just trusted: a per-stream
 *    writer lease file (acquired on first produce, heartbeated, released
 *    by [[close]], taken over when stale) makes a second live writer fail
 *    loudly instead of minting colliding counter ranges. The reference
 *    gets this for free from process ownership of the data dir
 *    (flo-server/src/main.rs:38-95, process-wide CAS highest_counter.rs);
 *    a multi-engine deployment here would otherwise hit it the first time
 *    two jobs point at one stream.
 */
final class FloEngine(
    val spark: SparkSession, val root: String,
    val writerLeaseTtlMillis: Long = FloEngine.DefaultWriterLeaseTtlMillis) {
  import FloEngine._

  // write INT64-micros timestamps (not legacy INT96): INT96 carries no
  // footer statistics, and the retention janitor prunes whole files from
  // footer max-timestamp alone
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  private val highest = new ConcurrentHashMap[String, AtomicLong]()

  private val segments = new SegmentIndex(spark.sparkContext)

  // per-stream commit lock: concurrent Spark append jobs to one path share
  // the _temporary staging dir (FileOutputCommitter), so file commits must
  // serialize per stream. Id RESERVATION stays lock-free (getAndAdd below) —
  // this is flo's single-writer-per-partition discipline at the file edge.
  private val commitLocks = new ConcurrentHashMap[String, Object]()
  private def commitLock(stream: String): Object =
    commitLocks.computeIfAbsent(stream, _ => new Object)

  // ------------------------------------------------------------ writer lease
  // Cross-engine single-writer enforcement: counter reservation is
  // engine-local (the AtomicLong above), so two engines — separate JVMs or
  // two instances in one JVM — producing to one stream would mint
  // colliding ranges. Each stream carries a `_writer.lease` file (owner id
  // + heartbeat); produce acquires it, a background daemon heartbeats it,
  // close() releases it, and a heartbeat older than `writerLeaseTtlMillis`
  // is taken over with a warning (crashed writer). Takeover picks exactly
  // one winner: the stale lease is renamed ASIDE (atomic — the loser's
  // rename fails on the missing source) rather than deleted, acquisition
  // is an exclusive create confirmed by a post-write ownership re-read,
  // and produce re-verifies ownership under the commit lock immediately
  // before the parquet commit — so even on filesystems whose exclusive
  // create is exists-then-create (RawLocalFileSystem), a racer that loses
  // late fails BEFORE its files land.

  /** This engine instance's identity in lease files. */
  private[engine] val engineId = java.util.UUID.randomUUID().toString

  private val heldLeases = ConcurrentHashMap.newKeySet[String]()
  @volatile private var leaseHeartbeat:
    Option[java.util.concurrent.ScheduledExecutorService] = None

  // engine-side lease ops serialize per stream: concurrent produce calls
  // must not interleave a refresh with a read. The lock registry is
  // JVM-GLOBAL, keyed by the lease path (root + stream) — two engine
  // INSTANCES in one process racing a takeover would otherwise interleave
  // inside RawLocalFileSystem's non-atomic exclusive create (racer B
  // passes the exists check, stalls under load while racer A acquires,
  // verifies and commits, then B's late create truncates A's lease and
  // B's re-read sees itself: BOTH win). Same-process acquisition must
  // serialize (the MutationGuard.acquireLocks discipline); cross-process
  // residual windows stay closed at the commit edge by
  // [[verifyLeaseOwnership]]. The key is the QUALIFIED lease path, so
  // engines opened on equivalent spellings of one root (`file:/x`, `/x`)
  // share one lock.
  private def leaseLock(stream: String): Object =
    FloEngine.leaseLocks.computeIfAbsent(leaseLockKey(stream), _ => new Object)

  private[engine] def leaseLockKey(stream: String): String =
    fs(root).makeQualified(leasePath(stream)).toString

  private def leasePath(stream: String) =
    new Path(s"${streamDir(stream)}/${FloEngine.WriterLeaseFile}")

  /** (owner, heartbeat millis). The owner is written ONCE at acquisition
    * (write-then-rename, atomic); the heartbeat is the file's
    * MODIFICATION TIME, refreshed via setTimes — the content is never
    * rewritten in place, so a concurrent reader can never observe a torn
    * lease. */
  private def readLease(stream: String): Option[(String, Long)] = {
    val f = fs(root)
    val p = leasePath(stream)
    try {
      if (!f.exists(p)) None
      else {
        val st = f.getFileStatus(p)
        val in = f.open(p)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"owner":"([^"]+)"""".r.findFirstMatchIn(json)
          .map(m => (m.group(1), st.getModificationTime))
      }
    } catch {
      // another engine's close()/takeover removed the lease between the
      // exists() and the read: that IS an absent lease, not a failure —
      // the caller retries the acquire path
      case _: java.io.FileNotFoundException => None
      // a CONCURRENT writer's create+write left the checksummed local FS's
      // .crc sidecar momentarily inconsistent with the content — a torn
      // concurrent create, same shape as the unparsable-owner case: treat
      // as absent; the caller's exclusive create / ownership re-read then
      // adjudicates (the reader loses loudly, never wins on torn state)
      case _: org.apache.hadoop.fs.ChecksumException => None
    }
  }

  /** Acquisition write: owner json via EXCLUSIVE create (overwrite =
    * false) — atomic on HDFS; POSIX rename-onto-destination OVERWRITES,
    * so the previous write-then-rename scheme let two local-FS racers
    * both believe they won. RawLocalFileSystem implements exclusive
    * create as exists-then-create (not atomic either), so acquisition is
    * additionally confirmed by [[ensureWriterLease]]'s post-write
    * ownership re-read, and [[produce]] re-verifies ownership under the
    * commit lock immediately before committing files — a racer that
    * loses late fails with nothing written. A torn concurrent read (file
    * created, owner json not yet visible) parses as an absent lease and
    * sends that reader back through this create, where it loses. */
  private def writeLeaseFile(stream: String): Boolean = {
    val f = fs(root)
    try {
      val out = f.create(leasePath(stream), false)
      try out.write(s"""{"owner":"$engineId"}""".getBytes("UTF-8"))
      finally out.close()
      true
    } catch {
      // ONLY the lost-the-race shapes map to false (the caller reports
      // "another engine acquired"): the file already existing, or a
      // FNFE-adjacent race (the stream dir or the parent vanishing under
      // a concurrent takeover's rename). A generic IOException is a REAL
      // I/O failure — disk full, permissions — and must propagate, not
      // masquerade as a winner named <unknown>.
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.FileNotFoundException => false
      case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("exists") => false
    }
  }

  private def touchLease(stream: String): Unit =
    fs(root).setTimes(leasePath(stream), System.currentTimeMillis(), -1)

  /**
   * Acquire/verify the writer lease for `stream`, called by every
   * [[produce]]: refresh (mtime touch) when we own it, acquire when
   * absent, take over when stale, FAIL DESCRIPTIVELY when another
   * writer's heartbeat is fresh — the enforcement of flo's single-writer
   * model (embedded_tests.rs:293-317's contiguity guarantee depends on
   * it). The ownership re-read on every produce also catches lease LOSS
   * (this JVM paused past the TTL while another engine took over):
   * producing would then collide, so it fails instead.
   */
  private[engine] def ensureWriterLease(stream: String): Unit = leaseLock(stream).synchronized {
    val now = System.currentTimeMillis()
    readLease(stream) match {
      case Some((owner, _)) if owner == engineId =>
        // refresh heartbeat; the lease can vanish between the read and the
        // touch (a concurrent takeover's rename-aside after this JVM
        // stalled past the TTL) — setTimes then throws a raw FNFE, which
        // is lease LOSS, reported loudly like any other takeover
        try touchLease(stream)
        catch { case _: java.io.FileNotFoundException =>
          heldLeases.remove(stream)
          throw new IllegalStateException(
            s"writer lease for stream `$stream` under $root vanished " +
              "mid-refresh (a concurrent takeover renamed it aside) — " +
              "this engine was stalled past the lease TTL and must not produce")
        }
      case Some((owner, hb)) if hb - now > writerLeaseTtlMillis =>
        // a heartbeat more than a TTL in the FUTURE can never go stale by
        // this engine's clock: the writers' clocks disagree by more than
        // the protocol tolerates (see [[FloEngine.DefaultWriterLeaseTtlMillis]]'s
        // clock-sync assumption) — refuse rather than misjudge liveness
        throw new IllegalStateException(
          s"writer lease for stream `$stream` under $root (engine $owner) " +
            s"has a heartbeat ${hb - now} ms in the FUTURE — clock skew " +
            s"between writers exceeds the lease TTL ($writerLeaseTtlMillis " +
            "ms), so staleness cannot be judged: synchronize clocks (the " +
            "lease protocol assumes NTP-level agreement) or raise " +
            "writerLeaseTtlMillis above the skew")
      case Some((owner, hb)) if now - hb < writerLeaseTtlMillis =>
        val held = heldLeases.contains(stream)
        heldLeases.remove(stream)
        throw new IllegalStateException(
          (if (held)
            s"writer lease for stream `$stream` under $root was TAKEN OVER " +
              s"by engine $owner (heartbeat ${now - hb} ms ago) — this " +
              "engine was stalled past the lease TTL and must not produce " +
              "(its counter range may collide)"
          else
            s"stream `$stream` under $root already has a live writer " +
              s"(engine $owner, heartbeat ${now - hb} ms ago, TTL " +
              s"$writerLeaseTtlMillis ms): one engine owns a stream's " +
              "counters at a time — close() the other writer, or wait for " +
              "its lease to go stale (crashed writers are taken over " +
              "automatically)"))
      case other =>
        val f = fs(root)
        val aside = new Path(
          s"${streamDir(stream)}/.${FloEngine.WriterLeaseFile}.stale.$engineId")
        // RawLocalFileSystem.rename falls back to FileUtil.copy when the
        // native renameTo fails, and copy's getFileStatus(src) throws a RAW
        // FileNotFoundException when a concurrent takeover renamed the
        // source away first — that is the LOST-THE-RENAME-RACE shape, not
        // an I/O failure, so it maps to false (the exclusive create below
        // adjudicates) instead of escaping as a bare FNFE.
        def renameAside(): Boolean =
          try f.rename(leasePath(stream), aside)
          catch { case _: java.io.FileNotFoundException => false }
        other.foreach { case (owner, hb) =>
          FloEngine.log.warn(s"taking over stale writer lease for " +
            s"`$stream` (owner $owner, heartbeat ${now - hb} ms old)")
          // the stale lease is renamed ASIDE, not deleted: rename of a
          // single source is atomic with exactly one winner (the loser's
          // rename fails on the vanished source), whereas delete-then-
          // create would let a second takeover delete the first winner's
          // FRESH lease. Losing the aside rename is not fatal — the
          // exclusive create below adjudicates (the concurrent winner's
          // new lease makes it fail loudly; a release in between lets it
          // succeed).
          f.delete(aside, false) // leftover from this engine's past takeover
          if (renameAside()) f.delete(aside, false)
        }
        if (other.isEmpty) {
          // readLease == None covers TWO on-disk states: no lease file,
          // or a lease file with no parsable owner. The latter is either
          // a torn CONCURRENT create (fresh mtime — fall through and lose
          // the exclusive create below, once) or a writer that CRASHED
          // between create and close (stale mtime) — without this branch
          // that zero-byte lease wedges the stream forever: the stale-
          // takeover arm never fires (no owner to read) while the
          // exclusive create keeps failing on the existing file. Treat
          // owner-less + stale-mtime exactly like a stale lease: rename
          // it aside and acquire.
          try {
            val st = f.getFileStatus(leasePath(stream))
            if (now - st.getModificationTime >= writerLeaseTtlMillis) {
              FloEngine.log.warn(s"taking over torn (owner-less) writer " +
                s"lease for `$stream` (mtime ${now - st.getModificationTime} " +
                "ms old — a writer crashed inside lease creation)")
              f.delete(aside, false)
              if (renameAside()) f.delete(aside, false)
            }
          } catch { case _: java.io.FileNotFoundException => () }
        }
        if (!writeLeaseFile(stream)) {
          // lost the acquire race — report who won
          val winner = readLease(stream).map(_._1).getOrElse("<unknown>")
          throw new IllegalStateException(
            s"stream `$stream` under $root: another engine ($winner) " +
              "acquired the writer lease concurrently")
        }
        val check = readLease(stream)
        if (!check.exists(_._1 == engineId)) throw new IllegalStateException(
          s"stream `$stream` under $root: lost the writer lease to " +
            s"${check.map(_._1).getOrElse("<unknown>")} right after acquiring")
    }
    heldLeases.add(stream)
    startLeaseHeartbeat()
  }

  /** Ownership re-verify at the COMMIT edge (called by [[produce]] under
    * the commit lock, immediately before the parquet commit): the
    * backstop that turns every residual acquire race — RawLocalFileSystem's
    * non-atomic exclusive create, a mutual stale takeover, a JVM pause
    * past the TTL mid-produce — into a loud failure with NOTHING written,
    * instead of committed files under a counter range another writer may
    * re-mint. */
  private[engine] def verifyLeaseOwnership(stream: String): Unit =
    leaseLock(stream).synchronized {
      val cur = readLease(stream)
      if (!cur.exists(_._1 == engineId)) {
        heldLeases.remove(stream)
        throw new IllegalStateException(
          s"stream `$stream` under $root: writer lease is now held by " +
            s"${cur.map(_._1).getOrElse("<absent>")} — aborting produce " +
            "BEFORE the commit (no files written); this engine lost the " +
            "lease between reservation and commit (takeover race or a " +
            "stall past the TTL)")
      }
    }

  /** Daemon that touches held leases at TTL/3 so a live-but-idle
    * producer keeps ownership; a lease found under another owner is
    * dropped (the next produce fails loudly). */
  private def startLeaseHeartbeat(): Unit = synchronized {
    if (leaseHeartbeat.isEmpty) {
      val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-writer-lease-heartbeat")
          t.setDaemon(true); t
        })
      val period = math.max(1L, writerLeaseTtlMillis / 3)
      exec.scheduleWithFixedDelay(
        () => heldLeases.forEach { s =>
          leaseLock(s).synchronized {
            try readLease(s) match {
              case Some((owner, _)) if owner == engineId => touchLease(s)
              case other =>
                FloEngine.log.warn(s"writer lease for `$s` now held by " +
                  s"${other.map(_._1).getOrElse("<absent>")} — dropping local claim")
                heldLeases.remove(s)
            } catch {
              case scala.util.control.NonFatal(e) =>
                FloEngine.log.warn(s"writer-lease heartbeat for `$s` failed: $e")
            }
          }
        },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      leaseHeartbeat = Some(exec)
    }
  }

  /** Release writer leases and background threads. An engine that
    * produced MUST close (or crash — stale leases are taken over after
    * the TTL) before another engine may write the same streams. */
  def close(): Unit = synchronized {
    stopJanitor()
    leaseHeartbeat.foreach(_.shutdownNow())
    leaseHeartbeat = None
    heldLeases.forEach { s =>
      leaseLock(s).synchronized {
        try {
          if (readLease(s).exists(_._1 == engineId))
            fs(root).delete(leasePath(s), false)
        } catch {
          case scala.util.control.NonFatal(e) =>
            FloEngine.log.warn(s"could not release writer lease for `$s`: $e")
        }
      }
    }
    heldLeases.clear()
  }

  // a flo server always hosts a "system" stream (engine/mod.rs:34-38,
  // controller/mod.rs:41-53) — create it at engine construction, idempotent.
  // Tolerate failure (e.g. a read-only root used purely for consumption):
  // an engine over a root it cannot write to is still a valid reader.
  try createStream(EventStreamOptions("system"))
  catch {
    case scala.util.control.NonFatal(e) =>
      FloEngine.log.warn(s"could not create the system stream under $root " +
        s"(read-only root? continuing as a reader): $e")
  }

  private def streamDir(stream: String): String = s"$root/$stream"

  private def fs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------------------------------- catalog

  /** Create a stream (dirs + default "system" stream analog is the caller's
    * choice; reference: engine/event_stream/mod.rs:47-99). Idempotent. */
  def createStream(options: EventStreamOptions): Unit = {
    val dir = fs(root)
    (1 to options.numPartitions).foreach { p =>
      dir.mkdirs(new Path(s"${streamDir(options.name)}/partition=$p"))
    }
    val meta = new Path(s"${streamDir(options.name)}/_stream.json")
    if (!dir.exists(meta)) {
      val out = dir.create(meta, true)
      out.write(options.toJson.getBytes("UTF-8"))
      out.close()
    }
  }

  def streamExists(stream: String): Boolean =
    fs(root).exists(new Path(streamDir(stream)))

  /** Read back a stream's persisted options (engine/event_stream/mod.rs
    * defaults); None when the stream or its metadata file is missing. */
  def streamOptions(stream: String): Option[EventStreamOptions] = {
    val meta = new Path(s"${streamDir(stream)}/_stream.json")
    val f = fs(root)
    if (!f.exists(meta)) None
    else {
      val in = f.open(meta)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      def field(name: String): Option[Long] =
        s""""$name":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      Some(EventStreamOptions(
        name = stream,
        numPartitions = field("numPartitions").map(_.toInt).getOrElse(1),
        eventRetentionMillis = field("eventRetentionMillis").filter(_ >= 0),
        maxSegmentDurationMillis = field("maxSegmentDurationMillis").getOrElse(24L * 3600 * 1000),
        segmentMaxSizeBytes = field("segmentMaxSizeBytes").getOrElse(1L << 30)))
    }
  }

  /** Tick-driven retention using the stream's configured policy (the
    * reference's eviction timer, event_stream/mod.rs:160-195): no-op when
    * retention is "forever". Returns dropped files. */
  def runRetention(stream: String, now: Long = System.currentTimeMillis()): Seq[String] =
    streamOptions(stream).flatMap(_.eventRetentionMillis) match {
      case Some(retention) =>
        expireOldEvents(stream, new java.sql.Timestamp(now - retention))
      case None => Seq.empty
    }

  // ---------------------------------------------------------------- janitor

  @volatile private var janitor: Option[java.util.concurrent.ScheduledExecutorService] = None

  /**
   * Scheduled eviction timer — the reference ticks retention at
   * `max_segment_duration / 3` (event_stream/mod.rs:39-43). Every tick runs
   * each stream's configured retention policy. Idempotent; daemon thread;
   * `stopJanitor()` cancels. `tickMillis` overrides the derived interval
   * (tests use a short tick).
   */
  def startJanitor(tickMillis: Option[Long] = None): Unit = synchronized {
    if (janitor.isEmpty) {
      val tick = tickMillis.getOrElse {
        val durations = listStreams().flatMap(streamOptions(_)).map(_.maxSegmentDurationMillis)
        (if (durations.isEmpty) 24L * 3600 * 1000 else durations.min) / 3
      }.max(1L)
      val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-retention-janitor"); t.setDaemon(true); t
        })
      exec.scheduleWithFixedDelay(
        () => try listStreams().foreach(s => runRetention(s))
              catch {
                // keep ticking, but make the failure observable — a silently
                // dead janitor means unbounded expired data
                case scala.util.control.NonFatal(e) =>
                  FloEngine.log.warn(s"retention janitor tick failed: $e")
              },
        tick, tick, java.util.concurrent.TimeUnit.MILLISECONDS)
      janitor = Some(exec)
    }
  }

  def stopJanitor(): Unit = synchronized {
    janitor.foreach(_.shutdownNow())
    janitor = None
  }

  /** Named streams under the root (reference: engine/mod.rs:40-44). */
  def listStreams(): Seq[String] = {
    val p = new Path(root)
    val f = fs(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Per-partition head counters — `EventStreamStatus` (S7; reference:
    * connection_handler/connection_state.rs:94-114). Partitions with no
    * events report head 0. Answered from the segment index: one listing of
    * the stream, plus a footer read only for files the index has not seen
    * (flo's index recovery, S5, rebuilt from segment metadata — no column
    * scan). */
  def status(stream: String): Map[Int, Long] = {
    val listing = segments.list(streamDir(stream))
    val observed = segments.heads(streamDir(stream), listing.segments)
    listing.partitions.map(p => p -> observed.getOrElse(p, 0L)).toMap ++ observed
  }

  private def declaredPartitions(stream: String): Seq[Int] =
    segments.partitions(streamDir(stream))

  // ---------------------------------------------------------------- produce

  /**
   * Append events (S1): assign the next contiguous counter range, stamp the
   * server timestamp (ms precision), append parquet, ack after commit.
   * The Spark rendering of `PartitionImpl::append_all`
   * (partition/controller/mod.rs:180-274).
   *
   * Two write paths, chosen by where the request rows live — a structural
   * choice, not a size threshold or a setting:
   *  - DRIVER-LOCAL, when the normalized request plan optimizes to a
   *    `LocalRelation` (`produceStrings` and any `Seq(...).toDF` request:
   *    Spark folds the normalizing casts into the local rows). The rows
   *    are collected (a local table scan runs no job), stamped on the
   *    driver, and written with parquet-hadoop over Spark's own
   *    `ParquetWriteSupport` — the files the Spark writer would produce,
   *    with no Spark job at all.
   *  - DISTRIBUTED, for every other input (checkpointed or file-backed
   *    frames, streaming micro-batches). Counter assignment is
   *    distributed, gap-free and order-preserving without a global sort
   *    (a window over the whole batch would funnel everything through one
   *    task at 100 TB): a counting pass collects per-Spark-partition sizes
   *    (fused with the rotation byte stats and the null-partition check),
   *    then the write pass stamps ids from per-partition prefix-sum
   *    offsets — zipWithIndex's mechanism, minus its separate count job.
   *
   * Both paths share the request normalization, reject rows with a null
   * `partition` before anything is reserved, reserve the id range
   * ATOMICALLY (`getAndAdd`) before the write — flo's
   * `HighestCounter::increment_and_get` CAS reservation
   * (highest_counter.rs:7-67, partition/controller/mod.rs:192-215) — so
   * concurrent `produce` calls on one engine get disjoint ranges, and
   * commit under the stream's commit lock right after
   * [[verifyLeaseOwnership]]. The local path stages each file under a
   * `.`-prefixed name inside its `partition=<p>` dir (hidden from Spark
   * listings and from the engine's `.parquet` filters), renames the
   * staged files in at that commit edge, and deletes them on any
   * failure; the distributed path commits through Spark's output
   * committer. A crash between reservation and commit leaves a counter
   * gap, which the total order tolerates.
   *
   * Segment rotation: `segmentMaxSizeBytes` is enforced per batch by
   * deriving a per-file row cap from the batch's average row size
   * ([[maxRecordsPerFile]], one rule for both paths) — one oversized
   * produce rolls into multiple files per partition, giving the retention
   * janitor its whole-file drop granularity (the reference rolls at
   * segment_max_size_bytes, segment/mod.rs:65-74). `maxSegmentDuration`
   * holds structurally: appends never reopen a committed file, so a file's
   * time span is bounded by its batch.
   *
   * Ack: the returned frame holds exactly the committed events, with their
   * ids and timestamps — like flo's `AckEvent{op_id, event_id}` carries
   * the assigned id. On the local path it is a `LocalRelation` of those
   * rows, so collecting the ack runs no job and lists no files; on the
   * distributed path it reads the committed counter range back, and the
   * segment index plans only the files that hold that range.
   */
  def produce(stream: String, requests: DataFrame): DataFrame = {
    if (!streamExists(stream)) throw new NoSuchStream(stream)
    // single-writer enforcement BEFORE counter reservation: a second live
    // engine must fail here, not reserve a colliding range
    ensureWriterLease(stream)
    val counter = highestCounter(stream)
    // server-assigned timestamp, ms precision (flo-event/src/lib.rs:51-53)
    val now = new java.sql.Timestamp(System.currentTimeMillis())

    val in = requests.select(
      col("partition").cast("int").as("partition"),
      col("namespace").cast("string").as("namespace"),
      col("parent_counter").cast("long").as("parent_counter"),
      col("parent_partition").cast("int").as("parent_partition"),
      col("data").cast("binary").as("data"))

    in.queryExecution.optimizedPlan match {
      case _: LocalRelation => produceLocal(stream, in, counter, now)
      case _ => produceDistributed(stream, in, counter, now)
    }
  }

  /** The driver-local path of [[produce]]: `in` is a local relation. */
  private def produceLocal(
      stream: String, in: DataFrame, counter: AtomicLong,
      now: java.sql.Timestamp): DataFrame = {
    val rows = in.collect()
    requireNoNullPartitions(stream, rows.count(_.isNullAt(0)).toLong)
    val n = rows.length.toLong
    val perFile = maxRecordsPerFile(stream, n,
      rows.iterator.map(r => encodedRowBytes(r.getString(1), r.getAs[Array[Byte]](4))).sum)
    val base = counter.getAndAdd(n)
    val events = rows.zipWithIndex.map { case (r, i) =>
      Row(base + 1 + i, r.getInt(0), now, r.get(2), r.get(3), r.get(1), r.get(4))
    }

    // one file per partition per chunk, rows in counter order — the layout
    // the distributed path's single writer task per partition produces
    val f = fs(root)
    val fileSchema = StructType(
      StructField("event_counter", LongType, nullable = false) +:
        StructField("timestamp", TimestampType, nullable = false) +:
        Seq("parent_counter", "parent_partition", "namespace", "data").map(in.schema(_)))
    val conf = localWriteConf(fileSchema)
    val codec = parquetCodec()
    val job = java.util.UUID.randomUUID()
    val files = events.groupBy(_.getInt(1)).toSeq.sortBy(_._1).flatMap { case (p, group) =>
      val chunks = perFile.fold(Iterator.single(group))(m =>
        group.grouped(math.min(m, Int.MaxValue.toLong).toInt))
      chunks.zipWithIndex.map { case (chunk, k) =>
        val dir = s"${streamDir(stream)}/partition=$p"
        val name = f"part-00000-$job.c$k%03d${codec.getExtension}.parquet"
        (new Path(dir, s".$name.staged"), new Path(dir, name), chunk)
      }
    }
    val micros = DateTimeUtils.fromJavaTimestamp(now)
    try {
      files.foreach { case (staged, _, chunk) =>
        val writer = new LocalParquetWriterBuilder(HadoopOutputFile.fromPath(staged, conf))
          .withConf(conf).withCompressionCodec(codec).build()
        try chunk.foreach { e =>
          val ns = e.getString(5)
          writer.write(new GenericInternalRow(Array[Any](e.getLong(0), micros, e.get(3), e.get(4),
            if (ns == null) null else UTF8String.fromString(ns), e.get(6))))
        } finally writer.close()
      }
      commitLock(stream).synchronized {
        verifyLeaseOwnership(stream) // last look before files land
        files.foreach { case (staged, dst, _) =>
          if (!f.rename(staged, dst))
            throw new java.io.IOException(s"produce could not commit $staged -> $dst")
        }
      }
    } catch {
      case e: Throwable =>
        files.foreach { case (staged, _, _) =>
          try f.delete(staged, false)
          catch { case scala.util.control.NonFatal(d) => e.addSuppressed(d) }
        }
        throw e
    }
    spark.createDataFrame(java.util.Arrays.asList(events: _*), AckSchema)
  }

  /** The distributed path of [[produce]]: `in` is any non-local frame. */
  private def produceDistributed(
      stream: String, in: DataFrame, counter: AtomicLong,
      now: java.sql.Timestamp): DataFrame = {
    // exactly TWO passes over the cached input (the minimum for gap-free
    // contiguous ids): one fused counting pass (per-Spark-partition sizes,
    // encoded byte totals and null partitions — what zipWithIndex's
    // internal count job does, plus the rotation stats and the request
    // check for free), then the id-stamping write pass
    in.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rdd = in.rdd
      val perPart = rdd.mapPartitionsWithIndex { (i, it) =>
        var cnt = 0L
        var bytes = 0L
        var nullPartitions = 0L
        it.foreach { r =>
          cnt += 1
          if (r.isNullAt(0)) nullPartitions += 1
          bytes += encodedRowBytes(r.getAs[String]("namespace"), r.getAs[Array[Byte]]("data"))
        }
        Iterator.single((i, cnt, bytes, nullPartitions))
      }.collect().sortBy(_._1)
      requireNoNullPartitions(stream, perPart.map(_._4).sum)

      val n = perPart.map(_._2).sum
      val base = counter.getAndAdd(n)
      // exclusive prefix sums: Spark partition i stamps ids
      // (base + starts(i), base + starts(i) + cnt(i)]
      val starts = perPart.map(_._2).scanLeft(0L)(_ + _)

      val schema = StructType(
        in.schema.fields :+ StructField("event_counter", LongType, nullable = false))
      val withIds = spark.createDataFrame(
        rdd.mapPartitionsWithIndex { (i, it) =>
          var c = base + starts(i)
          it.map { row => c += 1; Row.fromSeq(row.toSeq :+ c) }
        }, schema)

      val events = withIds.select(
        col("event_counter"),
        col("partition"),
        lit(now).as("timestamp"),
        col("parent_counter"),
        col("parent_partition"),
        col("namespace"),
        col("data"))

      // one writer task per partition per batch (single-writer discipline)
      val writer = events.repartition(col("partition"))
        .write.mode(SaveMode.Append).partitionBy("partition")
      maxRecordsPerFile(stream, n, perPart.map(_._3).sum)
        .foreach(m => writer.option("maxRecordsPerFile", m))
      commitLock(stream).synchronized {
        verifyLeaseOwnership(stream) // last look before files land
        writer.parquet(streamDir(stream))
      }
      // canonical envelope order, as the local path's ack (a read puts the
      // `partition` directory column last)
      consumeRange(stream, base + 1, base + n)
        .select(FloSchema.eventType.fieldNames.toIndexedSeq.map(col): _*)
    } finally in.unpersist(false)
  }

  /** Segment rotation, one rule for both produce paths: the most rows one
    * file may hold so it stays near the stream's `segmentMaxSizeBytes`,
    * from the batch's average encoded row size. None when the stream has
    * no options file. */
  private def maxRecordsPerFile(stream: String, n: Long, totalBytes: Long): Option[Long] = {
    val avgRowBytes = if (n == 0) 48.0 else math.max(1.0, totalBytes.toDouble / n)
    streamOptions(stream).map(o => math.max(1L, (o.segmentMaxSizeBytes / avgRowBytes).toLong))
  }

  private def requireNoNullPartitions(stream: String, nulls: Long): Unit =
    if (nulls > 0) throw new IllegalArgumentException(
      s"produce to `$stream`: $nulls request row(s) have a null `partition` — " +
        "every event must name its partition (nothing was reserved or written)")

  /** Hadoop conf for the local path's parquet writer: the session's hadoop
    * conf plus the SQL settings `ParquetWriteSupport.init` reads (it fails
    * on any of them missing) and the row schema. */
  private def localWriteConf(schema: StructType): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => conf.set(e.key, spark.conf.get(e.key)))
    ParquetWriteSupport.setSchema(schema, conf)
    conf
  }

  /** The session's parquet codec, named as Spark's writer names it. */
  private def parquetCodec(): CompressionCodecName =
    spark.conf.get(SQLConf.PARQUET_COMPRESSION.key).toLowerCase(java.util.Locale.ROOT) match {
      case "none" => CompressionCodecName.UNCOMPRESSED
      case c => CompressionCodecName.fromConf(c)
    }

  /**
   * Streaming produce (the reference's async producer client,
   * flo-client-lib/src/async: a long-lived connection appending as events
   * arrive): each micro-batch of `requests` appends through [[produce]],
   * so id assignment, rotation, and ack-after-commit semantics are
   * identical to batch produce, and counters stay contiguous across
   * batches. With a checkpoint this is at-least-once — a replayed batch
   * re-produces with NEW ids (flo producer retries behave the same); use
   * parent ids or payload dedup downstream when exactly-once matters.
   *
   * Composes with [[consumeStream]] for engine-to-engine replication:
   * `b.produceStream("s", a.consumeStream("s"), Some(ckpt))`. When the
   * incoming frame carries source `event_counter`/`partition` columns
   * (any consume view does), each batch is sorted by them before the
   * append so replica ids preserve SOURCE counter order even when a
   * micro-batch spans several source files (file order within a batch is
   * otherwise arbitrary).
   *
   * With a checkpoint, re-delivered batch ids (a retried epoch after a
   * mid-batch failure) are SKIPPED via a commit marker stored INSIDE the
   * checkpoint directory — Spark's documented foreachBatch-idempotence
   * recipe. Living in the checkpoint ties the marker's lifetime to the
   * batch-id sequence it guards: deleting the checkpoint to reprocess
   * from scratch also resets the marker (a marker that outlived its
   * checkpoint would silently skip real data). The remaining duplicate
   * window is a crash between the parquet commit and the marker write;
   * flo's own producer retries have the same at-least-once edge.
   */
  def produceStream(
      stream: String,
      requests: DataFrame,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val hasSourceOrder = Seq("event_counter", "partition")
      .forall(requests.columns.contains)
    val tracker = checkpointDir.map(batchTracker)
    val writer = requests.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // marker check FIRST: a skipped retry must not even scan the batch
        if (tracker.forall(_.lastCommitted < batchId) && !batch.isEmpty) {
          val ordered =
            if (hasSourceOrder) batch.orderBy(col("event_counter"), col("partition"))
            else batch
          produce(stream, ordered)
          tracker.foreach(_.commit(batchId))
          ()
        }
      }
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Commit marker inside the checkpoint dir (same filesystem, qualified
    * path — equivalent spellings of the checkpoint resolve to one file). */
  private[engine] def batchTracker(checkpointDir: String): BatchCommitTracker = {
    val p = new Path(checkpointDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new BatchCommitTracker(f, new Path(f.makeQualified(p), "_graft_produce_commit"))
  }

  /** Convenience single-partition produce of string payloads. Its request
    * is driver-resident, so it always takes [[produce]]'s driver-local path. */
  def produceStrings(stream: String, partition: Int, events: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val df = events.toDF("namespace", "payload").select(
      lit(partition).as("partition"), col("namespace"),
      lit(null).cast("long").as("parent_counter"),
      lit(null).cast("int").as("parent_partition"),
      encode(col("payload"), "UTF-8").as("data"))
    produce(stream, df)
  }

  private def consumeRange(stream: String, from: Long, to: Long): DataFrame =
    read(stream).filter(col("event_counter").between(from, to))

  private def highestCounter(stream: String): AtomicLong =
    highest.computeIfAbsent(stream, _ => {
      // recovery (S5): the segment index's footer stats, no data scan
      val heads = segments.heads(streamDir(stream), segments.list(streamDir(stream)).segments)
      new AtomicLong(if (heads.isEmpty) 0L else heads.values.max)
    })

  // ---------------------------------------------------------------- consume

  /** The raw batch view of a stream (S2/S3: all segments, all partitions),
    * `partition` last as a partitioned parquet scan reports it. Unknown
    * stream names error like the reference's `NoSuchStream`
    * (engine/mod.rs:69-82).
    *
    * The segment files are listed when `read` is called. The scan plans
    * through a [[StreamFileIndex]] over that listing, which drops whole
    * partitions against pushed `partition` filters and whole files against
    * pushed `event_counter` filters, using the segment index's footer
    * stats — so a seek, a produce ack or any counter filter never opens a
    * file whose counter range cannot match. */
  def read(stream: String): DataFrame = {
    if (!streamExists(stream)) throw new NoSuchStream(stream)
    // readers race the retention janitor (SURVEY §7.3 hard part 3): a file
    // listed at plan time may be expired before the task reads it — skip it
    // (flo's equivalent: dropped segments release on mmap refcount,
    // mmap.rs:73-84; readers holding no segment just see it gone)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new StreamFileIndex(segments, streamDir(stream)),
      StreamFileIndex.PartitionSchema, SegmentDataSchema, bucketSpec = None,
      new ParquetFileFormat, Map("ignoreMissingFiles" -> "true"))(spark))
  }

  /** Typed view of a stream (SURVEY §1.5: case-class envelope with
    * Encoder-preserved nullability of the parent id). */
  def readTyped(stream: String): org.apache.spark.sql.Dataset[graft.model.FloEvent] = {
    import spark.implicits._
    read(stream).as[graft.model.FloEvent]
  }

  /**
   * SQL surface for a stream: registers the batch view as a temp view named
   * `viewName` (default: the stream name) and the glob/id helper functions,
   * so `spark.sql("SELECT ... WHERE ns_glob(namespace, glob)")` works
   * against the log — the reference's query surface re-expressed as plain
   * SQL over the catalog (stream selection S8 meets Spark's SQL front end).
   */
  def registerView(stream: String, viewName: String = ""): String = {
    val name = if (viewName.nonEmpty) viewName else stream
    graft.expressions.GraftExtensions.register(spark)
    read(stream).createOrReplaceTempView(name)
    name
  }

  /**
   * Batch consume (the reference's consume lifecycle, SURVEY §3.2): glob
   * filter + version-vector seek + global (counter, partition) order +
   * optional limit. `vv` partitions are read exclusively after their counter;
   * absent partitions are not read at all
   * (connection_handler/consumer/mod.rs:91-107).
   *
   * The returned plan is the flo index seek (S4): `partition` pruning
   * from the dir layout, then whole-file pruning from the segment index —
   * a file is planned only when its counter range reaches above the
   * vector's smallest entry, the filter Catalyst pushes down (see [[read]])
   * — then row-group skipping from parquet stats inside the files that
   * remain. When every entry is equal (a seek to one head), files below
   * the requested counters are never opened.
   */
  def consume(
      stream: String,
      namespaceGlob: String = "/**/*",
      vv: VersionVector,
      maxEvents: Option[Long] = None): DataFrame = {
    val base = read(stream)
      .filter(vv.toPredicate(col("partition"), col("event_counter")))
      .filter(ns_glob(col("namespace"), namespaceGlob))
      .orderBy(col("event_counter"), col("partition"))
    // clamp: a Long budget above Int.MaxValue means "no effective limit",
    // not a silent 32-bit truncation
    maxEvents.filter(_ > 0).fold(base)(n =>
      base.limit(math.min(n, Int.MaxValue.toLong).toInt))
  }

  /** Consume everything from the beginning of the given partitions. */
  def consumeAll(stream: String, namespaceGlob: String = "/**/*",
      maxEvents: Option[Long] = None): DataFrame =
    consume(stream, namespaceGlob,
      VersionVector.zero(declaredPartitions(stream)), maxEvents)

  /**
   * Changelog TABLE VIEW (the KTable reduction of the log): the latest
   * event per namespace, "latest" = highest (counter, partition). One
   * hash aggregate (max_by on the composite order, map-side partials) —
   * no window sort, no per-consumer fold; the upsert-compacted state a
   * stateful flo consumer would build by folding events, served
   * declaratively. Compose with [[consume]] filters upstream for a keyed
   * sub-view.
   */
  def tableView(stream: String): DataFrame = {
    val ord = struct(col("event_counter"), col("partition"))
    read(stream)
      .groupBy("namespace")
      .agg(
        max_by(struct(col("event_counter"), col("partition"),
          col("timestamp"), col("data")), ord).as("last"),
        count(lit(1)).as("n_versions"))
      .select(col("namespace"), col("last.event_counter").as("event_counter"),
        col("last.partition").as("partition"),
        col("last.timestamp").as("timestamp"), col("last.data").as("data"),
        col("n_versions"))
  }

  /**
   * LIVE table view: the streaming materialization of [[tableView]] — a
   * continuously-updated latest-event-per-namespace aggregate over the
   * tailed log (write with `outputMode("update")` to emit only the keys a
   * micro-batch changed, or "complete" for the full table each batch).
   * State is one row per live namespace, the same bound as the batch
   * aggregate's reducer, and updates are monotone in the (counter,
   * partition) order, so restarts replay to the identical view.
   */
  def tableViewStream(stream: String, namespaceGlob: String = "/**/*"): DataFrame = {
    val ord = struct(col("event_counter"), col("partition"))
    consumeStream(stream, namespaceGlob)
      .groupBy("namespace")
      .agg(
        max_by(struct(col("event_counter"), col("partition"),
          col("timestamp"), col("data")), ord).as("last"),
        count(lit(1)).as("n_versions"))
      .select(col("namespace"), col("last.event_counter").as("event_counter"),
        col("last.partition").as("partition"),
        col("last.timestamp").as("timestamp"), col("last.data").as("data"),
        col("n_versions"))
  }

  /**
   * Which namespaces dominate the log: the Misra–Gries sketch
   * ([[graft.expressions.MisraGries]]) over one scan — O(k) state per
   * task, at most k counters to one reducer, the namespace universe never
   * shuffles. Returns (namespace, count_lb) sorted by estimated count;
   * every namespace holding more than 1/(k+1) of the stream is guaranteed
   * present. The admin "what is filling my log" question at any scale.
   */
  def frequentNamespaces(stream: String, k: Int = 64): DataFrame = {
    graft.expressions.GraftExtensions.register(spark)
    read(stream)
      .agg(call_function("graft_heavy_hitters", col("namespace"), lit(k)).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("namespace"), col("e.count_lb").as("count_lb"))
  }

  private def nsIndexDir(stream: String): String =
    s"${streamDir(stream)}/_ns_bloom" // _-prefixed: hidden from data scans

  /**
   * Build (or refresh) the per-segment-file namespace Bloom index — the
   * unordered-key twin of the counter seek (S4): counters prune segments
   * via parquet min/max because they're monotone; namespaces are
   * arbitrary strings, so each segment file gets a Bloom filter instead
   * ([[graft.operators.BloomFileIndex]]). Typically run after
   * [[compact]]/[[compactSmall]], which is when the file set settles.
   */
  def indexNamespaces(stream: String, fpp: Double = 0.01): Unit = {
    if (!streamExists(stream)) throw new NoSuchStream(stream)
    graft.operators.BloomFileIndex.buildFrom(
      read(stream), "namespace", nsIndexDir(stream), fpp)
  }

  /**
   * Exact-namespace consume through the index: only segment files whose
   * Bloom filter fires (plus any file produced after the last
   * [[indexNamespaces]] — unindexed files are always scanned, so a stale
   * index is slower, never wrong) are planned, then the usual vv seek,
   * counter order, and limit apply. Falls back to a plain literal-glob
   * consume when the index has never been built.
   */
  def consumeIndexed(
      stream: String,
      namespace: String,
      vv: VersionVector = VersionVector.empty,
      maxEvents: Option[Long] = None): DataFrame = {
    if (!streamExists(stream)) throw new NoSuchStream(stream)
    val effVv =
      if (vv.entries.isEmpty) VersionVector.zero(declaredPartitions(stream)) else vv
    val idxExists = fs(root).exists(new Path(s"${nsIndexDir(stream)}/_SUCCESS"))
    // a glob PATTERN can't probe the filter (and an equality filter on it
    // would silently match nothing) — route wildcards to the glob consume
    if (!idxExists || !graft.model.NamespaceGlob.isLiteral(namespace)) {
      return consume(stream, namespace, effVv, maxEvents)
    }
    val base = graft.operators.BloomFileIndex
      .lookup(spark, streamDir(stream), "namespace", nsIndexDir(stream), namespace)
      .filter(effVv.toPredicate(col("partition"), col("event_counter")))
      .orderBy(col("event_counter"), col("partition"))
    maxEvents.filter(_ > 0).fold(base)(n =>
      base.limit(math.min(n, Int.MaxValue.toLong).toInt))
  }

  // -------------------------------------------------------------- streaming

  /**
   * Streaming consume (T1-T4): a Structured Streaming view of the stream with
   * the same glob + vv predicates. File-source offsets give replayable
   * resume; `Trigger.AvailableNow` reproduces `await_new=false` (T2), the
   * default trigger is tail mode (T1). Strict cross-partition emission order
   * within a micro-batch is the egress `foreachBatch`'s job
   * (sort by (event_counter, partition)); cross-batch order holds because
   * counters are assigned batch-monotonically (SURVEY §7.3 hard part 2).
   */
  def consumeStream(
      stream: String,
      namespaceGlob: String = "/**/*",
      vv: VersionVector = VersionVector.empty,
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    // the reader schema puts the `partition` DIRECTORY column LAST — the
    // physical layout of a partitioned scan. Declaring it mid-schema
    // (envelope order) works only when files exist at query start; a query
    // started over a still-empty stream infers "unpartitioned", and every
    // later micro-batch's rows bind POSITIONALLY shifted from the declared
    // schema (namespace reads data's bytes, partition reads timestamp
    // micros). Canonical envelope order is restored by the select below,
    // AFTER alignment is correct.
    val readerSchema = org.apache.spark.sql.types.StructType(
      FloSchema.eventType.filterNot(_.name == "partition") ++
        FloSchema.eventType.filter(_.name == "partition"))
    val reader = spark.readStream.schema(readerSchema)
      .option("ignoreMissingFiles", "true")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // byte-budget pacing on the parquet path (closest file-source analog of
    // the reference's event budget; exact event-count pacing lives on the
    // flo-segments source via maxEventsPerTrigger)
    maxBytesPerTrigger.foreach(n => reader.option("maxBytesPerTrigger", n))
    val df = reader.parquet(streamDir(stream))
    val seek =
      if (vv.entries.isEmpty) df // empty vv on a stream = read all partitions
      else df.filter(vv.toPredicate(col("partition"), col("event_counter")))
    seek.filter(ns_glob(col("namespace"), namespaceGlob))
      // restore the canonical envelope order (partition second) on top of
      // the partition-last reader schema
      .select(FloSchema.eventType.fieldNames.toIndexedSeq.map(col): _*)
  }

  /**
   * Tail a stream with STRICT cross-partition emission order per micro-batch
   * (O1/O3: the K-way merge by counter,
   * consumer_stream/multi_partition_reader.rs:27-47). Each batch is handed
   * to `handler` as a single sorted partition — the egress edge is the only
   * place the global order is materialized, everything upstream stays
   * parallel. Cross-batch order holds because counters are assigned
   * batch-monotonically (SURVEY §7.3 hard part 2).
   *
   * `maxEvents` is the CUMULATIVE consume budget across micro-batches
   * (O2/CONSUME_UNLIMITED parity): the driver counts the budget down batch
   * by batch and stops the query once it is exhausted, mirroring the
   * reference's `total_events_remaining` countdown in its consumer stream
   * (connection_handler/consumer/consumer_stream/mod.rs:21,65-88). Exactly
   * `maxEvents` events are delivered, in counter order, even when the
   * budget boundary falls mid-batch.
   */
  def consumeStreamOrdered(
      stream: String,
      namespaceGlob: String = "/**/*",
      vv: VersionVector = VersionVector.empty,
      maxEvents: Option[Long] = None,
      maxFilesPerTrigger: Option[Int] = None)(
      handler: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // 0 = unlimited, matching batch consume()'s CONSUME_UNLIMITED convention —
    // otherwise a 0 budget would no-op every batch while the query never stops;
    // negatives fail fast rather than silently consuming forever
    require(maxEvents.forall(_ >= 0), s"maxEvents must be >= 0 (0 = unlimited), got ${maxEvents.get}")
    val budgetOpt = maxEvents.filter(_ > 0)
    val remaining = new AtomicLong(budgetOpt.getOrElse(Long.MaxValue))
    @volatile var self: org.apache.spark.sql.streaming.StreamingQuery = null
    val q = consumeStream(stream, namespaceGlob, vv, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val budget = remaining.get()
        if (budget > 0L) {
          val ordered = batch.coalesce(1)
            .sortWithinPartitions(col("event_counter"), col("partition"))
          if (budgetOpt.isEmpty) handler(ordered)
          else {
            val limited = ordered.limit(math.min(budget, Int.MaxValue.toLong).toInt)
            limited.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val delivered = limited.count()
              handler(limited)
              if (remaining.addAndGet(-delivered) <= 0L) {
                // stop from OUTSIDE the micro-batch thread: stop() joins the
                // stream execution thread, so calling it inline deadlocks
                val stopper = new Thread(() => {
                  while (self == null) Thread.sleep(10)
                  self.stop()
                }, "graft-consume-budget-stop")
                stopper.setDaemon(true)
                stopper.start()
              }
            } finally limited.unpersist(false)
          }
        }
      }
      .start()
    self = q
    q
  }

  /**
   * Event-time tumbling-window counts over a consumed stream with a
   * watermark for late data (T5 — absent in the reference, required by the
   * north star; Spark built-ins do the state management).
   */
  def consumeWindowed(
      stream: String,
      namespaceGlob: String = "/**/*",
      windowDuration: String = "10 minutes",
      watermarkDelay: String = "1 minute",
      vv: VersionVector = VersionVector.empty): DataFrame =
    consumeStream(stream, namespaceGlob, vv)
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration), col("namespace"))
      .count()

  /** At-least-once redelivery dedup (T7): id-based exact dedup. Batch form;
    * for streams compose with a watermark + dropDuplicatesWithinWatermark. */
  def dedupRedelivered(events: DataFrame): DataFrame =
    events.dropDuplicates("partition", "event_counter")

  /** Streaming consumer-position progress: per-partition head + cumulative
    * count maintained as flatMapGroupsWithState custom state (the streaming
    * VersionVector cursor — see [[graft.streaming.VvProgress]]). */
  def consumeProgress(
      stream: String,
      namespaceGlob: String = "/**/*"): org.apache.spark.sql.Dataset[graft.streaming.VvProgress.PartitionProgress] =
    graft.streaming.VvProgress.track(consumeStream(stream, namespaceGlob))

  /** Streaming consume with redelivery dedup inside the watermark horizon. */
  def consumeStreamDeduped(
      stream: String,
      namespaceGlob: String = "/**/*",
      watermarkDelay: String = "10 minutes"): DataFrame =
    consumeStream(stream, namespaceGlob)
      .withWatermark("timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("partition", "event_counter")

  /**
   * Recover a consumer's position as a [[VersionVector]] from a Structured
   * Streaming checkpoint — flo's cursor introspection (the vv a client
   * would pass to resume, sync/mod.rs:116-144). Reads the file-source log
   * (`sources/0/`), collects every processed file, and folds their max
   * counters per partition from the segment index — no Spark job. Bridges
   * the streaming and batch APIs: a batch
   * `consume(stream, glob, consumerPosition(ckpt))` picks up exactly where
   * the streaming query left off.
   *
   * Processed files that retention or compaction removed since are
   * skipped; a partition whose processed files are all gone keeps a 0
   * entry, so a resume re-delivers that partition and never skips it.
   */
  def consumerPosition(checkpointDir: String): VersionVector = {
    val f = fs(checkpointDir)
    val srcDir = new Path(checkpointDir, "sources/0")
    if (!f.exists(srcDir)) return VersionVector.empty
    val pathRe = """"path":"([^"]+)"""".r
    val processed = f.listStatus(srcDir).filter(_.isFile).flatMap { st =>
      val in = f.open(st.getPath)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      pathRe.findAllMatchIn(content).map(_.group(1)).toSeq
    }.distinct.filter(_.endsWith(".parquet"))
      .map { p =>
        val path = new Path(new java.net.URI(p))
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path)
      }
    // a processed file sits at <stream dir>/partition=<p>/<name>
    val heads = processed.groupBy(_.getParent.getParent).toSeq.flatMap { case (dir, files) =>
      val wanted = files.map(_.toString).toSet
      val present = segments.list(dir.toString).segments.filter(s => wanted(s.path))
      files.map(_.getParent.getName).distinct.collect {
        case n if n.startsWith("partition=") => n.stripPrefix("partition=").toInt -> 0L
      } ++ segments.heads(dir.toString, present)
    }.groupMapReduce(_._1)(_._2)(math.max)
    VersionVector(heads)
  }

  /**
   * Migration path from the reference: import a directory of raw flo
   * segment files (`<n>.events`) into this engine's parquet log, PRESERVING
   * original event ids and timestamps (unlike `produce`, which assigns new
   * ones). After import the counter sequence continues above the imported
   * maximum. Returns the number of events imported.
   */
  def importSegments(stream: String, segmentsDir: String): Long = {
    val df = spark.read.format("flo-segments").load(segmentsDir)
    val partitions = df.select("partition").distinct()
      .collect().map(_.getInt(0))
    createStream(FloEngine.EventStreamOptions(stream,
      numPartitions = if (partitions.isEmpty) 1 else partitions.max))
    val n = df.count()
    commitLock(stream).synchronized {
      df.repartition(col("partition"))
        .write.mode(SaveMode.Append).partitionBy("partition")
        .parquet(streamDir(stream))
    }
    highest.remove(stream) // recover the new max lazily on next produce
    n
  }

  /**
   * The inverse migration: export a stream back to raw flo segment files
   * (`<n>.events`, header + binary records) that a real flo server can
   * serve — completes the importSegments round trip. Returns the number of
   * events exported.
   */
  def exportSegments(stream: String, segmentsDir: String): Long =
    graft.sources.FloBinaryCodec.writeSegmentFiles(readTyped(stream), segmentsDir)

  // ------------------------------------------------------------- compaction

  /**
   * Compact a stream's partitions: rewrite each `partition=<p>` dir into
   * `filesPerPartition` counter-sorted files. The produce path appends a
   * file per batch (flo's segment-per-rotation, segment/mod.rs:65-74);
   * compaction restores large sorted files so parquet min/max stats give
   * tight counter-range pruning — the operational job any log-structured
   * store needs at scale.
   *
   * Swap order is rename-IN-then-delete: the rewritten files move into the
   * partition dir BEFORE the originals are deleted, so a concurrent reader
   * planned mid-swap sees transient DUPLICATES (consistent with the
   * documented at-least-once + id-dedup model) rather than a silently empty
   * partition, and a crash mid-swap leaves all data visible in the
   * partition dir instead of stranded in the hidden temp dir.
   */
  def compact(stream: String, filesPerPartition: Int = 1): Unit = commitLock(stream).synchronized {
    val listing = segments.list(streamDir(stream))
    listing.partitions.foreach { p =>
      val files = listing.in(p).map(_.status)
      if (files.length > filesPerPartition)
        foldSegmentFiles(stream, p, files, filesPerPartition, tag = "c")
    }
  }

  /** The shared rewrite-and-swap core of [[compact]]/[[compactSmall]]:
    * rewrite `files` into `nOut` counter-sorted files beside them, rename
    * the rewrites IN, delete the originals. Rename-in-then-delete keeps a
    * crash or concurrent reader seeing transient duplicates, never a gap,
    * and the counter dedup on the next fold self-heals a torn swap. A
    * failed rename-in aborts BEFORE any original is deleted. */
  private def foldSegmentFiles(
      stream: String, p: Int, files: Seq[org.apache.hadoop.fs.FileStatus],
      nOut: Int, tag: String): Unit = {
    val f = fs(root)
    val dir = s"${streamDir(stream)}/partition=$p"
    val tmp = s"${streamDir(stream)}/.compact-$tag-partition=$p"
    // inside a partition dir the files do NOT carry the partition column
    // (it lives in the dir name) — read and rewrite without it
    val innerSchema = org.apache.spark.sql.types.StructType(
      FloSchema.eventType.filterNot(_.name == "partition"))
    spark.read.schema(innerSchema)
      .option("ignoreMissingFiles", "true") // tolerate a racing janitor
      .parquet(files.map(_.getPath.toString): _*)
      // counters are unique within a partition, so duplicates can only be
      // leftovers of a torn rename-in/delete swap from a crashed fold —
      // re-running self-heals instead of preserving them forever
      .dropDuplicates("event_counter")
      .sort("event_counter")
      .coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    f.listStatus(new Path(tmp))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (s, i) =>
        val dst = new Path(dir, s"compacted-$tag$i-${s.getPath.getName}")
        if (!f.rename(s.getPath, dst))
          throw new java.io.IOException(
            s"compaction could not swap ${s.getPath} -> $dst (originals kept)")
      }
    files.foreach(s => f.delete(s.getPath, false))
    f.delete(new Path(tmp), true)
  }

  /**
   * Incremental compaction: fold only the small segment files (the
   * per-append parquet commits) into full-size segments, leaving mature
   * segments untouched. Full [[compact]] rewrites the whole log — the
   * right tool after retention churn, but its cost is O(stream length)
   * (159 s at 100M events in the round-5 drive); the STEADY-STATE need is
   * only to merge the tail of small appends, and this does exactly that at
   * O(small bytes) regardless of history size. Output segments target the
   * stream's `segmentMaxSizeBytes`. Same crash discipline as [[compact]]:
   * write aside, rename in, delete originals (readers see transient
   * duplicates, never a gap; a torn swap self-heals on the next run via
   * the counter dedup). Returns per-partition merged-file counts.
   */
  def compactSmall(
      stream: String,
      minFileBytes: Long = 1L << 20): Map[Int, Int] = commitLock(stream).synchronized {
    val segBytes = streamOptions(stream)
      .map(_.segmentMaxSizeBytes).getOrElse(1L << 30)
    val listing = segments.list(streamDir(stream))
    listing.partitions.map { p =>
      val small = listing.in(p).map(_.status).filter(_.getLen < minFileBytes)
      if (small.length > 1) {
        val nOut = math.max(1,
          math.ceil(small.map(_.getLen).sum.toDouble / segBytes).toInt)
        foldSegmentFiles(stream, p, small, nOut, tag = "s")
        p -> small.length
      } else p -> 0
    }.toMap
  }

  // -------------------------------------------------------------- retention

  /**
   * Retention janitor (S6): drop whole files whose events are ALL older than
   * the cutoff — flo's whole-segment expiry (controller/mod.rs:151-178;
   * intended semantics, not the reference's inverted-sign bug, see SURVEY
   * §2.1 S6). File granularity keeps deletes O(#files) with no rewrite.
   * Returns the deleted file paths.
   */
  def expireOldEvents(stream: String, cutoff: java.sql.Timestamp): Seq[String] = commitLock(stream).synchronized {
    val f = fs(root)
    val cutoffMicros = cutoff.getTime * 1000L
    val candidates = segments.list(streamDir(stream)).segments
    val stats = segments.stats(streamDir(stream), candidates)
    val expired = candidates.map(_.path).filter { path =>
      // a file that vanished since listing is nobody's to delete — skip it
      stats.get(path).exists(_.timestampMax match {
        case Some(maxMicros) => maxMicros < cutoffMicros
        // no stats (legacy INT96 files): scan just that file
        case None =>
          try spark.read.parquet(path)
            .agg(max("timestamp")).collect().head match {
            case r if r.isNullAt(0) => true // empty file: expired
            case r => r.getTimestamp(0).before(cutoff)
          } catch { case scala.util.control.NonFatal(_) => false }
      })
    }
    expired.foreach(p => f.delete(new Path(p), false))
    expired
  }
}

/**
 * Persisted highest-committed micro-batch id for idempotent streaming
 * produce (Spark's foreachBatch-idempotence recipe): a retried batch id
 * <= `lastCommitted` is skipped instead of re-appended. Writes are
 * tmp-then-rename so a torn marker is never read on rename-atomic
 * filesystems; a marker that is nevertheless unreadable logs a warning
 * and degrades to at-least-once (re-append) rather than data loss (skip).
 * The filesystem is read once; subsequent batches use the cached value
 * (this tracker is the file's only writer).
 */
private[engine] final class BatchCommitTracker(
    fs: org.apache.hadoop.fs.FileSystem,
    marker: Path) {

  @volatile private var cached: Option[Long] = None

  def lastCommitted: Long = cached.getOrElse {
    val v =
      if (!fs.exists(marker)) -1L
      else {
        val in = fs.open(marker)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        try content.toLong catch {
          case _: NumberFormatException =>
            FloEngine.log.warn(s"unreadable produce-commit marker $marker " +
              s"('${content.take(40)}') — treating as none; retried batches may re-append")
            -1L
        }
      }
    cached = Some(v)
    v
  }

  def commit(batchId: Long): Unit = {
    val tmp = new Path(marker.getParent, s".${marker.getName}.tmp")
    fs.mkdirs(marker.getParent)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, marker)) {
      fs.delete(marker, false)
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(s"could not commit batch marker $marker")
    }
    cached = Some(batchId)
  }
}

/** Mirrors the reference's `NoSuchStream` connection error
  * (flo-server/src/engine/mod.rs:69-82). */
final class NoSuchStream(val stream: String)
    extends IllegalArgumentException(s"No such event stream: `$stream`")

object FloEngine {

  /** Above this many files, footer-stats reads fan out as a Spark job. */
  private[engine] val DriverFooterThreshold = 64

  /** Writer-lease file name under `<root>/<stream>/`. */
  private[engine] val WriterLeaseFile = "_writer.lease"

  /** JVM-global per-lease-path lock registry: serializes lease
    * acquisition/refresh across engine INSTANCES in one process, closing
    * the same-JVM takeover race that RawLocalFileSystem's non-atomic
    * exclusive create cannot adjudicate (see the instance-side comment at
    * `leaseLock`). Unbounded growth is not a concern: one entry per
    * distinct (root, stream) ever touched by this process. */
  private val leaseLocks = new ConcurrentHashMap[String, Object]()

  /** Default staleness horizon for writer leases: a heartbeat older than
    * this is a crashed writer and may be taken over. The heartbeat
    * refreshes at TTL/3, so transient stalls shorter than ~2/3 TTL never
    * lose the lease.
    *
    * CLOCK-SYNC ASSUMPTION: staleness compares the lease file's mtime
    * against the reading engine's clock, so writers' clocks must agree
    * to well within the TTL (NTP-level sync is ample for the 60 s
    * default). An engine whose clock runs FAST could otherwise judge a
    * live writer stale; the reverse direction — a lease mtime more than
    * a TTL in the future — is detected and refused loudly rather than
    * misjudged. Deployments on object stores or across machines with
    * unreliable clocks should raise the TTL above the worst-case skew. */
  val DefaultWriterLeaseTtlMillis: Long = 60000L

  private[engine] val log = org.slf4j.LoggerFactory.getLogger(classOf[FloEngine])

  /** Schema of a produce ack: the envelope in canonical order, every column
    * nullable as a read of the log reports it, so both produce paths return
    * the same schema. */
  private val AckSchema = StructType(FloSchema.eventType.map(_.copy(nullable = true)))

  /** The columns stored in a segment file (`partition` lives in its dir). */
  private val SegmentDataSchema = StructType(
    FloSchema.eventType.filterNot(_.name == "partition").map(_.copy(nullable = true)))

  /** Encoded-size estimate of one event for segment rotation. */
  private def encodedRowBytes(namespace: String, data: Array[Byte]): Long =
    48L + (if (namespace == null) 0 else namespace.length) +
      (if (data == null) 0 else data.length)

  /** parquet-hadoop writer over Spark's own row write support, so the local
    * produce path writes the files Spark's parquet writer would. */
  private final class LocalParquetWriterBuilder(file: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, LocalParquetWriterBuilder](file) {
    override protected def self(): LocalParquetWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Stream options (reference: engine/event_stream/mod.rs:17-37, defaults
    * {"default", 1, forever, 1 day, 1 GiB}). `segmentMaxSizeBytes` drives
    * per-batch parquet file rolling in `produce` (maxRecordsPerFile derived
    * from avg row size); `maxSegmentDurationMillis` drives the janitor tick
    * (duration/3) and holds structurally for files (append never reopens). */
  final case class EventStreamOptions(
      name: String = "default",
      numPartitions: Int = 1,
      eventRetentionMillis: Option[Long] = None,
      maxSegmentDurationMillis: Long = 24L * 3600 * 1000,
      segmentMaxSizeBytes: Long = 1L << 30) {
    def toJson: String =
      s"""{"name":"$name","numPartitions":$numPartitions,""" +
        s""""eventRetentionMillis":${eventRetentionMillis.getOrElse(-1L)},""" +
        s""""maxSegmentDurationMillis":$maxSegmentDurationMillis,""" +
        s""""segmentMaxSizeBytes":$segmentMaxSizeBytes}"""
  }
}
