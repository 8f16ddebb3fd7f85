package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** One committed segment file of a stream: `partition=<p>/<name>.parquet`. */
private[engine] final case class Segment(partition: Int, status: FileStatus) {
  def path: String = status.getPath.toString
}

/** A stream's partitions and segment files at one listing. */
private[engine] final case class SegmentListing(partitions: Seq[Int], segments: Seq[Segment]) {
  def in(partition: Int): Seq[Segment] = segments.filter(_.partition == partition)
}

/** Footer statistics of one segment: `event_counter` (min, max) and the
  * `timestamp` max in micros. Each is None when some row group carries no
  * statistics for that column (legacy INT96 timestamps have none). */
private[engine] final case class SegmentStats(
    counter: Option[(Long, Long)], timestampMax: Option[Long])

/**
 * The per-stream segment index: the Spark rendering of flo's in-memory
 * counter index (partition/index.rs:24-36). It lists
 * `partition=<p>/&#42;.parquet` and keeps each file's [[SegmentStats]],
 * read in a single footer open and held in memory under the key
 * (path, length, modification time) — one entry per file.
 *
 * An entry cannot go stale: a committed segment is immutable and never
 * reuses a name (produce and compaction mint fresh names), so a file seen
 * again under the same key has the same footer. Files that retention or
 * compaction removed are dropped from the index by the next listing of
 * their stream. Unknown footers are read on the driver, or by one Spark
 * job past [[FloEngine.DriverFooterThreshold]] of them (a cold open of a
 * many-file stream).
 */
private[engine] final class SegmentIndex(sc: SparkContext) {
  import SegmentIndex.Entry

  /** Qualified stream dir -> (file path -> entry). */
  private val streams = new ConcurrentHashMap[String, ConcurrentHashMap[String, Entry]]()

  private def qualified(dir: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def entries(dir: Path) =
    streams.computeIfAbsent(dir.toString, _ => new ConcurrentHashMap[String, Entry]())

  /** The declared `partition=<p>` dirs of a stream, sorted; empty when the
    * stream dir is missing. */
  def partitions(streamDir: String): Seq[Int] = {
    val (fs, dir) = qualified(streamDir)
    partitionsOf(fs, dir)
  }

  private def partitionsOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Int] =
    try fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("partition=") =>
        st.getPath.getName.stripPrefix("partition=").toInt
    }.sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** List a stream's segment files and drop index entries of files no
    * longer present. Reads no footer. */
  def list(streamDir: String): SegmentListing = {
    val (fs, dir) = qualified(streamDir)
    val parts = partitionsOf(fs, dir)
    val segments = parts.flatMap { p =>
      // plain statuses, not located ones: RawLocalFileSystem forks a
      // process per file to fill in the permissions a located status
      // copies (Spark's own listing avoids them for the same reason)
      val statuses = try fs.listStatus(new Path(dir, s"partition=$p")).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      statuses.collect {
        case st if st.isFile && SegmentIndex.isSegment(st.getPath.getName) => Segment(p, st)
      }
    }
    entries(dir).keySet.retainAll(segments.map(_.path).toSet.asJava)
    SegmentListing(parts, segments)
  }

  /** Stats of `segments` (from one listing of `streamDir`), reading only
    * the footers the index does not hold yet. A file that vanished since
    * the listing has no entry in the result. */
  def stats(streamDir: String, segments: Seq[Segment]): Map[String, SegmentStats] = {
    val held = entries(qualified(streamDir)._2)
    val known = Map.newBuilder[String, SegmentStats]
    val unknown = Seq.newBuilder[Segment]
    segments.foreach { s =>
      val e = held.get(s.path)
      if (e != null && e.length == s.status.getLen && e.modified == s.status.getModificationTime)
        known += s.path -> e.stats
      else unknown += s
    }
    val toRead = unknown.result()
    val fetched = SegmentIndex.readAll(sc, toRead.map(_.path))
    toRead.foreach { s =>
      fetched.get(s.path).foreach(st =>
        held.put(s.path, Entry(s.status.getLen, s.status.getModificationTime, st)))
    }
    known.result() ++ fetched
  }

  /** Per-partition max `event_counter` over `segments`; partitions whose
    * files carry no counter stats (or vanished) are absent. */
  def heads(streamDir: String, segments: Seq[Segment]): Map[Int, Long] = {
    val st = stats(streamDir, segments)
    segments
      .flatMap(s => st.get(s.path).flatMap(_.counter).map(c => s.partition -> c._2))
      .groupMapReduce(_._1)(_._2)(math.max)
  }
}

private[engine] object SegmentIndex {

  private final case class Entry(length: Long, modified: Long, stats: SegmentStats)

  /** The files a stream's scan reads: `.parquet`, not hidden (`.`-staged
    * produce files, `_`-metadata) — the names Spark's listing keeps. */
  def isSegment(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")

  /** Stats of many files: a driver loop up to the threshold, else one Spark
    * job of executor-side footer reads (a cold open of a 100k-file stream
    * stays parallel). Vanished files are absent from the result. */
  private def readAll(sc: SparkContext, paths: Seq[String]): Map[String, SegmentStats] =
    if (paths.isEmpty) Map.empty
    else if (paths.length <= FloEngine.DriverFooterThreshold) {
      val conf = sc.hadoopConfiguration
      paths.flatMap(p => read(new Path(p), conf).map(p -> _)).toMap
    } else {
      // ship the session's hadoop conf (spark.hadoop.* settings,
      // credentials) to the executor-side footer reads
      val confBc = sc.broadcast(new graft.util.SerializableHadoopConf(sc.hadoopConfiguration))
      sc.parallelize(paths, math.min(paths.size, 64))
        .mapPartitions { it =>
          val conf = confBc.value.value
          it.flatMap(p => read(new Path(p), conf).map(p -> _))
        }.collect().toMap
    }

  /** One footer open: the counter bounds and the timestamp max. None when
    * the file vanished under us (a racing janitor delete — readers must not
    * crash on it, as `ignoreMissingFiles` on the scan path). */
  def read(file: Path, conf: Configuration): Option[SegmentStats] = try {
    // options from `conf`: without them the reader builds a fresh Hadoop
    // Configuration (parsing the default resources) for every file, which
    // costs several times the footer read itself
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, conf), HadoopReadOptions.builder(conf).build())
    val blocks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
    def bounds(column: String): Option[(Long, Long)] = {
      val perBlock = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
            case (lo: Number, hi: Number) => Some((lo.longValue, hi.longValue))
            case _ => None
          })
      }
      if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
      else Some((perBlock.flatten.map(_._1).min, perBlock.flatten.map(_._2).max))
    }
    Some(SegmentStats(bounds("event_counter"), bounds("timestamp").map(_._2)))
  } catch {
    case _: java.io.FileNotFoundException => None
  }
}

/**
 * The file index of one read of a stream: the segment listing taken when
 * the read was built, pruned per query against the filters Catalyst pushes
 * down. `partition` filters drop whole partition dirs; `event_counter`
 * filters drop whole files whose footer counter range cannot match, so a
 * seek or a produce ack plans (and opens) only the files that hold its
 * counters.
 *
 * A version-vector consume pushes the hull of its per-partition predicates
 * (`event_counter > c1 OR event_counter > c2 ...`), so files are pruned at
 * the vector's smallest entry. Footer stats are fetched only where the
 * pushed range can prune a file (a zero-vector or unfiltered scan reads
 * none). Two indexes are equal when they cover the same stream dir, as
 * Spark's own file index is equal by its root paths, so cached reads of a
 * stream keep matching.
 */
private[engine] final class StreamFileIndex(index: SegmentIndex, streamDir: String)
    extends FileIndex {

  @volatile private var listing = index.list(streamDir)

  override def rootPaths: Seq[Path] = Seq(new Path(streamDir))

  override def partitionSchema: StructType = StreamFileIndex.PartitionSchema

  override def inputFiles: Array[String] = listing.segments.map(_.path).toArray

  override def sizeInBytes: Long = listing.segments.map(_.status.getLen).sum

  override def refresh(): Unit = listing = index.list(streamDir)

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = StreamFileIndex.partitionPredicate(partitionFilters)
    val range = CounterRange(dataFilters)
    val candidates =
      if (CounterRange.nonEmpty(range)) listing.segments.filter(s => keep(s.partition))
      else Seq.empty
    val files =
      if (!CounterRange.prunes(range)) candidates
      else {
        val stats = index.stats(streamDir, candidates)
        candidates.filter(s =>
          stats.get(s.path).exists(_.counter.forall(CounterRange.overlaps(range, _))))
      }
    files.groupBy(_.partition).toSeq.sortBy(_._1).map { case (p, ss) =>
      PartitionDirectory(InternalRow(p), ss.map(_.status).toArray)
    }
  }

  override def equals(other: Any): Boolean = other match {
    case o: StreamFileIndex => rootPaths == o.rootPaths
    case _ => false
  }

  override def hashCode(): Int = rootPaths.hashCode()
}

private[engine] object StreamFileIndex {
  val PartitionSchema: StructType = new StructType().add("partition", IntegerType)

  /** The partition filters, bound to the one partition column. */
  private def partitionPredicate(filters: Seq[Expression]): Int => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val pred = Predicate.createInterpreted(filters.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
      })
      p => pred.eval(InternalRow(p))
    }
}

/**
 * The inclusive `event_counter` interval a conjunction of pushed filters
 * admits: comparisons against bigint literals (either side), `IN`, and their
 * `AND`/`OR` combinations (an `OR` keeps the hull of its sides); any other
 * shape admits every counter. An empty interval has `lo > hi`.
 */
private[engine] object CounterRange {

  type Range = (Long, Long)

  /** Counters start at 1: a range reaching down to it cannot prune a file. */
  val MinCounter = 1L

  private val All: Range = (Long.MinValue, Long.MaxValue)
  private val Empty: Range = (1L, 0L)

  def apply(filters: Seq[Expression]): Range = filters.map(of).foldLeft(All)(intersect)

  def nonEmpty(r: Range): Boolean = r._1 <= r._2

  /** Whether the range excludes some counter a file can hold. */
  def prunes(r: Range): Boolean = r._1 > MinCounter || r._2 < Long.MaxValue

  def overlaps(r: Range, file: Range): Boolean =
    math.max(r._1, file._1) <= math.min(r._2, file._2)

  private def intersect(a: Range, b: Range): Range = (math.max(a._1, b._1), math.min(a._2, b._2))

  private def hull(a: Range, b: Range): Range =
    if (!nonEmpty(a)) b else if (!nonEmpty(b)) a
    else (math.min(a._1, b._1), math.max(a._2, b._2))

  /** Counters strictly above `v`. */
  private def above(v: Long): Range = if (v == Long.MaxValue) Empty else (v + 1, Long.MaxValue)

  private def atLeast(v: Long): Range = (v, Long.MaxValue)

  /** Counters strictly below `v`. */
  private def below(v: Long): Range = if (v == Long.MinValue) Empty else (Long.MinValue, v - 1)

  private def atMost(v: Long): Range = (Long.MinValue, v)

  private object Counter {
    def unapply(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase("event_counter")
      case _ => false
    }
  }

  private object Value {
    def unapply(e: Expression): Option[Long] = e match {
      // type coercion casts every literal compared with the LongType
      // counter to bigint, and constant folding leaves a Long literal
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  private def values(vs: Iterable[Long]): Range = if (vs.isEmpty) Empty else (vs.min, vs.max)

  private def of(e: Expression): Range = e match {
    case And(l, r) => intersect(of(l), of(r))
    case Or(l, r) => hull(of(l), of(r))
    case GreaterThan(Counter(), Value(v)) => above(v)
    case GreaterThanOrEqual(Counter(), Value(v)) => atLeast(v)
    case LessThan(Counter(), Value(v)) => below(v)
    case LessThanOrEqual(Counter(), Value(v)) => atMost(v)
    case GreaterThan(Value(v), Counter()) => below(v)
    case GreaterThanOrEqual(Value(v), Counter()) => atMost(v)
    case LessThan(Value(v), Counter()) => above(v)
    case LessThanOrEqual(Value(v), Counter()) => atLeast(v)
    case EqualTo(Counter(), Value(v)) => (v, v)
    case EqualTo(Value(v), Counter()) => (v, v)
    case In(Counter(), list) if list.forall(Value.unapply(_).isDefined) =>
      values(list.flatMap(Value.unapply))
    case InSet(Counter(), set) if set.forall(_.isInstanceOf[Number]) =>
      values(set.map(_.asInstanceOf[Number].longValue))
    case _ => All
  }
}
