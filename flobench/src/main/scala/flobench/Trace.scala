package flobench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call boundary. Times are `System.nanoTime`; `wallMs` is the
  * epoch-millis start, used to match query executions to spans. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Long, var end: Long, wallStartMs: Long, var wallEndMs: Long)

/** Per-span Spark work, summed over the jobs submitted inside the span. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** job wall ms keyed by the job's call site (first stage name) */
  val jobMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** One finished query execution: planning phases and scan metrics. */
final case class Execution(wallStartMs: Long, planMs: Long,
    filesScanned: Long, rowsScanned: Long)

/** One streaming trigger that moved data. */
final case class Trigger(durations: Map[String, Long], rows: Long)

/**
 * The traced run's recorder. Spans are kept in memory around each call into
 * the program; a SparkListener attributes jobs, stages and tasks to the span
 * whose thread submitted them (a local property carries the span id); a
 * QueryExecutionListener records planning phases and scan metrics; a
 * StreamingQueryListener records trigger durations. Nothing is recorded
 * while `enabled` is false, which is how a traced run also measures
 * untraced passes in the same JVM.
 */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false

  private val sc: SparkContext = spark.sparkContext
  private val SpanProp = "flobench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, String, Long)]
  private val work = mutable.Map.empty[Int, Work]
  private val executions = mutable.ArrayBuffer.empty[Execution]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val s = spans.synchronized {
        val s = Span(spans.size, name, parent, op, System.nanoTime(), 0L,
          System.currentTimeMillis(), 0L)
        spans += s
        s
      }
      val prev = sc.getLocalProperty(SpanProp)
      stack.set(s.id :: stack.get)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        s.wallEndMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = span)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name
      jobStart(e.jobId) = (span, site, e.time)
      workOf(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, site, t0) =>
        workOf(span).jobMs(site) += e.time - t0
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(workOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val w = workOf(span)
        w.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.taskRunMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val phases = qe.tracker.phases
        val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
        val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
        Trace.this.synchronized {
          executions += Execution(start, planMs, metric("numFiles"), metric("numOutputRows"))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled && e.progress.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Trace.this.synchronized { triggers += Trigger(d, e.progress.numInputRows) }
      }
  })

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.FlobenchBus.drain(sc)

  /** Finished spans named `name`. */
  def spansNamed(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Spark work inside `s` or any span nested in it. */
  def workUnder(s: Span): Seq[Work] = {
    val all = allSpans
    def within(id: Int): Boolean = id == s.id || (id >= 0 && within(all(id).parent))
    synchronized(work.collect { case (id, w) if id >= 0 && within(id) => w }.toSeq)
  }

  /** Query executions whose planning started inside `s`. */
  def executionsIn(s: Span): Seq[Execution] = synchronized(
    executions.filter(x => x.wallStartMs >= s.wallStartMs && x.wallStartMs <= s.wallEndMs).toSeq)

  def allTriggers: Seq[Trigger] = synchronized(triggers.toSeq)

  /** Spans as JSON lines (name, start, end, parent, op id), in start order. */
  def spansJson: String = allSpans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }.mkString("\n")
}
