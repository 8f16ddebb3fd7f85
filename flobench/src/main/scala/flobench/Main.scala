package flobench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run measured, handed to the runner as JSON. */
final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
    val seconds: Int, val traced: Boolean, val data: String, val work: String) {

  val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Long]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var setupS = 0.0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One call into the program; a throw counts as a failed operation. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An output check; a false one counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[flobench] FAILED: $what")
  }

  /** Pass `i` of the timed phase; in a traced run even passes are traced
    * and odd ones are not, so the tracing overhead is measured in-run. */
  def pass(i: Int)(body: => Unit): Unit = {
    val on = traced && i % 2 == 0
    trace.enabled = on
    untimedS = 0.0
    val (jit0, codegen0) = (Run.jitMs, Run.codegenCompiles)
    val t0 = System.nanoTime()
    body
    passes += (((System.nanoTime() - t0) / 1e9 - untimedS, on))
    sample("pass.jit_ms", (Run.jitMs - jit0).toDouble)
    sample("pass.codegen_compiles", (Run.codegenCompiles - codegen0).toDouble)
    trace.enabled = false
  }

  private var untimedS = 0.0

  /** Harness work inside a pass (output checks, cache hygiene) that the
    * pass time leaves out. Nothing in it is traced. */
  def untimed(body: => Unit): Unit = {
    val on = trace.enabled
    trace.enabled = false
    val t0 = System.nanoTime()
    try body
    finally {
      untimedS += (System.nanoTime() - t0) / 1e9
      trace.enabled = on
    }
  }

  def toJson(env: Map[String, Any]): String = Json.obj(
    "setup_s" -> setupS,
    "passes_s" -> passes.map(_._1),
    "passes_traced" -> passes.map(_._2),
    "samples" -> samples,
    "counts" -> counts,
    "layers" -> layers,
    "extra" -> extra,
    "attempted" -> attempted,
    "failed" -> failures.size,
    "failures" -> failures,
    "env" -> env)
}

object Run {
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs: Long = jit.getTotalCompilationTime

  /** Generated classes Spark has compiled so far (codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Main {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    // Spark gets half the cores. The other half keeps the client and
    // streaming threads, the JIT and the GC off the task threads' cores:
    // with every core busy, the same pass ran up to twice as slow from one
    // run to the next.
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.max(1, nproc / 2)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // room for every generated class of the catalog's queries: with the
      // default 100 entries the 4-query rotation evicted each class before
      // its next use, so every pass compiled about 135 classes anew, the JIT
      // never caught up, and pass times kept falling for 30 passes
      .config("spark.sql.codegen.cache.maxEntries", 1000L)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val run = new Run(spark, new Trace(spark), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", opt("data"), opt("work"))
    workload match {
      case "log_append" => LogAppend.run(run)
      case "log_scan" => LogScan.run(run)
      case "catalog" => Catalog.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.setupS += sessionStartS
    if (run.traced) {
      run.layers("spark.session_start_s") = sessionStartS
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(opt("work"), "spans.jsonl"), run.trace.spansJson + "\n")
    }

    val env = Map(
      "workload" -> workload,
      "nproc" -> nproc,
      "spark_cores" -> cores,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "seed" -> run.seed,
      "seconds" -> run.seconds,
      "trace" -> run.traced)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), run.toJson(env))
    spark.stop()
  }
}
