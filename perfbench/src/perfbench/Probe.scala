package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark observes from outside the program: the
  * program's own `graft.BenchMetrics` (task CPU, GC, scheduler delay,
  * shuffle, spill, input bytes, per-task peak execution memory), a
  * `SparkListener` for what that lacks (jobs, stages, tasks, output bytes,
  * writer-task durations), a `QueryExecutionListener` (driver planning time
  * of every SQL action) and Spark's codegen compile count. All listeners are
  * registered here, by the benchmark. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = Seq("jobs", "stages", "tasks", "output_bytes", "plan_ms")
    .map(_ -> new AtomicLong).toMap
  private val writerTaskMs = mutable.ArrayBuffer.empty[Long]
  private val bench = new graft.BenchMetrics(sc)

  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val written = Option(e.taskMetrics).map(_.outputMetrics.bytesWritten).getOrElse(0L)
      add("output_bytes", written)
      if (written > 0 && e.taskInfo != null)
        writerTaskMs.synchronized(writerTaskMs += e.taskInfo.duration)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  })

  /** A window over the counters: open it, run the action, close it. */
  final class Window private[Probe] (before: Map[String, Long], benchBefore: Seq[Long],
      writersBefore: Int) {
    def close(): Probe.Delta = {
      val bm = bench.end(benchBefore).toMap // drains the listener bus
      val after = snapshot
      val writers = writerTaskMs.synchronized(writerTaskMs.drop(writersBefore).toVector)
      Probe.Delta(bm ++ after.map { case (k, v) => k -> (v - before(k)) }, writers)
    }
  }

  private def snapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.get } +
    ("codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def open(): Window = {
    val b = bench.begin() // drains the listener bus
    new Window(snapshot, b, writerTaskMs.synchronized(writerTaskMs.size))
  }

  /** Run `body` inside a window; returns its value, wall seconds and delta. */
  def measure[T](body: => T): (T, Double, Probe.Delta) = {
    val w = open()
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e9
    (v, wall, w.close())
  }
}

object Probe {
  /** Counter deltas of one window (`graft.BenchMetrics`' names plus the
    * benchmark's own) and the durations of its writer tasks. */
  final case class Delta(c: Map[String, Long], writerTaskMs: Vector[Long]) {
    def peakMemMb: Double = c("peak_exec_mem_bytes") / 1048576.0

    /** The `spark.*` per-layer metrics of this window. */
    def sparkMetrics: Seq[(String, Double)] = Seq(
      "spark.jobs" -> c("jobs").toDouble,
      "spark.stages" -> c("stages").toDouble,
      "spark.tasks" -> c("tasks").toDouble,
      "spark.sched_delay_s" -> c("sched_delay_ms") / 1e3,
      "spark.cpu_s" -> c("cpu_ms") / 1e3,
      "spark.gc_s" -> c("gc_ms") / 1e3,
      "spark.shuffle_write_bytes" -> c("shuffle_write_bytes").toDouble,
      "spark.spill_bytes" -> (c("spill_mem_bytes") + c("spill_disk_bytes")).toDouble,
      "spark.plan_s" -> c("plan_ms") / 1e3,
      "spark.codegen_compiles" -> c("codegen_compiles").toDouble,
      "spark.peak_task_mem_mb" -> peakMemMb,
    )
  }
}

/** One timed call in a traced run. `self` is the span's own share of the
  * untraced wall (see BENCHMARK.md); the counters are the Spark work done
  * inside the span. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String,
    self: Double, delta: Probe.Delta)

/** In-memory span recorder; written as JSON lines once the run ends. */
final class Tracer(workload: String, runId: String, probe: Probe) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `body` as a span; `self` maps the span's wall to its self time
    * (identity for plain calls, minus the previous prefix for cumulative
    * prefixes). */
  def span[T](name: String, parent: String = "", self: Double => Double = identity)(body: => T): T = {
    val w = probe.open()
    val s = System.nanoTime()
    val v = body
    val e = System.nanoTime()
    val d = w.close()
    spans += Span(name, s, e, parent, self((e - s) / 1e9), d)
    v
  }

  def lines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq(
      "workload" -> Json.str(workload), "run" -> Json.str(runId),
      "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
      "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9),
      "self_s" -> Json.num(s.self),
      "spark" -> Json.obj(s.delta.sparkMetrics.map { case (k, v) => k -> Json.num(v) }),
    ))
  }
}

/** Minimal JSON rendering for the result and span records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
