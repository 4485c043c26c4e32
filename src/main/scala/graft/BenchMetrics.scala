package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query executor-metric attribution for [[Bench]] (VERDICT r13
  * #1): three consecutive rounds of driver-bench anomalies
  * (`dedup_winnow` r11, `text_lm_score` r12+r13, `mm_scene_cuts` r13)
  * could only be adjudicated by after-the-fact local probes that
  * never see what the driver session saw. The missing piece is the
  * operator-observability surface every real engine ships: the bench
  * record itself carries, per query, the raw per-rep wall times plus
  * the executor-side counters that distinguish the three candidate
  * root causes — GC pressure (gc_ms vs run_ms), memory starvation
  * (spill bytes), and plan regression (shuffle bytes, which are
  * deterministic per plan: a changed value means a changed plan, an
  * unchanged value under a slow wall time means session state).
  *
  * Mechanics: one task-grain [[SparkListener]] accumulating since
  * registration; [[Bench]] snapshots the cumulative sums before/after
  * EACH REP (runs are sequential) and differences them — per-rep
  * windows, because a per-query window would sum a variable rep
  * count (the median3/min2 estimator flip) plus rep-1 cold artifact
  * builds, breaking the changed-bytes-means-changed-plan reading.
  * Attribution is exact up to listener-bus delivery, so each snapshot
  * is taken behind [[org.apache.spark.graftbridge.ListenerBridge]]'s
  * drain barrier. `peak_exec_mem` is the max per-task peak inside the
  * window (reset at window start — a sum across tasks would overstate
  * by parallelism). Task-grain, not stage-grain: stage-level
  * TaskMetrics sums the peak accumulator across tasks.
  */
final class BenchMetrics(sc: SparkContext) {
  private val gcMs = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val schedDelayMs = new AtomicLong
  private val shufWrite = new AtomicLong
  private val shufRead = new AtomicLong
  private val spillMem = new AtomicLong
  private val spillDisk = new AtomicLong
  private val inputBytes = new AtomicLong
  private val peak = new AtomicLong

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        runMs.addAndGet(m.executorRunTime)
        // cpu_ms closes the r14 watch-pair ambiguity (VERDICT r14 #2):
        // run_ms is task WALL on the executor — under co-tenant steal
        // it inflates while the task's actual CPU time stays flat.
        // Accumulated in NANOSECONDS and converted once at window
        // close: a per-task floor division to ms loses up to ~1 ms
        // per task, which on sub-ms-task reps (streaming micro-
        // batches) would bias cpu_vs_wall toward the very false
        // "steal" reading the field exists to rule out (review
        // finding, r15).
        cpuNs.addAndGet(m.executorCpuTime)
        // scheduler delay is not a TaskMetrics field; it is what the
        // Spark UI derives per task: total duration minus the phases
        // the executor accounts for — including the indirect-result
        // fetch window (gettingResultTime is the fetch START
        // timestamp, 0 when the result rode the status update).
        // Clamped at 0 — clock-grain skew can make the subtraction
        // marginally negative.
        if (e.taskInfo != null) {
          val fetch =
            if (e.taskInfo.gettingResultTime > 0)
              e.taskInfo.finishTime - e.taskInfo.gettingResultTime
            else 0L
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch
          schedDelayMs.addAndGet(math.max(delay, 0L))
        }
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }
  }
  sc.addSparkListener(listener)

  /** Stop counting: detach the listener from the context. */
  def close(): Unit = sc.removeSparkListener(listener)

  /** Cumulative sums in field order (peak handled separately).
    * cpu rides in ns internally; the ms conversion happens ONCE on
    * the window delta in [[end]], so per-task truncation never
    * accumulates. */
  private def sums: Seq[Long] = Seq(gcMs.get, runMs.get, cpuNs.get,
    schedDelayMs.get, shufWrite.get, shufRead.get, spillMem.get,
    spillDisk.get, inputBytes.get)

  private val names = Seq("gc_ms", "run_ms", "cpu_ms", "sched_delay_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_mem_bytes",
    "spill_disk_bytes", "input_bytes")

  /** Start a query window: drain the bus so the previous query's tail
    * doesn't leak in, reset the in-window peak, snapshot the sums. */
  def begin(): Seq[Long] = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    peak.set(0L)
    sums
  }

  /** Close the window opened by [[begin]]: drain, difference, and
    * return the (name → value) metric pairs for the record. */
  def end(before: Seq[Long]): Seq[(String, Long)] = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    (names.lazyZip(sums).lazyZip(before).map {
      case ("cpu_ms", after, b) => "cpu_ms" -> (after - b) / 1000000L
      case (n, after, b) => n -> (after - b)
    }) :+ ("peak_exec_mem_bytes" -> peak.get)
  }
}
