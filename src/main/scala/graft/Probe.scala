package graft

import java.io.PrintStream
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev probe over the query catalog, on the session Bench uses:
  *
  *   runMain graft.Probe <plan|time|stream> q1,q2,... [sfDir] [reps]
  *
  *  - `plan` runs each query's `count` once (the action Bench times) and
  *    prints that count's formatted AQE-final plan.
  *  - `time` warms the JVM on `SparkEntry.entry`, then prints, per query
  *    and rep, the wall time, the Spark jobs, stages and tasks the rep
  *    ran, and its [[BenchMetrics]] deltas.
  *  - `stream` is `time` plus one line per streaming micro-batch with its
  *    `durationMs` breakdown, for attributing a twin's fixed cost.
  *
  * A probe measures the plan configuration Bench measures only on the same
  * session, so it builds through [[Sessions.local]], cores included.
  */
object Probe {
  private val modes = Set("plan", "time", "stream")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Probe <plan|time|stream> q1,q2,... [sfDir] [reps]")
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(3).fold(3)(_.toInt)
    val spark = Sessions.local().appName("graft-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args(0), names, sfDir, reps, System.out)
    finally spark.stop()
  }

  /** The probe body, on a caller-built session; prints to `out`. */
  def run(spark: SparkSession, mode: String, names: Seq[String], sfDir: String,
      reps: Int, out: PrintStream): Unit = {
    require(modes(mode), s"unknown mode $mode (known: ${modes.toSeq.sorted.mkString(", ")})")
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (mode == "plan") names.foreach { q =>
      // Dataset.count() plans exactly this aggregate; collecting it
      // through its own QueryExecution leaves that plan finalized
      val counted = queries(q)(spark, sfDir).groupBy().count()
      counted.collect()
      out.println(s"===== $q =====")
      out.println(counted.queryExecution.explainString(FormattedMode))
    } else {
      try SparkEntry.entry(spark).count() catch { case NonFatal(_) => () } // warm-up
      timeReps(spark, names.map(q => q -> queries(q)), sfDir, reps, out,
        batches = mode == "stream")
    }
  }

  private def timeReps(spark: SparkSession,
      named: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, reps: Int, out: PrintStream, batches: Boolean): Unit = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }
    }
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        out.println(s"  ${p.name} batch ${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val metrics = new BenchMetrics(sc)
    sc.addSparkListener(counter)
    if (batches) spark.streams.addListener(progress)
    try for ((q, fn) <- named; rep <- 1 to reps) {
      val before = metrics.begin()
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val start = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - start) / 1e9
      // end() drains the listener bus, so the counters below (and every
      // batch line) belong to this rep
      val deltas = metrics.end(before).map { case (k, v) => s"$k=$v" }.mkString(" ")
      out.println(f"$q rep $rep: $wall%.3f s jobs=${jobs.get - j0} " +
        s"stages=${stages.get - s0} tasks=${tasks.get - t0} $deltas")
    } finally {
      if (batches) spark.streams.removeListener(progress)
      sc.removeSparkListener(counter)
      metrics.close()
    }
  }
}
