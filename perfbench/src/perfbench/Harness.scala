package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: sets up one workload, runs its timed reps for
  * the requested seconds and prints one `PERFBENCH {json}` line with what it
  * measured and observed. `run.py` generates the inputs beforehand, checks
  * the observations and derives the metrics.
  *
  *   perfbench.Harness --workload W --seconds S --trace 0|1 --inputs DIR --work DIR
  */
object Harness {
  /** Nominal wall of one untraced load or catalog pass on a 4-core box. A
    * run makes as many reps or passes as fit in `--seconds` at that length, and
    * at least two: the count depends on the requested time only, never on
    * how fast the machine happens to be, since a faster run fitting one more
    * (warmer) rep would shift its median. */
  private val nominalRepS = Map("load_full_width" -> 12.0, "load_incremental" -> 8.0,
    "catalog" -> 4.0)
  private val minReps = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val inputs = Paths.get(a("inputs"))
    val work = Paths.get(a("work"))
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the session graft.etl.LoadMain.main builds; the catalog adds the one
    // setting graft.Bench and graft.Verify add to it
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (workload == "catalog") b.config("spark.sql.leafNodeDefaultParallelism", "4")
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = new Probe(spark)
    val tracer = new Tracer(workload, a.getOrElse("run", "0"), probe)
    val body = try workload match {
      case "load_full_width" | "load_incremental" =>
        loads(spark, probe, tracer, workload, inputs, work, seconds, trace)
      case "catalog" =>
        catalog(spark, probe, tracer, inputs, work, seconds, trace)
      case w => sys.error(s"unknown workload $w")
    } finally {
      if (trace) Files.write(work.resolve("spans.jsonl"),
        tracer.lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_s" -> Json.num(sessionS),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "cpus" -> cpus,
      "driver_max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
    ) ++ body)
    spark.stop()
    println("PERFBENCH " + result)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  private def loads(spark: SparkSession, probe: Probe, tracer: Tracer, workload: String,
      inputs: Path, work: Path, seconds: Double, trace: Boolean): Seq[(String, String)] = {
    val l = new Loads(spark, probe, work)
    val timedIn = inputs.resolve("timed").toString
    // set-up: on load_incremental the base table the timed loads start from
    // (its input dir holds the 51 base files first, then the delivery)
    val (timedBase, baseS) = timed {
      if (workload != "load_incremental") None
      else {
        val t = l.freshTarget(None)
        l.load(timedIn, t, end = Some(50))
        Some(t)
      }
    }
    def cleanup(t: (String, String)): Unit = deleteTree(Paths.get(t._1).getParent)
    def untraced(): l.Rep = {
      val t = l.freshTarget(timedBase)
      try l.rep(timedIn, t) finally cleanup(t)
    }
    // warm-up: on load_incremental the base publish, a cold load of the same
    // shape; load_full_width loads its 26 smallest states (15% of the rows,
    // every code path of the timed load) into a scratch table and re-runs
    // that load once (the no-op path)
    val (_, warmS) = timed {
      if (timedBase.isEmpty) {
        val t = l.freshTarget(None)
        try (1 to 2).foreach(_ => l.load(timedIn, t, start = Some(25))) finally cleanup(t)
      }
    }
    val setup = Seq("warmup_s" -> Json.num(warmS), "base_publish_s" -> Json.num(baseS))
    val fit = (seconds / nominalRepS(workload)).toInt
    if (!trace) {
      val reps = Seq.fill(math.max(minReps, fit))(untraced())
      setup :+ ("reps" -> Json.arr(reps.map(_.json)))
    } else {
      // a traced pair takes about three untraced reps
      val pairs = Seq.fill(math.max(1, fit / 3)) {
        val u = untraced()
        val t = l.freshTarget(timedBase)
        val mark = tracer.spans.size
        try {
          val (r, counts) = l.tracedRep(timedIn, t, tracer)
          (u, r, counts, tracer.spans.drop(mark).toSeq)
        } finally cleanup(t)
      }
      val layers = pairs.map { case (u, r, counts, spans) => loadLayers(u, r, counts, spans) }
      setup ++ Seq(
        "reps" -> Json.arr(pairs.map(_._1.json)),
        "traced_reps" -> Json.arr(pairs.map(_._2.json)),
        "layers" -> Json.arr(layers.map(m => Json.obj(m.map { case (k, v) => k -> Json.num(v) }))))
    }
  }

  private def catalog(spark: SparkSession, probe: Probe, tracer: Tracer, inputs: Path,
      work: Path, seconds: Double, trace: Boolean): Seq[(String, String)] = {
    val c = new Catalog(spark, inputs.resolve("timed").toString)
    val (known, missing) = Catalog.queries.partition(c.moduleOf.contains)
    // set-up: the cold pass builds the artifact store and keeps every
    // result for the oracle check (the keeping is not timed)
    val verify = work.resolve("verify")
    Files.createDirectories(verify)
    val cold = known.map(n => c.run(n, keep = Some(verify)))
    Files.write(verify.resolve("oracle_sql.json"), c.oracles(known).getBytes("UTF-8"))
    def pass(t: Option[Tracer]): (Seq[c.Run], Double, Probe.Delta) =
      probe.measure(t.fold(known.map(c.run(_)))(tr => tr.span("catalog.pass")(known.map(c.run(_, t)))))
    val fit = (seconds / nominalRepS("catalog")).toInt
    val passes = Seq.fill(if (trace) math.max(1, fit / 3) else math.max(minReps, fit)) {
      val u = pass(None)
      val mark = tracer.spans.size
      val t = if (trace) Some(pass(Some(tracer))) else None
      (u, t, tracer.spans.drop(mark).toSeq)
    }
    def runs(rs: Seq[c.Run]) = Json.arr(rs.map(_.json))
    Seq(
      "warmup_s" -> Json.num(cold.map(_.wallS).sum), "base_publish_s" -> "0",
      "missing" -> Json.arr(missing.map(Json.str)),
      "cold" -> runs(cold),
      "passes" -> Json.arr(passes.map(p => runs(p._1._1))),
      "pass_s" -> Json.arr(passes.map(p => Json.num(p._1._2))),
    ) ++ (if (!trace) Nil else Seq(
      "traced_passes" -> Json.arr(passes.map(p => runs(p._2.get._1))),
      "layers" -> Json.arr(passes.map { case ((u, uS, ud), Some((_, tS, _)), spans) =>
        val leaves = spans.filter(s => s.name.startsWith("SparkEntry.") || s.parent == "catalog.pass")
        val selfSum = leaves.map(_.self).sum
        Json.obj((Seq(
          "SparkEntry.build_s" -> u.map(_.buildS).sum,
          "SparkEntry.plan_s" -> u.map(_.planS).sum,
          "SparkEntry.exec_s" -> u.map(_.execS).sum,
          "trace.untraced_s" -> uS, "trace.recomposed_s" -> tS, "trace.traced_s" -> tS,
          "trace.overhead_s" -> (tS - uS), "trace.self_sum_s" -> selfSum,
          "trace.unattributed_s" -> (uS - selfSum),
        ) ++ u.groupBy(_.module).map { case (m, rs) => s"ops.${m}_s" -> rs.map(_.wallS).sum }
          ++ ud.sparkMetrics).map { case (k, v) => k -> Json.num(v) })
      })))
  }

  /** Per-layer metrics of one traced load against its untraced twin. */
  private def loadLayers(u: Loads#Rep, r: Loads#Rep, counts: Map[String, Double],
      spans: Seq[Span]): Seq[(String, Double)] = {
    def self(n: String) = spans.filter(_.name == n).map(_.self).sum
    val leaves = spans.filter(s => s.parent == "LoadMain.run" || s.parent == "Publish.layers")
    val layerWall = spans.filter(_.parent == "Publish.layers").map(s => (s.endNs - s.startNs) / 1e9).sum
    val pub = spans.filter(_.name == "Publish.publishPartitioned")
    val writers = pub.flatMap(_.delta.writerTaskMs).sorted
    val maxW = if (writers.isEmpty) 0.0 else writers.last / 1e3
    val medW = if (writers.isEmpty) 0.0 else writers(writers.size / 2) / 1e3
    val selfSum = leaves.map(_.self).sum
    Seq(
      "etl.Ingest.readTsv_s" -> self("Ingest.readTsv"),
      "etl.Ingest.scan_s" -> self("Ingest.scan"),
      "etl.Ingest.rows_scanned" -> counts.getOrElse("etl.Ingest.rows_scanned", 0.0),
      "etl.LoadPipeline.derive_s" -> self("LoadPipeline.derive"),
      "etl.LoadPipeline.dedupeFirstWins_s" -> self("LoadPipeline.dedupeFirstWins"),
      "etl.Dedup.rows_dropped" -> counts.getOrElse("etl.Dedup.rows_dropped", 0.0),
      "etl.Normalize.widen_s" -> self("Normalize.widen"),
      "etl.Publish.publishPartitioned_s" -> self("Publish.publishPartitioned"),
      "etl.Publish.files_written" -> r.rewrittenFiles.toDouble,
      "etl.Publish.bytes_written" -> pub.map(_.delta.c("output_bytes")).sum.toDouble,
      "etl.Publish.writer_tasks" -> writers.size.toDouble,
      "etl.Publish.max_writer_task_s" -> maxW,
      "etl.Publish.writer_skew" -> (if (medW > 0) maxW / medW else 0.0),
      "etl.Quality.lineCounts_s" -> self("Quality.lineCounts"),
      "etl.Quality.loadReport_s" -> self("Quality.loadReport"),
      "etl.Quality.alerts" -> counts.getOrElse("etl.Quality.alerts", 0.0),
      "etl.Manifest.register_s" -> self("Manifest.register"),
      "etl.Manifest.save_s" -> self("Manifest.save"),
      "etl.Dedup.againstExisting_s" ->
        (self("Dedup.againstExisting.keys") + self("Dedup.againstExisting")),
      "etl.Dedup.existing_rows_dropped" -> counts.getOrElse("etl.Dedup.existing_rows_dropped", 0.0),
      "etl.input_bytes" -> u.delta.c("input_bytes").toDouble,
      "trace.untraced_s" -> u.opS,
      "trace.recomposed_s" -> r.opS,
      "trace.traced_s" -> (r.opS + layerWall),
      "trace.overhead_s" -> (r.opS + layerWall - u.opS),
      "trace.self_sum_s" -> selfSum,
      "trace.unattributed_s" -> (u.opS - selfSum),
    ) ++ u.delta.sparkMetrics
  }
}
