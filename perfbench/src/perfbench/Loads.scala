package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._

/** The load workloads. Untraced, a rep is one `LoadMain.run` (the `npm run
  * load` analog) followed by the immediate re-runs; traced, the same load is
  * re-composed from the public calls `LoadPipeline.runCatalog` makes, in its
  * order, each forced and timed (see BENCHMARK.md, "Traced run"). Every rep
  * reports what it published so the runner can check it against the
  * generator's expectations. */
final class Loads(spark: SparkSession, probe: Probe, work: Path) {

  /** One load plus its re-runs, as observed from outside. */
  final case class Rep(opS: Double, rerunS: Seq[Double], delta: Probe.Delta,
      loaded: Seq[String], rerunLoaded: Seq[Seq[String]],
      alerts: Seq[String], rerunAlerts: Seq[Seq[String]],
      states: Map[String, (Long, Long)], dupNamedRows: Long,
      changed: Seq[String], rerunChanged: Seq[String], rewrittenFiles: Int,
      rewrittenBytes: Long, forced: Map[String, Long] = Map.empty) {
    def json: String = Json.obj(Seq(
      "op_s" -> Json.num(opS), "rerun_s" -> Json.arr(rerunS.map(Json.num)),
      "loaded" -> Json.arr(loaded.map(Json.str)),
      "rerun_loaded" -> Json.arr(rerunLoaded.map(l => Json.arr(l.map(Json.str)))),
      "alerts" -> Json.arr(alerts.map(Json.str)),
      "rerun_alerts" -> Json.arr(rerunAlerts.map(a => Json.arr(a.map(Json.str)))),
      "states" -> Json.obj(states.toSeq.sortBy(_._1).map { case (s, (r, k)) =>
        s -> Json.arr(Seq(r.toString, k.toString)) }),
      "dup_named_rows" -> dupNamedRows.toString,
      "changed_states" -> Json.arr(changed.map(Json.str)),
      "rerun_changed_states" -> Json.arr(rerunChanged.map(Json.str)),
      "rewritten_files" -> rewrittenFiles.toString,
      "rewritten_bytes" -> rewrittenBytes.toString,
      "peak_task_mem_mb" -> Json.num(delta.peakMemMb),
      "plan_counts" -> Json.obj(Loads.planCounts.map(k => k -> delta.c(k).toString)),
      "forced_counts" -> Json.obj(Loads.planCounts.map(k => k -> forced.getOrElse(k, 0L).toString)),
    ))
  }

  private var repNo = 0

  /** A fresh (table, manifest) pair, optionally seeded from a base. */
  def freshTarget(base: Option[(String, String)]): (String, String) = {
    repNo += 1
    val dir = work.resolve(s"rep-$repNo")
    Files.createDirectories(dir)
    val (out, man) = (dir.resolve("published"), dir.resolve("manifest"))
    base.foreach { case (bo, bm) =>
      copyTree(Paths.get(bo), out); copyTree(Paths.get(bm), man)
    }
    (out.toString, man.toString)
  }

  /** Load `inputDir` into the target, optionally slicing the work list. */
  def load(inputDir: String, target: (String, String), start: Option[Int] = None,
      end: Option[Int] = None): Seq[String] =
    LoadMain.run(spark, inputDir, target._1, target._2, start = start, end = end)

  /** Run `body` with the program's `AlertListener` delivering into a
    * collecting sink; returns the alerts the body raised. */
  private def withAlerts[T](body: => T): (T, Seq[String]) = {
    val sink = new AlertSink.Collecting
    val listener = new AlertListener(sink)
    spark.listenerManager.register(listener)
    try {
      val v = body
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      (v, sink.messages)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The immediate re-runs after a load: each one's loaded files, wall and
    * alerts. Re-runs are cheap, so a rep makes [[Loads.reruns]] of them. */
  private def reruns(inputDir: String, target: (String, String)): Seq[(Seq[String], Double, Seq[String])] =
    (1 to Loads.reruns).map { _ =>
      val ((loaded, s, _), alerts) = withAlerts(probe.measure(load(inputDir, target)))
      (loaded, s, alerts.sorted)
    }

  /** Untraced rep: the timed load, then the re-runs, then the checks. */
  def rep(inputDir: String, target: (String, String)): Rep = {
    val before = listing(target._1)
    val ((loaded, opS, delta), alerts) = withAlerts(probe.measure(load(inputDir, target)))
    val afterLoad = listing(target._1)
    observe(opS, delta, loaded, alerts, reruns(inputDir, target), target._1, before, afterLoad)
  }

  private def observe(opS: Double, delta: Probe.Delta, loaded: Seq[String],
      alerts: Seq[String], again: Seq[(Seq[String], Double, Seq[String])], out: String,
      before: Map[String, Seq[(String, Long)]],
      afterLoad: Map[String, Seq[(String, Long)]]): Rep = {
    val after = listing(out)
    def changed(a: Map[String, Seq[(String, Long)]], b: Map[String, Seq[(String, Long)]]) =
      (a.keySet ++ b.keySet).toSeq.filter(s => a.get(s) != b.get(s)).sorted
    val ch = changed(before, afterLoad)
    val rewritten = ch.flatMap(afterLoad.getOrElse(_, Nil))
    val perState = spark.read.parquet(out).groupBy("state")
      .agg(count(lit(1)), countDistinct(col("LALVOTERID")),
        count(when(col("Voters_FirstName").endsWith("DUP"), lit(1))))
      .collect()
    val states = perState.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dupNamed = perState.map(_.getLong(3)).sum
    Rep(opS, again.map(_._2), delta, loaded, again.map(_._1), alerts.sorted, again.map(_._3),
      states, dupNamed, ch, changed(afterLoad, after), rewritten.size, rewritten.map(_._2).sum)
  }

  /** Traced rep: `LoadMain.run` re-composed from its public calls, then the
    * layers inside its publish split by cumulative prefixes. Returns the
    * observed rep (checked like an untraced one) and the row counts the
    * traced steps observed. */
  def tracedRep(inputDir: String, target: (String, String), tracer: Tracer): (Rep, Map[String, Double]) = {
    val (outPath, manifestPath) = target
    val before = listing(outPath)
    val sink = new AlertSink.Collecting
    val counts = scala.collection.mutable.Map.empty[String, Double]
    val forced = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def force(df: DataFrame): Unit = {
      val (_, _, d) = probe.measure(df.count())
      Loads.planCounts.foreach(k => forced(k) += d.c(k))
    }
    var sliceDir: Option[Path] = None
    try {
      val (loaded, chain) = tracer.span("LoadMain.run") {
        val d = tracer.span("LoadMain.stage", "LoadMain.run") {
          val all = LoadPipeline.listDataFiles(spark, inputDir)
          val d = Files.createTempDirectory("load-slice")
          sliceDir = Some(d)
          all.foreach { f =>
            val t = Paths.get(f).toAbsolutePath
            Files.createSymbolicLink(d.resolve(t.getFileName), t)
          }
          d
        }
        tracedCatalog(d.toString, manifestPath, outPath, tracer, sink, counts, force)
      }
      val whole = tracer.spans.last
      chain.foreach(layers(_, tracer, counts))
      val (opS, delta) = ((whole.endNs - whole.startNs) / 1e9, whole.delta)
      val afterLoad = listing(outPath)
      val rep = observe(opS, delta, loaded, sink.messages, reruns(inputDir, target),
        outPath, before, afterLoad).copy(forced = forced.toMap)
      (rep, counts.toMap)
    } finally sliceDir.foreach { d =>
      Option(d.toFile.listFiles()).foreach(_.foreach(_.delete()))
      d.toFile.delete()
    }
  }

  /** The frames `LoadPipeline.run` and `runCatalog` chain into the publish;
    * `existing` holds the rows and the checkpointed published keys of the
    * anti-join, when the load runs one. */
  private final case class Chain(raw: DataFrame, projected: DataFrame, deduped: DataFrame,
      wide: DataFrame, existing: Option[(DataFrame, DataFrame)])

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  private def rows(o: Observation): Double = o.get("n").asInstanceOf[Long].toDouble

  /** `LoadPipeline.runCatalog`, step for step, with each step forced and
    * timed as a span. Runs exactly the untraced program's actions plus the
    * forcing (`force`) of the lazily built manifest. It must follow
    * `runCatalog` and `LoadPipeline.run`: the runner fails a traced rep
    * whose plan counters, net of that forcing, differ from its untraced
    * twin's, which is how a change to either shows here. */
  private def tracedCatalog(inputDir: String, manifestPath: String, outPath: String,
      tracer: Tracer, alertSink: AlertSink,
      counts: scala.collection.mutable.Map[String, Double],
      force: DataFrame => Unit): (Seq[String], Option[Chain]) = {
    import spark.implicits._
    val p = "LoadMain.run"
    var chain: Option[Chain] = None
    var manifest = tracer.span("Manifest.load", p) {
      val m = Manifest.load(spark, manifestPath); force(m); m
    }
    val todo = tracer.span("Manifest.pending", p) {
      val all = LoadPipeline.listDataFiles(spark, inputDir).map(_.split("/").last)
      Manifest.pending(all.toDF("name"), manifest)
        .collect().map(_.getString(0)).toSeq.sortBy(n => n.split("--")(0).toInt)
    }
    if (todo.nonEmpty) {
      val lines = tracer.span("Quality.lineCounts", p) {
        Quality.lineCounts(spark, todo.map(f => s"$inputDir/$f"))
      }
      manifest = tracer.span("Manifest.register", p) {
        val m = Manifest.registerAll(manifest, todo.map { f =>
          (f, f.split("--")(1), lines(f).toInt)
        })
        force(m); m
      }
      // LoadPipeline.run
      val files = LoadPipeline.listDataFiles(spark, inputDir)
        .filter(f => todo.contains(f.split("/").last))
      val raw = tracer.span("Ingest.readTsv", p) {
        Ingest.withFileMeta(Ingest.readTsv(spark, files, strict = true))
      }
      val projected = LoadPipeline.derive(raw)
      val deduped = LoadPipeline.dedupeFirstWins(projected)
      val wide = Normalize.widen(deduped, passthrough = LoadPipeline.meta)
      val normalized = Normalize.widen(projected, passthrough = LoadPipeline.meta)
      val report = Quality.loadReport(normalized, deduped, manifest,
        Quality.defaultTolerance, batchFiles = Some(todo))
      // back in runCatalog
      val unreconciled = tracer.span("Quality.loadReport", p) {
        Alerts.observed(report).filter(!col("reconciled")).orderBy(col("state")).collect()
      }
      Quality.alertMessages(unreconciled).foreach(alertSink.send)
      counts("etl.Quality.alerts") = unreconciled.length
      val badStates = unreconciled.map(_.getAs[String]("state")).toSet
      val goodStates = todo.map(_.split("--")(1)).distinct.filterNot(badStates)
      chain = Some(Chain(raw, projected, deduped, wide, None))
      if (goodStates.nonEmpty) {
        val goodRows =
          if (badStates.isEmpty) wide
          else wide.filter(col("state").isInCollection(goodStates))
        val toPublish =
          if (Publish.pathExists(spark, outPath)) {
            val ck = tracer.span("Dedup.againstExisting.keys", p) {
              spark.read.parquet(outPath)
                .filter(!col("state").isInCollection(goodStates))
                .select(col("LALVOTERID")).localCheckpoint(true)
            }
            chain = Some(Chain(raw, projected, deduped, wide, Some((goodRows, ck))))
            Dedup.againstExisting(goodRows, ck, "LALVOTERID")
          } else goodRows
        tracer.span("Publish.publishPartitioned", p)(Publish.publishPartitioned(toPublish, outPath))
      }
      manifest = Manifest.markLoadedAll(manifest,
        todo.filterNot(f => badStates.contains(f.split("--")(1))))
    }
    tracer.span("Manifest.save", p)(Manifest.save(manifest, manifestPath))
    (todo, chain)
  }

  /** Split the publish span into the layers it runs: cumulative prefixes of
    * its chain (scan, +derive, +dedup, +widen, [+existing-key anti-join]),
    * each forced with a no-op write; a layer's self time is its prefix minus
    * the one before, and the publish keeps its wall minus the last prefix.
    * They run after the publish, so code it compiled once serves them too. */
  private def layers(c: Chain, tracer: Tracer,
      counts: scala.collection.mutable.Map[String, Double]): Unit = {
    val p = "Publish.layers"
    var prev = 0.0
    def prefix[T](name: String)(body: => T): T =
      tracer.span(name, p, self = { t => val s = t - prev; prev = t; s })(body)
    prefix("Ingest.scan") {
      val (df, o) = observed(c.raw); noop(df); counts("etl.Ingest.rows_scanned") = rows(o)
    }
    prefix("LoadPipeline.derive")(noop(c.projected))
    prefix("LoadPipeline.dedupeFirstWins") {
      val (df, o) = observed(c.deduped); noop(df)
      counts("etl.Dedup.rows_dropped") = counts("etl.Ingest.rows_scanned") - rows(o)
    }
    prefix("Normalize.widen")(noop(c.wide))
    c.existing.foreach { case (goodRows, ck) =>
      prefix("Dedup.againstExisting") {
        val (g, og) = observed(goodRows)
        val (j, oj) = observed(Dedup.againstExisting(g, ck, "LALVOTERID"))
        noop(j)
        counts("etl.Dedup.existing_rows_dropped") = rows(og) - rows(oj)
      }
    }
    val i = tracer.spans.lastIndexWhere(_.name == "Publish.publishPartitioned")
    if (i >= 0) tracer.spans(i) = tracer.spans(i).copy(self = tracer.spans(i).self - prev)
  }

  /** Per-state listing of the published table: part-file names and sizes. */
  def listing(out: String): Map[String, Seq[(String, Long)]] = {
    val root = new File(out)
    Option(root.listFiles()).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("state="))
      .map { d =>
        d.getName.stripPrefix("state=") -> Option(d.listFiles()).toSeq.flatten
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length()).sortBy(_._1)
      }.toMap
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}

object Loads {
  /** Counters fixed by a load's plans and data, which a traced load must
    * reproduce: jobs, shuffle bytes written and bytes read. */
  val planCounts: Seq[String] = Seq("jobs", "shuffle_write_bytes", "input_bytes")

  /** Immediate re-runs per rep; their median wall is `noop_rerun_s`. */
  val reruns = 2
}
