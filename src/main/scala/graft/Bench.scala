package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JIT + codegen + parquet reader paths on the smallest SF
    // so the first timed query doesn't absorb ~8 s of JVM warm-up.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // The streaming engine (state stores, offset log, sinks) has its
    // own one-time class-load/init cost (~4-5 s); warm it on the same
    // smallest-SF dir entry() reads, so measured streaming queries
    // reflect steady-state micro-batch cost rather than
    // first-ever-query cost. (If that dir is absent the entry warm-up
    // already failed the same way; both are best-effort by design.)
    val warmSf = "/root/testdata/sf0.001"
    try SparkEntry.queries("stream_stateful_totals")(spark, warmSf).count()
    catch { case _: Throwable => }
    // Noise-robust per-query timing (VERDICT r3 #3): single-shot
    // timings on a co-tenant box carry a ±30% noise band, which made
    // sub-2 s "regressions" indistinguishable from noise. Every query
    // runs at least twice; cheap queries (min of the first two runs
    // ≤ 2 s) run a third time and report the MEDIAN, expensive ones
    // report the MIN of 2 — co-tenant/JIT noise is purely additive,
    // so min is the robust estimator there, and one extra run bounds
    // wall time where repeats are priciest. Classifying on the min of
    // TWO runs (not the first alone) keeps boundary queries from
    // flipping estimators round-over-round on one noisy sample.
    // Cutoff 5 → 2 s (VERDICT r7 #8): at 140+ queries the third rep
    // of every deliberately-expensive exact stage (dedup_semantic,
    // corpus_overlap, the streaming fixed-overhead rows) is what
    // grows suite wall time; min2 is already the robust estimator
    // for that class, so the catalog can keep growing with flat wall.
    // bench_compare.py flags the median3->min2 estimator flips this
    // causes once, by design.
    val repeatCutoffSec = 2.0
    // Self-attributing record (VERDICT r13 #1): every raw rep time and
    // the per-query executor-metric deltas ride in bench_out.json, so
    // a driver-session anomaly (min2 with BOTH reps slow, like
    // text_lm_score r12/r13) carries its own root cause — high gc_ms
    // = GC pressure, spill bytes = memory starvation, changed shuffle
    // bytes = changed plan, none of the above = co-tenant wall noise.
    val metrics = new BenchMetrics(spark.sparkContext)
    val results = SparkEntry.queries.map { case (name, fn) =>
      var failed = false
      val reps = Seq.newBuilder[Double]
      // metrics are PER REP (one window around each run), not per
      // query: a per-query window sums a variable rep count (2 vs 3
      // as the estimator flips round-over-round) plus rep-1's cold
      // artifact builds, which would break the reading rule "changed
      // shuffle bytes = changed plan" with a ~33% phantom delta
      // (review finding). Rep-aligned windows make rep 1 vs rep 2
      // separate cold-serve vs steady-state evidence.
      val repMetrics = Seq.newBuilder[Seq[(String, Long)]]
      def once(): Double = {
        val before = metrics.begin()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case _: Throwable => failed = true }
        val t = (System.nanoTime() - t0) / 1e9
        reps += t
        repMetrics += metrics.end(before)
        t
      }
      // short-circuit after a failed run: the value is discarded as
      // the -1.0 sentinel regardless, and re-running a throwing query
      // 1-2 more times cost minutes across r6's 15 failures
      val r1 = once()
      val r2 = if (failed) r1 else once()
      val (stat, estimator) =
        if (failed) (-1.0, "error")
        else if (math.min(r1, r2) <= repeatCutoffSec) {
          val runs = Seq(r1, r2, once()).sorted
          (runs(1), "median3")
        } else (math.min(r1, r2), "min2")
      // a broken query must not masquerade as a fast one: its
      // time-to-exception would read as a huge "improvement" in
      // round-over-round comparison (bench_compare skips values <= 0)
      name -> (if (failed) (-1.0, "error", reps.result(), repMetrics.result())
               else (stat, estimator, reps.result(), repMetrics.result()))
    }
    // Deterministic artifact: sorted keys, complete record in ONE line
    // written to bench_out.json. stdout needs more care: the driver's
    // log capture keeps only the LAST ~2000 chars of stdout and
    // json-parses what it finds there (BENCH_r04 lost 47/107 queries;
    // BENCH_r05's tail held only the estimators map; BENCH_r06's tail
    // started MID-LINE, so the driver's parse came back null and the
    // first ~40 queries were unrecoverable). The full record is ~6 KB —
    // it can never fit that window — so stdout prints in significance
    // order, least → most, every line a COMPLETE json document:
    //   1. the full one-line record (for full-stdout captures),
    //   2. the per-query map re-printed in small chunk lines (each
    //      parses standalone; whichever suffix of them survives the
    //      tail window is regex-recoverable by bench_compare.py),
    //   3. LAST: a compact headline line sized to fit the tail window
    //      WHOLE — totals plus the slowest queries that fit — so the
    //      driver's line parse always succeeds on it.
    // The per-query estimator tag (bench_out.json only) lets
    // bench_compare.py flag median3<->min2 flips (min reads
    // systematically lower than median) instead of reading them as
    // real deltas.
    val sorted = results.toSeq.sortBy(_._1)
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def qjson(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val qs = qjson(sorted.map { case (k, (v, _, _, _)) => k -> v })
    val est = sorted.map { case (k, (_, e, _, _)) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    // the self-attribution payload (bench_out.json only — stdout's
    // tail window stays reserved for the headline): raw per-rep wall
    // times, and the executor-metric deltas for each query's window
    val repsJson = sorted.map { case (k, (_, _, reps, _)) =>
      "\"" + k + "\":" + reps.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val metricsJson = sorted.map { case (k, (_, _, _, ms)) =>
      "\"" + k + "\":" + ms.map(rep =>
        rep.map { case (n, v) => "\"" + n + "\":" + v }
          .mkString("{", ",", "}")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // a failed query's -1.0 sentinel must not understate the headline
    // total (ADVICE r5): sum only valid statistics, surface the count
    val valid = results.values.collect { case (v, e, _, _) if e != "error" => v }
    val total = valid.sum
    val failed = results.values.count(_._2 == "error")
    // Suite-level session-health scalar (VERDICT r14 #2): classify the
    // whole measurement window in one line instead of per-query
    // reading. gc_share = ΣjvmGCTime/ΣexecutorRunTime (memory
    // pressure), cpu_vs_wall = ΣexecutorCpuTime/ΣexecutorRunTime (a
    // LOW ratio on a dedicated box means tasks waited — co-tenant
    // steal / scheduler inflation), spill_total = bytes spilled
    // anywhere in the suite. Sums run over every rep of every query.
    val allReps = results.values.flatMap(_._4)
    def msum(k: String): Long =
      allReps.map(_.collectFirst { case (`k`, v) => v }.getOrElse(0L)).sum
    val sumRun = math.max(msum("run_ms"), 1L)
    val session =
      s"""{"gc_share":${fmt(msum("gc_ms").toDouble / sumRun)},"cpu_vs_wall":${fmt(msum("cpu_ms").toDouble / sumRun)},"sched_delay_ms":${msum("sched_delay_ms")},"spill_total_bytes":${msum("spill_mem_bytes") + msum("spill_disk_bytes")},"run_ms_total":$sumRun}"""
    val line =
      s"""{"session":$session,"estimators":$est,"reps":$repsJson,"exec_metrics":$metricsJson,"queries":$qs,"metric":"total","value":$total,"failed":$failed,"unit":"sec","sf":"$sfDir"}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.write(outPath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    // (2) chunk lines: ~12 queries each stays well under the window
    sorted.map { case (k, (v, _, _, _)) => k -> v }.grouped(12).zipWithIndex
      .foreach { case (chunk, i) =>
        println(s"""{"bench_part":${i + 1},"queries":${qjson(chunk)}}""")
      }
    // (3) final compact line: slowest-first per-query pairs (the ones
    // perf grading cares about) added while the whole line stays
    // inside a conservative tail budget; count what was dropped so
    // the line never silently reads as complete coverage
    val tailBudget = 1500 // chars; window is ~2000 minus sbt epilogue
    val bySlowest = results.toSeq
      .filter(_._2._2 != "error").sortBy(-_._2._1)
      .map { case (k, (v, _, _, _)) => k -> v }
    // the session-health scalar rides in the tail headline too (~110
    // chars): the driver's truncated capture then still classifies
    // the window (loaded vs clean) without the full record
    val headlineFixed =
      s""","session":$session,"metric":"total","value":${fmt(total)},"failed":$failed,"n_queries":${results.size},"complete_record":"bench_out.json","unit":"sec","sf":"$sfDir"}"""
    val picked = Seq.newBuilder[(String, Double)]
    var used = """{"slowest_queries":{}""".length + headlineFixed.length
    var omitted = 0
    bySlowest.foreach { case (k, v) =>
      val cost = k.length + fmt(v).length + 4
      if (used + cost <= tailBudget) { picked += (k -> v); used += cost }
      else omitted += 1
    }
    println(s"""{"slowest_queries":${qjson(picked.result())},"queries_omitted":$omitted$headlineFixed""")
    spark.stop()
  }
}
