package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end voter-file load (SURVEY.md §3.2/§3.4): the
  * reference's `npm run load` + the load-s3 derive steps, as one
  * declarative DataFrame program:
  *
  *   TSV scan (S6, strict) → file metadata (F1/F2) → projection +
  *   coercion (P1–P4) → city cleanup (F5) → geohash derive (F6) →
  *   first-wins PK dedup (A3) → partitioned publish (D2) →
  *   reconciliation report (A1/A4).
  *
  * Everything before the dedup shuffle is narrow — scan, file
  * metadata and derive run in one stage per input split, mirroring the
  * reference's single-pass stream (SURVEY.md §3.4). At 339 columns
  * that stage is not whole-stage codegen'd (more than
  * `spark.sql.codegen.maxFields`, 100): each `Project` is a separate
  * row copy of every column. So each narrow step is ONE `select`: the
  * file metadata one (its `input_file_name()` is non-deterministic, so
  * Catalyst keeps it apart), and derive one, which the dedup's `__seq`
  * joins. Above the dedup shuffle the drops and the widen collapse
  * into one more, and a non-nullable `state` spares the writer its own
  * `empty2null` projection: three `Project` row copies per voter. The
  * only exchange is the PK dedup; publish repartitions by `state` so
  * each output partition is written by one task.
  */
object LoadPipeline {

  case class Result(report: DataFrame, loaded: DataFrame)

  /** Run the load over a directory of `NN--ST--*.tab` files (or an
    * explicit subset of them via `only`). */
  def run(spark: SparkSession, inputDir: String,
      outPath: Option[String] = None,
      manifest: Option[DataFrame] = None,
      only: Option[Seq[String]] = None,
      tolerance: Long = Quality.defaultTolerance): Result = {
    val discovered = listDataFiles(spark, inputDir)
    val files = only match {
      case Some(names) =>
        discovered.filter(f => names.contains(f.split("/").last))
      case None => discovered
    }
    require(files.nonEmpty, s"no data files in $inputDir")

    val raw = Ingest.withFileMeta(
      Ingest.readTsv(spark, files, strict = true))

    val projected = derive(raw)
    val deduped = dedupeFirstWins(projected)

    val normalized = Normalize.widen(projected, passthrough = meta)
    val wide = Normalize.widen(deduped, passthrough = meta)
    outPath.foreach(p => Publish.publishPartitioned(wide, p))

    val m = manifest.getOrElse(Manifest.empty(spark))
    val batchNames = files.map(_.split("/").last)
    Result(Quality.loadReport(normalized, deduped, m, tolerance,
      batchFiles = Some(batchNames)), wide)
  }

  /** Metadata columns carried alongside voter data through the load. */
  val meta: Seq[String] = Seq("source_file", "file_number", "state")

  /** The narrow transform: projection + coercion on present columns
    * only (the 300+ absent schema columns become typed NULLs only after
    * the dedup shuffle), city cleanup, geohash derive — one `Project`,
    * each column coerced once. The geohash replaces an input
    * `Residence_Addresses_GeoHash` in place, or is appended after
    * `meta` when the input has none. */
  def derive(raw: DataFrame): DataFrame =
    Normalize.project(raw, passthrough = meta, derived = c => Seq(
      "City" -> Normalize.stripEstMarker(c("City")),
      "Residence_Addresses_GeoHash" -> Geo.geohash8Native(
        c("Residence_Addresses_Latitude"), c("Residence_Addresses_Longitude"))))

  /** A3: the reference keeps the first-inserted row per LALVOTERID;
    * file order (numeric prefix) then in-file order is the insert
    * order. The scan-order id must be materialized as a column before
    * the window (non-deterministic exprs can't be window sort keys). */
  def dedupeFirstWins(projected: DataFrame): DataFrame =
    Dedup.firstWins(
      projected.withColumn("__seq", monotonically_increasing_id()),
      Seq("LALVOTERID"), Seq(col("file_number"), col("__seq")))
      .drop("__seq")

  /** The reference's full `npm run load` driver loop (SURVEY.md §3.2),
    * catalog-driven and idempotent: discover files → skip ones the
    * manifest marks Loaded (P6) → load/publish the rest → register +
    * mark Loaded (S10/S11) → persist the manifest. A re-run with an
    * unchanged input dir loads nothing and leaves an existing manifest
    * as it is. Returns the loaded file names.
    */
  def runCatalog(spark: SparkSession, inputDir: String,
      manifestPath: String, outPath: String,
      tolerance: Long = Quality.defaultTolerance,
      alertSink: AlertSink = AlertSink.Stderr): Seq[String] = {
    import spark.implicits._
    var manifest = Manifest.load(spark, manifestPath)
    val all = listDataFiles(spark, inputDir).map(_.split("/").last)
    val todo = Manifest.pending(all.toDF("name"), manifest)
      .collect().map(_.getString(0)).toSeq
      .sortBy(n => n.split("--")(0).toInt)
    if (todo.nonEmpty) {
      // S10: register the pending files UP FRONT (expected line counts
      // in one distributed pass, ONE batch upsert — a per-file
      // register() fold builds an O(files)-deep join chain) so
      // reconciliation below runs against real expectations. A file
      // the count pass didn't cover is a loud error: registering a
      // sentinel instead would silently disable its quality gate.
      val lines = Quality.lineCounts(spark, todo.map(f => s"$inputDir/$f"))
      manifest = Manifest.registerAll(manifest, todo.map { f =>
        val n = lines.getOrElse(f,
          sys.error(s"no line count for pending file '$f' — " +
            s"counted keys: ${lines.keys.toSeq.sorted.mkString(", ")}"))
        (f, f.split("--")(1), n.toInt)
      })
      // load ONLY the pending files: already-loaded partitions stay
      // untouched (dynamic overwrite replaces only published states)
      val result = run(spark, inputDir, only = Some(todo),
        manifest = Some(manifest), tolerance = tolerance)
      // A4/S12: reconcile counts BEFORE publishing — load.ts aborts
      // before the swap on a failed check, so an unreconciled state's
      // partition must keep its OLD published data, not receive the
      // bad rows (review finding; previously the publish ran first).
      // Alerts go to the pluggable sink directly AND are published as
      // an observed metric. ONE action over the observed frame — a
      // second collect would fire the observed metric again and make
      // a registered AlertListener deliver every alert twice.
      val unreconciled = Alerts.observed(result.report)
        .filter(!col("reconciled")).orderBy(col("state")).collect()
      Quality.alertMessages(unreconciled).foreach(alertSink.send)
      val badStates = unreconciled.map(_.getAs[String]("state")).toSet
      // Incremental sink dedup (SURVEY.md §7.4): a PK may already be
      // published under ANOTHER state's partition — drop such rows
      // (ON CONFLICT DO NOTHING across the whole table). Keys in the
      // states actually being (re)written don't count: those
      // partitions are replaced by this publish. An unreconciled
      // state's partition is NOT replaced, so its published keys DO
      // count.
      val goodStates = todo.map(_.split("--")(1)).distinct
        .filterNot(badStates)
      if (goodStates.nonEmpty) {
        val goodRows =
          if (badStates.isEmpty) result.loaded
          else result.loaded.filter(col("state").isInCollection(goodStates))
        val toPublish =
          if (Publish.pathExists(spark, outPath)) {
            // localCheckpoint: the publish overwrites the path this key
            // set is read from — materialize the (small) key column
            // eagerly so the write doesn't read its own target
            val existingKeys = spark.read.parquet(outPath)
              .filter(!col("state").isInCollection(goodStates))
              .select(col("LALVOTERID")).localCheckpoint(true)
            Dedup.againstExisting(goodRows, existingKeys, "LALVOTERID")
          } else goodRows
        Publish.publishPartitioned(toPublish, outPath)
      }
      manifest = Manifest.markLoadedAll(manifest,
        todo.filterNot(f => badStates.contains(f.split("--")(1))))
    }
    // nothing pending: an existing manifest is unchanged, a missing one
    // is still written so the first run over an empty dir leaves one
    if (todo.nonEmpty || !Publish.pathExists(spark, manifestPath))
      Manifest.save(manifest, manifestPath)
    todo
  }

  /** S4/P5/O1: discover `.tab` files, skip DEMOGRAPHIC, numeric sort
    * by the `NN--` prefix. Driver-side listing — the work list is
    * file-count-sized, not data-sized. Listed through the path's
    * Hadoop filesystem, NOT java.io.File: a local-only listing is
    * silently empty on hdfs://s3a:// input dirs, which would make
    * runCatalog "succeed" having loaded nothing (the same failure
    * class as the Manifest.load fix). Every listed name must follow
    * the `NN--ST--*.tab` grammar (F1/F2); this is the one place it is
    * checked, so callers may split names without guarding. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val names =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
        .filter(n => n.contains(".tab") && !n.contains("DEMOGRAPHIC"))
    names.foreach { n =>
      val parts = n.split("--", 3)
      require(parts.length == 3 && parts(0).matches("[0-9]{1,9}") &&
          parts(1).nonEmpty,
        s"data file '$n' in $dir does not follow the NN--ST--*.tab " +
          "grammar (numeric file number, then a state token)")
    }
    names.sortBy(n => n.split("--")(0).toInt).map(n => s"$dir/$n").toSeq
  }
}
