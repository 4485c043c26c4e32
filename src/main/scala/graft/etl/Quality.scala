package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count reconciliation (SURVEY.md §2.4 A1/A2/A4) — the reference's
  * only "golden output": after a load, `count(*)` must be within
  * `tolerance` (1000, load.ts:240) of the manifest's expected line
  * count, else alert. Here it is a per-state report DataFrame joining
  * loaded counts against expectations.
  */
object Quality {

  val defaultTolerance = 1000L

  /** Per-state load report: rows in, rows after dedup, dups dropped,
    * expected lines (from the manifest), reconciled flag. `raw` must
    * carry `state` and `source_file`; `deduped` is `raw` after PK
    * dedup.
    *
    * Expectations are summed over ONLY the manifest rows for files in
    * the current batch (`batchFiles`, else the files observed in
    * `raw`): summing over all history compares one batch's counts to
    * cumulative expectations, which false-alerts the moment an
    * incremental load adds a file to an already-loaded state (the
    * reference reconciles per file, load.ts:240). The expected side is
    * kept via a FULL outer join so a registered batch file that parsed
    * to ZERO rows still produces a (failing) report row instead of
    * silently vanishing and being marked Loaded unchecked. */
  def loadReport(raw: DataFrame, deduped: DataFrame, manifest: DataFrame,
      tolerance: Long = defaultTolerance,
      batchFiles: Option[Seq[String]] = None): DataFrame = {
    val in = raw.groupBy(col("state")).agg(count(lit(1)).as("rows_in"))
    val out = deduped.groupBy(col("state")).agg(count(lit(1)).as("rows_loaded"))
    val batchManifest = batchFiles match {
      case Some(names) => manifest.filter(col("Filename").isInCollection(names))
      case None => manifest.join(
        raw.select(col("source_file")).distinct(),
        manifest("Filename") === col("source_file"), "left_semi")
    }
    val expected = batchManifest.groupBy(col("State").as("state"))
      .agg(sum(col("Lines")).cast("long").as("expected_lines"))
    in.join(out, Seq("state"), "left")
      .join(expected, Seq("state"), "full_outer")
      .withColumn("rows_in", coalesce(col("rows_in"), lit(0L)))
      .withColumn("rows_loaded", coalesce(col("rows_loaded"), lit(0L)))
      .withColumn("dups_dropped", col("rows_in") - col("rows_loaded"))
      .withColumn("reconciled",
        col("expected_lines").isNull ||
          (col("rows_loaded") >= col("expected_lines") - tolerance &&
            col("rows_loaded") <= col("expected_lines") + tolerance))
      .orderBy(col("state"))
  }

  /** S8 analog: per-file line counts (minus headers) in ONE
    * distributed job over every path, not one scan and one job per
    * file. */
  def lineCounts(spark: SparkSession, paths: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions.{count => cnt, _}
    // input_file_name() is a URI: a filename with a space (legal in
    // the grammar's free `rest` segment) comes back %20-encoded, and
    // an un-decoded key would silently miss the caller's raw-name
    // lookup — which in runCatalog used to disable the quality gate
    // (review finding). Decode percent-escapes driver-side; '+' is
    // protected first because URI encoding leaves it LITERAL while
    // URLDecoder would turn it into a space.
    spark.read.text(paths: _*)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg((cnt(lit(1)) - 1).as("lines"))
      .collect()
      .map { r =>
        java.net.URLDecoder.decode(
          r.getString(0).replace("+", "%2B"), "UTF-8") -> r.getLong(1)
      }.toMap
  }

  /** S12 analog: the alert messages the reference posts to Slack on a
    * failed reconciliation (utils.ts:99-133, load.ts:244-254). The
    * transport is an ops concern; the message contract is engine
    * logic and is what gets tested. */
  def alerts(report: DataFrame): Seq[String] =
    alertMessages(report.filter(!col("reconciled"))
      .orderBy(col("state")).collect())

  /** Message contract over already-collected unreconciled rows —
    * callers that also need the rows (e.g. runCatalog's badStates)
    * collect ONCE and reuse, so an `Alerts.observed` frame fires its
    * metric (and any registered listener) once, not per action. */
  def alertMessages(unreconciled: Array[org.apache.spark.sql.Row]): Seq[String] =
    unreconciled.map { r =>
      val st = r.getAs[String]("state")
      val loaded = r.getAs[Long]("rows_loaded")
      val expected = r.getAs[Long]("expected_lines")
      s"Error: state $st loaded $loaded rows, expected $expected"
    }.toSeq
}
