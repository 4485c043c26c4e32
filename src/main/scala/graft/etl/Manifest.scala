package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The VoterFile load catalog (SURVEY.md §2.1 S10/S11, §2.2 P6/P7):
  * one row per ingested file — Filename (PK), State, Lines (expected
  * row count), Loaded flag, updatedAt.
  *
  * The reference keeps this in Postgres and does per-file point
  * lookups (load.ts:98-108, 221-225). Here it is a small DataFrame
  * persisted as parquet; every lookup shape is a broadcast-able join
  * or filter, and updates are read-modify-write of a tiny table
  * (at 100 TB of *data* the manifest is still only one row per file —
  * thousands of rows — so driver-size operations on it are fine).
  */
object Manifest {

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.voterFile)

  /** S10: register a downloaded file (Loaded=false). Upsert on the
    * Filename PK — re-registering must not create duplicate rows
    * (duplicates would double expected_lines in reconciliation). */
  def register(manifest: DataFrame, filename: String, state: String,
      lines: Int): DataFrame = {
    val row = manifest.sparkSession.createDataFrame(
      java.util.List.of(Row(filename, state, Integer.valueOf(lines),
        java.lang.Boolean.FALSE, new java.sql.Timestamp(0L))),
      Schemas.voterFile)
      .withColumn("updatedAt", current_timestamp())
    Merge.upsert(manifest, row, "Filename")
  }

  /** Batch form of [[register]]: ONE new-rows frame, ONE upsert. A
    * per-file fold of register() builds an O(files)-deep chain of
    * anti-joins and unions in the manifest plan — a 2,000-file
    * backfill becomes unanalyzable (or a StackOverflow) before a
    * single row loads (review finding). */
  def registerAll(manifest: DataFrame,
      files: Seq[(String, String, Int)]): DataFrame = {
    if (files.isEmpty) manifest
    else {
      val rows = files.map { case (f, st, lines) =>
        Row(f, st, Integer.valueOf(lines), java.lang.Boolean.FALSE,
          new java.sql.Timestamp(0L))
      }
      val batch = manifest.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](rows.asJava), Schemas.voterFile)
        .withColumn("updatedAt", current_timestamp())
      Merge.upsert(manifest, batch, "Filename")
    }
  }

  /** Batch form of [[markLoaded]] — one CASE over a literal set, not
    * one nested when() per file. Also stamps `updatedAt` like the
    * singular form: without it the batched path left the registration
    * timestamp in place and lost the load-completion time (ADVICE
    * r7). */
  def markLoadedAll(manifest: DataFrame, filenames: Seq[String]): DataFrame =
    if (filenames.isEmpty) manifest
    else manifest
      .withColumn("Loaded",
        when(col("Filename").isInCollection(filenames), lit(true))
          .otherwise(col("Loaded")))
      .withColumn("updatedAt",
        when(col("Filename").isInCollection(filenames), current_timestamp())
          .otherwise(col("updatedAt")))

  /** S11: mark a file loaded after a successful publish (upsert). */
  def markLoaded(manifest: DataFrame, filename: String): DataFrame =
    manifest
      .withColumn("Loaded",
        when(col("Filename") === filename, lit(true)).otherwise(col("Loaded")))
      .withColumn("updatedAt",
        when(col("Filename") === filename, current_timestamp())
          .otherwise(col("updatedAt")))

  /** P6/J1: candidate files not yet loaded — anti-join against the
    * manifest's Loaded rows (idempotent re-runs skip finished work). */
  def pending(files: DataFrame, manifest: DataFrame): DataFrame =
    files.join(
      manifest.filter(col("Loaded")).select(col("Filename")),
      files("name") === col("Filename"), "left_anti")

  /** Persist / restore the catalog (tiny table: read-modify-write). */
  def save(manifest: DataFrame, path: String): Unit = {
    // localCheckpoint-free safe rewrite: materialize before overwrite
    val rows = manifest.collect()
    val fresh = manifest.sparkSession
      .createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.voterFile)
    fresh.coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): DataFrame =
    // Hadoop-FS existence check, NOT java.io.File: a local-only check
    // is silently false on hdfs://s3a:// paths, which would reset the
    // catalog every run and defeat the P6 idempotent skip entirely.
    // The schema is pinned ([[save]] writes exactly it), which spares
    // the Spark job parquet would run to read it from a footer. With
    // it pinned, a directory holding no data file (an overwrite that
    // died before its commit) would read as an empty catalog and
    // reload everything; it is refused instead.
    if (Publish.pathExists(spark, path)) {
      val m = spark.read.schema(Schemas.voterFile).parquet(path)
      require(m.inputFiles.nonEmpty,
        s"manifest $path exists but holds no data file " +
          "(an interrupted save?); restore or remove it")
      m
    } else empty(spark)
}
