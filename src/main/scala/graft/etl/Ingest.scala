package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** TSV ingest (SURVEY.md §2.1 S6/S7) and the `NN--ST--*.tab` filename
  * grammar (F1/F2, utils.ts:19-23).
  *
  * The reference streams TSV through a csv-parser with `separator:
  * "\t"`, first row as header, `strict: true` (ragged row ⇒ abort,
  * load.ts:152-165), and drops input columns whose (trimmed) header is
  * not a schema field (P1, load.ts:161-163). Spark equivalent: read
  * the header names first, type every input column as STRING (exactly
  * what the row-stream sees), FAILFAST on malformed rows, and let
  * `Normalize` do name-driven projection/coercion. Empty string → SQL
  * NULL at the reader (P2) via `nullValue ""`.
  *
  * Scale notes: the header check opens each file once on the driver,
  * through its Hadoop filesystem, and reads one line — no Spark job, so
  * its cost is one open per file, not one job per file. The data scan
  * is distributed and never widens beyond the projected columns after
  * `Normalize` (Catalyst prunes through the project).
  */
object Ingest {

  /** Trimmed header names of a TSV file (F3: headers are trim()ed). */
  def headerOf(spark: SparkSession, path: String): Array[String] =
    headerOf(spark.sessionState.newHadoopConf(), path)

  /** The first line of `path`, read on the driver the way Spark's text
    * source reads it: through the path's Hadoop filesystem, decompressed
    * by the codec its extension names, split at LF, CR or CRLF, decoded
    * as UTF-8, one leading byte-order mark dropped (Hadoop's
    * LineRecordReader drops it at offset 0, so the CSV reader never
    * sees it). An empty file has no header and is refused. */
  private def headerOf(conf: Configuration, path: String): Array[String] = {
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    var in: java.io.InputStream = raw
    try {
      in = Option(new CompressionCodecFactory(conf).getCodec(p))
        .fold[java.io.InputStream](raw)(_.createInputStream(raw))
      val line = new Text()
      require(new LineReader(in).readLine(line) > 0,
        s"$path is empty: a TSV file needs a header line")
      line.toString.stripPrefix("\uFEFF").split('\t').map(_.trim)
    } finally in.close()
  }

  /** Read TSV files (same header across files) as all-string columns.
    * `strict=true` ⇒ FAILFAST like the reference's csv parser; false ⇒
    * PERMISSIVE (pad/truncate ragged rows). Strict mode also disables
    * CSV column pruning so ragged rows are detected even when the
    * downstream plan projects few columns — matching the reference's
    * whole-row `strict: true` (load.ts:164). */
  def readTsv(spark: SparkSession, paths: Seq[String], strict: Boolean = true,
      headerPath: Option[String] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val anchor = headerPath.getOrElse(paths.head)
    val names = headerOf(conf, anchor)
    // Spark binds a user schema to CSV files POSITIONALLY and by
    // default (enforceSchema) never looks at the other files' header
    // rows — a file whose header ORDERS the same columns differently
    // would silently misbind every column (the reference parses each
    // file against its OWN header, csv-parser `headers: true`). Every
    // file's header must EQUAL the batch header, checked here with one
    // driver-side first-line read per additional file (no Spark job);
    // a mismatch refuses loudly instead of corrupting.
    paths.filterNot(_ == anchor).foreach { p =>
      val h = headerOf(conf, p)
      val firstDiff =
        if (h.length != names.length) s"column counts ${h.length} vs ${names.length}"
        else s"first differing column index ${h.zip(names).indexWhere(t => t._1 != t._2)}"
      require(h.sameElements(names),
        s"header of $p does not match $anchor — refusing positional bind ($firstDiff)")
    }
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("nullValue", "")
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      // per-read option (not session conf — that would leak to other
      // CSV reads and, being lazy, race with them)
      .option("columnPruning", (!strict).toString)
      .schema(schema)
      .csv(paths: _*)
  }

  /** F1/F2: parse the `NN--ST--rest` grammar from a filename column. */
  def fileNumber(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(name, "--").getItem(0).cast("int")

  def fileState(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(name, "--").getItem(1)

  /** Attach source-file metadata columns derived from the input path:
    * basename, numeric file number, state token. The `state` column is
    * the partition key downstream (SURVEY.md §1.4). */
  def withFileMeta(df: DataFrame): DataFrame =
    withFileMetaFrom(df, input_file_name())

  /** Same, from an explicit path column (for plans where the file name
    * was already materialized upstream, e.g. the streaming ingest). */
  def withFileMetaFrom(df: DataFrame,
      file: org.apache.spark.sql.Column): DataFrame = {
    val base = element_at(split(file, "/"), -1)
    df.withColumn("source_file", base)
      .withColumn("file_number", fileNumber(base))
      .withColumn("state", fileState(base))
  }

  /** P5: the reference skips files whose name contains DEMOGRAPHIC
    * (load.ts:94-96). Applied to a listing DataFrame of file names. */
  def isDataFile(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    !name.contains("DEMOGRAPHIC") && name.contains(".tab")

  /** S3: unzip a staged archive (utils.ts:43-51 — the reference
    * extracts each downloaded zip before parsing). Staging-side
    * utility: runs on the driver/edge, not a distributed op — archives
    * are per-state files, data-parallelism starts at the TSV scan. */
  def unzip(zipPath: String, outDir: String): Seq[String] = {
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val entries = scala.jdk.CollectionConverters
        .EnumerationHasAsScala(zf.entries()).asScala.toSeq
      entries.filterNot(_.isDirectory).map { e =>
        val out = java.nio.file.Paths.get(outDir, new java.io.File(e.getName).getName)
        java.nio.file.Files.createDirectories(out.getParent)
        val in = zf.getInputStream(e)
        try java.nio.file.Files.copy(in, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        out.toString
      }
    } finally zf.close()
  }

  /** P11/W1 (download.ts:48-57): among files sharing a state token,
    * only the newest (highest name, i.e. latest date suffix) survives;
    * older versions are stale and deleted before a new download.
    * Returns (keep, stale) name lists, deterministically. */
  def splitStaleVersions(names: Seq[String]): (Seq[String], Seq[String]) = {
    val byState = names.groupBy(n => n.split("--").lift(1).getOrElse(""))
    val keep = byState.values.map(_.max).toSeq.sorted
    (keep, names.diff(keep).sorted)
  }
}
