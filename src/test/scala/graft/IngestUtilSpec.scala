package graft

import graft.etl.{Ingest, LoadPipeline, Manifest, Quality}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IngestUtilSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("S12: alert messages for unreconciled states") {
    var m = Manifest.empty(spark)
    m = Manifest.register(m, "02--CA--VM2Uniform--2024-02-01.tab", "CA", 2000)
    val result = LoadPipeline.run(spark, TestSpark.resource("/voters"),
      manifest = Some(m))
    val msgs = Quality.alerts(
      Quality.loadReport(result.loaded, result.loaded, m, tolerance = 10))
    assert(msgs === Seq("Error: state CA loaded 3 rows, expected 2000"))
  }

  /** The regex-`split` parse of F1/F2 the literal one must agree with. */
  private def splitMeta(file: Column): Seq[Column] = {
    val base = element_at(split(file, "/"), -1)
    Seq(base, split(base, "--").getItem(0).cast("int"), split(base, "--").getItem(1))
  }

  test("F1/F2: file metadata equals the split-based parse, spaces and extra `--` included") {
    import spark.implicits._
    val paths = Seq(
      "file:/data/in%20dir/07--NY--VM2%20Uniform--2024-01-15.tab",
      "file:///data/12--TX--a--b.tab",
      "s3a://bucket/k/01---ST--x.tab", // overlapping `--`: the state is `-ST`
      "03--CA.tab")
    val df = paths.toDF("p")
    val base = substring_index(col("p"), "/", -1)
    val got = df.select(base, Ingest.fileNumber(base), Ingest.fileState(base))
    val want = df.select(splitMeta(col("p")): _*)
    assert(got.collect().toSeq === want.collect().toSeq)
    assert(got.collect().map(_.getString(2)).toSeq === Seq("NY", "TX", "-ST", "CA.tab"))
  }

  test("F1/F2: metadata from input_file_name(): %20-encoded name, non-nullable state") {
    val dir = java.nio.file.Files.createTempDirectory("in dir")
    val f = dir.resolve("07--NY--VM2 Uniform--a--b.tab")
    java.nio.file.Files.writeString(f, "LALVOTERID\tCity\nLALNY1\tALBANY\n")
    val df = Ingest.withFileMeta(Ingest.readTsv(spark, Seq(f.toString)))
    assert(!df.schema("state").nullable)
    val got = df.select(col("source_file"), col("file_number"), col("state")).head()
    val want = df.select(splitMeta(input_file_name()): _*).head()
    assert(got === want)
    assert(got.getString(0) === "07--NY--VM2%20Uniform--a--b.tab")
    assert(got.getInt(1) === 7 && got.getString(2) === "NY")
  }

  test("F1/F2: a file name without the `--` grammar fails the metadata parse") {
    val dir = java.nio.file.Files.createTempDirectory("no-grammar")
    val f = dir.resolve("voters.tab")
    java.nio.file.Files.writeString(f, "LALVOTERID\tCity\nLALAK1\tANCHORAGE\n")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val ex = intercept[Exception] {
      Ingest.withFileMeta(Ingest.readTsv(spark, Seq(f.toString))).collect()
    }
    assert(ex.isInstanceOf[org.apache.spark.SparkThrowable], ex)
  }
}
