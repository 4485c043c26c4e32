package graft

import graft.streaming.StreamingLoad
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val header = Seq("LALVOTERID", "Voters_FirstName", "Voters_Gender",
    "Voters_CalculatedRegDate", "Residence_Addresses_Latitude",
    "Residence_Addresses_Longitude", "City")

  private def writeFile(dir: java.nio.file.Path, name: String,
      rows: Seq[String]): Unit = {
    val f = dir.resolve(name)
    java.nio.file.Files.writeString(f,
      (header.mkString("\t") +: rows).mkString("", "\n", "\n"))
  }

  test("ingestBatch refuses a data row that collides with the header text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hdr-collide")
    val f = dir.resolve("01--AK--VM2Uniform--2024-01-01.tab").toString
    val headerLine = header.mkString("\t")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      Seq(headerLine,
        "LALAK1\tANNA\tF\t01/15/2010\t61.2\t-149.9\tANCHORAGE",
        headerLine // a data row identical to the header: ambiguous, refuse
      ).mkString("", "\n", "\n"))
    val schema = org.apache.spark.sql.types.StructType(header.map(
      org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType, nullable = true)))
    val batch = spark.read.textFile(f).toDF("value")
      .withColumn("__file", lit(f))
    val out = java.nio.file.Files.createTempDirectory("hdr-collide-out")
      .resolve("pub").toString
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamingLoad.ingestBatch(batch, schema, out)
    }
    assert(ex.getMessage.contains("collides"))
  }

  test("ingestBatch fails a file whose name lacks the `--` grammar") {
    val dir = java.nio.file.Files.createTempDirectory("no-grammar")
    writeFile(dir, "voters.tab", Seq(
      "LALAK1\tANNA\tF\t01/15/2010\t61.2\t-149.9\tANCHORAGE"))
    val schema = org.apache.spark.sql.types.StructType(header.map(
      org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType, nullable = true)))
    val batch = spark.read.text(dir.resolve("voters.tab").toString)
      .select(col("value"), input_file_name().as("__file"))
    val out = dir.resolve("pub").toString
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val ex = intercept[Exception] {
      graft.streaming.StreamingLoad.ingestBatch(batch, schema, out)
    }
    assert(ex.isInstanceOf[org.apache.spark.SparkThrowable], ex)
    assert(!new java.io.File(out).exists(), "nothing may be published")
  }

  test("continuous ingest: files land incrementally, dedup spans batches") {
    val in = java.nio.file.Files.createTempDirectory("stream-in")
    val out = java.nio.file.Files.createTempDirectory("stream-out")
      .resolve("published").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-ckpt").toString

    writeFile(in, "01--AK--VM2Uniform--2024-01-01.tab", Seq(
      "LALAK1\tANNA\tF\t01/15/2010\t61.2\t-149.9\tANCHORAGE",
      "LALAK2\tBOB\tM\t02/20/2011\t57.64911\t10.40744\tJUNEAU (EST.)"))

    val q = StreamingLoad.start(spark, in.toString, out, ckpt, header)
    try {
      q.processAllAvailable()
      val v1 = spark.read.parquet(out)
      assert(v1.count() === 2)
      assert(v1.filter($"LALVOTERID" === "LALAK2")
        .head().getAs[String]("City") === "JUNEAU") // F5 applied in-stream
      // second file arrives later: new AK row + a cross-batch duplicate
      writeFile(in, "02--AK--VM2Uniform--2024-02-01.tab", Seq(
        "LALAK1\tANNA-DUP\tF\t01/15/2010\t61.2\t-149.9\tANCHORAGE",
        "LALAK3\tCARA\tF\t03/30/2012\t\t\tNOME"))
      q.processAllAvailable()
      val v2 = spark.read.parquet(out)
      assert(v2.count() === 3) // dup dropped across batches
      assert(v2.filter($"LALVOTERID" === "LALAK1")
        .head().getAs[String]("Voters_FirstName") === "ANNA") // first wins
      // third file: a brand-new state appends alongside AK
      writeFile(in, "03--CA--VM2Uniform--2024-02-02.tab", Seq(
        "LALCA1\tEVE\tF\t11/02/2008\t37.8324\t112.5584\tSAN JOSE"))
      q.processAllAvailable()
      val v3 = spark.read.parquet(out)
      assert(v3.count() === 4)
      assert(v3.filter($"state" === "AK").count() === 3)
      assert(v3.filter($"state" === "CA").count() === 1)
      assert(v3.filter($"LALVOTERID" === "LALCA1")
        .head().getAs[String]("Residence_Addresses_GeoHash") === "ww8p1r4t")

      // P5: a DEMOGRAPHIC drop must be ignored by the stream — with a
      // DIFFERENT header, as in the reference: the skip must happen
      // before parsing, or this file would permanently fail the
      // checkpointed batch on every restart
      java.nio.file.Files.writeString(
        in.resolve("04--TX--VM2Uniform-DEMOGRAPHIC--2024-02-03.tab"),
        "SEQUENCE\tDEMO_BLOCK\tDEMO_VALUE\n001\tAGE\t42\n")
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 4) // unchanged

      // a DATA file with a wrong header must FAIL the batch (strict
      // enforceSchema parity), not silently misassign columns
      java.nio.file.Files.writeString(
        in.resolve("05--NV--VM2Uniform--2024-02-04.tab"),
        "WRONG\tHEADER\nLALNV1\tx\n")
      val ex = intercept[Exception] { q.processAllAvailable() }
      val messages = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(messages.exists(_.contains("header mismatch")), messages)

      // compaction rewrites to one file per state, same data
      graft.etl.Publish.compact(spark, out)
      val compacted = spark.read.parquet(out)
      assert(compacted.count() === 4)
      val akFiles = new java.io.File(s"$out/state=AK")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(akFiles === 1, s"expected 1 compacted AK file, got $akFiles")
    } finally q.stop()
  }
}
