package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.etl.Ingest
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The TSV header check reads each file's first line on the driver: it
  * must agree with Spark's text source on that line and start no job. */
class IngestHeaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def write(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, body, UTF_8)
    p.toString
  }

  private def gzip(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(body.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  /** What Spark's text source reads as the file's first line, trimmed. */
  private def sparkHeader(path: String): Seq[String] =
    spark.read.text(path).limit(1).as[String].head().split('\t').map(_.trim).toSeq

  test("headerOf equals Spark's first text line, trimmed") {
    val dir = Files.createTempDirectory("graft-hdr")
    val files = Seq(
      write(dir, "01--AK--crlf.tab", "LALVOTERID\tCity\r\nLALAK0001\tJUNEAU\r\n"),
      gzip(dir, "02--CA--VM2Uniform--2024-02-01.tab.gz", "LALVOTERID\tCity\nLALCA0001\tFRESNO\n"),
      write(dir, "03--WY--padded.tab", " LALVOTERID \t  City \n1\tx\n"),
      write(dir, "04--NV--VM2 final.tab", "LALVOTERID\tVoters_FirstName\n1\tann\n"),
      write(dir, "05--OR--bom.tab", "\uFEFFLALVOTERID\tCity\n1\tx\n"),
      gzip(dir, "06--ID--bom.tab.gz", "\uFEFFLALVOTERID\tCity\n1\tx\n"))
    val expected = Seq(Seq("LALVOTERID", "City"), Seq("LALVOTERID", "City"),
      Seq("LALVOTERID", "City"),
      Seq("LALVOTERID", "Voters_FirstName"),
      Seq("LALVOTERID", "City"), Seq("LALVOTERID", "City"))
    files.zip(expected).foreach { case (f, want) =>
      assert(sparkHeader(f) === want, f)
      assert(Ingest.headerOf(spark, f).toSeq === sparkHeader(f), f)
    }
  }

  test("a byte-order mark on the anchor file binds LALVOTERID by name") {
    val dir = Files.createTempDirectory("graft-hdr-bom")
    val files = Seq(
      write(dir, "01--AK--bom.tab", "\uFEFFLALVOTERID\tCity\nLALAK0001\tJUNEAU\n"),
      write(dir, "02--AK--plain.tab", "LALVOTERID\tCity\nLALAK0002\tSITKA\n"))
    Seq(files, files.reverse).foreach { batch =>
      val df = Ingest.readTsv(spark, batch)
      assert(df.columns.toSeq === Seq("LALVOTERID", "City"))
      assert(df.select("LALVOTERID").as[String].collect().sorted.toSeq ===
        Seq("LALAK0001", "LALAK0002"))
    }
  }

  test("an empty file is refused with a clear error") {
    val dir = Files.createTempDirectory("graft-hdr-empty")
    val f = write(dir, "01--AK--empty.tab", "")
    val e = intercept[IllegalArgumentException](Ingest.headerOf(spark, f))
    assert(e.getMessage.contains(s"$f is empty"))
    val ok = write(dir, "02--AK--ok.tab", "LALVOTERID\n1\n")
    assert(intercept[IllegalArgumentException](Ingest.readTsv(spark, Seq(ok, f)))
      .getMessage.contains("is empty"))
  }

  test("readTsv over a 5-file batch starts no Spark job") {
    val dir = Files.createTempDirectory("graft-hdr-jobs")
    val files = (1 to 5).map { i =>
      write(dir, f"$i%02d--AK--VM2Uniform--2024-01-15.tab",
        s"LALVOTERID\tCity\nLALAK000$i\tJUNEAU\n")
    }
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val df = Ingest.readTsv(spark, files)
      ListenerBridge.drain(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0, s"readTsv started ${jobs.get} Spark job(s)")
    assert(df.columns.toSeq === Seq("LALVOTERID", "City"))
    assert(df.count() === 5)
  }
}
