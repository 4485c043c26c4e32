package graft

import graft.etl.{Dedup, LoadPipeline, Manifest}
import graft.functions.{Scored, TopKAggregator}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CatalogLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("catalog-driven load is idempotent across runs (P6/S10/S11)") {
    val tmp = java.nio.file.Files.createTempDirectory("catalog")
    val mPath = tmp.resolve("manifest.parquet").toString
    val outPath = tmp.resolve("voters").toString
    val first = LoadPipeline.runCatalog(spark, TestSpark.resource("/voters"),
      mPath, outPath)
    assert(first === Seq("01--AK--VM2Uniform--2024-01-15.tab",
      "02--CA--VM2Uniform--2024-02-01.tab"))
    // manifest persisted with Loaded=true and real line counts
    val m = Manifest.load(spark, mPath)
    assert(m.count() === 2)
    assert(m.filter($"Loaded").count() === 2)
    assert(m.filter($"Filename" === first.head).select($"Lines").as[Int]
      .collect().toSeq === Seq(5))
    // second run: nothing pending
    val second = LoadPipeline.runCatalog(spark, TestSpark.resource("/voters"),
      mPath, outPath)
    assert(second === Seq.empty)
    // published data intact
    assert(spark.read.parquet(outPath).count() === 7)
  }

  /** Every file under `dir`, relative path → bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  test("a no-op re-run leaves the manifest's files byte-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("catalog-noop")
    val mPath = tmp.resolve("manifest").toString
    val outPath = tmp.resolve("voters").toString
    val in = TestSpark.resource("/voters")
    assert(LoadPipeline.runCatalog(spark, in, mPath, outPath).size === 2)
    val before = snapshot(mPath)
    assert(before.nonEmpty)
    assert(LoadPipeline.runCatalog(spark, in, mPath, outPath) === Seq.empty)
    assert(snapshot(mPath) === before)
    // the pinned-schema read sees what parquet's own footer says
    assert(Manifest.load(spark, mPath).schema === spark.read.parquet(mPath).schema)
  }

  test("a first run over an empty input dir still writes a manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("catalog-empty")
    val in = java.nio.file.Files.createDirectory(tmp.resolve("in")).toString
    val mPath = tmp.resolve("manifest").toString
    assert(LoadPipeline.runCatalog(spark, in, mPath, tmp.resolve("out").toString)
      === Seq.empty)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(mPath)))
    assert(Manifest.load(spark, mPath).count() === 0)
  }

  test("a manifest dir left with no data file by an interrupted save is refused") {
    val tmp = java.nio.file.Files.createTempDirectory("catalog-torn")
    val mPath = tmp.resolve("manifest")
    java.nio.file.Files.createDirectories(mPath.resolve("_temporary").resolve("0"))
    val e = intercept[IllegalArgumentException](Manifest.load(spark, mPath.toString))
    assert(e.getMessage.contains("holds no data file"), e.getMessage)
    intercept[IllegalArgumentException](LoadPipeline.runCatalog(spark,
      TestSpark.resource("/voters"), mPath.toString, tmp.resolve("voters").toString))
    assert(!java.nio.file.Files.exists(tmp.resolve("voters")))
  }

  test("a .tab file outside the NN--ST--*.tab grammar is refused by name") {
    for (bad <- Seq("AK--VM2Uniform--2024-01-15.tab", "01--AK.tab", "07----x.tab")) {
      val tmp = java.nio.file.Files.createTempDirectory("catalog-grammar")
      val in = java.nio.file.Files.createDirectory(tmp.resolve("in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(TestSpark.resource("/voters"), "01--AK--VM2Uniform--2024-01-15.tab"),
        in.resolve("01--AK--VM2Uniform--2024-01-15.tab"))
      java.nio.file.Files.writeString(in.resolve(bad), "LALVOTERID\n")
      val listed = intercept[IllegalArgumentException](
        LoadPipeline.listDataFiles(spark, in.toString))
      assert(listed.getMessage.contains(s"'$bad'"), listed.getMessage)
      val loaded = intercept[IllegalArgumentException](
        LoadPipeline.runCatalog(spark, in.toString, tmp.resolve("m").toString,
          tmp.resolve("out").toString))
      assert(loaded.getMessage.contains(s"'$bad'"), loaded.getMessage)
    }
  }

  test("Dedup.againstExisting drops only already-present keys") {
    val existing = Seq("a", "b").toDF("k")
    val incoming = Seq(("a", 1), ("c", 2), ("c", 3)).toDF("k", "v")
    val out = Dedup.againstExisting(incoming, existing, "k")
      .orderBy($"v").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq === Seq(("c", 2), ("c", 3)))
  }

  test("TopKAggregator: arbitrary partition splits give sorted take-k") {
    val rnd = new scala.util.Random(7)
    val agg = new TopKAggregator(5)
    val data = Seq.fill(200)(Scored(rnd.nextInt(40).toDouble / 4.0, rnd.nextInt(1000).toLong))
      .distinctBy(_.id)
    val expected = data.sortBy(s => (-s.score, s.id)).take(5)
    // single-pass reduce
    val direct = data.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(direct) === expected)
    // random split points, merged partials in shuffled merge order
    (1 to 20).foreach { _ =>
      val parts = data.grouped(1 + rnd.nextInt(40)).toSeq
      val partials = rnd.shuffle(parts.map(_.foldLeft(agg.zero)(agg.reduce)))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) === expected)
    }
  }
}
