package graft

import graft.etl.LoadMain
import org.scalatest.funsuite.AnyFunSuite

class LoadMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("P8: --start/--end slice the work list; manifest persists across slices") {
    val tmp = java.nio.file.Files.createTempDirectory("loadmain")
    val mPath = tmp.resolve("manifest.parquet").toString
    val outPath = tmp.resolve("out").toString
    // slice [0,0]: only the AK file
    val first = LoadMain.run(spark, TestSpark.resource("/voters"),
      outPath, mPath, start = Some(0), end = Some(0))
    assert(first === Seq("01--AK--VM2Uniform--2024-01-15.tab"))
    assert(spark.read.parquet(outPath).count() === 4)
    // full range: AK already loaded via manifest, only CA remains
    val second = LoadMain.run(spark, TestSpark.resource("/voters"),
      outPath, mPath)
    assert(second === Seq("02--CA--VM2Uniform--2024-02-01.tab"))
    assert(spark.read.parquet(outPath).count() === 7)
  }

  test("a failed symlink while staging the slice leaves no temp dir") {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sliceDirs(): Set[String] =
      Option(tmpRoot.toFile.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("load-slice")).toSet
    val before = sliceDirs()
    val f = s"${TestSpark.resource("/voters")}/01--AK--VM2Uniform--2024-01-15.tab"
    // the second link's name already exists in the slice dir
    intercept[java.nio.file.FileAlreadyExistsException] {
      LoadMain.withSliceDir(Seq(f, f))(_ => fail("staging should have failed"))
    }
    assert(sliceDirs() === before)
  }
}
