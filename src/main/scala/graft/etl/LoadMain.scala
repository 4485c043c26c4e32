package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** CLI entrypoint — the engine's analog of the reference's
  * `npm run load` (load.ts:48-114):
  *
  *   runMain graft.etl.LoadMain <inputDir> <outPath> <manifestPath>
  *       [--start N] [--end N] [--tolerance N]
  *
  * `--start/--end` slice the discovered work list by index
  * (load.ts:80-87, P8); the manifest skips already-loaded files (P6);
  * publish is per-state dynamic overwrite (D2); reconciliation alerts
  * print to stderr (S12 analog — the reference posts them to Slack).
  */
object LoadMain {

  def main(args: Array[String]): Unit = {
    val (opts, positional) = parseArgs(args)
    require(positional.length == 3,
      "usage: LoadMain <inputDir> <outPath> <manifestPath> [--start N] [--end N] [--tolerance N]")
    val Seq(inputDir, outPath, manifestPath) = positional.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-load")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val loaded = run(spark, inputDir, outPath, manifestPath,
        opts.get("start").map(_.toInt), opts.get("end").map(_.toInt),
        opts.get("tolerance").map(_.toLong).getOrElse(Quality.defaultTolerance))
      println(s"loaded ${loaded.size} file(s): ${loaded.mkString(", ")}")
    } finally spark.stop()
  }

  /** Testable core: catalog-driven load of the index-sliced work list. */
  def run(spark: SparkSession, inputDir: String, outPath: String,
      manifestPath: String, start: Option[Int] = None, end: Option[Int] = None,
      tolerance: Long = Quality.defaultTolerance): Seq[String] = {
    // P8: --start/--end slice by position in the numerically-sorted list
    val all = LoadPipeline.listDataFiles(spark, inputDir)
    val sliced = all.slice(start.getOrElse(0), end.map(_ + 1).getOrElse(all.size))
    if (sliced.isEmpty) return Seq.empty
    withSliceDir(sliced) { dir =>
      LoadPipeline.runCatalog(spark, dir.toString, manifestPath, outPath, tolerance)
    }
  }

  /** Stage `files` through a filtered view of their directory — a temp
    * directory of symlinks — and run `body` over it. The directory is
    * removed afterwards, also when staging a link fails. Symlink targets
    * must be ABSOLUTE (relative targets resolve against the link's own
    * directory → dangling links). */
  private[graft] def withSliceDir[T](files: Seq[String])(body: Path => T): T = {
    val sliceDir = Files.createTempDirectory("load-slice")
    try {
      files.foreach { f =>
        val target = Paths.get(f).toAbsolutePath
        Files.createSymbolicLink(sliceDir.resolve(target.getFileName), target)
      }
      body(sliceDir)
    } finally {
      Option(sliceDir.toFile.listFiles()).foreach(_.foreach(_.delete()))
      sliceDir.toFile.delete()
    }
  }

  private val knownOpts = Set("start", "end", "tolerance")

  private def parseArgs(args: Array[String]): (Map[String, String], Array[String]) = {
    val opts = scala.collection.mutable.Map[String, String]()
    val pos = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--")) {
        val k = args(i).drop(2)
        // a misspelled flag silently falling back to its default is
        // an operator trap (--tolerence 5 would run with 1000); a
        // trailing valueless flag used to throw a raw AIOOBE
        require(knownOpts(k),
          s"unknown option --$k (known: ${knownOpts.toSeq.sorted.mkString(", ")})")
        require(i + 1 < args.length, s"--$k requires a value")
        opts(k) = args(i + 1); i += 2
      } else { pos += args(i); i += 1 }
    }
    (opts.toMap, pos.toArray)
  }
}
