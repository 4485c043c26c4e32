package graft

import graft.etl._
import org.apache.spark.sql.types.{DateType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** The full 339-column voter schema end-to-end (VERDICT r2 #5): the
  * other load-path specs grade a core column subset; this one drives a
  * complete-width TSV — every `Schemas.voter` column present, header
  * in REVERSED schema order plus an extraneous column and a
  * whitespace-padded name — through the whole catalog pipeline
  * (strict scan → projection/coercion → EST-strip → geohash →
  * first-wins dedup → partitioned publish → reconcile/manifest) and
  * asserts width, types, and spot values on the PUBLISHED parquet.
  * Proves projection is order-independent at full reference fidelity
  * (prisma/Voter.prisma:3-345) and that no column is silently dropped,
  * misaligned, or mistyped across the wide path. */
class WideSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fields = Schemas.voter.fields

  /** One TSV line: values by (trimmed) column name, empty otherwise. */
  private def line(header: Seq[String], values: Map[String, String]): String =
    header.map(h => values.getOrElse(h.trim, "")).mkString("\t")

  // reversed order ⇒ the projection must map by NAME, not position;
  // the padded header exercises F3 trim, ExtraneousColumn exercises P1
  private lazy val header: Seq[String] =
    "ExtraneousColumn" +: fields.map(_.name).reverse.toSeq.map {
      case "Voters_FirstName" => "  Voters_FirstName "
      case n => n
    }

  /** Type-appropriate value for every schema column, tagged with the
    * column's schema INDEX — a misaligned projection surfaces as a
    * wrong tag, not a silent pass. */
  private lazy val fullWidth: Map[String, String] =
    fields.zipWithIndex.map { case (f, i) =>
      f.name -> (f.dataType match {
        case IntegerType => (1000 + i).toString
        case DateType => "06/01/2020"
        case _ => s"s$i"
      })
    }.toMap + ("LALVOTERID" -> "LALWCA002")

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("wide339").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    write("01--AK--VM2Uniform--2024-01-15.tab", Seq(
      header.mkString("\t"),
      line(header, Map(
        "LALVOTERID" -> "LALWAK001", "Voters_FirstName" -> "ANNA",
        "Voters_LastName" -> "ARNOLD", "Voters_Age" -> "34",
        "VoterTelephones_CellConfidenceCode" -> "3",
        "Voters_CalculatedRegDate" -> "01/15/2010",
        "Residence_Addresses_Latitude" -> "57.64911",
        "Residence_Addresses_Longitude" -> "10.40744",
        "City" -> "ANCHORAGE (EST.) (EST.)",
        "ExtraneousColumn" -> "zzz")),
      line(header, Map( // in-file PK dup — first wins
        "LALVOTERID" -> "LALWAK001", "Voters_FirstName" -> "ANNA-DUP")),
      line(header, Map(
        "LALVOTERID" -> "LALWAK002", "Voters_FirstName" -> "BOB",
        "VoterTelephones_CellConfidenceCode" -> "junk", // P3 → NULL
        "Voters_CalculatedRegDate" -> "02/30/2011")))) // P4 → NULL
    write("02--CA--VM2Uniform--2024-02-01.tab", Seq(
      header.mkString("\t"),
      line(header, Map(
        "LALVOTERID" -> "LALWCA001", "Voters_FirstName" -> "CARA",
        "Residence_Addresses_Latitude" -> "37.8324",
        "Residence_Addresses_Longitude" -> "112.5584")),
      line(header, fullWidth), // every one of the 339 columns populated
      line(header, Map( // cross-file dup of an AK PK — earlier file wins
        "LALVOTERID" -> "LALWAK001", "Voters_FirstName" -> "ANNA-CROSSFILE"))))
    dir
  }

  private lazy val out: String = {
    val tmp = java.nio.file.Files.createTempDirectory("wide339out")
    val loadedFiles = LoadPipeline.runCatalog(spark, fixtureDir,
      tmp.resolve("manifest.parquet").toString, tmp.resolve("voters").toString)
    assert(loadedFiles.size === 2)
    tmp.resolve("voters").toString
  }
  private lazy val published = spark.read.parquet(out).cache()

  test("published width = full schema + load metadata, nothing dropped") {
    assert(fields.length === 339)
    val expected = fields.map(_.name).toSet ++ LoadPipeline.meta
    assert(published.columns.toSet === expected)
    assert(published.columns.length === 342)
  }

  test("coerced types survive publish: Int and Date columns are typed") {
    val byName = published.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("VoterTelephones_CellConfidenceCode") === IntegerType)
    assert(byName("Voters_CalculatedRegDate") === DateType)
    val intCols = fields.filter(_.dataType == IntegerType).map(_.name)
    val dateCols = fields.filter(_.dataType == DateType).map(_.name)
    assert(intCols.forall(c => byName(c) === IntegerType))
    assert(dateCols.forall(c => byName(c) === DateType))
    assert(intCols.length === 13 && dateCols.length === 2)
  }

  test("first-wins dedup across the wide path (in-file and cross-file)") {
    assert(published.count() === 4) // 6 rows − 2 dup occurrences
    val anna = published.filter($"LALVOTERID" === "LALWAK001").collect()
    assert(anna.length === 1)
    assert(anna.head.getAs[String]("Voters_FirstName") === "ANNA")
    assert(anna.head.getAs[String]("state") === "AK")
  }

  test("spot values: coercion, EST-strip, geohash on the wide fixture") {
    val ak1 = published.filter($"LALVOTERID" === "LALWAK001").head()
    assert(ak1.getAs[Int]("VoterTelephones_CellConfidenceCode") === 3)
    assert(ak1.getAs[java.sql.Date]("Voters_CalculatedRegDate").toString
      === "2010-01-15")
    assert(ak1.getAs[String]("City") === "ANCHORAGE (EST.)") // first only
    assert(ak1.getAs[String]("Residence_Addresses_GeoHash") === "u4pruydq")
    assert(ak1.getAs[String]("Voters_Age") === "34") // stays TEXT
    val ak2 = published.filter($"LALVOTERID" === "LALWAK002").head()
    assert(ak2.isNullAt(ak2.fieldIndex("VoterTelephones_CellConfidenceCode")))
    assert(ak2.isNullAt(ak2.fieldIndex("Voters_CalculatedRegDate")))
    val ca1 = published.filter($"LALVOTERID" === "LALWCA001").head()
    assert(ca1.getAs[String]("Residence_Addresses_GeoHash") === "ww8p1r4t")
  }

  test("full-width row: all 339 columns land, index-tagged, un-crossed") {
    val r = published.filter($"LALVOTERID" === "LALWCA002").head()
    fields.zipWithIndex.foreach { case (f, i) =>
      f.name match {
        case "LALVOTERID" =>
          assert(r.getAs[String](f.name) === "LALWCA002")
        case "Residence_Addresses_GeoHash" =>
          // DERIVED from lat/lon — this row's lat/lon are the s-tags
          // (non-numeric), so the derive yields NULL by design
          assert(r.isNullAt(r.fieldIndex(f.name)))
        case n => f.dataType match {
          case IntegerType => assert(r.getAs[Int](n) === 1000 + i,
            s"int column $n (index $i) crossed")
          case DateType =>
            assert(r.getAs[java.sql.Date](n).toString === "2020-06-01",
              s"date column $n (index $i) crossed")
          case _ => assert(r.getAs[String](n) === s"s$i",
            s"string column $n (index $i) crossed")
        }
      }
    }
  }

  test("projection over the 339-col publish prunes the scan to 3 columns") {
    // VERDICT r3 #8: the wide table must never cost its width when a
    // query touches a few columns — a 3-column projection with a
    // partition predicate must reach the parquet scan as a 3-column
    // ReadSchema plus a partition filter, not a 342-column
    // materialization. Asserted on the scan node itself (the plan
    // STRING truncates long schemas, which would mask a regression).
    // drop the suite's cached frame for the duration: the shared
    // CacheManager would otherwise substitute an InMemoryTableScan
    // for ANY read of this path, hiding the parquet scan under test
    published.unpersist(blocking = true)
    try {
      val q = spark.read.parquet(out)
        .filter($"state" === "AK")
        .select($"LALVOTERID", $"Voters_FirstName",
          $"Residence_Addresses_GeoHash")
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no parquet scan in the plan"))
      assert(scan.requiredSchema.fieldNames.toSet ===
        Set("LALVOTERID", "Voters_FirstName", "Residence_Addresses_GeoHash"),
        s"scan reads ${scan.requiredSchema.size} columns — pruning regressed")
      assert(scan.partitionFilters.nonEmpty,
        "state predicate must prune partitions at the scan, not filter rows")
    } finally published.cache()
  }

  test("full-width publish plan: one row copy per side of the dedup shuffle") {
    // At 339 columns whole-stage codegen is off (spark.sql.codegen.maxFields
    // is 100), so every Project node copies every column of every row.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val files = LoadPipeline.listDataFiles(spark, fixtureDir)
    // a nullable partition column costs the writer its own empty2null Project
    assert(!Ingest.withFileMeta(Ingest.readTsv(spark, files)).schema("state").nullable)
    val wide = LoadPipeline.run(spark, fixtureDir).loaded
    val plan = ops.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      wide.repartition($"state").queryExecution.executedPlan
    }
    def projects(p: SparkPlan): Int = p.collect { case x: ProjectExec => x }.size
    val dedup = plan.collectFirst {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.references.exists(_.name == "LALVOTERID")
        case _ => false
      }) => e
    }.getOrElse(fail(s"no LALVOTERID exchange in\n$plan"))
    assert(projects(dedup) <= 2, s"row copies below the dedup shuffle:\n$plan")
    assert(projects(plan) - projects(dedup) <= 1, s"row copies above it:\n$plan")
  }

  test("reconciled manifest: both files Loaded; re-run loads nothing") {
    published.count() // force the first catalog run
    val tmpManifest = new java.io.File(out).getParentFile.toPath
      .resolve("manifest.parquet").toString
    val m = Manifest.load(spark, tmpManifest)
    assert(m.count() === 2)
    assert(m.filter($"Loaded").count() === 2)
    val again = LoadPipeline.runCatalog(spark, fixtureDir,
      tmpManifest, out)
    assert(again === Seq.empty)
    assert(published.count() === 4)
  }
}
