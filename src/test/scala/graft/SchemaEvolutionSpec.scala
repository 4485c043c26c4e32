package graft

import graft.etl.Ingest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's migration history (SURVEY.md §2.6 D4: geohash
  * column added 2024-05, gender column added + index churn 2024-05,
  * district columns 2024-08) is schema evolution. Spark-native
  * equivalent: additive columns + parquet mergeSchema on read —
  * old partitions stay valid, new columns read as NULL for old data.
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("additive column evolution: old partitions read as NULL") {
    val out = java.nio.file.Files.createTempDirectory("evolve").toString
    // v1: no gender column (pre-20240529 migrations)
    Seq(("LAL1", "AK"), ("LAL2", "AK")).toDF("LALVOTERID", "st")
      .withColumn("state", $"st").drop("st")
      .write.partitionBy("state").mode("overwrite").parquet(out)
    // v2: later load carries the new Voters_Gender column (CA only)
    graft.ops.withConfs(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq(("LAL3", "F", "CA")).toDF("LALVOTERID", "Voters_Gender", "state")
        .write.partitionBy("state").mode("overwrite").parquet(out)
    }
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet === Set("LALVOTERID", "Voters_Gender", "state"))
    val byId = merged.collect()
      .map(r => r.getAs[String]("LALVOTERID") ->
        Option(r.getAs[String]("Voters_Gender"))).toMap
    assert(byId("LAL1").isEmpty && byId("LAL2").isEmpty) // old rows: NULL
    assert(byId("LAL3").contains("F"))
  }

  test("S7 permissive scan pads ragged rows with NULLs (load-s3 non-strict)") {
    val dir = TestSpark.resource("/ragged")
    val files = Seq(s"$dir/03--WY--VM2Uniform--2024-01-15.tab")
    val df = Ingest.readTsv(spark, files, strict = false)
    assert(df.count() === 2) // good row + padded ragged row
    val ragged = df.filter($"LALVOTERID" === "LALWY0001").head()
    assert(ragged.getAs[String]("Voters_FirstName") === "TOO")
    assert(ragged.isNullAt(ragged.fieldIndex("City"))) // padded NULL
  }
}
