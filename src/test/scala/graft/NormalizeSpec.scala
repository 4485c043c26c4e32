package graft

import graft.etl.{LoadPipeline, Normalize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

class NormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("P2: empty / whitespace-only → NULL, others pass through") {
    val out = Seq("", "  ", "x", " y ").toDF("v")
      .select(Normalize.emptyToNull($"v").as("v")).collect().map(_.getString(0))
    assert(out.toSeq === Seq(null, null, "x", " y "))
  }

  test("P3: int coercion — junk → NULL, not an ANSI error") {
    val out = Seq("12", "abc", "", "007").toDF("v")
      .select(Normalize.coerce($"v", IntegerType).as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
    assert(out.toSeq === Seq(12, null, null, 7))
  }

  test("P4: MM/dd/yyyy date coercion — invalid date → NULL") {
    val out = Seq("01/15/2010", "02/30/2011", "13/45/2020", "", "junk")
      .toDF("v")
      .select(Normalize.coerce($"v", DateType).cast("string").as("v"))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("2010-01-15", null, null, null, null))
  }

  test("F5: strips only the FIRST ' (EST.)' occurrence (JS replace)") {
    val out = Seq("JUNEAU (EST.)", "FAIRBANKS (EST.) x (EST.)", "NOME", null)
      .toDF("v")
      .select(Normalize.stripEstMarker($"v").as("v"))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("JUNEAU", "FAIRBANKS x (EST.)", "NOME", null))
  }

  test("P1: unknown input columns dropped, missing schema columns null") {
    val df = Seq(("LAL1", "smith", "junkval")).toDF(
      "LALVOTERID", "Voters_LastName", "NotInSchema")
    val norm = Normalize.normalize(df)
    assert(norm.columns.length === etl.Schemas.voter.fields.length)
    assert(!norm.columns.contains("NotInSchema"))
    val row = norm.select($"LALVOTERID", $"Voters_LastName", $"Voters_FirstName").head()
    assert(row.getString(0) === "LAL1")
    assert(row.getString(1) === "smith")
    assert(row.isNullAt(2))
  }

  test("F3: header names are trimmed before matching") {
    val df = Seq(("LAL1", "smith")).toDF(" LALVOTERID ", "Voters_LastName")
    val norm = Normalize.normalize(df)
    assert(norm.select($"LALVOTERID").head().getString(0) === "LAL1")
  }

  private val geo = "Residence_Addresses_GeoHash"

  test("derive: a geohash the input lacks is appended after the metadata") {
    val raw = Seq(("LAL1", "57.64911", "10.40744", "NOME (EST.)", "a.tab", 1, "AK"))
      .toDF(Seq("LALVOTERID", "Residence_Addresses_Latitude",
        "Residence_Addresses_Longitude", "City") ++ LoadPipeline.meta: _*)
    val d = LoadPipeline.derive(raw)
    val present = etl.Schemas.voter.fieldNames.filter(raw.columns.contains).toSeq
    assert(d.columns.toSeq === present ++ LoadPipeline.meta :+ geo)
    val r = d.head()
    assert(r.getAs[String](geo) === "u4pruydq")
    assert(r.getAs[String]("City") === "NOME")
  }

  test("derive: an input geohash keeps its place and is recomputed") {
    val raw = Seq(("LAL1", "stale", "57.64911", "10.40744", "NOME", "a.tab", 1, "AK"))
      .toDF(Seq("LALVOTERID", geo, "Residence_Addresses_Latitude",
        "Residence_Addresses_Longitude", "City") ++ LoadPipeline.meta: _*)
    val d = LoadPipeline.derive(raw)
    val present = etl.Schemas.voter.fieldNames.filter(raw.columns.contains).toSeq
    assert(d.columns.toSeq === present ++ LoadPipeline.meta)
    assert(d.head().getAs[String](geo) === "u4pruydq")
  }

  test("derive: whitespace-padded header names still bind") {
    val raw = Seq(("LAL1", "57.64911", "10.40744", " JUNEAU (EST.)", "a.tab", 1, "AK"))
      .toDF(Seq(" LALVOTERID", "Residence_Addresses_Latitude ",
        "  Residence_Addresses_Longitude", " City ") ++ LoadPipeline.meta: _*)
    val r = LoadPipeline.derive(raw).head()
    assert(r.getAs[String]("LALVOTERID") === "LAL1")
    assert(r.getAs[String]("City") === " JUNEAU")
    assert(r.getAs[String](geo) === "u4pruydq")
  }
}
