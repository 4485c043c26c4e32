package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Projection + coercion (SURVEY.md §2.2 P1–P4, §2.3 F5/F7/F8).
  *
  * The reference's per-row `processRowData` (load.ts:28-46): drop
  * fields not in the schema, empty string → null, `Number(v)` for Int
  * fields, `new Date(v)` for DateTime fields. Here the same schema map
  * drives a single `Project` node, no per-row interpretation. At more
  * than `spark.sql.codegen.maxFields` (100) fields — the voter schema
  * has 339 — whole-stage codegen is off, and each `Project` runs as
  * its own generated row copy of every column. So each narrow step of
  * the load is one `Project` (see `LoadPipeline`), and `project` takes
  * the derived columns instead of leaving them to a second one.
  *
  * Documented JS→Spark semantic deltas (SURVEY.md §7.4):
  *  - `Number("junk")` produced NaN (which Postgres then rejected);
  *    Spark `cast` yields NULL — a strict tightening.
  *  - `new Date(v)` was lenient; we parse strictly as `MM/dd/yyyy`
  *    (the documented source format), unparseable → NULL.
  */
object Normalize {

  /** P2: empty or whitespace-only string → NULL. */
  def emptyToNull(c: Column): Column =
    when(trim(c) === "", lit(null)).otherwise(c)

  /** Coerce one source (string) column to its schema type. `try_cast`
    * (not `cast`) — Spark 4 runs ANSI mode by default, where a plain
    * cast on junk input THROWS; the reference's semantics are
    * null-on-junk (SURVEY.md §7.4: JS `Number("junk")` → NaN →
    * rejected row; we tighten to NULL). */
  def coerce(c: Column, t: DataType): Column = t match {
    case IntegerType => emptyToNull(c).try_cast(IntegerType) // P3 (F7)
    case DateType => // P4 (F8): strict MM/dd/yyyy, unparseable → NULL
      try_to_timestamp(emptyToNull(c), lit(Schemas.voterDateFormat))
        .cast(DateType)
    case _ => emptyToNull(c)
  }

  /** P1 + P2–P4 in one projection: keep exactly the schema's columns
    * (input columns not in the schema are dropped; schema columns
    * missing from the input become NULL), coerced to schema types.
    * Extra columns to carry through (e.g. file metadata) are listed in
    * `passthrough`. */
  def normalize(df: DataFrame, schema: StructType = Schemas.voter,
      passthrough: Seq[String] = Seq.empty): DataFrame =
    widen(project(df, schema, passthrough), schema, passthrough)

  /** The narrow half of `normalize`: only schema columns PRESENT in
    * the input, coerced. Downstream shuffles (dedup) should run on
    * this — shuffling the 328 constant-NULL absent columns of a
    * partial extract costs real bytes for no information (measured
    * ~25% of load wall-time on a 11-column extract).
    *
    * `derived` computes further columns from the coerced ones (looked
    * up by schema name; a name the input lacks resolves against `df`
    * and fails analysis): a derived name the input has replaces its
    * coerced column in place, any other is appended after
    * `passthrough`. All of it is ONE `Project`: a derivation reads the
    * coerced expressions themselves, not the output of a second
    * row-wide projection (the generated projection evaluates a
    * repeated coercion once). */
  def project(df: DataFrame, schema: StructType = Schemas.voter,
      passthrough: Seq[String] = Seq.empty,
      derived: (String => Column) => Seq[(String, Column)] = _ => Nil): DataFrame = {
    val present = df.columns.map(c => c.trim -> c).toMap
    val coerced = schema.fields.toSeq.flatMap { f =>
      present.get(f.name).map(src => f.name -> coerce(col(src), f.dataType))
    }
    val byName = coerced.toMap
    val extra = derived(n => byName.getOrElse(n, col(n)))
    val replaced = extra.toMap
    val inPlace = coerced.map { case (n, c) => replaced.getOrElse(n, c).as(n) }
    val appended = extra.collect { case (n, c) if !byName.contains(n) => c.as(n) }
    df.select(inPlace ++ passthrough.map(col) ++ appended: _*)
  }

  /** The widening half: add the schema columns the input lacks as
    * typed NULLs, in schema order — a pure projection (no shuffle),
    * applied after the expensive operators. */
  def widen(df: DataFrame, schema: StructType = Schemas.voter,
      passthrough: Seq[String] = Seq.empty): DataFrame = {
    val present = df.columns.toSet
    val full = schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select((full ++ passthrough.filter(present.contains).map(col)).toIndexedSeq: _*)
  }

  /** F5: strip the FIRST occurrence of " (EST.)" — exact JS
    * `String.replace` (non-global) semantics, load-s3.ts:194-196. */
  def stripEstMarker(c: Column): Column = {
    val marker = " (EST.)"
    val idx = instr(c, marker)
    when(c.isNotNull && idx > 0,
      concat(substring(c, lit(1), idx - 1),
        substring(c, idx + marker.length, length(c))))
      .otherwise(c)
  }
}
