package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (dev only;
    // the driver always passes exactly two args → full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Degrade LOUDLY (VERDICT r6 #7): a throwing query must still
        // produce an output dir so the driver's compare records one row
        // per declared query — 15 silently ABSENT rows made r6 diffing
        // needlessly hard. The marker is a ZERO-row parquet (a 1-row
        // marker would fake-pass the rows-only `rows > 0` check for
        // un-oracled queries) whose second column NAME carries the
        // exception's first line, so the failure reason is visible in
        // the recorded schema itself; full messages go to errors.json.
        val first = e.toString.linesIterator.nextOption().getOrElse("error")
        errors(name) = e.toString +
          e.getStackTrace.take(8).map("\n  at " + _).mkString
        System.err.println(s"[verify] $name failed: $first")
        import org.apache.spark.sql.types._
        val marker = first.replaceAll("[^\\x20-\\x7e]", " ").take(180)
        // the marker write must not itself be able to abort the run:
        // if the context died (executor OOM) or the disk filled, an
        // escaping secondary exception here would kill the loop and
        // reproduce the very silently-absent-rows failure the marker
        // exists to prevent (review finding) — record and continue
        try spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("err", StringType),
              StructField(marker, StringType))))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write ALSO failed: $e2")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full query-name manifest so the local gate can flag queries that
    // produced NO output dir (not just oracled ones)
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq.filter(n => only.forall(_.contains(n)))
        .sorted.map(q).mkString("[", ",", "]"))
    // the FULL failure messages (the parquet marker carries only a
    // sanitized first line) — written even when empty so its absence
    // never reads as "no failures recorded vs nothing ran"
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // SCALED oracles for the sf1 sweep (ops.ScaledOracles): aux
    // signature dumps land under `.aux/` (dot-prefixed so neither
    // this gate's nor the driver's `<outDir>/*/` glob ever sees them
    // as query results) + the scaled SQL as a side JSON — env-gated,
    // the driver's contract files above are untouched.
    if (sys.env.contains("SPARK_GRAFT_SCALED_ORACLES")) {
      val scaled = SparkEntry.oracleSqlScaled
        .filter { case (k, _) => only.forall(_.contains(k)) }
      if (scaled.nonEmpty) {
        // dump only the aux tables the SELECTED scaled oracles
        // actually reference (ADVICE r11 #5): under `only`, an
        // unrelated single-query rerun must not pay the heavy edge /
        // pair dumps of every other family
        SparkEntry.scaledOracleAux
          .filter { case (name, _) =>
            scaled.values.exists(_.contains(name)) }
          .foreach { case (name, fn) =>
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/.aux/$name")
        }
        Files.writeString(Paths.get(s"$outDir/oracle_sql_scaled.json"),
          scaled.map { case (k, v) => s"${q(k)}: ${q(v)}" }
            .mkString("{", ",", "}"))
      }
    }
    spark.stop()
  }
}
