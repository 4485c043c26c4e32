package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ArtifactStore, SparkEntry}

/** The catalog workload: passes over a fixed subset of
  * `graft.SparkEntry.queries`, one from every module of
  * `SparkEntry.moduleInventory`, on the generated tables. Each query is
  * split as `graft.DevProbe` splits it: DataFrame build, planning
  * (`queryExecution.executedPlan`) and the action. The action consumes the
  * whole result through an order-insensitive content digest (row count and
  * the sum of a 64-bit hash over every column), so column pruning cannot
  * skip output columns. */
final class Catalog(spark: SparkSession, sfDir: String) {

  /** One query run as observed from outside. */
  final case class Run(name: String, module: String, buildS: Double, planS: Double,
      execS: Double, rows: Long, digest: String, artifactBuilds: Long) {
    def wallS: Double = buildS + planS + execS
    def json: String = Json.obj(Seq(
      "name" -> Json.str(name), "module" -> Json.str(module),
      "build_s" -> Json.num(buildS), "plan_s" -> Json.num(planS), "exec_s" -> Json.num(execS),
      "rows" -> rows.toString, "digest" -> Json.str(digest),
      "artifact_builds" -> artifactBuilds.toString))
  }

  /** Query → module, from the program's own inventory. */
  val moduleOf: Map[String, String] =
    SparkEntry.moduleInventory.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  /** Run one query; `tracer` records a span per query (`ops.<Module>.<query>`,
    * its self time what its build, plan and exec children leave over) and
    * `keep` writes the result there for the oracle check, untimed. */
  def run(name: String, tracer: Option[Tracer] = None, keep: Option[Path] = None): Run = {
    val module = moduleOf(name)
    val spanName = s"ops.$module.$name"
    def span[T](n: String, parent: String)(body: => T): T =
      tracer.fold(body)(_.span(n, parent)(body))
    val b0 = ArtifactStore.builds
    val t0 = System.nanoTime()
    val (df, d) = span("SparkEntry.build", spanName) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      (df, Catalog.digestOf(df))
    }
    val t1 = System.nanoTime()
    span("SparkEntry.plan", spanName)(d.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val row = span("SparkEntry.exec", spanName)(d.collect().head)
    val t3 = System.nanoTime()
    tracer.foreach { tr =>
      // the query's own span covers its three parts and nothing else
      val kids = tr.spans.takeRight(3)
      tr.spans += Span(spanName, kids.head.startNs, kids.last.endNs, "catalog.pass",
        (kids.last.endNs - kids.head.startNs) / 1e9 - kids.map(_.self).sum,
        Probe.Delta(kids.map(_.delta.c).reduce((a, b) => a.map { case (k, v) =>
          k -> (if (k == "peak_exec_mem_bytes") math.max(v, b(k)) else v + b(k)) }),
          kids.flatMap(_.delta.writerTaskMs).toVector))
    }
    keep.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString))
    Run(name, module, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, row.getLong(0),
      String.valueOf(row.get(1)), ArtifactStore.builds - b0)
  }

  /** The oracle SQL of the given queries, as a JSON object. */
  def oracles(names: Seq[String]): String = {
    val sql = SparkEntry.oracleSql
    Json.obj(names.filter(sql.contains).map(n => n -> Json.str(sql(n))))
  }
}

object Catalog {
  /** The subset: each module's first-quartile query in `moduleInventory`
    * order, by the sf0.1 timings of `BENCH_FULL_r16.json`, so that per-query
    * fixed cost (driver planning, scheduling, relation resolution) carries
    * the pass. Every one has a DuckDB oracle. */
  val queries: Seq[String] = Seq(
    "join_semi", // Relational
    "events_gapfill", // EventOps
    "join_left_outer", // OlapOps
    "text_token_histogram", // TextOps
    "dedup_exact", // DedupOps
    "sim_ivf_assign", // SimilarityOps
    "mm_resize", // MultimodalOps
    "etl_int_coercion", // EtlParity
    "window_lag_lead", // ScalarFuncs
    "events_funnel", // Analytics
    "scan_bucket_prune", // LayoutOps
    "cdc_merge_apply", // CdcOps
    "stream_hourly_rollup", // streaming
  )

  /** Row count and the sum of `xxhash64` over every column of every row,
    * one row; map columns hash through their JSON form. */
  def digestOf(df: DataFrame): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map("c" + _): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("n"), sum(h.cast(DecimalType(20, 0))).as("h"))
  }
}
