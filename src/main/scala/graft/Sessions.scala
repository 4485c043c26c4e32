package graft

import org.apache.spark.sql.SparkSession

/** The one way the program builds a session: Bench, Verify, Probe,
  * LoadMain, ScaleDataGen, CatalogDump and the test suite all start
  * from [[local]], so they plan queries under the same confs.
  *
  * `spark.sql.leafNodeDefaultParallelism=4`: local relations (collected
  * beams, memory-sink tables, dim rows) are driver-held, bounded data
  * by construction, and Spark would otherwise scan them with
  * `defaultParallelism` tasks, pure dispatch overhead for rows that fit
  * in one task (measured in OPTIMIZATION_r16.md). UTC: the
  * timestamp-NTZ→LTZ casts in the query paths assume a DST-free session
  * zone. The extension makes the `graft_*` SQL functions resolvable.
  */
object Sessions {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs [[local]] pins besides the master. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.leafNodeDefaultParallelism" -> "4",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  /** A `local[cpus]` builder carrying [[confs]]. */
  def local(cpus: Int = envCpus): SparkSession.Builder =
    confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
