package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the program's own
  * session ([[Sessions.local]]) at 4 cores, plus a temporary warehouse. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def resource(path: String): String =
    getClass.getResource(path).getPath
}
