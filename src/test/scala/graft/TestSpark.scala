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

  /** Run `body` against an isolated artifact store: a fresh temp dir set
    * as `graft.artifacts.dir`, with the property's previous value (say,
    * one passed as `-Dgraft.artifacts.dir`) restored afterwards. */
  def withArtifactRoot[A](body: String => A): A = {
    val key = "graft.artifacts.dir"
    val prev = sys.props.get(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-art").toString
    sys.props(key) = dir
    try body(dir)
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
