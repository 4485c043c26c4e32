package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session the program builds comes from `graft.Sessions`, and
  * the test suite runs on one of them. */
class SessionsSpec extends AnyFunSuite {

  test("no main source but graft/Sessions.scala calls SparkSession.builder") {
    val root = Paths.get("src/main/scala")
    val files = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.size > 50, s"expected the program sources under ${root.toAbsolutePath}")
    val builders = files.filter(f => Files.readString(f).contains("SparkSession.builder"))
      .map(f => root.relativize(f).toString)
    assert(builders === List("graft/Sessions.scala"))
  }

  test("the test session carries every conf graft.Sessions pins") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master === "local[4]")
    Sessions.confs(4).foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.getOption(k) === Some(v), k)
    }
  }
}
