package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Main code that only tests call is a path nothing runs: every public
  * `def` and `object` under `src/main` must be named somewhere else in
  * the program (`src/main`, or the benchmark under `perfbench/src`),
  * or be one of the listed test seams. Names are matched as words in
  * the sources with comments removed; a `main` entry point and the
  * object that holds it are reached by name from outside. */
class MainReachSpec extends AnyFunSuite {

  /** Test seams and reference implementations: public main code that
    * exists for a test to call or to compare against. */
  private val seams = Map(
    "geohash8" -> "Geo: the UDF twin GeohashSpec compares geohash8Native with",
    "corpusOverlapOn" -> "TextOps: corpus_overlap's core over a test frame",
    "lmScoreOn" -> "TextOps: text_lm_score's core over a test frame",
    "winnowNearDupOn" -> "DedupOps: the winnow pair stage over a test frame",
    "bloomIncrementalShardedOn" -> "DedupOps: the sharded Bloom pass a test holds to the one-shard pass",
    "kmeansFit" -> "SimilarityOps: the k-means trainer without the artifact store",
    "applyByJoin" -> "CdcOps: the full-outer MERGE form the merge-on-read result is checked against",
    "statsSkipFraction" -> "LayoutOps: the row-group pruning audit of a written layout",
    "writeBucketed" -> "Skew: writes the bucketed tables of the bucketed-join test",
    "estimate" -> "CountMinAgg: driver-side point query of a serialized sketch",
    "normalize" -> "Normalize: project + widen over the whole voter schema in one call",
    "markLoaded" -> "Manifest: the single-file form of markLoadedAll",
    "declaredQueryCount" -> "SparkEntry: the declared size the catalog map is checked against")

  private def sources(dir: String): List[Path] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** `src` without its comments; string literals are kept. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '\'' && i + 3 < src.length && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4 // an escaped char literal
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3 // a char literal, e.g. '"'
      } else if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1; i += 2
        while (i < src.length && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  private val decl =
    """(?m)^[ \t]*((?:\w+(?:\[\w+\])?[ \t]+)*)(def|object)[ \t]+([A-Za-z_]\w*)""".r
  private val hidden = Set("private", "protected", "override", "implicit")
  private val sugar = Set("apply", "unapply", "update", "main")

  test("every public main definition is reached from main code, the benchmark or the seam list") {
    val main = sources("src/main/scala")
    val bench = sources("perfbench/src")
    assert(main.size > 50, s"expected the program sources under ${Paths.get("src/main/scala").toAbsolutePath}")
    assert(bench.nonEmpty, "expected the benchmark sources under perfbench/src")
    val code = (main ++ bench).map(f => f -> stripComments(Files.readString(f))).toMap
    val all = code.values.mkString("\n")
    // the object a `def main(` belongs to: the last one declared before it
    val entryObjects = code.values.flatMap { src =>
      val objects = """\bobject[ \t]+(\w+)""".r.findAllMatchIn(src).toSeq
      """\bdef[ \t]+main\(""".r.findAllMatchIn(src)
        .flatMap(m => objects.takeWhile(_.start < m.start).lastOption.map(_.group(1)))
    }.toSet
    val declared = main.flatMap { f =>
      decl.findAllMatchIn(code(f)).collect {
        case m if !m.group(1).split("\\s+").exists(w => hidden(w.takeWhile(_ != '['))) &&
            !sugar(m.group(3)) && !(m.group(2) == "object" && entryObjects(m.group(3))) =>
          m.group(3) -> Paths.get("src/main/scala").relativize(f).toString
      }
    }
    def uses(name: String): Int = {
      val word = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
      val defs = s"\\b(?:def|object|class|trait|val|var|type)\\s+${java.util.regex.Pattern.quote(name)}\\b".r
      word.findAllMatchIn(all).size - defs.findAllMatchIn(all).size
    }
    val unreached = declared.filter { case (n, _) => uses(n) <= 0 }
    val unlisted = unreached.filterNot { case (n, _) => seams.contains(n) }
    assert(unlisted.isEmpty,
      "public main definitions no main code or benchmark names (delete them, " +
        "or list a test seam with its reason): " +
        unlisted.map { case (n, f) => s"$n ($f)" }.mkString(", "))
    val stale = seams.keySet -- unreached.map(_._1)
    assert(stale.isEmpty, s"seams the program now reaches or no longer has: ${stale.mkString(", ")}")
  }
}
