package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite

/** One smoke run of each `graft.Probe` mode at the smallest SF. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def probe(mode: String, names: Seq[String], reps: Int): Seq[String] = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    Probe.run(spark, mode, names, sf, reps, out)
    out.close()
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("plan prints the AQE-final plan of the query's count") {
    val lines = probe("plan", Seq("agg_pivot_wide"), 1)
    assert(lines.head === "===== agg_pivot_wide =====")
    assert(lines.exists(_.contains("isFinalPlan=true")), lines.mkString("\n"))
  }

  test("time prints one line per rep with Spark and executor counters") {
    val reps = probe("time", Seq("agg_pivot_wide"), 2).filter(_.startsWith("agg_pivot_wide rep "))
    assert(reps.size === 2, reps)
    assert(reps.forall(l => l.contains(" jobs=") && l.contains(" tasks=") &&
      l.contains(" cpu_ms=")), reps)
  }

  test("stream adds the micro-batch lines of a streaming twin") {
    val lines = probe("stream", Seq("stream_stateful_totals"), 1)
    assert(lines.count(_.startsWith("stream_stateful_totals rep ")) === 1, lines)
    assert(lines.exists(l => l.contains(" batch ") && l.contains("durationMs=")),
      lines.mkString("\n"))
  }

  test("an unknown mode or query is refused by name") {
    val e = intercept[IllegalArgumentException](probe("stages", Seq("agg_pivot_wide"), 1))
    assert(e.getMessage.contains("stages"))
    val q = intercept[IllegalArgumentException](probe("plan", Seq("no_such_query"), 1))
    assert(q.getMessage.contains("no_such_query"))
  }
}
