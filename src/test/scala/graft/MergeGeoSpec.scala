package graft

import graft.etl.Merge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MergeGeoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsert: updates win, unmatched survive, new keys append") {
    val existing = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val updates = Seq(("b", 20), ("d", 40)).toDF("k", "v")
    val out = Merge.upsert(existing, updates, "k")
      .orderBy($"k").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq === Seq(("a", 1), ("b", 20), ("c", 3), ("d", 40)))
  }

  test("upsert is idempotent: upsert(upsert(e,u),u) == upsert(e,u)") {
    val existing = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val updates = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    val once = Merge.upsert(existing, updates, "k")
    val twice = Merge.upsert(once, updates, "k")
    assert(twice.orderBy($"k").collect().toSeq ===
      once.orderBy($"k").collect().toSeq)
  }

  test("shingles: short text yields one shingle, no sequence crash") {
    val out = Seq("tiny", "exactly15chars!", "a somewhat longer text value")
      .toDF("text")
      .select(ops.DedupOps.shingles($"text").as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("tiny"))
    assert(out(1) === Seq("exactly15chars!"))
    assert(out(2).nonEmpty)
  }
}
