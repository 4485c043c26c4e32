package graft

import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` is the one way the `graft_*` SQL functions reach a
  * session (`spark.sql.extensions=graft.functions.GraftExtensions`, the
  * reflective `applyExtensions` path a real cluster uses). The shared
  * test session carries that config through `graft.Sessions`, and this
  * suite resolves every injected function on a FRESH `newSession()`,
  * whose function registry is rebuilt from the extensions alone, so
  * resolution proves the injection.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions wires every registered function into a fresh session") {
    val shared = TestSpark.spark
    assert(shared.sparkContext.getConf.get("spark.sql.extensions")
      === "graft.functions.GraftExtensions")
    // fresh session state over the same context: its registry holds
    // only builtins + extension-injected functions
    val s2 = shared.newSession()
    val r = s2.sql(
      """SELECT
        |  graft_geohash(57.64911D, 10.40744D, 8)   AS g,
        |  graft_simhash(array('a','b','c'))        AS sh,
        |  graft_minhash(array('a','b','c'), 4)     AS mh,
        |  graft_winnow('abcdefghijklmnopqrstuvwxyz', 8, 4) AS w,
        |  graft_srp_bands(array(1.0D, 2.0D, 3.0D), 4, 2, 42) AS srp,
        |  graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
        |""".stripMargin).head()
    assert(r.getString(0) === "u4pruydq")
    assert(r.getSeq[Long](2).size === 4, "minhash signature length = k")
    assert(r.getSeq[Long](3).nonEmpty, "winnow fingerprints")
    assert(r.getSeq[Long](4).size === 2, "one bucket per band")
    assert(r.getDouble(5) === 11.0)
    // DESCRIBE FUNCTION works too: the ExpressionInfo was injected
    val desc = s2.sql("DESCRIBE FUNCTION graft_geohash")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft_geohash"), desc)
    // the injected AGGREGATE resolves and round-trips through the
    // driver-side estimator
    import s2.implicits._
    Seq("a", "a", "b").toDF("k").createOrReplaceTempView("cm_t")
    val sk = s2.sql("SELECT graft_countmin(k) AS sk FROM cm_t")
      .head().getAs[Array[Byte]](0)
    assert(graft.functions.CountMinAgg.estimate(sk, "a") === 2L)
    assert(graft.functions.CountMinAgg.estimate(sk, "b") === 1L)
  }
}
