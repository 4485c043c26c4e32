package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CDC merge-apply (ops.CdcOps) and the time-series resample ops
  * (EventOps.gapfillInterp / resampleOhlc): semantics pinned by
  * independent in-engine witnesses, mechanics pinned by plan walks —
  * the DuckDB hash-match grades the same results externally. */
class CdcOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet

  test("merge-on-read, copy-on-write, and full-outer MERGE all agree") {
    TestSpark.withArtifactRoot { _ =>
      val mor = rows(ops.CdcOps.readMergeOnRead(spark, sf))
      val cow = rows(ops.CdcOps.mergeApply(spark, sf))
      val joined = rows(ops.CdcOps.applyByJoin(spark, sf))
      assert(mor.nonEmpty)
      assert(mor == cow, "copy-on-write compaction diverged from merge-on-read")
      assert(mor == joined, "union-window merge diverged from the full-outer MERGE form")
    }
  }

  test("winning deletes vanish; insert-branch keys arrive as cdc rows") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("chg_micros").desc, col("seq").desc)
    val latest = ops.CdcOps.changeBatch(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("c_custkey"), col("op"), col("acctbal")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val result = ops.CdcOps.readMergeOnRead(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap

    val deleted = latest.collect { case (k, ("D", _)) => k }
    assert(deleted.nonEmpty, "fixture produced no winning deletes")
    deleted.foreach(k => assert(!result.contains(k), s"deleted key $k survived"))

    val inserts = latest.collect { case (k, ("U", v)) if k >= 10000000L => (k, v) }
    assert(inserts.nonEmpty, "fixture produced no insert-branch keys")
    inserts.foreach { case (k, v) =>
      assert(result.get(k).contains((v, "cdc")), s"insert $k missing or wrong") }

    val base = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // untouched base keys (if the fixture has any — at sf0.001 every
    // customer has orders, so the set can be empty) keep their balance;
    // conversely every origin-base row MUST be an untouched base key
    val untouched = base.keySet.diff(latest.keySet)
    untouched.foreach { k =>
      assert(result(k) == ((base(k), "base")), s"untouched key $k changed") }
    result.foreach { case (k, (v, origin)) =>
      if (origin == "base")
        assert(base.get(k).contains(v) && !latest.contains(k),
          s"origin-base row $k is not an untouched base key") }
    // updated-in-place keys carry the change's balance, tagged cdc
    val updated = latest.collect {
      case (k, ("U", v)) if base.contains(k) => (k, v) }
    assert(updated.nonEmpty)
    updated.foreach { case (k, v) =>
      assert(result(k) == ((v, "cdc")), s"update $k not applied") }
  }

  test("as-of-version read: prefix merge agrees with an independent witness") {
    // independent witness (the applyByJoin discipline): truncate the
    // change log at the same cut, take latest-change-per-key by a
    // groupBy max-struct (NOT the window the production path uses),
    // and apply it through the shared winner-unless-delete rule
    val cut = ops.CdcOps.VersionCutMicros
    val latest = ops.CdcOps.changeBatch(spark, sf)
      .filter(col("chg_micros") < cut)
      .groupBy(col("c_custkey"))
      .agg(max(struct(col("chg_micros"), col("seq"), col("op"),
        col("acctbal"))).as("w"))
      .select(col("c_custkey"), col("w.op").as("d_op"),
        col("w.acctbal").as("d_bal"))
    val witness = rows(ops.CdcOps.mergeLatestWithBase(
      graft.Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_acctbal")), latest))
    val got = rows(ops.CdcOps.readVersion(spark, sf))
    assert(got.nonEmpty && got == witness)
    // the version read is a genuine prefix: it must differ from the
    // log-end merge (post-cut changes exist at every SF) and agree
    // with it on every key whose changes all precede the cut
    val full = rows(ops.CdcOps.readMergeOnRead(spark, sf))
    assert(got != full, "cut at 1997 must not equal the full-log merge")
    val postCutKeys = ops.CdcOps.changeBatch(spark, sf)
      .filter(col("chg_micros") >= cut)
      .select(col("c_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got.filterNot(r => postCutKeys(r._1)) ==
      full.filterNot(r => postCutKeys(r._1)),
      "keys untouched after the cut must read identically at both versions")
  }

  test("copy-on-write compaction builds once, then serves from the store") {
    TestSpark.withArtifactRoot { _ =>
      ops.CdcOps.mergeApply(spark, sf).count()
      val after = ArtifactStore.builds
      ops.CdcOps.mergeApply(spark, sf).count()
      assert(ArtifactStore.builds == after,
        "second read rebuilt the compacted snapshot instead of serving it")
    }
  }

  test("merge-on-read plan: no join, one hash exchange before the sort") {
    val phys = ops.CdcOps.readMergeOnRead(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Join"), s"MOR merge must not join:\n${phys.take(800)}")
    val hashEx = "hashpartitioning".r.findAllIn(phys).size
    assert(hashEx == 1,
      s"expected exactly the window's key exchange, saw $hashEx:\n${phys.take(800)}")
  }

  // ---- gap-fill interpolation --------------------------------------

  private lazy val gapfill = ops.EventOps.gapfillInterp(spark, sf)
    .collect()
    .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1),
      r.getDouble(2), r.getBoolean(3)))

  test("gapfill scaffold is dense and endpoint-anchored per user") {
    val byUser = gapfill.groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, rs) =>
      val hours = rs.map(_._2).sorted(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
      val span = java.time.Duration.between(hours.head, hours.last).toHours
      assert(rs.length == span + 1, s"user $u scaffold has holes")
      assert(hours.distinct.length == hours.length, s"user $u duplicate hours")
      // endpoints are KNOWN hours by construction (scaffold bounded by
      // min/max observed hour), so they cannot be interpolated
      val sorted = rs.sortBy(_._2.toString)
      assert(!sorted.head._4 && !sorted.last._4, s"user $u endpoint interpolated")
      assert(rs.forall(r => !r._3.isNaN), s"user $u produced NaN")
    }
  }

  test("gapfill: known hours carry the exact hourly sum; gaps are linear") {
    val known = gapfill.filter(!_._4)
    val hourly = Tables.events(spark, sf).filter(col("user_id") < 5)
      .groupBy(col("user_id"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(sum(col("value").cast(ops.D18_2)).cast("double").as("sv"))
      .collect().map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)) -> r.getDouble(2))
      .toMap
    assert(known.length == hourly.size)
    known.foreach { case (u, h, v, _) =>
      assert(hourly((u, h)) == v, s"known hour ($u,$h) not exact") }

    // every interpolated value replays the linear formula from its
    // bracketing known hours, bit for bit
    val byUser = gapfill.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2.toString)
      val knownIdx = sorted.zipWithIndex.filter(!_._1._4).map(_._2)
      var interpChecked = 0
      sorted.zipWithIndex.filter(_._1._4).foreach { case ((_, h, v, _), i) =>
        val lo = knownIdx.filter(_ < i).max
        val hi = knownIdx.filter(_ > i).min
        val (prevV, nextV) = (sorted(lo)._3, sorted(hi)._3)
        val expected = prevV + (nextV - prevV) *
          (i - lo).toDouble / (hi - lo).toDouble
        assert(v == expected, s"user $u hour $h: $v != $expected")
        interpChecked += 1
      }
      assert(interpChecked > 0, s"user $u had no gaps to interpolate")
    }
  }

  // ---- profiler / unpivot / stats ----------------------------------

  test("profile_table counts nulls and bounds on a frame that has them") {
    // the orders fixture is null-free, so the graded query never
    // exercises the null path — prove it on a synthetic frame shaped
    // like the real one
    import spark.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, null), (null, 30.0), (3L, 10.0), (null, null))
    val df = rows.toDF("k", "v")
    val a = df.agg(
      sum(when(col("k").isNull, 1L).otherwise(0L)).as("nn"),
      countDistinct(col("k")).as("nd"),
      min(col("v")).as("mn"), max(col("v")).as("mx")).head()
    assert(a.getLong(0) == 2 && a.getLong(1) == 3)
    assert(a.getDouble(2) == 10.0 && a.getDouble(3) == 30.0)
    // and the graded long form carries one row per profiled column
    val prof = ops.OlapOps.profileTable(spark, sf).collect()
    assert(prof.map(_.getString(0)).toSeq.sorted == Seq("o_custkey",
      "o_orderdate", "o_orderkey", "o_orderstatus", "o_totalprice"))
    assert(prof.forall(_.getLong(1) == 0L), "fixture should be null-free")
  }

  test("unpivot round-trips the pivot back to the plain group-by") {
    val long = ops.OlapOps.unpivotOrders(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(long == direct)
  }

  test("moment-based corr/slope agree with Spark's builtin within 1e-9") {
    val got = ops.Analytics.corrLinreg(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    got.foreach { case (k, (c, sl)) =>
      assert(math.abs(c - ref(k)._1) < 1e-9, s"$k corr: $c vs ${ref(k)._1}")
      assert(math.abs(sl - ref(k)._2) < 1e-6, s"$k slope: $sl vs ${ref(k)._2}")
    }
  }

  // ---- OHLC resample ------------------------------------------------

  test("OHLC open/close match the explicit (ts, event_id) rank-1 rows") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, sf)
      .withColumn("hour", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
    val wAsc = Window.partitionBy(col("hour"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("hour"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ref = e
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    val got = ops.EventOps.resampleOhlc(spark, sf).collect()
    assert(got.length == ref.size && got.nonEmpty)
    got.foreach { r =>
      val k = (r.getAs[java.time.LocalDateTime](0), r.getString(1))
      assert(ref(k) == ((r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))), s"OHLC mismatch at $k")
    }
  }
}
