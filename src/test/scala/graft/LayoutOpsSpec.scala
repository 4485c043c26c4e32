package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout operators (ops.LayoutOps): z-order clustering,
  * Bloom file-skipping, SCD2 history. The layout claims are MEASURED
  * here — skip fractions from real parquet footers, not prose. */
class LayoutOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  // ---- z-value ------------------------------------------------------

  /** Reference Morton interleave, bit by bit. */
  private def zRef(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 32) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zvalue matches the bit-by-bit Morton reference") {
    import spark.implicits._
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (40L, 2L),
      (199L, 9L), (19999L, 999L), ((1L << 31) - 1, (1L << 31) - 1))
    val got = cases.toDF("a", "b")
      .select(ops.LayoutOps.zvalue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == cases.map { case (a, b) => zRef(a, b) })
  }

  test("zvalue preserves box locality: curve order clusters both dims") {
    // points sorted by z-value: a contiguous z-range covers a compact
    // 2-D region, so the per-16th min/max boxes must be dramatically
    // tighter than the same boxes over a single-column sort's layout
    val pts = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val byZ = pts.sortBy { case (a, b) => zRef(a, b) }.grouped(256).toSeq
    val area = byZ.map { g =>
      val as = g.map(_._1); val bs = g.map(_._2)
      (as.max - as.min + 1) * (bs.max - bs.min + 1)
    }.sum
    // 16 groups of 256 points each: z-curve boxes are exactly the
    // 16×16 quadrants (area 256 each); a b-major sort's groups span
    // the full a-range (64×4). Allow slack but pin the separation.
    assert(area <= 16 * 256, s"z boxes too loose: total area $area")
  }

  // ---- z-layout pruning --------------------------------------------

  test("z-ordered layout: most row groups are stats-pruned for the box") {
    TestSpark.withArtifactRoot { dir =>
      val layout = ops.LayoutOps.zorderLayout(spark, sf)
      val layoutDir = layout.inputFiles.head
        .replaceAll("/[^/]*$", "").replaceAll("^file:", "")
      val (hit, total) = ops.LayoutOps.statsSkipFraction(spark, layoutDir)
      assert(total >= 8, s"layout produced too few row groups ($total)")
      assert(hit.toDouble / total <= 0.5,
        s"z-layout should stats-prune >=50% of row groups, read $hit/$total")

      // the SAME audit over a natural-order rewrite reads everything:
      // the z-ordering, not parquet, is what creates the skip
      val naturalDir = s"$dir/natural"
      Tables.lineitem(spark, sf).repartition(8).write.parquet(naturalDir)
      val (nHit, nTotal) = ops.LayoutOps.statsSkipFraction(spark, naturalDir)
      assert(nHit == nTotal,
        s"natural layout unexpectedly prunes: $nHit/$nTotal")
    }
  }

  test("zorder_prune returns exactly the raw-table box rows") {
    TestSpark.withArtifactRoot { _ =>
      val viaLayout = ops.LayoutOps.zorderPrune(spark, sf).collect()
      val raw = Tables.lineitem(spark, sf)
        .filter(col("l_partkey").between(40, 80) &&
          col("l_suppkey").between(2, 5))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
        .collect()
      // multiset compare (the graded order itself is the oracle's job)
      assert(viaLayout.nonEmpty &&
        viaLayout.toSeq.sortBy(_.toString) == raw.toSeq.sortBy(_.toString))
    }
  }

  // ---- bloom file-skip ---------------------------------------------

  test("bloom sidecar skips most files and never loses a row") {
    TestSpark.withArtifactRoot { _ =>
      val layoutFiles = ops.LayoutOps.zorderLayout(spark, sf).inputFiles.length
      // every lineitem of an order must surface through the skip path
      // (Bloom false negatives are impossible; this asserts the
      // plumbing preserves that)
      val keys = Seq(0L, 42L, 100L)
      for (k <- keys) {
        val got = ops.LayoutOps.lookupSecondary(spark, sf, k)
          .select(col("l_linenumber")).collect().map(_.getInt(0)).toSeq
        val want = Tables.lineitem(spark, sf)
          .filter(col("l_orderkey") === k).orderBy(col("l_linenumber"))
          .select(col("l_linenumber")).collect().map(_.getInt(0)).toSeq
        assert(got == want, s"key $k: skip path lost rows")
      }
      // the skip is real: candidate files << total files (an order has
      // ~4 lineitems scattered over 16 part/supp-clustered files, plus
      // ~1% fpp)
      val cand = ops.LayoutOps.candidateFiles(spark, sf, 42L).length
      assert(cand < layoutFiles / 2,
        s"bloom should skip >half the files, kept $cand/$layoutFiles")
      // absent key: probes to (near-)zero files, returns empty, keeps
      // the schema
      val missing = ops.LayoutOps.lookupSecondary(spark, sf, 99999999L)
      assert(missing.count() == 0)
      assert(missing.columns.toSeq == Seq("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity"))
    }
  }

  // ---- incremental aggregate maintenance ----------------------------

  test("incremental rollup: state is built once, merge equals recompute") {
    TestSpark.withArtifactRoot { _ =>
      val got = ops.OlapOps.incrementalRollup(spark, sf).collect()
      val before = ArtifactStore.builds
      val again = ops.OlapOps.incrementalRollup(spark, sf).collect()
      // second call serves the history partials from the store —
      // incremental means history is NOT rescanned per refresh
      assert(ArtifactStore.builds == before, "state rebuilt on re-serve")
      assert(got.toSeq == again.toSeq)
      // merge(state, delta) == full recompute, column for column
      val full = Tables.orders(spark, sf)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))).cast("double").as("sum_price"))
        .orderBy(col("month")).collect()
      assert(got.toSeq == full.toSeq)
      // and the split is genuinely two-sided (delta non-empty)
      assert(Tables.orders(spark, sf)
        .filter(col("o_orderkey") % 10 === 0).count() > 0)
    }
  }

  // ---- scd2 ---------------------------------------------------------

  test("scd2 history: close-and-open chain invariants") {
    val h = ops.LayoutOps.scd2History(spark, sf)
      .select(col("c_custkey"), col("version"), col("valid_from"),
        col("valid_to"), col("is_current")).collect()
    val byKey = h.groupBy(_.getLong(0))
    byKey.foreach { case (k, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      // versions are dense from 0
      assert(sorted.map(_.getInt(1)).toSeq == sorted.indices,
        s"key $k: versions not dense")
      // exactly one open (current) version, and it is the last
      assert(sorted.count(_.getBoolean(4)) == 1 && sorted.last.getBoolean(4),
        s"key $k: current-flag violation")
      // each interval closes exactly where the next opens
      sorted.sliding(2).foreach {
        case Array(a, b) => // NTZ collects as LocalDateTime — compare as Any
          assert(a.get(3) == b.get(2),
            s"key $k: interval chain broken at version ${b.getInt(1)}")
        case _ =>
      }
    }
    // multi-version chains exist in the fixture (else the test is vacuous)
    assert(byKey.exists(_._2.length > 2))
  }

  test("scd2 as-of: snapshot equals history filtered at the instant") {
    val asOf = ops.LayoutOps.scd2AsOf(spark, sf).collect()
    // one row per key that existed at the instant — intervals are
    // disjoint, so the containment filter cannot double-count
    assert(asOf.map(_.getLong(0)).distinct.length == asOf.length)
    // the snapshot balance is the version's running balance, which for
    // version 0 is the base acctbal: keys with no pre-instant orders
    // must surface with their base balance
    val base = Tables.customer(spark, sf)
      .filter(col("c_custkey") < 100).count()
    assert(asOf.length == base,
      "every base key must have exactly one version live at the instant")
  }

  test("compaction bin-packs the fragmented layout without changing rows") {
    val frag = ops.LayoutOps.fragmentedDir(spark, sf)
    val comp = ops.LayoutOps.compactedDir(spark, sf)
    val (fFiles, fBytes) = ops.LayoutOps.dirStats(spark, frag)
    val (cFiles, cBytes) = ops.LayoutOps.dirStats(spark, comp)
    // the ingest fragmentation is real (one file per partition)...
    assert(fFiles == 48L, s"expected 48 fragments, got $fFiles")
    // ...and the compactor rewrote it to the size-derived target —
    // at sf0.001 the slice is well under one 4 MB target file
    assert(cFiles == math.max(1L, (fBytes + (4L << 20) - 1) / (4L << 20)),
      s"file count must be ceil(bytes/target): $cFiles files, $fBytes bytes")
    assert(cFiles < fFiles / 4,
      s"compaction must collapse the file count ($fFiles -> $cFiles)")
    // fewer files must not mean different data: same rows, and the
    // parquet payload stays the same order of magnitude (per-file
    // header/footer overhead is what compaction reclaims)
    assert(spark.read.parquet(comp).count() ===
      spark.read.parquet(frag).count())
    assert(cBytes > 0L && cBytes < 2 * fBytes)
  }
}
