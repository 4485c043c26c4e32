package graft.ops

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Storage-layout operators: the data-organization side of 100 TB
  * efficiency. Query operators decide WHAT to compute; these decide
  * how bytes are arranged so the scan reads almost none of them.
  *
  * Three layers, each one a graded query:
  *
  *  - Z-ORDER clustering (`layout_zorder_prune`): rewrite a fact
  *    table ordered by the Morton interleave of two filter columns,
  *    so a 2-D box predicate maps to a small number of contiguous
  *    z-ranges → few files/row-groups whose min/max stats intersect
  *    the box. This is the lakehouse multi-column answer to "sort by
  *    which column?" — a single-column sort clusters one dimension
  *    perfectly and the other not at all; the z-curve clusters both
  *    at √ cost. The same idea the reference applies 1-D via its
  *    per-state table split (`load.ts:76-84`: state IS its coarse
  *    clustering key) — generalized to two dimensions.
  *  - BLOOM SIDECAR (`scan_bloom_fileskip`): per-file Bloom filters
  *    over a SECONDARY key. Min/max stats serve the clustering
  *    key(s); a point lookup on any other high-cardinality key hits
  *    every file's [min,max] and prunes nothing — the sidecar is the
  *    standard data-skipping index for exactly that case (Parquet
  *    column blooms / Delta-Iceberg file skipping serve the same
  *    role; ours is explicit so the skip set is assertable).
  *  - SCD2 HISTORY (`scd2_history`, `scd2_asof`): versioned
  *    dimension layout — close-and-open validity intervals built
  *    from a change stream with one window pass, and the as-of
  *    point-in-time read over it. The voter-file analog: monthly
  *    VM2Uniform drops REPLACE each state today (`Publish.atomicSwap`);
  *    SCD2 is the layout that keeps the replaced versions queryable.
  *
  * All three artifacts go through [[ArtifactStore]]: content-addressed
  * by source fingerprint, built once per corpus snapshot, atomically
  * published, served thereafter.
  */
object LayoutOps {

  // ---------------------------------------------------------------- z-order

  /** Bit-spread a non-negative int-valued column: x's low 32 bits end
    * up in the even bit positions of the result. The classic 5-step
    * mask-shift ladder — pure builtin bitwise ops, so the whole
    * z-value stays inside WholeStageCodegen (no UDF). */
  private def spreadBits(c: Column): Column = {
    val steps = Seq(
      (16, 0x0000FFFF0000FFFFL),
      (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL),
      (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    steps.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (x, (n, mask)) =>
      x.bitwiseOR(shiftleft(x, n)).bitwiseAND(lit(mask))
    }
  }

  /** Morton z-value of two int-valued columns (a in even bits, b in
    * odd). Total order over the z-curve for keys in [0, 2^31): the
    * interleave of two 31-bit non-negatives keeps the sign bit clear,
    * so SIGNED long ordering == unsigned z ordering. Keys are
    * surrogate ints at the design point; wider domains first rank- or
    * range-reduce to 32 bits (the standard z-order preprocessing). */
  def zvalue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Number of layout files: enough that the skip fraction is
    * meaningful, few enough that sf0.001 files aren't empty. At
    * 100 TB this is "target file size 1 GB", not a count. */
  private val ZFiles = 16

  /** The z-ordered rewrite of `lineitem`, clustered on
    * (l_partkey, l_suppkey): range-partitioned by z-value into
    * [[ZFiles]] files, z-sorted within each. Parquet's footer min/max
    * stats on BOTH cluster columns become tight per file — the
    * pruning evidence is measured (not asserted from hope) by
    * [[statsSkipFraction]]. Built once per corpus snapshot via the
    * artifact store. */
  def zorderLayout(s: SparkSession, d: String): DataFrame =
    ArtifactStore.parquet(s, "zorder_lineitem", s"$d/lineitem.parquet",
        version = 1) {
      Tables.lineitem(s, d)
        .withColumn("__z", zvalue(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(ZFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }

  // the graded 2-D box — non-empty at every shipped SF (491 / 57 / 5
  // rows at sf0.001/0.01/0.1)
  private val (pLo, pHi, sLo, sHi) = (40L, 80L, 2L, 5L)

  /** 2-D box scan over the z-ordered layout. Same rows as the raw
    * table (the oracle is the PLAIN lineitem SQL — grading that the
    * rewrite is invisible to results); the layout's contribution is
    * that both range predicates are pushed to a scan whose per-file
    * stats actually bound them. */
  def zorderPrune(s: SparkSession, d: String): DataFrame =
    zorderLayout(s, d)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      // (orderkey, linenumber) is NOT unique in the synthetic fixture —
      // tie-break on every output column for a deterministic order
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))

  /** Footer-level skip audit: fraction of a parquet directory's
    * ROW GROUPS whose (l_partkey, l_suppkey) min/max box intersects
    * the graded query box — i.e. what a stats-pruning reader must
    * read. Returns (intersecting, total). Footer-only: zero row
    * bytes touched. Exposed for the spec and SCALE.md, not the query
    * path (the parquet reader does this same test internally when the
    * filters are pushed). */
  def statsSkipFraction(s: SparkSession, dir: String): (Int, Int) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    var total = 0
    var hit = 0
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val pIdx = schema.getFieldIndex("l_partkey")
        val sIdx = schema.getFieldIndex("l_suppkey")
        r.getFooter.getBlocks.asScala.foreach { block =>
          total += 1
          val ps = block.getColumns.get(pIdx).getStatistics
          val ss = block.getColumns.get(sIdx).getStatistics
          def lo(st: org.apache.parquet.column.statistics.Statistics[_]) =
            st.genericGetMin.asInstanceOf[Number].longValue
          def hi(st: org.apache.parquet.column.statistics.Statistics[_]) =
            st.genericGetMax.asInstanceOf[Number].longValue
          if (lo(ps) <= pHi && hi(ps) >= pLo && lo(ss) <= sHi && hi(ss) >= sLo)
            hit += 1
        }
      } finally r.close()
    }
    (hit, total)
  }

  // ---------------------------------------------------------------- bloom

  /** Per-file Bloom sidecar over the z-layout's SECONDARY key
    * (`l_orderkey` — the layout is clustered by part/supp, so order
    * lookups scatter uniformly and min/max stats prune nothing).
    * One distributed pass: group by `input_file_name()`, aggregate
    * with the mergeable [[graft.functions.BloomAgg]]. Sized for the
    * largest per-file row count at the design point's file size, 1 %
    * fpp. */
  def bloomSidecar(s: SparkSession, d: String): DataFrame =
    // v2: the sidecar keys FILE BASENAMES, not absolute paths — a
    // warm store served from a relocated/remounted root would leave
    // absolute paths dangling (or worse, pointing at a stale old
    // root); readers re-resolve against the layout dir they actually
    // scanned
    ArtifactStore.parquet(s, "zorder_bloom_orderkey",
        s"$d/lineitem.parquet", version = 2) {
      zorderLayout(s, d)
        .select(regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
          col("l_orderkey"))
        .groupBy(col("file"))
        .agg(graft.functions.BloomAgg.sketch(col("l_orderkey"),
          expectedItems = 200 * 1000).as("bloom"))
    }

  // (fingerprint → (file, filter) array): the sidecar is file-count-
  // sized, so it is driver-resident by construction; cache it per
  // corpus snapshot so bench reps / Verify / plan walks deserialize
  // once, not per query construction.
  private val sidecarCache = scala.collection.concurrent.TrieMap
    .empty[String, Array[(String, org.apache.spark.util.sketch.BloomFilter)]]

  /** Files of the z-layout that MIGHT contain `key` (no false
    * negatives by Bloom construction; ~1 % false-positive files) —
    * basenames from the sidecar resolved against the CURRENT layout
    * dir, so a relocated warm store still reads the layout it
    * serves. */
  def candidateFiles(s: SparkSession, d: String, key: Long): Seq[String] = {
    // root is part of the key: the fingerprint addresses the SOURCE,
    // but the cached entries hold layout-file basenames under the store
    val fp = ArtifactStore.root + ":" +
      ArtifactStore.fingerprint(s, s"$d/lineitem.parquet")
    val filters = sidecarCache.getOrElseUpdate(fp,
      bloomSidecar(s, d).collect().map(r =>
        (r.getString(0), graft.functions.BloomAgg.readFilter(
          r.getAs[Array[Byte]](1)))))
    val layoutDir = zorderLayout(s, d).inputFiles.head
      .replaceAll("/[^/]*$", "")
    filters.toSeq.collect {
      case (f, bf) if bf.mightContainLong(key) => s"$layoutDir/$f"
    }
  }

  // the graded lookup key — present at every shipped SF
  private val LookupKey = 42L

  /** Point lookup on the secondary key THROUGH the sidecar: probe the
    * driver-resident blooms, scan only the (few) candidate files, then
    * apply the exact filter. At the fixture's 16-file layout an order's
    * ~4 lineitems live in ≤4 files, so ≥75 % of stored bytes are never
    * opened — the skip set is asserted, not hoped, in LayoutOpsSpec.
    * The oracle is the plain-table SQL: the sidecar must be invisible
    * to results (exactness restored by the residual filter). */
  def bloomFileSkip(s: SparkSession, d: String): DataFrame =
    lookupSecondary(s, d, LookupKey)

  def lookupSecondary(s: SparkSession, d: String, key: Long): DataFrame = {
    val cols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"))
    val files = candidateFiles(s, d, key)
    val base =
      if (files.isEmpty) zorderLayout(s, d).filter(lit(false)) // schema-only
      else s.read.parquet(files: _*)
    base.filter(col("l_orderkey") === key)
      .select(cols: _*)
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
  }

  // ---------------------------------------------------------------- scd2

  // bounded dimension slice: keeps the graded history human-sized at
  // every SF while exercising every interval case (multi-version,
  // single-version, tie-broken same-day orders)
  private val Scd2MaxKey = 100L
  private val Scd2Epoch = "1992-01-01"
  private val Scd2AsOf = "1998-06-01"

  /** SCD2 (type-2 slowly-changing dimension) build: customer balances
    * versioned by their order stream. Version 0 is the base snapshot
    * (valid from the epoch); each order of the customer opens a new
    * version at `o_orderdate` carrying the exact running balance
    * (decimal cumsum — the money discipline of ops/package.scala);
    * `valid_to` = next version's `valid_from` (close-and-open), NULL
    * marks current. ONE window pass over the change stream + one over
    * the union — no per-version joins, no driver iteration; at 100 TB
    * both windows partition by the dimension key, so state per task
    * is one customer's version chain. Deterministic tie-break:
    * same-day orders version in `o_orderkey` order. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .filter(col("c_custkey") < Scd2MaxKey)
      .select(col("c_custkey"), col("c_acctbal"))
    val wCum = Window.partitionBy(col("c_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, d)
      .filter(col("o_custkey") < Scd2MaxKey)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .join(base, Seq("c_custkey"))
      .withColumn("version", row_number().over(wCum))
      .withColumn("acctbal",
        (col("c_acctbal").cast(D18_2) +
          sum(col("o_totalprice").cast(D18_2)).over(
            wCum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .cast("double"))
      .select(col("c_custkey"), col("version"), col("acctbal"),
        col("o_orderdate").as("valid_from"))
    val v0 = base.select(col("c_custkey"), lit(0).as("version"),
      col("c_acctbal").as("acctbal"),
      lit(Scd2Epoch).cast("timestamp_ntz").as("valid_from"))
    val wChain = Window.partitionBy(col("c_custkey")).orderBy(col("version"))
    v0.unionByName(changes)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wChain))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("c_custkey"), col("version"))
  }

  /** Point-in-time (time-travel) read over the SCD2 layout: the
    * dimension exactly as it stood on [[Scd2AsOf]] — the interval
    * containment filter `valid_from <= t < valid_to` (open current
    * rows qualify via NULL). One row per key by interval disjointness,
    * which is BY CONSTRUCTION of the close-and-open chain — the spec
    * asserts it anyway. */
  def scd2AsOf(s: SparkSession, d: String): DataFrame =
    scd2History(s, d)
      .filter(col("valid_from") <= lit(Scd2AsOf).cast("timestamp_ntz") &&
        (col("valid_to").isNull ||
          col("valid_to") > lit(Scd2AsOf).cast("timestamp_ntz")))
      .select(col("c_custkey"), col("version"), col("acctbal"))
      .orderBy(col("c_custkey"))

  // ------------------------------------------------- inverted index

  /** Inverted text index as a stored layout artifact (r8): one
    * (doc_id, term) posting ROW per distinct term occurrence,
    * hive-partitioned by the term's first character and term-sorted
    * within each partition's files. Two pruning layers serve a term
    * lookup: the `bucket=<c>` literal filter prunes partition DIRS
    * (PartitionFilters — the IVF-probe discipline), and the pushed
    * `term IN (...)` predicate row-group-prunes within surviving
    * files because the sort made term min/max tight.
    *
    * Posting rows, not posting-list arrays, deliberately: at 100 TB a
    * stopword's array would be a multi-GB single value (one row, one
    * task, OOM), while rows stay splittable, compress just as well
    * sorted, and aggregate to lists on demand. The reference-free
    * analog at the design point is Delta/Iceberg-style secondary
    * index tables; roaring-bitmap blocks are the next compression
    * step, same layout. */
  private def invertedIndexLayout(s: SparkSession, d: String): DataFrame =
    ArtifactStore.parquet(s, "inverted_documents", s"$d/documents.parquet",
        version = 1, partitionColumns = Seq("bucket")) {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array_distinct(
          TextOps.tokensNonEmpty(col("text")))).as("term"))
        .withColumn("bucket", substring(col("term"), 1, 1))
        .repartition(col("bucket"))
        .sortWithinPartitions(col("term"), col("doc_id"))
    }

  /** The graded lookup terms: chosen to hit two DIFFERENT buckets so
    * the partition-pruning assertion is non-trivial. */
  private val LookupTerms = Seq("merge", "join", "vector")

  /** Conjunctive term lookup via the inverted index: documents
    * containing ALL of [[LookupTerms]], answered from posting rows —
    * explicit bucket literals for directory pruning, term equi-filter
    * for row-group pruning, then an intersection by counting distinct
    * matched terms per doc. The oracle is the DIRECT corpus scan (a
    * layout that changes results is wrong, full stop) — the index's
    * contribution is reading posting partitions instead of every
    * document's full text. */
  def invertedLookup(s: SparkSession, d: String): DataFrame =
    invertedIndexLayout(s, d)
      .filter(col("bucket").isInCollection(
          LookupTerms.map(_.substring(0, 1)).distinct) &&
        col("term").isInCollection(LookupTerms))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === LookupTerms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  // --------------------------------------- dynamic partition pruning

  /** Orders hive-partitioned by order YEAR — the time-partitioned
    * fact layout every warehouse ships (the reference's per-month
    * vendor drops ARE this layout, one dir per load period). Built
    * once per corpus snapshot; the partition value reads back as the
    * directory's inferred int. */
  private def yearPartitionedOrders(s: SparkSession, d: String): DataFrame =
    ArtifactStore.parquet(s, "orders_by_year", s"$d/orders.parquet",
        version = 1, partitionColumns = Seq("o_year")) {
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), col("o_year"))
    }

  /** DYNAMIC partition pruning engine credit (the CBO/AQE-twin
    * pattern applied to partition elimination): the year-partitioned
    * fact joined to a dim whose filter is only decidable at RUNTIME —
    * "years whose urgent-order share exceeds 1/5", an exact integer
    * rule (5·urgent > n, no float boundary) over data, NOT a function
    * of the join key. That non-derivability is the point: any
    * dim predicate expressible as f(year) gets propagated to the scan
    * by constraint inference and prunes STATICALLY; a data-dependent
    * predicate leaves the engine only one tool — build the dim,
    * broadcast it, and inject `dynamicpruningexpression` into the
    * fact scan's PartitionFilters so non-qualifying year directories
    * are never listed or read (plan-asserted, with a static-layout
    * control, in PlanInvariantsSpec). At 100 TB with thousands of
    * daily partitions this is THE mechanism that keeps
    * dim-filtered fact queries from scanning the whole table. The
    * oracle replays the same HAVING-filtered join; the selected year
    * set is an exact integer property of the corpus, split
    * non-trivially at every shipped SF (margins +9/−1 at sf0.001). */
  def dppPrune(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("dim_year"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("u"))
      .filter(col("u") * 5 > col("n"))
      .select(col("dim_year"))
    yearPartitionedOrders(s, d)
      .join(dim, col("o_year") === col("dim_year"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_year"))
  }

  // ------------------------------------------------ bucketed co-location

  /** Buckets for the co-located join pair. Both sides MUST agree (or
    * differ by an integer factor with bucket coalescing enabled) for
    * exchange elimination; at 100 TB the count is sized so one bucket
    * ≈ one shuffle-partition target (~128–256 MB), here it just has
    * to exceed 1 so the layout is a real distribution. */
  private val joinBuckets = 8

  private def bucketedOrders(s: SparkSession, d: String): DataFrame =
    ArtifactStore.bucketedTable(s, "orders_bkt_orderkey",
        s"$d/orders.parquet", "o_orderkey", joinBuckets) {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    }

  private def bucketedLineitem(s: SparkSession, d: String): DataFrame =
    ArtifactStore.bucketedTable(s, "lineitem_bkt_orderkey",
        s"$d/lineitem.parquet", "l_orderkey", joinBuckets) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    }

  /** The join half of [[bucketedJoin]], exposed so the plan test can
    * assert the exchange-free shape on exactly the frame the query
    * runs. */
  private[graft] def bucketedJoinFrame(s: SparkSession, d: String): DataFrame =
    bucketedOrders(s, d).hint("merge")
      .join(bucketedLineitem(s, d).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))

  /** Bucketed CO-LOCATED join: both tables stored pre-hashed into the
    * same bucket count on their join key, so the sort-merge join
    * consumes each side's storage distribution directly — ZERO
    * shuffle exchanges on either input (plan-asserted with an
    * unbucketed control in PlanInvariantsSpec). This is the
    * persistent form of what the reference bought with 51
    * per-state tables (`load.ts:76-84`): pay the partitioning once at
    * write time, then every future join on that key skips the
    * exchange — at 100 TB the single biggest recurring cost in a
    * fact⋈fact pipeline (DPP prunes partitions, runtime Bloom prunes
    * rows; bucketing removes the shuffle itself). The merge hints pin
    * the SMJ path at test SF where tiny sides would broadcast and
    * bypass the layout; at production scale SMJ is the planner's own
    * choice. Only the final single-exchange rollup shuffles. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame =
    bucketedJoinFrame(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(discounted(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))

  // ------------------------------------------- nested schema pruning

  /** The NESTED-RECORD layout every log/telemetry pipeline ships: the
    * fact row packed into one deep struct (ids / measures / flags
    * sub-records — at 100 TB these structs run hundreds of leaves).
    * Built once per corpus snapshot; the point of the layout is what
    * the SCAN does with it, below. */
  private def nestedLineitem(s: SparkSession, d: String): DataFrame =
    ArtifactStore.parquet(s, "lineitem_nested", s"$d/lineitem.parquet") {
      Tables.lineitem(s, d).select(struct(
        struct(col("l_orderkey").as("orderkey"),
          col("l_partkey").as("partkey"),
          col("l_suppkey").as("suppkey"),
          col("l_linenumber").as("linenumber")).as("ids"),
        struct(col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"),
          col("l_tax").as("tax")).as("qty"),
        struct(col("l_returnflag").as("returnflag"),
          col("l_linestatus").as("linestatus")).as("flags"))
        .as("rec"))
    }

  /** The scan half of [[nestedPrune]], exposed for the plan test. */
  private[graft] def nestedPruneFrame(s: SparkSession, d: String): DataFrame =
    nestedLineitem(s, d)
      .groupBy(col("rec.flags.returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("rec.qty.quantity")).as("sum_qty"))

  /** NESTED SCHEMA PRUNING engine credit: the rollup touches two
    * LEAVES of the record struct, and the scan's ReadSchema must
    * contain exactly those leaves — not the sibling sub-structs
    * (plan-asserted in PlanInvariantsSpec: `returnflag` and `quantity`
    * present, `orderkey`/`extendedprice` absent). Parquet stores
    * struct leaves as independent column chunks, so pruning nested
    * fields is the same I/O win as top-level column pruning — but it
    * only happens if the optimizer rewrites the struct access into a
    * pruned ReadSchema instead of materializing the whole record
    * (`nestedSchemaPruning`, on by default since Spark 3). At 100 TB
    * with 500-leaf telemetry structs this is the difference between
    * reading 2 leaves and deserializing all 500 per row. The layout
    * must be invisible in results: the oracle is the same rollup on
    * the FLAT table. */
  def nestedPrune(s: SparkSession, d: String): DataFrame =
    nestedPruneFrame(s, d).orderBy(col("returnflag"))

  // ------------------------------------------------------- compaction

  /** Compaction target file size. Production: 128 MB–1 GB (sized to
    * the scan's split target so one file ≈ one task); here small
    * enough that the bin-packing math is exercised, not degenerate,
    * at test SF. */
  private val CompactTargetBytes = 4L * 1024 * 1024
  /** Fragment count for the simulated incremental-ingest layout. */
  private val FragmentParts = 48

  /** Per-dir (parquet file count, total bytes) — driver-side listing,
    * zero Spark jobs (the [[ArtifactStore.fingerprint]] cost class). */
  private[graft] def dirStats(s: SparkSession, dir: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val it = fs.listFiles(p, false)
    var files = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        files += 1; bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** The SMALL-FILES layout every incremental ingest produces: the
    * fact slice written as [[FragmentParts]] tiny files (a streaming
    * sink or frequent micro-batch append writes one file per
    * partition per trigger — the reference's monthly per-state drops
    * are this fragmentation at month granularity). Dir-returning so
    * the compactor and the spec can account files and bytes. */
  private[graft] def fragmentedDir(s: SparkSession, d: String): String =
    ArtifactStore.directory(s, "lineitem_fragmented",
        s"$d/lineitem.parquet") { tmp =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(FragmentParts)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Size-targeted COMPACTION of the fragmented layout (the OPTIMIZE /
    * bin-pack maintenance job): output file count = ⌈bytes ∕ target⌉,
    * derived from the actual listing, so the rewrite tracks data
    * volume exactly the way AQE's advisory size right-sizes reducers.
    * At 100 TB this job is what keeps scan task counts (and NameNode/
    * object-store listing pressure) proportional to bytes instead of
    * to trigger frequency — 10⁶ KB-sized files cost more to OPEN than
    * to read. Chained content addresses: the compacted artifact's
    * input fingerprint is the FRAGMENTED dir, so re-ingest invalidates
    * both layers and a warm store serves without rewriting. */
  private[graft] def compactedDir(s: SparkSession, d: String): String = {
    val frag = fragmentedDir(s, d)
    ArtifactStore.directory(s, "lineitem_compacted", frag) { tmp =>
      val (_, bytes) = dirStats(s, frag)
      val target = math.max(1L,
        (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      s.read.parquet(frag).repartition(target)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Graded rollup over the COMPACTED layout: compaction is a pure
    * storage rewrite, so the oracle is the same rollup on the plain
    * table — results must be invisible to the file-count change
    * (the spec asserts the layout facts: 48 fragments in, ⌈bytes ∕
    * target⌉ files out, bytes ≈ preserved). */
  def compaction(s: SparkSession, d: String): DataFrame =
    s.read.parquet(compactedDir(s, d))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))

  /** The graded point-lookup keys: three literal order keys (the
    * corpus generator deals o_orderkey densely from 0 at every shipped
    * SF, so all three exist everywhere) chosen to hash into a STRICT
    * subset of the [[joinBuckets]] buckets — the pruning assertion is
    * non-trivial. */
  private val BucketLookupKeys = Seq(7L, 42L, 1001L)

  /** Run `body` with auto-disabling of bucketed scans OFF: by default
    * the `DisableUnnecessaryBucketedScan` planner rule turns the
    * bucketed read back into a plain scan when no downstream operator
    * consumes the hash distribution — which ALSO discards the bucket
    * SET computed from the filter, i.e. the pruning this query exists
    * to exercise (the rule optimizes for split parallelism, blind to
    * the listing cost that dominates a point read at 100 TB). Scoped
    * save/restore, the `Relational.withSkewAqe` discipline. */
  private[graft] def withBucketedScan[T](s: SparkSession)(body: => T): T =
    withConfs(s,
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")(body)

  /** The scan half of [[bucketPrune]], exposed so the plan test can
    * assert the SelectedBucketsCount on exactly the frame the query
    * runs. Callers wrap it in [[withBucketedScan]]. */
  private[graft] def bucketPruneFrame(s: SparkSession, d: String): DataFrame =
    bucketedOrders(s, d)
      .filter(col("o_orderkey").isInCollection(BucketLookupKeys))

  /** BUCKET PRUNING on the co-located layout — the second dividend of
    * [[bucketedJoin]]'s write-time hash distribution: an equality/IN
    * predicate on the bucket column lets the planner compute each
    * literal's bucket id with the same hash the writer used and list
    * ONLY those buckets' files (FileSourceScanExec's
    * SelectedBucketsCount, plan-asserted with an unbucketed control in
    * PlanInvariantsSpec). Min/max row-group stats can't serve this
    * lookup — a hash-distributed column's per-file [min,max] spans
    * the whole domain — so bucket arithmetic is the only thing
    * standing between a point read and a full-table listing. At 100 TB
    * with ~10⁵ files per table this is the difference between touching
    * 3/N buckets and scanning everything: the same one-partition-read
    * the reference gets from its per-state tables when a single state
    * is queried (`load.ts:76-84`), here by hash instead of by value.
    * The bucket layout must be invisible in results: the oracle is the
    * same IN-lookup on the plain table. */
  def bucketPrune(s: SparkSession, d: String): DataFrame =
    withBucketedScan(s) {
      // executed eagerly inside the conf scope (the planner reads the
      // conf at planning time — the Relational engine-credit pattern);
      // the result is a literal-keyed point lookup, driver-row-sized
      bucketPruneFrame(s, d).localCheckpoint(true)
    }
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder_prune" -> zorderPrune,
    "scan_bloom_fileskip" -> bloomFileSkip,
    "scd2_history" -> scd2History,
    "scd2_asof" -> scd2AsOf,
    "layout_inverted_lookup" -> invertedLookup,
    "scan_dpp_prune" -> dppPrune,
    "layout_bucketed_join" -> bucketedJoin,
    "scan_bucket_prune" -> bucketPrune,
    "layout_compaction" -> compaction,
    "scan_nested_prune" -> nestedPrune,
  )

  val oracles: Map[String, String] = Map(
    // plain SQL join over the unbucketed tables: the bucket layout
    // (and the exchange elimination it buys) must be invisible
    "layout_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${sql.discountedSum("l_extendedprice", "l_discount")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same rollup on the FLAT table: the nested layout (and the
    // leaf pruning it enables) must be invisible in results
    "scan_nested_prune" ->
      s"""SELECT l_returnflag AS returnflag, COUNT(*) AS n_items,
         |  ${sql.dsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same rollup on the plain table: a compaction that changes
    // results is wrong, full stop
    "layout_compaction" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  ${sql.dsum("l_quantity")} AS sum_qty,
         |  ${sql.dsum("l_extendedprice")} AS sum_price
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same IN-lookup on the plain table: the bucket layout (and
    // the file pruning it buys) must be invisible in results
    "scan_bucket_prune" ->
      s"""SELECT o_orderkey, o_orderpriority FROM orders
         |WHERE o_orderkey IN (${BucketLookupKeys.mkString(", ")})
         |ORDER BY o_orderkey""".stripMargin,
    // the same HAVING-filtered join over the plain table: the
    // partition layout + dynamic pruning must be invisible to results
    "scan_dpp_prune" ->
      """WITH dim AS (
        |  SELECT year(o_orderdate) AS y FROM orders
        |  GROUP BY 1
        |  HAVING 5 * SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |                 THEN 1 ELSE 0 END) > COUNT(*))
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN dim ON year(o_orderdate) = dim.y
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // direct corpus scan — the index must answer exactly what a full
    // text scan answers (dedup'd per-doc terms, so COUNT counts each
    // matched term once)
    "layout_inverted_lookup" ->
      s"""SELECT doc_id FROM documents
         |WHERE ${LookupTerms.map(t =>
               s"list_contains(string_split(text, ' '), '$t')")
             .mkString("\n  AND ")}
         |ORDER BY doc_id""".stripMargin,
    // the layout queries oracle against the PLAIN table: a storage
    // rewrite that changes results is wrong, full stop
    "layout_zorder_prune" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         |FROM lineitem
         |WHERE l_partkey BETWEEN $pLo AND $pHi
         |  AND l_suppkey BETWEEN $sLo AND $sHi
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  l_quantity""".stripMargin,
    "scan_bloom_fileskip" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         |FROM lineitem WHERE l_orderkey = $LookupKey
         |ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin,
    "scd2_history" ->
      s"""WITH base AS (
         |  SELECT c_custkey, c_acctbal FROM customer
         |  WHERE c_custkey < $Scd2MaxKey),
         |chg AS (
         |  SELECT o.o_custkey AS c_custkey,
         |    ROW_NUMBER() OVER w AS version,
         |    CAST(CAST(b.c_acctbal AS DECIMAL(18,2)) +
         |      SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) OVER (
         |        PARTITION BY o.o_custkey
         |        ORDER BY o.o_orderdate, o.o_orderkey
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) AS acctbal,
         |    o.o_orderdate AS valid_from
         |  FROM orders o JOIN base b ON o.o_custkey = b.c_custkey
         |  WINDOW w AS (PARTITION BY o.o_custkey
         |               ORDER BY o.o_orderdate, o.o_orderkey)),
         |v AS (
         |  SELECT c_custkey, 0 AS version, c_acctbal AS acctbal,
         |    TIMESTAMP '$Scd2Epoch' AS valid_from FROM base
         |  UNION ALL
         |  SELECT c_custkey, version, acctbal, valid_from FROM chg)
         |SELECT c_custkey, version, acctbal, valid_from,
         |  LEAD(valid_from) OVER (PARTITION BY c_custkey ORDER BY version)
         |    AS valid_to,
         |  (LEAD(valid_from) OVER (PARTITION BY c_custkey ORDER BY version)
         |    IS NULL) AS is_current
         |FROM v ORDER BY c_custkey, version""".stripMargin,
    "scd2_asof" ->
      s"""WITH base AS (
         |  SELECT c_custkey, c_acctbal FROM customer
         |  WHERE c_custkey < $Scd2MaxKey),
         |chg AS (
         |  SELECT o.o_custkey AS c_custkey,
         |    ROW_NUMBER() OVER w AS version,
         |    CAST(CAST(b.c_acctbal AS DECIMAL(18,2)) +
         |      SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) OVER (
         |        PARTITION BY o.o_custkey
         |        ORDER BY o.o_orderdate, o.o_orderkey
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) AS acctbal,
         |    o.o_orderdate AS valid_from
         |  FROM orders o JOIN base b ON o.o_custkey = b.c_custkey
         |  WINDOW w AS (PARTITION BY o.o_custkey
         |               ORDER BY o.o_orderdate, o.o_orderkey)),
         |v AS (
         |  SELECT c_custkey, 0 AS version, c_acctbal AS acctbal,
         |    TIMESTAMP '$Scd2Epoch' AS valid_from FROM base
         |  UNION ALL
         |  SELECT c_custkey, version, acctbal, valid_from FROM chg),
         |h AS (
         |  SELECT c_custkey, version, acctbal, valid_from,
         |    LEAD(valid_from) OVER (PARTITION BY c_custkey ORDER BY version)
         |      AS valid_to
         |  FROM v)
         |SELECT c_custkey, version, acctbal FROM h
         |WHERE valid_from <= TIMESTAMP '$Scd2AsOf'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '$Scd2AsOf')
         |ORDER BY c_custkey""".stripMargin,
  )
}
