package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 testdata derivation (VERDICT r9 #1): a deterministic 10×
  * scale-up of the read-only driver fixtures at sf0.1, so the scaling
  * probe can MEASURE the 10× step the SCALE.md notes argue on paper.
  * The driver's own generator is not available in-container, so sf1
  * is derived from sf0.1 by KEY-SHIFTED REPLICATION: ten copies of
  * every fact/dim row with all primary/foreign keys offset per copy
  * (offsets chosen from the table's own max key, so FK joins stay
  * valid and land in the matching copy), which preserves every
  * per-copy distribution EXACTLY — group cardinalities per key,
  * selectivities, dup-cluster sizes, text shingle statistics — while
  * multiplying global cardinality by 10. That is precisely the
  * null-hypothesis corpus a scaling probe wants: if an operator's
  * plan is linear-with-constants in corpus size, its wall time must
  * scale ~10×; anything super-linear is an algorithmic artifact, not
  * a data-shape artifact.
  *
  * Two columns need more than a key shift, because exact replication
  * would CHANGE the corpus's statistical character rather than
  * preserve it:
  *  - `documents.text`: verbatim copies would make every document a
  *    10-way exact/near duplicate, exploding the near-dup pair mass
  *    ~45× per original cluster — the probe would then measure a
  *    property of the synthetic corpus, not of the operator. Copy 0
  *    keeps the original text; copies 1-9 suffix every whitespace
  *    token with `~<copy>`, making cross-copy shingle sets DISJOINT:
  *    dup structure scales in cluster COUNT (10×), never in cluster
  *    SIZE, exactly like ingesting ten independent shards of the
  *    same source. `n_chars` is recomputed to stay consistent.
  *  - `embeddings.embedding`: identical vectors would put 10-way ties
  *    at every ANN distance and collapse k-means/IVF geometry. Each
  *    copy circularly ROTATES the vector by its copy index —
  *    norm-preserving and intra-copy-geometry-preserving (rotation is
  *    a permutation, applied uniformly within the copy), so each copy
  *    is an independent same-distribution shard.
  *
  * `region`/`nation` are fixed-size dims in TPC-H's own scaling model
  * and are copied through unchanged.
  *
  * Output lands under a writable root (default
  * `<repo>/testdata-sf1`, env `SPARK_GRAFT_SF1_DIR`), one
  * `<name>.parquet` directory per table with a `_GRAFT_SF1_OK` marker
  * written last — [[ensure]] is serve-or-build and costs one read
  * pass over sf0.1 when cold (~seconds), nothing when warm.
  */
object ScaleDataGen {

  val CopyFactor = 10

  def defaultDir: String = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
    "/root/repo/testdata-sf1")

  /** Build sf1 from `srcDir` (sf0.1) into `outDir` unless the marker
    * says a complete build is already there. Returns `outDir`. */
  def ensure(spark: SparkSession, srcDir: String = "/root/testdata/sf0.1",
      outDir: String = defaultDir): String = {
    val marker = new java.io.File(outDir, "_GRAFT_SF1_OK")
    if (marker.exists()) return outDir
    val t0 = System.nanoTime()

    // key spans from footer-cheap max() aggregates over sf0.1 — one
    // tiny job per keyed table; offsets are `span * copy` with span
    // rounded up to the next power of ten so shifted keys are also
    // human-readable ("copy 3 of order 1234" = 3001234).
    def span(df: DataFrame, col0: String): Long = {
      val mx = df.agg(max(col(col0))).head().getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }
    val cust = Tables.customer(spark, srcDir)
    val supp = Tables.supplier(spark, srcDir)
    val part = Tables.part(spark, srcDir)
    val ord = Tables.orders(spark, srcDir)
    val li = Tables.lineitem(spark, srcDir)
    val ev = Tables.events(spark, srcDir)
    val doc = Tables.documents(spark, srcDir)
    val emb = Tables.embeddings(spark, srcDir)
    val kCust = span(cust, "c_custkey")
    val kSupp = span(supp, "s_suppkey")
    val kPart = span(part, "p_partkey")
    val kOrd = span(ord, "o_orderkey")
    val kEvt = span(ev, "event_id")
    val kDoc = span(doc, "doc_id")
    val kVec = span(emb, "vec_id")

    // one scan per table: fan each row out to CopyFactor copies via a
    // broadcast copy-index frame, then shift keys per copy
    val copies = broadcast(
      spark.range(CopyFactor.toLong).toDF("__copy"))
    def fan(df: DataFrame): DataFrame = df.crossJoin(copies)
    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(fan(df)) { case (acc, (c, k)) =>
        acc.withColumn(c, (col(c) + col("__copy") * k).cast("long"))
      }.drop("__copy")

    val tmp = new java.io.File(outDir + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$tmp/$name.parquet")

    // a crashed or losing-the-race build must not leave a
    // multi-hundred-MB sibling dir behind (ADVICE r10): every exit
    // path below either publishes tmp (rename) or deletes it
    try {
    write(Tables.region(spark, srcDir), "region", 1)
    write(Tables.nation(spark, srcDir), "nation", 1)
    write(shifted(cust, "c_custkey" -> kCust), "customer", 2)
    write(shifted(supp, "s_suppkey" -> kSupp), "supplier", 1)
    write(shifted(part, "p_partkey" -> kPart), "part", 2)
    write(shifted(ord, "o_orderkey" -> kOrd, "o_custkey" -> kCust),
      "orders", 8)
    write(shifted(li, "l_orderkey" -> kOrd, "l_partkey" -> kPart,
      "l_suppkey" -> kSupp), "lineitem", 16)
    // FK columns shift by the PARENT key's span (ADVICE r10): copy c
    // of events must reference copy c of customer, so user_id moves
    // by kCust — shifting it by its own span orphaned copies 1-9
    // (800k/1M orphans at sf1) and silently changed every
    // events⋈customer selectivity.
    write(shifted(ev, "event_id" -> kEvt, "user_id" -> kCust),
      "events", 8)
    write(
      shifted(doc, "doc_id" -> kDoc)
        .withColumn("__copy", (col("doc_id") / kDoc).cast("long"))
        .withColumn("text",
          when(col("__copy") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                w => concat(w, lit("~"), col("__copy"))), " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("__copy"),
      "documents", 8)
    write(
      shifted(emb, "vec_id" -> kVec)
        .withColumn("__copy", (col("vec_id") / kVec).cast("int"))
        .withColumn("embedding",
          when(col("__copy") === 0, col("embedding"))
            .otherwise(concat(
              slice(col("embedding"), col("__copy") + 1,
                size(col("embedding")) - col("__copy")),
              slice(col("embedding"), lit(1), col("__copy")))))
        .drop("__copy"),
      "embeddings", 4)

    // atomic publish: a half-built dir must never satisfy the marker
    val dest = new java.io.File(outDir)
    if (!dest.exists()) {
      if (!tmp.renameTo(dest)) {
        if (marker.exists()) delete(tmp) // racing builder won
        else throw new java.io.IOException(
          s"sf1 publish failed: rename $tmp -> $dest")
      }
    } else if (marker.exists()) {
      delete(tmp) // racing builder completed while we built
    } else {
      // dest exists without a marker (crashed build): surface it to
      // the operator rather than deleting under a possible live reader
      throw new java.io.IOException(
        s"sf1 dir $dest exists without completion marker; remove it")
    }
    new java.io.FileOutputStream(new java.io.File(dest, "_GRAFT_SF1_OK"))
      .close()
    } catch {
      case t: Throwable =>
        if (tmp.exists()) delete(tmp)
        throw t
    }
    System.err.println(
      f"[scaledatagen] built sf1 at $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    outDir
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else defaultDir
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure(spark, outDir = out)
    Tables.all.foreach { t =>
      println(s"[scaledatagen] $t rows=" +
        Tables.cardinality(spark, out, t))
    }
    spark.stop()
  }
}
