package graft

import graft.etl.Geo
import graft.functions.{GraftFunctions, SimHashCodegen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("graft_dot == composed zip_with/aggregate dot (float + double + SQL)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("a", "b")
    // reference: the old composed form over explicit double casts
    def composed(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x.cast("array<double>"), y.cast("array<double>"),
        (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    // null-safe inequality: plain =!= evaluates to null when exactly
    // one side is NULL and the row silently passes the filter,
    // weakening the parity claim (ADVICE r3)
    val diff = df.select(
        graft.functions.Vectors.dot(col("a"), col("b")).as("native"),
        composed(col("a"), col("b")).as("ref"))
      .filter(!(col("native") <=> col("ref"))).count()
    assert(diff === 0, "native dot must be bit-identical to the composed form")
    // double arrays take the dotDD specialization — same equality
    val diffD = df.select(col("a").cast("array<double>").as("ad"),
        col("b").cast("array<double>").as("bd"))
      .select(graft.functions.Vectors.dot(col("ad"), col("bd")).as("native"),
        composed(col("ad"), col("bd")).as("ref"))
      .filter(!(col("native") <=> col("ref"))).count()
    assert(diffD === 0)
    // SQL registration path + null array → null
    df.limit(1).createOrReplaceTempView("dot_t")
    val viaSql = spark.sql(
      "SELECT graft_dot(a, b) AS d, " +
        "graft_dot(CAST(NULL AS ARRAY<FLOAT>), b) AS n FROM dot_t").head()
    assert(!viaSql.isNullAt(0) && viaSql.isNullAt(1))
    // mismatched lengths → NULL, matching the composed form (null-pad
    // through zip_with propagates through the fold)
    val mm = spark.sql(
      "SELECT graft_dot(a, slice(b, 1, 32)) AS m FROM dot_t").head()
    assert(mm.isNullAt(0), "mismatched dims must yield null, not truncate")
    // null ELEMENT → NULL (the composed form's null poisons the fold;
    // the fused loop must not read it as 0)
    val ne = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS m").head()
    assert(ne.isNullAt(0), "null element must yield null, not 0")
  }

  test("graft_idot/graft_inorm2 == composed integer forms (int + long + SQL)") {
    val rnd = new scala.util.Random(11)
    // int8-quantization range: |x| <= 127, the quantized paths' domain
    val rows = Seq.fill(200)(
      (Array.fill(64)((rnd.nextInt(255) - 127).toLong),
        Array.fill(64)((rnd.nextInt(255) - 127).toLong)))
    val df = rows.toDF("a", "b")
    def composedDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
    def composedNorm(x: org.apache.spark.sql.Column) =
      aggregate(transform(x, v => v * v), lit(0L), (acc, v) => acc + v)
    val diffs = df.select(
        graft.functions.Vectors.idot($"a", $"b").as("nd"),
        composedDot($"a", $"b").as("rd"),
        graft.functions.Vectors.inorm2($"a").as("nn"),
        composedNorm($"a").as("rn"))
      .filter(!($"nd" <=> $"rd") || !($"nn" <=> $"rn")).count()
    assert(diffs === 0)
    // int element type takes the II specialization, same values
    val intDf = df.select($"a".cast("array<int>").as("ai"),
      $"b".cast("array<int>").as("bi"), $"a", $"b")
    val diffI = intDf.select(
        graft.functions.Vectors.idot($"ai", $"bi").as("nd"),
        composedDot($"a", $"b").as("rd"),
        graft.functions.Vectors.inorm2($"ai").as("nn"),
        composedNorm($"a").as("rn"))
      .filter(!($"nd" <=> $"rd") || !($"nn" <=> $"rn")).count()
    assert(diffI === 0)
    // mixed long/int element types resolve the LI/IL specializations
    val diffMixed = intDf.select(
        graft.functions.Vectors.idot($"a", $"bi").as("li"),
        graft.functions.Vectors.idot($"ai", $"b").as("il"),
        composedDot($"a", $"b").as("rd"))
      .filter(!($"li" <=> $"rd") || !($"il" <=> $"rd")).count()
    assert(diffMixed === 0)
    // SQL registration + null semantics: null array, mismatched
    // lengths, and a null ELEMENT all yield NULL (composed-form parity)
    df.limit(1).createOrReplaceTempView("idot_t")
    val viaSql = spark.sql(
      "SELECT graft_idot(a, b) AS d, graft_inorm2(a) AS n2, " +
        "graft_idot(CAST(NULL AS ARRAY<BIGINT>), b) AS na, " +
        "graft_idot(a, slice(b, 1, 32)) AS mm, " +
        "graft_idot(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS ne, " +
        "graft_inorm2(array(1L, CAST(NULL AS BIGINT))) AS nn FROM idot_t").head()
    assert(!viaSql.isNullAt(0) && !viaSql.isNullAt(1))
    assert(viaSql.isNullAt(2), "null array must yield null")
    assert(viaSql.isNullAt(3), "mismatched dims must yield null, not truncate")
    assert(viaSql.isNullAt(4), "null element must yield null, not 0")
    assert(viaSql.isNullAt(5), "null element must yield null norm")
  }

  test("native geohash expression == UDF reference implementation") {
    val grid = for {
      i <- 0 to 10; j <- 0 to 10
    } yield (-88.0 + i * 17.3, -178.0 + j * 33.7)
    val df = grid.toDF("lat", "lon")
      .withColumn("native",
        GraftFunctions.geohash($"lat", $"lon", 8))
      .withColumn("udf", Geo.geohash8(format_number($"lat", 6), format_number($"lon", 6)))
    // compare via the pure function to avoid string-format noise
    val rows = df.select($"lat", $"lon", $"native").collect()
    rows.foreach { r =>
      assert(r.getString(2) === Geo.encode(r.getDouble(0), r.getDouble(1), 8))
    }
  }

  test("native geohash: nulls and out-of-range → null") {
    val df = Seq((Some(95.0), Some(10.0)), (None, Some(10.0)),
      (Some(45.0), None), (Some(45.0), Some(400.0)))
      .toDF("lat", "lon")
      .select(GraftFunctions.geohash($"lat", $"lon", 8).as("g"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("native geohash works via SQL registration") {
    val r = spark.sql(
      "SELECT graft_geohash(57.64911D, 10.40744D, 8) AS g").head()
    assert(r.getString(0) === "u4pruydq")
  }

  test("registry accepts BIGINT literals for scalar int args (ADVICE r2)") {
    // a BIGINT scalar arg (CAST(..) folds to a Long literal) must not
    // ClassCastException — the registry casts via Number.intValue()
    val viaLong = spark.sql(
      """SELECT graft_winnow('abcdefghijklmnopqrstuvwxyz',
        |  CAST(8 AS BIGINT), CAST(4 AS BIGINT)) AS f""".stripMargin)
      .head().getSeq[Long](0)
    val viaInt = spark.sql(
      "SELECT graft_winnow('abcdefghijklmnopqrstuvwxyz', 8, 4) AS f")
      .head().getSeq[Long](0)
    assert(viaLong === viaInt && viaLong.nonEmpty)
    val srp = spark.sql(
      """SELECT graft_srp_bands(array(1.0D, 2.0D, 3.0D),
        |  CAST(4 AS BIGINT), CAST(2 AS BIGINT), 42) AS b""".stripMargin)
      .head().getSeq[Long](0)
    assert(srp.size === 2)
  }

  test("simhash: identical token arrays hash equal; planted near-dups are close") {
    val sf = "/root/testdata/sf0.001"
    val planted = ops.DedupOps.jaccardNearDup(spark, sf)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(planted.nonEmpty)
    val hashes = Tables.documents(spark, sf).filter($"doc_id" < 200)
      .select($"doc_id", GraftFunctions.simhash(split($"text", " ")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    planted.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
      assert(ham <= 16, s"planted pair ($a,$b) hamming $ham")
    }
    // determinism of the pure kernel
    assert(SimHashCodegen.fnv64("spark".getBytes) ===
      SimHashCodegen.fnv64("spark".getBytes))
  }

  test("streaming hourly rollup matches batch rollup") {
    val sf = "/root/testdata/sf0.001"
    val stream = streaming.StreamingSessions.hourlyCounts(spark, sf)
      .collect().map(r => (r.getAs[Any]("hour").toString, r.getString(1), r.getLong(2)))
    val batch = ops.EventOps.hourlyRollup(spark, sf)
      .select($"hour", $"event_type", $"n")
      .collect().map(r => (r.getAs[Any]("hour").toString, r.getString(1), r.getLong(2)))
    assert(stream.toSet === batch.toSet)
  }

  test("streaming sliding rollup matches the batch overlapping windows") {
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Any](0).toString, r.getString(1), r.getLong(2), r.getDouble(3))
    val stream = streaming.StreamingSessions.slidingCounts(spark, sf)
      .collect().map(key).toSet
    val batch = ops.EventOps.slidingWindow(spark, sf)
      .collect().map(key).toSet
    assert(stream === batch)
  }

  test("streaming dedup distinct-user counts match batch COUNT(DISTINCT)") {
    val sf = "/root/testdata/sf0.001"
    val stream = streaming.StreamingSessions.distinctUsers(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stream === batch)
  }

  test("winnow: guarantee, no-short-share, and determinism properties") {
    import org.apache.spark.unsafe.types.UTF8String
    def fps(s: String): Set[Long] = {
      val a = graft.functions.WinnowCodegen
        .winnow(UTF8String.fromString(s), 8, 4)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    // determinism + identity
    val doc = "the quick brown fox jumps over the lazy dog"
    assert(fps(doc) === fps(doc))
    // guarantee: a shared substring of length >= w+k-1 = 11 must
    // produce at least one shared fingerprint (MOSS theorem)
    val shared = "abcdefghijklmnop" // 16 chars
    val a = "XXXX " + shared + " YYYY"
    val b = "qqq " + shared + " zzz"
    assert(fps(a).intersect(fps(b)).nonEmpty, "guarantee violated")
    // disjoint alphabets share no 8-gram, hence no fingerprint
    assert(fps("aaaabbbbccccdddd").intersect(fps("EEEEFFFFGGGGHHHH")).isEmpty)
    // shorter than k → empty set
    assert(fps("short").isEmpty)
  }

  test("winnow near-dup pairs cover the exact-Jaccard pair set") {
    val sf = "/root/testdata/sf0.001"
    val winnow = ops.DedupOps.winnowNearDup(spark, sf)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the planted near-dups (shingle Jaccard >= 0.5 on
    // the bounded slice) share many 15-char runs, so winnowing (11+
    // char guarantee) must recover every one of them
    val docs = Tables.documents(spark, sf)
      .filter($"doc_id" < 200)
      .select($"doc_id", ops.DedupOps.shingles($"text").as("sh"))
    val exact = docs.select($"doc_id".as("a_id"), $"sh".as("sa"))
      .join(docs.select($"doc_id".as("b_id"), $"sh".as("sb")),
        $"a_id" < $"b_id")
      .withColumn("j", ops.DedupOps.jaccard($"sa", $"sb"))
      .filter($"j" >= 0.5)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact.subsetOf(winnow), s"missed=${exact -- winnow}")
    // precision side (ADVICE r2): over shared-vocabulary word soup the
    // old absolute >=2-shared-fingerprint rule emitted ~73% of ALL
    // pairs — output near-quadratic even though the join wasn't. With
    // the overlap-fraction guard the emitted mass must stay a small
    // fraction of the pair space.
    val nDocs = Tables.documents(spark, sf).count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(winnow.size <= allPairs / 10,
      s"winnow emitted ${winnow.size} of $allPairs possible pairs — " +
        "output is near-quadratic, precision guard failed")
  }

  test("stream-stream interval join matches the batch interval join") {
    val sf = "/root/testdata/sf0.001"
    val stream = streaming.StreamingSessions.purchaseAttribution(spark, sf)
      .collect().head
    val ev = Tables.events(spark, sf)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"value")
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"))
    val batch = p.join(v, $"v_user" === $"p_user" && $"v_ts" <= $"p_ts" &&
        $"p_ts" <= $"v_ts" + expr("interval 30 minutes"))
      .agg(count(lit(1)), countDistinct($"p_user"))
      .collect().head
    assert(stream.getLong(0) === batch.getLong(0), "pair counts differ")
    assert(stream.getLong(1) === batch.getLong(1), "user counts differ")
    assert(stream.getLong(0) > 0, "fixture should produce matches")
  }

  test("stream-static enrichment matches the batch join") {
    val sf = "/root/testdata/sf0.001"
    val stream = streaming.StreamingSessions.enrichStatic(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, sf)
    val dim = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(sum(round($"value" * 100).cast("long")).as("cents"))
      .select($"user_id".as("d_user"),
        when($"cents" >= 50000L, "high")
          .when($"cents" >= 10000L, "mid")
          .otherwise("low").as("tier"))
    val batch = ev.filter($"event_type" === "view")
      .join(dim, $"user_id" === $"d_user", "left")
      .withColumn("tier", coalesce($"tier", lit("none")))
      .groupBy($"tier")
      .agg(count(lit(1)).as("n_views"), countDistinct($"user_id").as("n_users"))
      .orderBy($"tier")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(stream.toSeq === batch.toSeq)
    assert(stream.map(_._1).toSet.size >= 2, "fixture should span tiers")
  }

  test("dropDuplicatesWithinWatermark: redelivery inside the delay is dropped") {
    // at-least-once redelivery: same event_id lands twice, minutes
    // apart — the watermark-bounded dedup variant must emit it ONCE
    // while holding state only for the 10-minute delay, not forever
    val dir = java.nio.file.Files.createTempDirectory("wmdedup")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType)))
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:01:00"),
      (1L, "2024-01-01 00:03:00"), // redelivered inside the delay
      (3L, "2024-01-01 01:00:00")) // advances the watermark past key 1
    rows.toDF("event_id", "ts_s")
      .select($"event_id", $"ts_s".cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(dir.toString)
    val out = streaming.StreamingSessions.runToCompletion(spark,
      spark.readStream.schema(schema).parquet(dir.toString)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"),
      "wm_dedup_test", mode = "append")
    assert(out.select($"event_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  test("image codec: PNG encode/decode round-trips the pixel formula") {
    import graft.functions.ImageCodec
    // one grayscale (odd) and one RGB (even) id, decoded stats
    // recomputed independently from the generator formula
    for (id <- Seq(7L, 12L)) {
      val m = ImageCodec.decode(ImageCodec.encodePng(id))
      val w = (id % 5 + 7).toInt
      val h = (id % 3 + 4).toInt
      val ch = if (id % 2 == 1) 1 else 3
      assert((m.width, m.height, m.channels) === ((w, h, ch)))
      val samples = for {
        y <- 0 until h; x <- 0 until w; c <- 0 until ch
      } yield ImageCodec.sampleValue(id, c, x, y)
      assert(m.pxSum === samples.map(_.toLong).sum)
      assert(m.pxMin === samples.min)
      assert(m.pxMax === samples.max)
    }
  }

  test("audio codec: WAV encode/parse round-trips the sample formula") {
    import graft.functions.AudioCodec
    for (id <- Seq(3L, 10L)) {
      val m = AudioCodec.decode(AudioCodec.encodeWav(id))
      val n = AudioCodec.sampleCount(id)
      val samples = (0 until n).map(i => AudioCodec.sampleValue(id, i))
      assert(m.nSamples === n)
      assert(m.energy === samples.map(s => s.toLong * s).sum)
      assert(m.peak === samples.map(math.abs).max)
      assert(m.zeroCrossings === samples.sliding(2).count {
        case Seq(a, b) => (a >= 0) != (b >= 0) })
    }
  }

  test("audio codec: malformed containers yield NULL, not an exception") {
    import graft.functions.AudioCodec
    val good = AudioCodec.encodeWav(5L)
    assert(AudioCodec.decode(null) == null)
    assert(AudioCodec.decode("RIFFjunk".getBytes("UTF-8")) == null)
    assert(AudioCodec.decode(good.take(30)) == null) // truncated header
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(AudioCodec.decode(badMagic) == null)
    val stereo = good.clone(); stereo(22) = 2 // fmt channel count
    assert(AudioCodec.decode(stereo) == null)
    // a declared chunk length past the buffer must not throw
    val lying = good.clone(); lying(40) = -1; lying(41) = -1
    assert(AudioCodec.decode(lying) == null)
  }

  test("image codec: undecodable bytes yield NULL, not an exception") {
    import graft.functions.ImageCodec
    assert(ImageCodec.decode("not a png".getBytes("UTF-8")) == null)
    val junk = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        Array[Byte](1, 2, 3))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("blob",
          org.apache.spark.sql.types.BinaryType))))
    val out = junk.selectExpr("graft_image_meta(blob) AS m").collect()
    assert(out.head.isNullAt(0))
  }

  test("streaming session counts match batch gap sessionization") {
    val sf = "/root/testdata/sf0.001"
    val stream = streaming.StreamingSessions.sessionCounts(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = ops.EventOps.sessionize(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream === batch)
  }

  test("stream_dedup_neardup: true cross-batch arrivals match batch LSH") {
    // the graded run at testdata ingests one file = one micro-batch;
    // THIS is the cross-batch proof: documents split round-robin into
    // 4 parquet files, streamed one file per trigger, so near-dup
    // pairs (round-robin ⇒ most straddle files) can only form through
    // the band-bucket STATE carried across batches
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("stream-neardup")
    val watch = dir.resolve("in")
    java.nio.file.Files.createDirectory(watch)
    for (i <- 0 until 4) {
      val tmp = dir.resolve(s"tmp$i").toString
      docs.filter($"doc_id" % 4 === i).coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, watch.resolve(s"batch$i.parquet"))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val streamed = streaming.StreamingDedup
      .nearDupPairsOver(spark, stream, docs, "test_neardup_xbatch")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = ops.DedupOps.minhashLshOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(batch.exists { case (a, b, _) => a % 4 != b % 4 },
      "split must place near-dup pairs across micro-batches")
  }

  // --- QSketch (deterministic mergeable quantile sketch, r8) ---

  /** Deterministic pseudo-shuffled test stream: values 0..n-1 in
    * splitmix-scrambled order (exact quantiles are then trivially
    * q*(n-1) against the sorted domain). */
  private def scrambled(n: Int): Array[Double] =
    (0 until n).sortBy(i => java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 31))
      .map(_.toDouble).toArray

  private def rankOf(v: Double, n: Int): Double = {
    // data is 0..n-1, so #(values <= v) = floor(v)+1
    (math.floor(v) + 1) / n
  }

  test("qsketch: rank error within 2% on 100k items, weights conserved") {
    import graft.functions.QSketch
    val n = 100000
    val sk = new QSketch(512)
    scrambled(n).foreach(sk.update)
    assert(sk.n === n.toLong)
    val mass = sk.levels.zipWithIndex
      .map { case (lvl, i) => lvl.length.toLong << i }.sum
    assert(mass === n.toLong, "item weights must be conserved exactly")
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)) {
      val est = sk.quantile(q)
      assert(math.abs(rankOf(est, n) - q) <= 0.02,
        s"q=$q est=$est trueRank=${rankOf(est, n)}")
    }
  }

  test("qsketch: merge of shard sketches answers like a direct build") {
    import graft.functions.QSketch
    val n = 50000
    val data = scrambled(n)
    val direct = new QSketch(512)
    data.foreach(direct.update)
    // 10 shards, merged in a worst-case-ish interleaved order
    val shards = data.grouped(n / 10 + 1).map { chunk =>
      val s = new QSketch(512); chunk.foreach(s.update); s
    }.toSeq
    val merged = new QSketch(512)
    shards.zipWithIndex.sortBy(_._2 % 3).map(_._1).foreach(merged.merge)
    assert(merged.n === n.toLong)
    for (q <- Seq(0.05, 0.5, 0.95)) {
      // both forms must hold the rank-error contract vs the EXACT
      // data; merged-vs-direct estimates need not be identical
      // (different compaction histories are equally valid sketches)
      assert(math.abs(rankOf(direct.quantile(q), n) - q) <= 0.02)
      assert(math.abs(rankOf(merged.quantile(q), n) - q) <= 0.02)
    }
  }

  test("qsketch: serialization round-trips bit-exactly; degenerate inputs") {
    import graft.functions.QSketch
    val sk = new QSketch(64)
    scrambled(10000).foreach(sk.update)
    val rt = QSketch.deserialize(sk.serialize)
    assert(rt.n === sk.n)
    assert(rt.serialize.toSeq === sk.serialize.toSeq)
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(rt.quantile(q) === sk.quantile(q))
    // empty sketch: NaN (the aggregator never emits it for a real
    // group — groupBy only forms non-empty groups)
    assert(new QSketch(64).quantile(0.5).isNaN)
    // single element: every quantile is that element
    val one = new QSketch(64)
    one.update(42.0)
    assert(one.quantile(0.0) === 42.0 && one.quantile(1.0) === 42.0)
    // merging an empty sketch is the identity
    val before = sk.serialize.toSeq
    sk.merge(new QSketch(64))
    assert(sk.serialize.toSeq === before)
  }

  test("image dhash: decode matches the pixel formula; undecodable -> null") {
    import graft.functions.ImageCodec
    for (id <- Seq(0L, 1L, 7L, 42L, 123L)) {
      val got = ImageCodec.dhashBoxed(ImageCodec.encodePng(id))
      assert(got != null)
      // formula replay: band-sum luminance, wrap-aware compare
      val w = (id % 5 + 7).toInt
      val h = (id % 3 + 4).toInt
      val bands = if (id % 2 == 1) Seq(0) else Seq(0, 1, 2)
      def lum(x: Int, y: Int): Int =
        bands.map(c => ImageCodec.sampleValue(id, c, x, y)).sum
      var want = 0L
      var k = 0
      for (y <- 0 until h; x <- 0 until w - 1) {
        if (lum(x + 1, y) > lum(x, y)) want |= 1L << k
        k += 1
      }
      assert(got.longValue() === want, s"id=$id")
    }
    assert(ImageCodec.dhashBoxed("not a png".getBytes("UTF-8")) == null)
  }

  test("stream_quantile_rollup: sketches accumulate across micro-batches") {
    // orders split into 3 files streamed one per trigger: each month's
    // sketch must fold rows from SEVERAL batches through state (not
    // one batch each), and the drained grade must hold the same
    // rank-tolerance contract as the batch query
    val sf = "/root/testdata/sf0.001"
    val o = graft.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice",
        $"o_orderdate".cast("timestamp_ntz").as("o_orderdate"))
      .localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("stream-qsketch")
    val watch = dir.resolve("in")
    java.nio.file.Files.createDirectory(watch)
    for (i <- 0 until 3) {
      val tmp = dir.resolve(s"tmp$i").toString
      o.filter($"o_orderkey" % 3 === i).coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      // the production query globs orders.parquet; name files to match
      java.nio.file.Files.move(part, watch.resolve(s"orders.parquet-$i"))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
      .withColumn("ts", $"o_orderdate".cast("timestamp"))
    val keyed = src.select(
        unix_micros(date_trunc("month", $"ts")).as("mk"),
        $"o_totalprice".as("v"))
      .as[(Long, Double)]
    // the PRODUCTION core (state fold + drain + grade tail), not a
    // test copy — a drift in the fold fails here, not just in grading
    val graded = streaming.StatefulOps
      .quantileRollupOver(spark, keyed, o.toDF(), "test_qsketch_xbatch")
      .collect()
    assert(graded.nonEmpty)
    graded.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5),
        s"streamed sketch out of rank tolerance: $r")
    }
    // cross-batch proof from the sink the core drained: months span
    // all 3 round-robin shards, so the final per-month seq must
    // exceed 1 (state was folded repeatedly, not rebuilt per batch)
    val sink = spark.table("test_qsketch_xbatch")
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy($"mk").orderBy($"seq".desc)
    val latest = sink.withColumn("rn", row_number().over(wL))
      .filter($"rn" === 1)
    assert(latest.filter($"seq" >= 2).count() > 0,
      "no month accumulated across micro-batches")
    // and the final sketches carry exactly the corpus: Σn == |orders|
    val total = latest.select($"sk").collect()
      .map(r => graft.functions.QSketch
        .deserialize(r.getAs[Array[Byte]](0)).n).sum
    assert(total === o.count())
  }

  // --- MGSketch (mergeable Misra–Gries heavy hitters, r8) ---

  test("mg sketch: exact while distinct <= m; serialization round-trip") {
    import graft.functions.MGSketch
    val sk = new MGSketch(8)
    val truth = Map("a" -> 500, "b" -> 300, "c" -> 150, "d" -> 50)
    // interleaved deterministic order
    (0 until 1000).foreach { i =>
      val k = if (i % 2 == 0 && i / 2 < 500) "a"
        else if (i % 10 < 6 && i < 750) "b" else if (i < 900) "c" else "d"
      sk.update(k)
    }
    // re-derive the actual truth of that generator
    val gen = (0 until 1000).map { i =>
      if (i % 2 == 0 && i / 2 < 500) "a"
      else if (i % 10 < 6 && i < 750) "b" else if (i < 900) "c" else "d"
    }
    val exact = gen.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(truth != null) // (truth is illustrative; exact is the oracle)
    assert(sk.counters.toMap === exact,
      "4 distinct keys under m=8 must count exactly")
    val rt = MGSketch.deserialize(sk.serialize)
    assert(rt.counters.toMap === exact && rt.n === sk.n)
    assert(rt.serialize.toSeq === sk.serialize.toSeq)
  }

  test("mg sketch: planted heavy hitter survives sharded merges within bound") {
    import graft.functions.MGSketch
    // 400 distinct cold keys + one hot key at 20% of the stream:
    // n/(m+1) = 10000/17 ≈ 588 < 2000, so MG GUARANTEES presence
    val m = 16
    val stream = (0 until 10000).map { i =>
      if (i % 5 == 0) "hot" else s"cold${i % 400}"
    }
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // direct build
    val direct = new MGSketch(m)
    stream.foreach(direct.update)
    // sharded build + merge in a scrambled order
    val shards = stream.grouped(1000).map { chunk =>
      val s = new MGSketch(m); chunk.foreach(s.update); s
    }.toSeq
    val merged = new MGSketch(m)
    shards.zipWithIndex.sortBy(_._2 % 3).map(_._1).foreach(merged.merge)
    assert(merged.n === 10000L)
    for (sk <- Seq(direct, merged)) {
      val est = sk.counters.getOrElse("hot", 0L)
      assert(est > 0L, "guaranteed heavy hitter evicted")
      // never overcount; undercount bounded by n/(m+1)
      assert(est <= exact("hot"))
      assert(exact("hot") - est <= 10000L / (m + 1) + 1)
      assert(sk.topK(1).head._1 === "hot")
      // the invariant holds for EVERY surviving counter
      sk.counters.foreach { case (k, c) =>
        assert(c <= exact(k), s"overcount on $k")
      }
      assert(sk.counters.size <= m)
    }
  }

  test("agg_topk_union: merged sketch counts equal exact GROUP BY at fixtures") {
    val df = ops.OlapOps.topkUnionRollup(spark, "/root/testdata/sf0.01")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // independent exact recomputation in Spark
    val exact = graft.Tables.orders(spark, "/root/testdata/sf0.01")
      .groupBy(date_trunc("quarter", col("o_orderdate"))
        .cast("timestamp_ntz").as("quarter"), col("o_orderpriority"))
      .count().collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(exact((r.get(0), r.getString(2))) === r.getLong(3),
        s"sketch estimate diverged from exact at $r")
    }
  }

  test("watermark boundary: late windows drop, open windows survive") {
    // Empirical pins of Spark's late-data semantics (TieProbeSpec
    // discipline — probed, then asserted), the rules stream_late_drop
    // builds on:
    //  1. the drop unit is the WINDOW, not the row;
    //  2. the late-events filter runs one batch BEHIND eviction
    //     (SPARK-40925): batch N drops with batch N-1's watermark —
    //     so drops need a third batch to materialize;
    //  3. a window is accepted only if its END is strictly greater
    //     than the batch's EVICTION watermark; the window whose end
    //     equals the late-events watermark is discarded by the
    //     eviction-side filter WITHOUT appearing in the
    //     numRowsDroppedByWatermark metric (only rule-2 drops count).
    import java.nio.file.{Files => NF, Paths}
    import java.nio.file.attribute.FileTime
    val dir = NF.createTempDirectory("wm-boundary")
    def writeFile(name: String, mtimeMs: Long,
        rows: Seq[java.sql.Timestamp]): Unit = {
      val stage = NF.createTempDirectory("wm-stage")
      rows.toDF("ts").coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = NF.list(stage)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(name)
      NF.move(part, dest)
      NF.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the late-events filter runs one batch BEHIND the eviction
    // watermark (SPARK-40925: batch N drops with batch N-1's
    // watermark, so data racing the watermark update isn't lost) —
    // hence THREE batches: b0 sets the event-time high mark, b1 is
    // the spacer batch that promotes it into the late-events filter,
    // b2 carries the late probes
    writeFile("b0.parquet", 1000000000000L, Seq(ts("2020-01-01 12:00:00")))
    writeFile("b1.parquet", 1000000060000L, Seq(ts("2020-01-01 12:00:01")))
    writeFile("b2.parquet", 1000000120000L, Seq(
      ts("2020-01-01 11:40:01"), // window [11:40,11:45) — expired
      ts("2020-01-01 11:44:59"), // same expired window
      ts("2020-01-01 11:47:00"), // window [11:45,11:50), end == wm
      ts("2020-01-01 11:51:00"), // window [11:50,11:55) — open
      ts("2020-01-01 11:58:00"))) // window [11:55,12:00) — open
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val agg = src.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("wm_boundary_sink").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("wm_boundary_sink")
      .groupBy(col("w")).agg(max(col("n")).as("n"))
      .select(col("w.start").cast("string").as("s"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch 2 ran with lateEvents wm = 11:50, eviction wm = 11:50:01:
    // accepted = windows ending 11:55 and 12:00 (+ the 12:00 window's
    // two on-time rows); [11:40,11:45) metric-dropped; [11:45,11:50)
    // (end == lateEvents wm) silently discarded by the eviction filter
    assert(got === Map(
      "2020-01-01 12:00:00" -> 2L,
      "2020-01-01 11:50:00" -> 1L,
      "2020-01-01 11:55:00" -> 1L),
      s"late-drop acceptance set changed: $got")
    // only the strictly-late window's rows register on the metric
    assert(q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum === 2L)
  }

  test("hll inclusion-exclusion overlap: sharded merge tracks direct and truth") {
    // controlled known-overlap sets: A = [0, 8000), B = [4000, 12000)
    // -> |A∩B| = 4000, |A∪B| = 12000. Each set is built BOTH directly
    // (one sketch_agg) and as a 7-shard merge (per-shard sketch_agg
    // then union_agg — the distributed stored-sketch path the graded
    // query rides); the merge must answer like the direct build, and
    // the I-E overlap estimate from merged sketches must track truth
    // within the compounded-3-sketch band.
    def sketches(lo: Long, hi: Long): (Array[Byte], Array[Byte]) = {
      val df = spark.range(lo, hi)
        .select(col("id"), (col("id") % 7).as("shard"))
      val direct = df.agg(hll_sketch_agg(col("id")).as("sk"))
        .head().getAs[Array[Byte]](0)
      val merged = df.groupBy(col("shard"))
        .agg(hll_sketch_agg(col("id")).as("sk"))
        .agg(hll_union_agg(col("sk")).as("sk"))
        .head().getAs[Array[Byte]](0)
      (direct, merged)
    }
    def est(sk: Array[Byte]): Double = {
      val row = spark.range(1).select(
        hll_sketch_estimate(lit(sk))).head()
      row.getLong(0).toDouble
    }
    val (aD, aM) = sketches(0, 8000)
    val (bD, bM) = sketches(4000, 12000)
    // merge answers like direct (within 2% of the true cardinality)
    assert(math.abs(est(aM) - est(aD)) <= 160.0, "A: merge vs direct")
    assert(math.abs(est(bM) - est(bD)) <= 160.0, "B: merge vs direct")
    // I-E overlap from the MERGED sketches tracks the true 4000
    val u = spark.range(1)
      .select(hll_sketch_estimate(hll_union(lit(aM), lit(bM)))).head()
      .getLong(0).toDouble
    val overlapEst = est(aM) + est(bM) - u
    assert(math.abs(overlapEst - 4000.0) <= 600.0,
      s"I-E overlap $overlapEst drifted from truth 4000")
    // and the graded query's own tolerance booleans hold at test SF
    val rows = ops.OlapOps.sketchOverlap(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) - r.getLong(4) === r.getLong(3),
        s"union arithmetic broken: $r")
      assert(r.getBoolean(5), s"overlap estimate out of tolerance: $r")
    }
  }

  test("agg_quantile_union: re-aggregation equals direct within rank tolerance") {
    // the end-to-end contract the graded query bets on: monthly
    // sketches merged to quarters land within the rank band of the
    // exact quarter percentiles — and the query's own tolerance
    // booleans must all be true at test SF
    val df = ops.OlapOps.quantileUnionRollup(spark, "/root/testdata/sf0.01")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"p50 out of rank tolerance: $r")
      assert(r.getBoolean(5), s"p95 out of rank tolerance: $r")
    }
  }
}
