package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("deletion-neighborhood fuzzy join equals brute-force levenshtein") {
    val got = ops.DedupOps.fuzzyJoinEdit1(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val names = Tables.customer(spark, sf).filter(col("c_custkey") < 1000)
      .select(col("c_name").as("w")).distinct()
    val brute = names.as("x").join(broadcast(names.as("y")),
        col("x.w") < col("y.w") &&
          levenshtein(col("x.w"), col("y.w")) <= 1)
      .select(col("x.w"), col("y.w")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(brute.nonEmpty, "no edit-1 pairs in the fixture slice")
    assert(got == brute,
      s"missed ${(brute -- got).size} / invented ${(got -- brute).size}")
  }

  test("BPE trainer: deterministic, monotone argmax frequencies, converged") {
    val m1 = ops.TextOps.bpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val m2 = ops.TextOps.bpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m1.toSeq == m2.toSeq, "training is not deterministic")
    assert(m1.map(_._1).toSeq == (1 to m1.length), "steps not dense")
    // merging can only split or preserve pair mass, so each step's
    // argmax frequency is bounded by the previous step's
    val freqs = m1.map(_._4)
    assert(freqs.zip(freqs.tail).forall { case (a, b) => b <= a },
      s"argmax frequencies not monotone: ${freqs.mkString(",")}")
    // at least one learned symbol must itself be merged later
    // (multi-char left or right side) — the iteration is real, not
    // eight independent char-pair picks
    assert(m1.exists(m => m._2.length > 1 || m._3.length > 1),
      "no learned symbol was ever reused in a later merge")
  }

  test("prefix-filter Jaccard join equals brute force on the full corpus") {
    // 100 % recall is the prefix filter's whole claim vs LSH — prove
    // it over EVERY sf0.001 doc, not just the graded slice
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), ops.DedupOps.shingles(col("text")).as("sh"))
    val got = ops.DedupOps.jaccardPrefixPairsOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    val brute = a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "corpus has no qualifying pairs to find")
    assert(got == brute,
      s"prefix join missed ${(brute -- got).size} / invented ${(got -- brute).size} pairs")
  }

  test("MinHash LSH finds exactly the exact-Jaccard pairs (clean-gap corpus)") {
    val lsh = ops.DedupOps.minhashLsh(spark, sf)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact all-pairs shingle Jaccard ≥ 0.5
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), ops.DedupOps.shingles(col("text")).as("sh"))
    val exact = docs.select(col("doc_id").as("a_id"), col("sh").as("sa"))
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("sb")),
        col("a_id") < col("b_id"))
      .withColumn("j", ops.DedupOps.jaccard(col("sa"), col("sb")))
      .filter(col("j") >= 0.5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact,
      s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("LSH bucket cap: mass-duplicate corpus cannot go quadratic") {
    import spark.implicits._
    // 5000 byte-identical docs land in ONE bucket per band; uncapped,
    // that is 12.5M candidate pairs. The cap truncates each bucket to
    // the 256 smallest doc_ids and reports dropped membership via the
    // graft_lsh_bucket_overflow observed metric.
    @volatile var observedDropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("graft_lsh_bucket_overflow")
          .foreach(r => observedDropped = r.getAs[Long]("dropped"))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val boiler = (0L until 5000L).map(i => (i, "the same boilerplate text " * 8))
      val unique = (5000L until 5010L).map(i =>
        (i, s"u$i-" * 16)) // mutually dissimilar shingle sets
      val docs = (boiler ++ unique).toDF("doc_id", "text")
      val pairs = ops.DedupOps.minhashLshOn(docs)
      val n = pairs.count()
      // truncated bucket: at most C(256,2) pairs from the boilerplate
      assert(n <= 256L * 255 / 2, s"quadratic blowup: $n pairs")
      assert(n > 0, "capped bucket must still yield in-cap dup pairs")
      // (5000-256) dropped rows in each of the 8 bands
      val deadline = System.currentTimeMillis() + 15000
      while (observedDropped < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(observedDropped === (5000L - 256) * 8)
    } finally spark.listenerManager.unregister(listener)
  }

  test("SimHash bucket cap: mass-duplicate corpus cannot go quadratic") {
    import spark.implicits._
    // 5000 byte-identical docs have IDENTICAL sketches — one bucket
    // per block. Uncapped that re-creates the quadratic blowup the
    // "n²/65536" argument only rules out for NON-duplicate mass
    // (ADVICE r2); the per-(blk,key) cap truncates it like MinHash.
    val boiler = (0L until 5000L).map(i => (i, "the same boilerplate text " * 8))
    val unique = (5000L until 5010L).map(i =>
      (i, (0 until 12).map(j => s"tok${i}x$j").mkString(" "))) // disjoint vocab
    val docs = (boiler ++ unique).toDF("doc_id", "text")
    val n = ops.DedupOps.simhashNearDupOn(docs).count()
    assert(n <= 256L * 255 / 2, s"quadratic blowup: $n pairs")
    assert(n > 0, "capped bucket must still yield in-cap dup pairs")
  }

  test("SimHash block buckets find exactly the brute-force pairs") {
    // pigeonhole guarantee: bucketed candidate generation at
    // maxHamming=3 with 4 blocks is EXACT, not probabilistic
    val docs = Tables.documents(spark, sf)
    val bucketed = ops.DedupOps.simhashNearDupOn(docs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sk = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash(split(col("text"), " ")).as("sh"))
    val brute = sk.select(col("doc_id").as("a_id"), col("sh").as("sa"))
      .join(broadcast(sk.select(col("doc_id").as("b_id"), col("sh").as("sb"))),
        col("a_id") < col("b_id"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain simhash near-dups")
    assert(bucketed === brute,
      s"missed=${brute -- bucketed} spurious=${bucketed -- brute}")
  }

  test("SimHash maxHamming=0 (identical sketches) stays bucketed, not all-pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here"), (4L, "yet another unrelated doc"))
      .toDF("doc_id", "text")
    val pairs = ops.DedupOps.simhashNearDupOn(docs, maxHamming = 0)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the identical pair; a zero mask bug would emit all 6 pairs
    assert(pairs === Set((1L, 2L)))
  }

  test("connectedComponents: transitive chains cluster, min-id labels") {
    import spark.implicits._
    // chain 1-2-3 (1~3 only transitively), isolated pair 10-11, and a
    // 9-edge path 20..29 that needs several propagation rounds
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 29L).map(i => (i, i + 1))).toDF("a_id", "b_id")
    val got = ops.DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert((20L to 29L).forall(got(_) == 20L))
    assert(got.size == 15) // only vertices that appear in some pair
  }

  test("boundedComponents ≡ connectedComponents (random differential)") {
    import spark.implicits._
    // r15: dedup_semantic's bounded slice swaps the distributed CC
    // loop for a driver union-find — same fixpoint by construction;
    // this differential pins it on seeded random graphs (mixed
    // chains, stars, singleton-free pair lists) plus the degenerate
    // empty graph.
    val rnd = new scala.util.Random(1815)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 17
      val pairs = (1 to 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a + 1)
      }.filter(p => p._1 != p._2).toDF("a_id", "b_id")
      val dist = ops.DedupOps.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bnd = ops.DedupOps.boundedComponents(spark, pairs, maxNodes = 200)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bnd === dist, s"trial $trial diverged")
    }
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(ops.DedupOps.boundedComponents(spark, empty, 10).count() === 0)
    // the guard: a pair list past the declared bound fails loud
    intercept[IllegalArgumentException] {
      ops.DedupOps.boundedComponents(spark,
        (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id"), maxNodes = 2)
    }
  }

  test("connectedComponents: maxIter too small for the diameter throws") {
    import spark.implicits._
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      ops.DedupOps.connectedComponents(path, maxIter = 2).collect()
    }
  }

  test("SRP threshold-LSH: high recall vs exact, zero false positives") {
    val emb = Tables.embeddings(spark, sf)
    val exact = ops.SimilarityOps.thresholdJoinOn(emb, 0.4)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = ops.SimilarityOps.thresholdLshOn(emb, 0.4)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain pairs above threshold")
    val recall = (exact & lsh).size.toDouble / exact.size
    // measured 0.848 at the 0.4 boundary with 8-bit × 64 bands
    assert(recall >= 0.75, s"SRP recall $recall too low")
    // verification is exact cosine: every emitted pair is a true pair
    assert((lsh -- exact).isEmpty, s"spurious=${lsh -- exact}")
  }

  test("NSW graph ANN: bounded degree, monotone beam, recall vs exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val edges = ops.SimilarityOps.nswBuild(emb).localCheckpoint(true)
    // the graph invariant the walk depends on: out-degree ≤ NswDegree,
    // no self-loops
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    assert(degs <= ops.SimilarityOps.NswDegree, s"max out-degree $degs")
    assert(edges.filter(col("src") === col("dst")).isEmpty, "self-loop")
    // bucketed-build edge recall vs the exact all-pairs CONTROL
    // (VERDICT r11 #1): the bucketed candidate rule (3/16 probed
    // cells) keeps ~0.39 of the exact top-d edges on the
    // near-uniform fixture — the floor pins that the bucketing isn't
    // degenerate (a broken cell join would crater it), while the
    // SEARCH recall assertion below proves the graph that ships
    // navigates BETTER than the exact kNN-clique graph (measured
    // 1.00 vs 0.90 at sf0.001, 0.94 vs 0.70 at sf0.1 — pure kNN
    // graphs are poorly navigable; cell-local edges match the
    // geometry)
    val exactEdges = ops.SimilarityOps.nswBuildExact(emb)
      .localCheckpoint(true)
    val eSet = exactEdges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bSet = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edgeRecall = (eSet & bSet).size.toDouble / eSet.size
    assert(edgeRecall >= 0.30,
      s"bucketed edge recall $edgeRecall vs exact build too low")
    // every node must still have edges (no cell starved the builder)
    assert(edges.select(col("src")).distinct().count() ==
      exactEdges.select(col("src")).distinct().count(),
      "bucketed build lost source nodes")
    val got = ops.SimilarityOps.nswSearch(emb, edges).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // exact ground truth: top-NswK per query by the same
    // (round-6 cosine desc, vec_id) order, excluding self
    val q = emb.filter(col("vec_id") < ops.SimilarityOps.NswQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    val exact = emb.select(col("vec_id").as("node"), col("embedding").as("ve"))
      .crossJoin(broadcast(q))
      .filter(col("node") =!= col("query_id"))
      .withColumn("score",
        graft.functions.Vectors.cosine6(col("qe"), col("ve")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ops.SimilarityOps.NswK)
      .select(col("query_id"), col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & got).size.toDouble / exact.size
    // measured 0.90 at sf0.001 (500 near-uniform vectors — the HARD
    // case for graph navigation: random high-dim geometry has no
    // cluster structure to walk along; beam 24 × 4 hops). The
    // oracle's hash gate grades walk EXACTNESS at every SF; this
    // test pins the fixture's recall floor.
    assert(recall >= 0.85, s"NSW recall $recall too low at sf0.001")
    // determinism: a second search over the same graph is bit-identical
    val again = ops.SimilarityOps.nswSearch(emb, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val first = ops.SimilarityOps.nswSearch(emb, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == first.toSeq, "search is not deterministic")
  }

  test("corpus_build_report: funnel conserves docs and tokens across stages") {
    val rows = ops.TextOps.corpusBuildReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def docs(p: String) = rows.filter(_._1.startsWith(p)).map(_._2).sum
    def toks(p: String) = rows.filter(_._1.startsWith(p)).map(_._3).sum
    // every raw doc lands in exactly one of: heldout, a clean-drop
    // stage, or cleaned
    assert(docs("00_") == docs("01_") + docs("10_") + docs("11_") +
      docs("12_") + docs("13_"), s"doc conservation broke: $rows")
    assert(toks("00_") == toks("01_") + toks("10_") + toks("11_") +
      toks("12_") + toks("13_"), "token conservation broke at clean")
    // cleaned docs either empty out at the paragraph stage or survive
    assert(docs("13_") == docs("21_") + docs("22_"))
    // paragraph stage removes exactly the pruned token mass
    assert(toks("22_") == toks("13_") - toks("20_"))
    // paragraph survivors split into neardup-dropped, contaminated,
    // and the per-source training set
    assert(docs("22_") == docs("30_") + docs("40_") + docs("50_"))
    assert(toks("22_") == toks("30_") + toks("40_") + toks("50_"))
    // packing conserves the training token mass
    assert(toks("70_") == toks("50_"))
    // the pipeline actually did work at every major stage
    assert(docs("10_") + docs("11_") > 0, "clean dropped nothing")
    assert(toks("20_") > 0, "paragraph dedup pruned nothing")
    assert(docs("50_") > 0 && toks("70_") > 0)
  }

  test("NSW append: delta links recall vs exact top-d; corrupted graph fires") {
    import ops.SimilarityOps._
    val emb = Tables.embeddings(spark, sf)
    val snap = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    val edges = ops.SimilarityOps.nswBuild(snap).localCheckpoint(true)
    nswAppendLinkBody(emb, snap, batch, edges)
  }

  test("nswWalkLocal ≡ nswSearchOn: the driver-held serve walk " +
      "replays the DataFrame walk exactly") {
    // r15: the serving paths (topk/delete/compact) hold the
    // constant-bounded frontier on the driver and issue point-lookup
    // scans per hop; this differential pins bit-exact parity of the
    // full output frame (ids, ranks, round-6 scores) against the
    // DataFrame walk, including the tombstone-exclusion arm.
    val emb = Tables.embeddings(spark, sf)
    val edges = ops.SimilarityOps.nswBuild(emb).localCheckpoint(true)
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val v = emb.select(col("vec_id").as("node"), col("embedding").as("ve"),
      functions.Vectors.normCol(col("embedding")).as("vn"))
      .localCheckpoint(true)
    val q = v.filter(col("node") < 8)
      .select(col("node").as("query_id"), col("ve").as("qe"),
        col("vn").as("qn"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(ops.SimilarityOps.nswWalkLocal(spark, v, und, q)) ===
      rows(ops.SimilarityOps.nswSearchOn(v, und, q)))
    import spark.implicits._
    val tombs = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id").as("node")).localCheckpoint(true)
    assert(rows(ops.SimilarityOps.nswWalkLocal(spark, v, und, q,
        exclude = Some(tombs))) ===
      rows(ops.SimilarityOps.nswSearchOn(v, und, q,
        exclude = Some(tombs))))
  }

  private def nswAppendLinkBody(emb: org.apache.spark.sql.DataFrame,
      snap: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): Unit = {
    import ops.SimilarityOps._
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val v = snap.select(col("vec_id").as("node"), col("embedding").as("ve"),
      functions.Vectors.normCol(col("embedding")).as("vn"))
      .localCheckpoint(true)
    val q = batch.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"),
      functions.Vectors.normCol(col("embedding")).as("qn"))
    val delta = ops.SimilarityOps.nswSearchOn(v, und, q,
        hops = NswAppendHops, broadcastQ = false)
      .filter(col("rank") <= NswDegree)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // every batch node got linked, bounded degree
    val srcs = delta.map(_._1)
    assert(srcs == batch.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet, "a batch node got no links")
    // link quality: exact top-NswDegree (over the snapshot) per batch
    // node — the insert's beam walk should recover most of them
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    val exact = v.select(col("node"), col("ve")).crossJoin(broadcast(q))
      .withColumn("score",
        functions.Vectors.cosine6(col("qe"), col("ve")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NswDegree)
      .select(col("query_id"), col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & delta).size.toDouble / exact.size
    info(s"NSW append link recall vs exact top-d: $recall")
    // measured 0.94 at sf0.001 with NswAppendHops=2 (0.96 at 4 hops
    // — the insert walk only needs to LAND in the neighborhood, so 2
    // hops buy half the maintenance cost for 2 recall points)
    assert(recall >= 0.85,
      s"append link recall $recall too low at sf0.001")
    // corrupted-graph control: searching an EMPTY graph degrades to
    // entry-set-only links — the output must actually depend on the
    // graph searched, or the maintenance grade is vacuous
    val noEdges = und.filter(lit(false)).localCheckpoint(true)
    val degraded = ops.SimilarityOps.nswSearchOn(v, noEdges, q,
        hops = NswAppendHops, broadcastQ = false)
      .filter(col("rank") <= NswDegree)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(degraded != delta,
      "corrupted-graph control: output ignored the graph")
    val degRecall = (exact & degraded).size.toDouble / exact.size
    assert(degRecall < recall,
      s"control recall $degRecall not below healthy $recall")
  }

  test("NSW delete: tombstones excluded, routing preserved, empty-set control") {
    import ops.SimilarityOps._
    val emb = Tables.embeddings(spark, sf)
    val edges = ops.SimilarityOps.nswBuild(emb).localCheckpoint(true)
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val v = emb.select(col("vec_id").as("node"), col("embedding").as("ve"),
      functions.Vectors.normCol(col("embedding")).as("vn"))
      .localCheckpoint(true)
    val q = emb.filter(col("vec_id") < NswQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        functions.Vectors.normCol(col("embedding")).as("qn"))
    val tombs = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id").as("node"))
    val full = ops.SimilarityOps.nswSearchOn(v, und, q).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val del = ops.SimilarityOps.nswSearchOn(v, und, q,
        exclude = Some(tombs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 1. no tombstoned node is ever served
    assert(del.forall(_._3 % 10 != 3), "tombstoned node served")
    // 2. the tombstones actually bit: the full results contain
    //    tombstone-split nodes (else this test is vacuous)
    assert(full.exists(_._3 % 10 == 3),
      "vacuous fixture: no tombstoned node in the full top-k")
    // 3. merge-on-read only FILTERS and PROMOTES — every surviving
    //    (query, node) of the full top-k keeps its relative order in
    //    the delete view, and ranks stay contiguous from 1
    val fullSurv = full.filter(_._3 % 10 != 3)
      .groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2).map(_._3).toSeq }
    val delByQ = del.groupBy(_._1)
      .map { case (k, rs) => k -> rs.sortBy(_._2).map(_._3).toSeq }
    fullSurv.foreach { case (qid, surv) =>
      assert(delByQ(qid).startsWith(surv),
        s"query $qid: MoR view reordered the surviving results")
    }
    del.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.size).toSeq,
        "ranks not contiguous after tombstone filter")
    }
    // 4. empty-tombstone control: exclusion machinery with an empty
    //    set must be bit-identical to the plain search
    val none = tombs.filter(lit(false))
    val same = ops.SimilarityOps.nswSearchOn(v, und, q,
        exclude = Some(none)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(same.toSeq == full.toSeq,
      "empty tombstone set perturbed the search")
  }

  test("NSW compact: survivor rebuild — no tombstones, overlap vs MoR, graph control") {
    import ops.SimilarityOps._
    val emb = Tables.embeddings(spark, sf)
    val live = emb.filter(col("vec_id") % 10 =!= 3)
    val cedges = ops.SimilarityOps.nswBuild(live).localCheckpoint(true)
    val cund = cedges.select(col("src"), col("dst"))
      .unionByName(cedges.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val cv = live.select(col("vec_id").as("node"),
      col("embedding").as("ve"),
      functions.Vectors.normCol(col("embedding")).as("vn"))
      .localCheckpoint(true)
    val q = emb.filter(col("vec_id") < NswQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        functions.Vectors.normCol(col("embedding")).as("qn"))
    val comp = ops.SimilarityOps.nswSearchOn(cv, cund, q).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // tombstoned nodes are GONE from the compacted index, not filtered
    assert(comp.forall(_._2 % 10 != 3), "tombstoned node in compacted result")
    // recall vs exact top-K over the LIVE corpus: compaction must not
    // cost meaningful quality vs brute force
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node"))
    val exact = cv.select(col("node"), col("ve")).crossJoin(broadcast(q))
      .filter(col("node") =!= col("query_id"))
      .withColumn("score",
        functions.Vectors.cosine6(col("qe"), col("ve")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NswK)
      .select(col("query_id"), col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & comp).size.toDouble / exact.size
    info(s"NSW compact recall vs exact live top-k: $recall")
    assert(recall >= 0.85, s"compact recall $recall too low at sf0.001")
    // the merge-on-read view and the compacted index must agree on
    // most served results (rewiring may legitimately move the tail)
    val edges = ops.SimilarityOps.nswBuild(emb).localCheckpoint(true)
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    val v = emb.select(col("vec_id").as("node"), col("embedding").as("ve"),
      functions.Vectors.normCol(col("embedding")).as("vn"))
      .localCheckpoint(true)
    val tombs = emb.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id").as("node"))
    val mor = ops.SimilarityOps.nswSearchOn(v, und, q,
        exclude = Some(tombs)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (mor & comp).size.toDouble / math.max(mor.size, 1)
    info(s"NSW compact overlap vs merge-on-read: $overlap")
    assert(overlap >= 0.6,
      s"compacted index diverged from the MoR view: overlap $overlap")
  }

  test("LSH append gate: equals full-LSH cross pairs, splits respected") {
    val got = ops.DedupOps.lshAppend(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "fixture should contain cross-split near-dups")
    assert(got.forall { case (a, b, _) => a % 10 < 8 && b % 10 >= 8 },
      "pair orientation must be (corpus, incoming)")
    // in the sub-cap regime the frozen-index + probe path must find
    // EXACTLY the full-LSH pairs with one endpoint in each split
    val full = ops.DedupOps.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = full.flatMap { case (a, b, j) =>
      if (a % 10 < 8 && b % 10 >= 8) Some((a, b, j))
      else if (b % 10 < 8 && a % 10 >= 8) Some((b, a, j))
      else None
    }.toSet
    assert(got.toSet == cross,
      "append gate diverges from the full-LSH cross-split pairs")
  }

  test("semantic append gate: equals full-SRP cross pairs, wrong-bucket control") {
    val got = ops.DedupOps.semanticAppend(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "fixture should contain cross-split semantic pairs")
    assert(got.forall { case (a, b, _) => a % 10 < 8 && b % 10 >= 8 },
      "pair orientation must be (corpus, incoming)")
    // sub-cap regime: the frozen-index + probe path must find EXACTLY
    // the full SRP-LSH pairs with one endpoint in each split
    val full = ops.SimilarityOps.thresholdLshOn(
      Tables.embeddings(spark, sf), 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = full.flatMap { case (a, b, c) =>
      if (a % 10 < 8 && b % 10 >= 8) Some((a, b, c))
      else if (b % 10 < 8 && a % 10 >= 8) Some((b, a, c))
      else None
    }.toSet
    assert(got.toSet == cross,
      "append gate diverges from the full-SRP cross-split pairs")
    // wrong-bucket control: shifting the probe's bucket ids must
    // change the answer — the (band, bucket) equi-join is load-bearing
    val emb = Tables.embeddings(spark, sf)
    val frozen = ops.SimilarityOps.srpBandsFrame(
      emb.filter(col("vec_id") % 10 < 8), 8, 64, 42L)
    val probeBad = ops.SimilarityOps.srpBandsFrame(
      emb.filter(col("vec_id") % 10 >= 8), 8, 64, 42L)
      .withColumn("bucket", col("bucket") + 1L)
    val bad = ops.DedupOps.semanticAppendOn(emb, frozen, probeBad, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bad != got.map(t => (t._1, t._2)).toSet,
      "control: shifted probe buckets not visible in the result")
  }

  test("phash ingest verdict: planted duplicate rejects, pigeonhole " +
      "evader admits, geometry stratification and buckets load-bearing") {
    import spark.implicits._
    // one frozen family at geometry (9, 5): bits = 40, block width 10
    val famA = 0x123456789L & ((1L << 40) - 1)
    val bw = 10
    def blocksOf(dh: Long, w: Int, h: Int): Seq[(Int, Long)] = {
      val bwl = ((w - 1) * h + 3) / 4
      (0 until 4).map(b => b -> ((dh >> (b * bwl)) & ((1L << bwl) - 1)))
    }
    val frozen = blocksOf(famA, 9, 5)
      .map { case (blk, v) => (9, 5, blk, v, famA, 3L) }
      .toDF("width", "height", "blk", "val", "fam_dhash", "keep_id")
    val batch = Seq(
      (80L, 9, 5, famA), // exact family hit → hamming 0, reject
      // two flipped bits land in blocks 0 and 3; blocks 1, 2 still
      // collide → candidate, hamming 2 ≤ 3 → reject
      (81L, 9, 5, famA ^ (1L << 2) ^ (1L << (3 * bw + 5))),
      // one flip in EVERY block: hamming 4 both exceeds the threshold
      // AND evades the 4-block pigeonhole (which only guarantees
      // recall to hamming 3) → no candidate, admit
      (82L, 9, 5, famA ^ 1L ^ (1L << bw) ^ (1L << (2 * bw)) ^
        (1L << (3 * bw))),
      // the SAME hash at a different geometry must NOT collide — the
      // (w, h) stratification is load-bearing, not decorative
      (83L, 10, 5, famA)
    ).toDF("media_id", "width", "height", "dhash")
    val got = ops.MultimodalOps.phashAppendOn(frozen, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getString(4))).toSeq
    assert(got === Seq(
      (80L, 1L, 1L, Some(0L), "reject"),
      (81L, 1L, 1L, Some(2L), "reject"),
      (82L, 0L, 0L, None, "admit"),
      (83L, 0L, 0L, None, "admit")))
    // wrong-bucket control: shifted frozen vals must change the answer
    val badFrozen = frozen.withColumn("val", col("val") + 1L)
    val bad = ops.MultimodalOps.phashAppendOn(badFrozen, batch)
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(bad != got.map(t => (t._1, t._5)).toSet,
      "control: shifted frozen buckets not visible in the result")
  }

  test("media build funnel: accounting closes and every stage drops") {
    val rows = ops.MultimodalOps.mediaBuildReport(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val stages = Seq("00_raw", "10_undecodable", "20_phash_dup",
      "30_too_small", "40_nonboundary", "50_train")
    assert(rows.keySet == stages.toSet, s"stage set drifted: ${rows.keySet}")
    // conservation: raw mass = Σ(drop stages) + train, media AND pixels
    val parts = stages.tail.map(rows)
    assert(rows("00_raw")._1 == parts.map(_._1).sum,
      s"media accounting does not close: $rows")
    assert(rows("00_raw")._2 == parts.map(_._2).sum,
      s"pixel accounting does not close: $rows")
    // non-vacuity: every drop stage AND the survivor set are non-empty
    // (a SceneCutDist / damage-rule / gate drift that empties a stage
    // must fail here, not survive as a vacuous green oracle row)
    stages.tail.foreach { st =>
      assert(rows(st)._1 >= 1L, s"stage $st dropped nothing — vacuous")
    }
  }

  test("auto semantic ingest verdict: planted duplicate rejects, capped-out " +
      "vector still reports, wrong-bucket control fires") {
    import spark.implicits._
    // dim-4 planted corpus: snapshot = {0,1,2}, batch = {8, 9};
    // v8 ≡ v0 (identical → every band bucket collides → cosine 1.0 →
    // the REJECT path the graded fixture honestly cannot exercise at
    // threshold 0.8), v9 unrelated
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 8L -> Array(1f, 0f, 0f, 0f),
      9L -> Array(0.1f, -0.7f, 0.2f, 0.9f))
    val emb = vecs.toDF("vec_id", "embedding")
    val snap = emb.filter(col("vec_id") < 8)
    val batch = emb.filter(col("vec_id") >= 8)
    val frozen = ops.SimilarityOps.srpBandsFrame(snap, 4, 6, 42L)
    val probe = ops.SimilarityOps.srpBandsFrame(batch, 4, 6, 42L)
    val got = ops.DedupOps.semanticAppendAutoOn(emb, batch, frozen, probe,
        ops.DedupOps.SemAutoThreshold)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    val (n8, d8, m8) = got(8L)
    assert(n8 >= 1L && d8 >= 1L && m8 == 1.0,
      s"identical batch vector must be rejected with max cosine 1.0: ${got(8L)}")
    assert(got(9L)._2 == 0L, s"v9 has no ≥0.8 partner: ${got(9L)}")
    // a batch vector whose every bucket capped out (simulated: probe
    // rows removed) must still REPORT as a zero-candidate admit — the
    // verdict is per batch vector, not per collision
    val gotCapped = ops.DedupOps.semanticAppendAutoOn(emb, batch, frozen,
        probe.filter(col("vec_id") =!= 9L), ops.DedupOps.SemAutoThreshold)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.isNullAt(3)))).toMap
    assert(gotCapped(9L) == ((0L, true)),
      s"capped-out vector must report (0 candidates, NULL max): $gotCapped")
    // wrong-bucket control: the (band, bucket) equi-join is load-bearing
    val gotBad = ops.DedupOps.semanticAppendAutoOn(emb, batch, frozen,
        probe.withColumn("bucket", col("bucket") + 1L),
        ops.DedupOps.SemAutoThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotBad != got.map { case (k, (n, _, _)) => (k, n) },
      "control: shifted probe buckets not visible in the verdict")
    // graded-fixture honesty: the 0.8 threshold finds NO true dup in
    // the fixture (that is what makes it the production threshold);
    // every batch vector is reported and the max cosine stays < 0.8
    val fixture = ops.DedupOps.semanticAppendAuto(spark, sf).collect()
    assert(fixture.length == Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 >= 8).count().toInt)
    assert(fixture.map(_.getLong(2)).sum == 0L)
    assert(fixture.exists(_.getLong(1) > 0L),
      "fixture must produce SOME bucket collisions or the gate is idle")
    assert(fixture.filter(!_.isNullAt(3)).map(_.getDouble(3)).max < 0.8)
  }

  test("incremental CC: planted merges, equals full rebuild, control fires") {
    import spark.implicits._
    // snapshot components: {1,2}, {3,4}, {6,7}
    val snapPairs = Seq((1L, 2L), (3L, 4L), (6L, 7L)).toDF("a_id", "b_id")
    val snapLabels = ops.DedupOps.connectedComponents(snapPairs)
      .select(col("doc_id").as("id"), col("cluster_id").as("prev"))
      .localCheckpoint(true)
    // delta: merge {1,2}+{3,4} via (2,3); two new nodes (5,9);
    // an internal edge (6,7) that must change nothing
    val delta = Seq((2L, 3L), (5L, 9L), (6L, 7L)).toDF("a_id", "b_id")
    val got = ops.Analytics.ccIncrementalOn(snapLabels, delta).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((4L, 4L, 0L, 2L)), // {1,2,3,4}: 2 prior labels fused
      5L -> ((2L, 0L, 2L, 2L)), // {5,9}: both new
      6L -> ((2L, 2L, 0L, 1L)) // untouched
    ), s"unexpected summary: $got")
    // equivalence: the incremental labeling must match a full rebuild
    val full = ops.DedupOps.connectedComponents(
      snapPairs.unionByName(delta)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val members = got.flatMap { case (cid, (n, _, _, _)) =>
      Seq.fill(n.toInt)(cid) }.toSeq.sorted
    assert(members == full.values.toSeq.sorted,
      "incremental component sizes diverge from full rebuild")
    // corrupted-snapshot control: shifting the frozen labels must
    // change the report — the output depends on the artifact read
    val corrupt = snapLabels.select(col("id"),
      (col("prev") + 100L).as("prev"))
    val bad = ops.Analytics.ccIncrementalOn(corrupt, delta).collect()
      .map(r => r.getLong(0)).toSet
    assert(bad != got.keySet, "control: corrupted snapshot not visible")
  }

  test("forget report: hand-computed cascade on a planted corpus") {
    import spark.implicits._
    val a16 = (1 to 16).map(i => s"a$i").mkString(" ")
    // deleted split: doc_id % 10 == 3 → docs 3, 13, 23
    val docs = Seq(
      (1L, "t1"), (2L, "t1"), // exact group survives untouched
      (3L, a16 + " x3"), // deleted; shares block 0 with doc 7
      (7L, a16 + " y7"),
      (13L, "only-del"), // unique + deleted → group/para vanish
      (23L, "dup dup"), (24L, "dup dup") // canonical 23 deleted → rewire
    ).toDF("doc_id", "text")
    val got = ops.DedupOps.forgetReportOn(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("10_docs") == ((7L, 3L, 0L)))
    assert(got("11_tokens") == ((41L, 20L, 0L)))
    assert(got("20_postings") == ((39L, 19L, 0L)))
    // groups {1,2} {3} {7} {13} {23,24}: {3},{13} vanish; {23,24}
    // reassigns its canonical from 23 to 24
    assert(got("30_exact_clusters") == ((5L, 2L, 1L)))
    // paras: t1, a16-block, x3, y7, only-del, "dup dup" — x3/only-del
    // vanish; a16-block and "dup dup" re-win to (7,0)/(24,0)
    assert(got("40_paragraphs") == ((6L, 2L, 2L)))
  }

  test("grid DBSCAN: hand-computed core/border/noise on a planted lattice") {
    import spark.implicits._
    // cluster A: two adjacent pop-2 cells (0,0)+(0,1) — both core
    // (mass 4), merged, label = min cell id = 0;
    // chain: pop-1 cells (10,10),(10,11),(10,12) — middle is core
    // (mass 3), ends are border of its cluster 10·3600+11;
    // (20,20) isolated — noise
    val recs = Seq(
      (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 1L), (4L, 0L, 1L),
      (6L, 10L, 10L), (7L, 10L, 11L), (8L, 10L, 12L),
      (9L, 20L, 20L)
    ).toDF("rec_id", "lat10", "lon10")
    val got = ops.Analytics.geoDbscanOn(recs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val mid = 10L * 3600L + 11L
    assert(got == Map(
      1L -> (("core", 0L)), 2L -> (("core", 0L)),
      3L -> (("core", 0L)), 4L -> (("core", 0L)),
      6L -> (("border", mid)), 7L -> (("core", mid)),
      8L -> (("border", mid)), 9L -> (("noise", -1L))), s"got $got")
  }

  test("grid DBSCAN: all three point kinds occur at fixture scale") {
    val kinds = ops.Analytics.geoDbscan(spark, sf).collect()
      .map(_.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(kinds.keySet == Set("core", "border", "noise"),
      s"degenerate kind distribution: $kinds")
  }

  test("asof nearest: direction picks, tie goes backward, no-match is null") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val ev = Seq(
      (1L, 1L, t("10:30")), // backward closer (1800 vs 5400)
      (2L, 1L, t("11:30")), // forward closer
      (3L, 1L, t("11:00")), // exact tie → backward
      (4L, 1L, t("09:00")), // no backward → forward
      (5L, 2L, t("10:00")), // user without orders → null
      (6L, 1L, t("12:00")) // equal-ts order → backward, gap 0
    ).toDF("event_id", "user_id", "ts")
    val ord = Seq((1L, t("10:00"), 100L), (1L, t("12:00"), 200L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
    val got = ops.EventOps.asofJoinNearestOn(ev, ord).collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((100L, 1800L)), 2L -> ((200L, -1800L)),
      3L -> ((100L, 3600L)), 4L -> ((100L, -3600L)),
      5L -> ((-1L, -1L)), 6L -> ((200L, 0L))), s"got $got")
    // fixture non-vacuity: BOTH directions must fire under the oracle
    // gate (review finding: the first cut's forward branch never did)
    val gaps = ops.EventOps.asofJoinNearest(spark, sf).collect()
      .filter(!_.isNullAt(4)).map(_.getLong(4))
    assert(gaps.exists(_ > 0) && gaps.exists(_ < 0),
      "both asof directions must occur in the graded fixture result")
  }

  test("scene cuts: funnel invariants and non-vacuity") {
    val rows = ops.MultimodalOps.sceneCuts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum == 500L, "every doc is a frame exactly once")
    assert(rows.forall { case (_, _, cuts, scenes) => scenes == cuts + 1 },
      "scene count must be cuts + 1")
    assert(rows.exists(_._3 > 0), "threshold vacuously never fires")
    assert(rows.exists { case (_, f, cuts, _) => cuts < f - 1 },
      "threshold vacuously always fires")
  }

  test("MMR diversification: diversity term reorders a redundant top-k") {
    import spark.implicits._
    // query 0 along x; v10 ≈ v11 (redundant pair, mutual sim ≈0.998
    // ABOVE either's relevance), v12 diverse (rel 0.6, sim to v10
    // only 0.32). Pure relevance ranks (10, 11, 12); MMR demotes the
    // near-duplicate: mmr(11) = 0.93 − 0.998 < 0 < 0.28 = mmr(12) →
    // selection order (10, 12, 11). The query must NOT coincide with
    // v10, else rel(d) ≡ sim(d, v10) and every mmr ties at 0.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (10L, Array(0.95f, 0.31225f)),
      (11L, Array(0.93f, 0.36756f)),
      (12L, Array(0.6f, -0.8f))
    ).toDF("vec_id", "embedding")
    val got = ops.SimilarityOps.mmrDiversifyOn(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).toSeq == Seq(10L, 12L, 11L),
      s"MMR order wrong: ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L),
      "ranks must be dense from 1")
  }

  test("ppl buckets: tertile arithmetic and bucketed rank on a planted corpus") {
    import spark.implicits._
    // 7 scoreable docs in one lang with strictly increasing surprisal
    // (distinct texts of growing vocabulary) → tile sizes 3/2/2 by
    // (r−1)·3 DIV 7 + 1. One doc with <2 tokens is out of scope.
    val texts = Seq(
      "a a a a", "a a a b", "a a b c", "a b c d",
      "a b c d e", "a b c d e f", "a b c d e f g")
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, "s0", t, "en")
    } :+ ((99L, "s0", "solo", "en"))
    val df = docs.toDF("doc_id", "source", "text", "lang")
    val got = ops.TextOps.pplBucketsOn(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._2, t._3)).toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 2L)),
      s"tertile sizes wrong: ${got.toSeq}")
  }

  test("forget apply: hand-computed purge + corrupted-artifact control") {
    import spark.implicits._
    val B = 1048576L // ForgetBlkBase
    // tombstones: doc_id % 4 == 0 → docs 4, 8
    val corpus = Seq(
      (1L, "t1"), (2L, "t1"), // group untouched (canonical 1 lives)
      (4L, "dup dup"), (5L, "dup dup"), // canonical 4 dies → rewire to 5
      (8L, "gone gone"), // tombstoned singleton → vanishes
      (3L, "solo")
    ).toDF("doc_id", "text")
    def artifacts(em: org.apache.spark.sql.DataFrame) = {
      val posts = ops.DedupOps.forgetPostingsOn(corpus)
      val eMap = em.groupBy(col("norm"))
        .agg(min(col("doc_id")).as("canonical"))
      val pm = ops.DedupOps.forgetParaMembersOn(corpus)
      val pw = pm.groupBy(col("pk")).agg(min(col("key")).as("winner"))
      ops.DedupOps.forgetApplyOn(corpus, posts, em, eMap, pm, pw)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
    }
    val got = artifacts(ops.DedupOps.forgetExactMembersOn(corpus))
    val counts = got.filter(_._2 == "").map(r => r._1 -> ((r._3, r._4))).toMap
    assert(counts("10_postings") == ((6L, 4L)))
    assert(counts("20_exact_clusters") == ((4L, 3L)))
    assert(counts("40_para_clusters") == ((4L, 3L)))
    val rewE = got.filter(_._1 == "30_exact_rewired")
    assert(rewE.map(r => (r._3, r._4)).toSeq == Seq((4L, 5L)))
    val rewP = got.filter(_._1 == "50_para_rewired")
    assert(rewP.map(r => (r._3, r._4)).toSeq == Seq((4L * B, 5L * B)))
    // corrupted-artifact control: re-pointing every membership row at
    // doc 4 must change the purge — the output depends on the frozen
    // store, not on a silent corpus re-derivation
    val bad = artifacts(ops.DedupOps.forgetExactMembersOn(corpus)
      .select(col("norm"), lit(4L).as("doc_id")))
    assert(bad.toSet != got.toSet,
      "control: corrupted exact-membership artifact not visible")
  }

  test("forget apply: fixture-scale rewires are non-vacuous") {
    val got = ops.DedupOps.forgetApply(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val rewE = got.filter(_._1 == "30_exact_rewired")
    val rewP = got.filter(_._1 == "50_para_rewired")
    assert(rewE.length == 25, s"exact rewires: ${rewE.length}")
    assert(rewP.nonEmpty, "paragraph rewires vacuous")
    assert((rewE ++ rewP).forall(r => r._2 != r._3),
      "a rewired row must actually change value")
  }

  test("DSIR selection: target-likeness ordering + exact lattice weights") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en", "s0"),
      (2L, "alpha beta gamma", "en", "s0"),
      // candidate 10: all target-frequent words — must rank first
      (10L, "alpha beta alpha", "de", "s1"),
      // candidate 11: only the never-in-target word — must rank last
      (11L, "zeta zeta zeta", "de", "s1"),
      (12L, "alpha zeta", "fr", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val got = ops.TextOps.dsirSelectOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(got.map(_._1).toSet == Set(10L, 11L, 12L),
      "selection must contain exactly the non-target docs")
    val byId = got.toMap
    assert(byId(10L) > byId(12L) && byId(12L) > byId(11L),
      s"importance ordering broke: $byId")
    // exact lattice check: recompute every weight with plain JVM math
    // over the planted corpus — the engine's distributed sum must be
    // integer-identical
    val all = Seq(
      1L -> ("alpha beta alpha beta", "en"),
      2L -> ("alpha beta gamma", "en"),
      10L -> ("alpha beta alpha", "de"),
      11L -> ("zeta zeta zeta", "de"),
      12L -> ("alpha zeta", "fr"))
    val tokens = all.flatMap { case (id, (t, l)) =>
      t.split(" ").map(w => (id, l, w)) }
    val ct = tokens.filter(_._2 == "en").groupBy(_._3)
      .map { case (w, g) => w -> g.size.toLong }.withDefaultValue(0L)
    val cr = tokens.groupBy(_._3)
      .map { case (w, g) => w -> g.size.toLong }
    val (nt, nr, v) =
      (ct.values.sum, cr.values.sum, cr.size.toLong)
    def termE9(w: String): Long = math.round(math.log(
      ((ct(w) + 1).toDouble / (nt + v)) /
        ((cr(w) + 1).toDouble / (nr + v))) * 1e9)
    val expect = tokens.filter(_._2 != "en").groupBy(_._1)
      .map { case (id, g) => id -> g.map(t => termE9(t._3)).sum }
    assert(byId == expect, s"lattice weights diverge: $byId vs $expect")
  }

  test("substring removal: span semantics on planted docs + fixture accounting") {
    import spark.implicits._
    val phrase = (1 to ops.DedupOps.SubRemK).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // doc 1: the phrase + a unique tail — the global FIRST, kept whole
      (1L, phrase + " u1 u2 u3"),
      // doc 2: the same phrase + different tail — its 12 phrase
      // tokens are covered, the tail survives
      (2L, phrase + " z1 z2 z3"),
      // doc 3: too short to window — untouched even though its text
      // is a prefix of the phrase
      (3L, (1 to 5).map(i => s"w$i").mkString(" ")),
      // doc 4: self-repeat — the phrase twice; the second occurrence
      // is covered (pos 12 duplicates pos 0), the first survives
      (4L, phrase + " " + phrase)
    ).toDF("doc_id", "text")
    val got = ops.DedupOps.substringRemoveOn(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((15L, 0L, phrase + " u1 u2 u3")))
    assert(got(2L) == ((15L, 12L, "z1 z2 z3")))
    assert(got(3L) == ((5L, 0L, (1 to 5).map(i => s"w$i").mkString(" "))))
    // doc 4: only windows equal to the full phrase duplicate doc 1's
    // (pos 0 and pos 12); the straddling windows (pos 1..11) are
    // unique. pos 0 loses to doc 1, pos 12 loses too → both spans
    // covered: tokens 0..23 all removed
    assert(got(4L) == ((24L, 24L, "")))
    // fixture accounting: the corpus has duplicate 12-grams (43 docs
    // at sf0.001) and conservation holds per doc
    val fx = ops.DedupOps.substringRemoveOn(
      Tables.documents(spark, sf)).collect()
    assert(fx.exists(_.getLong(2) > 0), "fixture removal was vacuous")
    fx.foreach { r =>
      val keptN =
        if (r.getString(3).isEmpty) 0 else r.getString(3).split(" ").length
      assert(keptN == r.getLong(1) - r.getLong(2),
        s"doc ${r.getLong(0)}: kept tokens != n_tokens - n_removed")
    }
  }

  test("IVF append: delta assignment equals full rebuild; wrong centroids fire n_mismatch") {
    val emb = Tables.embeddings(spark, sf)
    val cents = ops.SimilarityOps.kmeansFit(
      emb.filter(col("vec_id") % 10 < 8))._2
    val base = ops.SimilarityOps.ivfAssignTo(
      emb.filter(col("vec_id") % 10 < 8), cents).localCheckpoint(true)
    val delta = ops.SimilarityOps.ivfAssignTo(
      emb.filter(col("vec_id") % 10 >= 8), cents).localCheckpoint(true)
    val rebuild = ops.SimilarityOps.ivfAssignTo(emb, cents)
    val rec = ops.SimilarityOps.ivfAppendReconcile(base, delta, rebuild)
      .collect()
    assert(rec.nonEmpty)
    assert(rec.forall(_.getLong(4) == 0L),
      s"append != rebuild: ${rec.filter(_.getLong(4) != 0).mkString(", ")}")
    // the counts are corpus-dependent nonzero: both origins present
    assert(rec.map(_.getLong(1)).sum > 0 && rec.map(_.getLong(2)).sum > 0)
    // vec_id-level set equality, not just counts
    val served = base.select(col("vec_id"), col("centroid_id"))
      .unionByName(delta.select(col("vec_id"), col("centroid_id")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val rb = rebuild.select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(served == rb, "posting sets differ")
    // NON-VACUITY control: a delta assigned against a perturbed
    // centroid set must surface as nonzero n_mismatch — the column
    // can fire, so zero means something
    val wrongCents = cents.map { case (cid, ce) =>
      (cid, ce.map(v => -v)) }
    val wrongDelta = ops.SimilarityOps.ivfAssignTo(
      emb.filter(col("vec_id") % 10 >= 8), wrongCents)
    val fired = ops.SimilarityOps
      .ivfAppendReconcile(base, wrongDelta, rebuild)
      .agg(sum(col("n_mismatch"))).head().getLong(0)
    assert(fired > 0, "control: wrong-centroid delta not flagged")
  }

  test("IVF delete: MoR-served live set equals filtered rebuild; wrong tombstones fire n_mismatch") {
    val emb = Tables.embeddings(spark, sf)
    val cents = ops.SimilarityOps.kmeansFit(
      emb.filter(col("vec_id") % 10 < 8))._2
    val served = ops.SimilarityOps.ivfAssignTo(emb, cents)
      .select(col("vec_id"), col("centroid_id")).localCheckpoint(true)
    val tombs = emb.filter(col("vec_id") % 10 === 3).select(col("vec_id"))
      .localCheckpoint(true)
    val rebuild = ops.SimilarityOps.ivfAssignTo(
      emb.filter(col("vec_id") % 10 =!= 3), cents)
    val rec = ops.SimilarityOps.ivfDeleteReconcile(served, tombs, rebuild)
      .collect()
    assert(rec.nonEmpty)
    assert(rec.forall(_.getLong(4) == 0L),
      s"MoR != rebuild: ${rec.filter(_.getLong(4) != 0).mkString(", ")}")
    // the fixture plants tombstones (10% of ids) and survivors
    assert(rec.map(_.getLong(2)).sum > 0, "no tombstones landed")
    assert(rec.map(_.getLong(3)).sum > 0, "no live postings survived")
    // the accounting identity holds per centroid
    rec.foreach(r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3)))
    // NON-VACUITY control: a tombstone set that disagrees with the
    // rebuild filter must surface as nonzero n_mismatch
    val wrongTombs = emb.filter(col("vec_id") % 10 === 4)
      .select(col("vec_id"))
    val fired = ops.SimilarityOps
      .ivfDeleteReconcile(served, wrongTombs, rebuild)
      .agg(sum(col("n_mismatch"))).head().getLong(0)
    assert(fired > 0, "control: wrong tombstone set not flagged")
  }

  test("filtered top-k: pre-filter guarantees k eligible results; recall vs exact filtered search") {
    val rows = ops.SimilarityOps.ivfFilteredTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // every neighbor satisfies the tenant predicate — the pre-filter
    // contract post-filtering cannot give
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n, _) => assert(n % 3 === 1L) }
    // every query gets its full k from the eligible pool
    val perQuery = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQuery.size === 10)
    assert(perQuery.values.forall(_ === 3))
    // recall vs the exact filtered top-3 (driver-side brute force)
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val tenant = e.filter(_._1 % 3 == 1)
    val exact = e.filter(_._1 < 10).flatMap { case (qid, qv) =>
      tenant.filter(_._1 != qid)
        .map { case (id, v) => (qid, -cos6(qv, v), id) }
        .sorted.take(3).map(t => (qid, t._3))
    }.toSet
    val got = rows.map(r => (r._1, r._3)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"filtered recall $recall below the 2-probe floor")
  }

  test("IVF compact: fold equals MoR view; wrong compacted set fires n_mismatch") {
    val emb = Tables.embeddings(spark, sf)
    val cents = ops.SimilarityOps.kmeansFit(
      emb.filter(col("vec_id") % 10 < 8))._2
    val mor = ops.SimilarityOps.ivfAssignTo(emb, cents)
      .join(emb.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"), lit(1L).as("__del")), Seq("vec_id"), "left")
      .localCheckpoint(true)
    val compacted = mor.filter(col("__del").isNull)
      .select(col("vec_id"), col("vq"), col("centroid_id"))
    val rec = ops.SimilarityOps.ivfCompactReconcile(mor, compacted)
      .collect()
    assert(rec.nonEmpty)
    assert(rec.forall(_.getLong(5) == 0L),
      s"fold != MoR: ${rec.filter(_.getLong(5) != 0).mkString(", ")}")
    // per-centroid accounting: out = in_base + in_delta - tombstoned
    rec.foreach(r => assert(
      r.getLong(4) === r.getLong(1) + r.getLong(2) - r.getLong(3)))
    assert(rec.map(_.getLong(3)).sum > 0, "no tombstones folded")
    // NON-VACUITY control: a compacted set that leaked a tombstone
    // must fire
    val leaky = mor.select(col("vec_id"), col("vq"), col("centroid_id"))
    val fired = ops.SimilarityOps.ivfCompactReconcile(mor, leaky)
      .agg(sum(col("n_mismatch"))).head().getLong(0)
    assert(fired > 0, "control: tombstone leak not flagged")
  }

  test("ANN recall eval: monotone curve, exact level self-checks, hits match brute force") {
    val rows = ops.SimilarityOps.annRecallEval(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 16))
    // probes=16 IS the exact search: hits must be n_queries * k
    val (_, nq, nCandFull, hitsFull) = rows.last
    assert(hitsFull === nq * 10)
    // monotone in probes: candidates and hits never fall
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, "candidates must grow with probes")
      assert(a._4 <= b._4, "hits must grow with probes")
    }
    // probing every centroid scans the whole corpus minus self-pairs
    val n = Tables.embeddings(spark, sf).count()
    assert(nCandFull === nq * (n - 1))
    // cross-check the probes=1 hits against a brute-force replay
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val cents = ops.SimilarityOps.kmeansFitFull(
      Tables.embeddings(spark, sf)).centroids
    def cos6(a: Array[Double], b: Seq[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def nearest(v: Array[Double]): Long =
      cents.map { case (cid, ce) => (-cos6(v, ce), cid) }.min._2
    val assign = e.map { case (id, v) => id -> nearest(v) }.toMap
    val bruteHits1 = e.filter(_._1 < 10).map { case (qid, qv) =>
      val probe1 = nearest(qv)
      val candIds = e.filter { case (id, _) =>
        id != qid && assign(id) == probe1 }
      val ivfTop = candIds.map { case (id, v) => (-cos6(qv, v), id) }
        .sorted.take(10).map(_._2).toSet
      val exTop = e.filter(_._1 != qid)
        .map { case (id, v) => (-cos6(qv, v), id) }
        .sorted.take(10).map(_._2).toSet
      (ivfTop & exTop).size.toLong
    }.sum
    assert(rows.head._4 === bruteHits1,
      s"probes=1 hits ${rows.head._4} != brute-force $bruteHits1")
  }

  test("srpAutoParams: reproduces the hand-tuned point and scales sub-quadratically") {
    // the previously hand-picked (7, 96) for the 0.3-threshold demo at
    // n=2000 is what the tuner derives from the same collision formula
    // (96 bands gave recall 0.926; the exact-0.93 solution is 98)
    assert(ops.SimilarityOps.srpAutoParams(2000L, 0.3) === (7, 98))
    // covered fraction of the pair space ≈ L/2^b must FALL as n grows
    // (fixed params would keep it constant = quadratic candidates)
    def frac(n: Long): Double = {
      val (b, l) = ops.SimilarityOps.srpAutoParams(n, 0.3, maxBands = Int.MaxValue)
      l.toDouble / math.pow(2.0, b)
    }
    assert(frac(1000L) > frac(100000L))
    assert(frac(100000L) > frac(10000000L))
    // candidate count ~ n^(1+ρ): the per-n candidate ESTIMATE
    // n²·frac(n) must grow far slower than n² — check the empirical
    // exponent over two decades is below 1.85 (theory: 1 + ρ ≈ 1.75)
    val e = math.log((1e14 * frac(10000000L)) / (1e10 * frac(100000L))) /
      math.log(100.0)
    assert(e < 1.85, s"empirical candidate exponent $e not sub-quadratic")
    // the bands rail caps compute, not correctness
    val (_, lCapped) = ops.SimilarityOps.srpAutoParams(1000000000L, 0.3)
    assert(lCapped === 4096)
  }

  test("semantic dedup: LSH→clustering composition recalls the exact clusters") {
    // VERDICT r2 #3: the scale pipeline (thresholdLsh candidates →
    // connectedComponents → min-id keep) must reproduce the bounded
    // exact form's clusters. Compared on the same vec_id < 300 slice:
    // recall = co-clustered pairs of the exact form recovered by the
    // LSH form. LSH-side edges are exact-cosine-verified, so any
    // co-clustering it adds is ≥-threshold connectivity, not noise.
    def coClustered(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val byCluster = df.filter(col("cluster_size") > 1)
        .select(col("cluster_id"), col("vec_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).values
      byCluster.flatMap { members =>
        val ids = members.map(_._2).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.size)
          yield (ids(i), ids(j))
      }.toSet
    }
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val exact = coClustered(ops.DedupOps.semantic(spark, sf))
    val lsh = coClustered(ops.DedupOps.semanticOnPairs(emb,
      ops.DedupOps.semanticLshPairs(emb)))
    assert(exact.nonEmpty, "fixture should contain non-singleton clusters")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH-composed cluster recall $recall too low")
  }

  test("IVF probe achieves high recall vs exact top-k") {
    val exact = ops.SimilarityOps.cosineTopK(spark, sf)
      .filter(col("rank") <= 3).select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = ops.SimilarityOps.ivfProbe(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low (2/16 clusters probed)")
  }

  test("IVF with trained centroids achieves high recall vs exact top-k") {
    // trainer → index composition: kmeansFit centroids must be at
    // least as good a partitioning for 2-probe search as the fixed
    // vec_id<16 stand-ins (same bar as the ivfProbe test)
    val exact = ops.SimilarityOps.cosineTopK(spark, sf)
      .filter(col("rank") <= 3).select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = ops.SimilarityOps.ivfTrained(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & trained).size.toDouble / exact.size
    assert(recall >= 0.5, s"trained-IVF recall $recall too low")
  }

  test("centroid drift: identical membership → 1.0, shifted membership < 1") {
    import spark.implicits._
    val e1 = Seq.fill(64)(1.0f); val e2 = (0 until 64).map(i => (i % 7).toFloat)
    // label 0: every member identical → both centroids equal → drift 1.0
    // label 1: ids 10,11 (A-only, e1) pull A's centroid away from B's
    // pure-e2 centroid
    val rows = (0L until 10L).map(i => (i, Seq.fill(64)(0.5f), 0)) ++
      Seq((10L, e1, 1), (11L, e1, 1)) ++
      (12L until 20L).map(i => (i, e2, 1)) ++
      Seq((28L, e1, 2), (29L, e1, 2)) // %10 in {8,9}: current-snapshot only
    val got = ops.SimilarityOps.centroidDriftOn(
        rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(0) === ((8L, 8L, Some(1.0))))
    val (na1, nb1, Some(d1)) = got(1)
    assert(na1 === 8L && nb1 === 8L && d1 < 1.0 && d1 > 0.0,
      s"shifted label should drift below 1, got $d1")
    // a label present in only ONE snapshot is the loudest drift event:
    // it must appear (zero count on the missing side, NULL drift)
    assert(got(2) === ((0L, 2L, None)))
  }

  test("PQ shortlist + exact re-rank achieves high recall vs exact top-k") {
    // the two-stage read path: raw ADC ranking on a uniform-random
    // corpus is near-chance (measured ~0.1 recall@3 — distance
    // concentration is PQ's worst case), but the top-50 shortlist
    // CONTAINS the exact top-3 at 0.77+ and exact re-ranking surfaces
    // them; the assertion pins the composed recall
    val exact = ops.SimilarityOps.cosineTopK(spark, sf)
      .filter(col("rank") <= 3).select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = ops.SimilarityOps.pqTopk(spark, sf)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ rerank recall $recall too low")
    // re-ranked output must carry exact cosines: for every row the
    // exact-rank ordering puts cosine monotonically non-increasing
    val rows = ops.SimilarityOps.pqTopk(spark, sf)
      .orderBy(col("query_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    rows.groupBy(_._1).values.foreach { qr =>
      val cs = qr.sortBy(_._2).map(_._3)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        "re-ranked cosines must be non-increasing per query")
    }
  }

  test("IVF+quantized search keeps high recall vs exact float top-k") {
    // both approximations stacked (cluster pruning + int8 scores):
    // the top-3 under quantized-pruned search should still mostly be
    // real top-5 neighbors under the exact float scan
    val exact = ops.SimilarityOps.cosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = ops.SimilarityOps.ivfQuantized(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = approx.count(exact.contains).toDouble / approx.size
    assert(recall >= 0.5, s"recall $recall (approx=${approx.size})")
  }

  test("multimodal: mapPartitions decode equals expression decode") {
    val a = ops.MultimodalOps.decodeFeatures(spark, sf).collect().toSeq
    val b = ops.MultimodalOps.decodeMapPartitions(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("sequence packing: exclusive-prefix bins within each shard") {
    import spark.implicits._
    // 4 docs of 10 tokens each in one shard, budget 25: exclusive
    // prefixes 0/10/20/30 → bins 0,0,0,1 (third doc straddles but
    // belongs to the bin its prefix starts in)
    val tenTokens = Seq.fill(10)("w").mkString(" ")
    val docs = (1L to 4L).map(i => (i, "s1", tenTokens))
      .toDF("doc_id", "source", "text")
    val got = ops.TextOps.packSequencesOn(docs, budget = 25)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0L, 3L, 30L), (1L, 1L, 10L)))
  }

  test("corpus_clean: funnel stages partition the corpus") {
    val out = ops.TextOps.corpusClean(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.Tables.documents(spark, sf).count()
    assert(out.values.sum === total, s"stages $out must sum to $total")
    assert(out.getOrElse("kept", 0L) > 0L)
  }

  test("corpus_clean: duplicates past the filters drop all but first") {
    import spark.implicits._
    // 3 copies of a good English doc (passes lang + quality), 1 doc
    // that fails the language gate: expect kept=1, dropped_dup=2,
    // dropped_lang=1 — and a filtered-out doc never shields a dup.
    val good = ("the quick brown fox and the lazy dog walked with " +
      "the other animals to the river and the forest was quiet ") * 3
    val docs = Seq(
      (1L, good), (2L, good), (3L, good), (4L, "zzz qqq xxx"))
      .toDF("doc_id", "text")
    val out = ops.TextOps.corpusCleanOn(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map(
      "kept" -> 1L, "dropped_dup" -> 2L, "dropped_lang" -> 1L))
  }

  test("repetition: duplicate token/bigram fractions on a known corpus") {
    import spark.implicits._
    // doc 1: 4×"a" → 4 tokens 1 distinct, 3 bigrams 1 distinct;
    // doc 2: single token → no bigrams (the sequence-reversal guard)
    val docs = Seq((1L, "s1", "a a a a"), (2L, "s1", "x"))
      .toDF("doc_id", "source", "text")
    val r = ops.TextOps.repetitionOn(docs).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(2) === 5L && row.getLong(3) === 2L) // tokens
    assert(row.getLong(4) === 3L && row.getLong(5) === 1L) // bigrams
    assert(math.abs(row.getDouble(6) - 0.6) < 1e-12)
    assert(math.abs(row.getDouble(7) - (1.0 - 1.0 / 3.0)) < 1e-12)
  }

  test("contamination: only docs sharing a probe shingle are flagged") {
    import spark.implicits._
    val benchmark = "the quick brown fox jumps over the lazy dog tonight"
    val clean = "completely unrelated words about database query planning"
    // doc 0 is the probe (0 % 97 == 0); doc 1 contains the benchmark
    // text verbatim, doc 2 shares nothing
    val docs = Seq(
      (0L, "probe", benchmark),
      (1L, "web", benchmark + " plus extra trailing context"),
      (2L, "web", clean)).toDF("doc_id", "source", "text")
    val out = ops.DedupOps.contaminationOn(docs).collect()
    assert(out.length === 1 && out.head.getString(0) === "web")
    assert(out.head.getLong(1) === 2L, "probe doc must not count itself")
    assert(out.head.getLong(2) === 1L, "only the overlapping doc flagged")
  }

  test("pii scrub: masked contacts collapse to one string per segment") {
    val rows = ops.EtlParity.piiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), "every row has a phone hit")
      assert(r.getLong(1) === r.getLong(3), "every row has an email hit")
      assert(r.getLong(5) === r.getLong(1), "raw contacts all distinct")
      assert(r.getLong(6) === 1L, "scrub must collapse the segment")
    }
  }

  test("oov rate: rare-token buckets on a known corpus") {
    import spark.implicits._
    // vocabulary: "common" ×4 (tf=4 > 2), "rare1"/"rare2" once each
    // (tf=1 ≤ 2). doc 1: 2 common + 2 rare → rate 0.5 → bucket 5;
    // doc 2: 2 common → rate 0 → bucket 0
    val docs = Seq(
      (1L, "s1", "common rare1 common rare2"),
      (2L, "s1", "common common")).toDF("doc_id", "source", "text")
    val r = ops.TextOps.oovRateOn(docs).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(r === Set(("s1", 0L, 1L), ("s1", 5L, 1L)))
  }

  test("semantic dedup: min id per cluster survives, singletons keep themselves") {
    val out = ops.DedupOps.semantic(spark, sf)
    val rows = out.collect()
    assert(rows.length === 300)
    // every cluster keeps exactly its min member
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min === cid, s"cluster $cid")
      assert(members.count(_.getLong(3) == 1L) === 1, s"cluster $cid keeps")
      assert(members.forall(_.getLong(2) == members.length), s"size $cid")
    }
    // the fixture plants near-dups, so clustering must be non-trivial
    assert(byCluster.size < 300, "expected at least one multi-member cluster")
  }

  test("incremental dedup: batch funnel on a constructed corpus") {
    import spark.implicits._
    // snapshot = doc_id%10<8 → docs 1,2; batch = 8,9,18,19.
    // doc 8 repeats doc 1 (already published), docs 18/19 repeat each
    // other only (18 wins first-wins), doc 9 is genuinely new
    val docs = Seq(
      (1L, "s1", "alpha"), (2L, "s1", "beta"),
      (8L, "s1", "alpha"), (9L, "s1", "gamma"),
      (18L, "s1", "delta"), (19L, "s1", "delta"))
      .toDF("doc_id", "source", "text")
    val got = ops.DedupOps.incrementalOn(docs).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got === Map(
      "dropped_published" -> 1L, "dropped_in_batch" -> 1L, "new" -> 2L))
  }

  test("k-means trajectory matches the single-node reference arithmetic exactly") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val k = 16; val iters = 3; val scale = 1000000L
    val (traj, finalCents) =
      ops.SimilarityOps.kmeansFit(Tables.embeddings(spark, sf), k, iters, scale)
    // single-node reference: same quantization (Spark round = HALF_UP),
    // same left-to-right double dot, same round-6 + (cos desc, cid asc)
    // argmax, same exact-integer update
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def halfUp(x: Double, s: Int) =
      JBD.valueOf(x).setScale(s, RoundingMode.HALF_UP).doubleValue()
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => JBD.valueOf(x.toDouble * scale)
        .setScale(0, RoundingMode.HALF_UP).longValue())
    def dotFD(a: Array[Float], b: Seq[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        s0 += a(i).toDouble * b(i); i += 1 }
      s0
    }
    def dotFF(a: Array[Float]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i).toDouble * a(i).toDouble; i += 1 }
      s0
    }
    def dotDD(b: Seq[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < b.length) { s0 += b(i) * b(i); i += 1 }
      s0
    }
    def cos6(v: Array[Float], c: Seq[Double]): Double =
      halfUp(dotFD(v, c) / (math.sqrt(dotFF(v)) * math.sqrt(dotDD(c))), 6)
    var cents: Seq[(Long, Seq[Double])] = vecs.take(k)
      .map { case (id, v) => (id, quant(v).toSeq.map(_.toDouble / scale)) }.toSeq
    val refTraj = Seq.newBuilder[(Int, Long, Long)]
    for (it <- 1 to iters) {
      val assign = vecs.map { case (id, v) =>
        val best = cents.map { case (cid, c) => (cos6(v, c), cid) }
          .minBy { case (c, cid) => (-c, cid) }._2
        (id, v, best)
      }
      cents = cents.map { case (cid, old) =>
        val members = assign.filter(_._3 == cid)
        refTraj += ((it, cid, members.length.toLong))
        if (members.isEmpty) (cid, old)
        else {
          val dim = members.head._2.length
          val sums = Array.fill(dim)(0L)
          members.foreach { case (_, v, _) =>
            val q = quant(v); var i = 0
            while (i < dim) { sums(i) += q(i); i += 1 } }
          (cid, sums.toSeq.map(
            _.toDouble / (members.length.toDouble * scale)))
        }
      }
    }
    assert(traj === refTraj.result(), "trajectory must match exactly")
    assert(finalCents.map(_._1) === cents.map(_._1))
    finalCents.zip(cents).foreach { case ((_, got), (_, want)) =>
      assert(got === want, "final centroids must match bit-exactly") }
    // sanity: every iteration assigns all vectors
    traj.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sum === vecs.length) }
  }

  test("pagerank: fixed-point invariants hold (mass bound, floor, top-20)") {
    val rows = ops.Analytics.pagerank(spark, sf).collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getLong(1))
    // every node keeps at least the teleport term, and truncating
    // division can only LOSE mass: Σ over the top-20 is under the
    // total scale (the full sum is ≤ 10^12 by induction)
    assert(ranks.forall(_ > 0L))
    assert(ranks.sum < 1000000000000L)
    // deterministic: ordered by rank desc then part asc
    assert(rows.sortBy(r => (-r.getLong(1), r.getLong(0))).toSeq === rows.toSeq)
    // pure function of the table: re-run equals run (edges artifact +
    // integer arithmetic)
    val again = ops.Analytics.pagerank(spark, sf).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      rows.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("pca component matches the single-node reference arithmetic exactly") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val scale = 1000000L
    val got = ops.SimilarityOps.pcaFit(
      Tables.embeddings(spark, sf), iters = 8, quantScale = scale)
    // single-node reference: same HALF_UP quantization, exact-integer
    // centered rows, exact BigInt second stage, same driver-side IEEE
    // normalization (BigInt.toDouble is correctly rounded, like the
    // distributed path's BigDecimal.toDouble on the same integers)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => JBD.valueOf(x.toDouble * scale)
        .setScale(0, RoundingMode.HALF_UP).longValue())
    val q = vecs.map(quant)
    val n = q.length.toLong
    val dim = q.head.length
    val sums = Array.fill(dim)(0L)
    q.foreach { row =>
      var i = 0; while (i < dim) { sums(i) += row(i); i += 1 } }
    var comp: Seq[Long] = Seq.fill(dim)(scale)
    for (_ <- 1 to 8) {
      val u = Array.fill(dim)(BigInt(0))
      q.foreach { row =>
        var w = 0L
        var i = 0
        while (i < dim) { w += (n * row(i) - sums(i)) * comp(i); i += 1 }
        i = 0
        while (i < dim) {
          u(i) += BigInt(w) * BigInt(n * row(i) - sums(i)); i += 1 }
      }
      val uu = u.map(_.toDouble)
      val norm = math.sqrt(uu.map(x => x * x).sum)
      if (norm != 0.0)
        comp = uu.map(x => math.round(x / norm * scale)).toSeq
    }
    val want = comp.find(_ != 0L) match {
      case Some(lead) if lead < 0L => comp.map(-_)
      case _ => comp
    }
    assert(got.n === n && got.dim === dim)
    assert(got.sums === sums.toSeq, "centering sums must match exactly")
    assert(got.component === want, "component must match bit-exactly")
    // normalization sanity: fixed-point unit vector up to rounding
    val norm2 = got.component.map(c => (c.toDouble / scale) *
      (c.toDouble / scale)).sum
    assert(norm2 > 0.98 && norm2 < 1.02, s"component not unit-norm: $norm2")
    // and the trainer is a pure function of the table (re-run == run)
    val again = ops.SimilarityOps.pcaFit(
      Tables.embeddings(spark, sf), iters = 8, quantScale = scale)
    assert(again.component === got.component && again.sums === got.sums)
  }

  test("leakage-safe split: clusters never straddle, totals reconcile") {
    val rows = ops.DedupOps.leakageSafeSplit(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq.sorted === Seq("eval", "train"))
    // the graded invariant: no duplicate cluster straddles the split
    rows.foreach(r => assert(r.getLong(3) === 0L, "straddling clusters"))
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs === Tables.documents(spark, sf).count())
    // every member of a known near-dup family inherits ONE split:
    // recompute the cluster map and check max-one-split per cluster
    val comp = ops.DedupOps.connectedComponents(
      ops.DedupOps.jaccardNearDup(spark, sf)
        .select(col("a_id"), col("b_id")))
    val multi = comp.withColumn("split",
        when(substring(md5(col("cluster_id").cast("string")), 1, 2) < "cd",
          "train").otherwise("eval"))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(multi === 0L)
  }

  test("bloom incremental dedup == plain anti-join (fixture + planted dups)") {
    import spark.implicits._
    // differential on the real fixture: the bloom path must be
    // EXACTLY the unfiltered anti-join (false positives weeded out,
    // false negatives impossible)
    val docs = Tables.documents(spark, sf)
    val fp = ops.TextOps.normalizedFp(col("text"))
    val plain = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), fp.as("fp"))
      .join(docs.filter(col("doc_id") % 10 < 8).select(fp.as("fp")),
        Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloom = ops.DedupOps.bloomIncrementalOn(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bloom === plain)
    assert(bloom.nonEmpty, "fixture batch must contain new docs")
    // constructed corpus: published dup dropped, new docs survive,
    // in-batch dups both survive (membership, not first-wins)
    val tiny = Seq(
      (1L, "s", "alpha"), (2L, "s", "beta"),
      (8L, "s", "alpha"), (9L, "s", "gamma"),
      (18L, "s", "delta"), (28L, "s", "delta"))
      .toDF("doc_id", "source", "text")
    val got = ops.DedupOps.bloomIncrementalOn(tiny)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(9L, 18L, 28L))
  }

  test("sharded bloom incremental == single-sketch == plain anti-join") {
    // the broadcast-ceiling fallback: hash-splitting the fingerprint
    // space changes which filter answers a probe, never the answer
    val docs = Tables.documents(spark, sf)
    val single = ops.DedupOps.bloomIncrementalOn(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val sharded = ops.DedupOps.bloomIncrementalShardedOn(docs, shards = 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sharded === single)
    // degenerate shard counts still agree (1 = unsharded routing)
    val one = ops.DedupOps.bloomIncrementalShardedOn(docs, shards = 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(one === single)
  }

  test("bloom incremental: null text survives the sketch build (ADVICE r3)") {
    import spark.implicits._
    // a null snapshot text used to NPE stat.bloomFilter; a null BATCH
    // fp must be kept as definitely-new (no filter contains null)
    val tiny = Seq(
      (1L, "s", "alpha"), (2L, "s", null.asInstanceOf[String]),
      (8L, "s", "alpha"), (9L, "s", null.asInstanceOf[String]),
      (18L, "s", "fresh"))
      .toDF("doc_id", "source", "text")
    val single = ops.DedupOps.bloomIncrementalOn(tiny)
      .collect().map(_.getLong(0)).toSeq
    assert(single === Seq(9L, 18L))
    val sharded = ops.DedupOps.bloomIncrementalShardedOn(tiny, shards = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(sharded === Seq(9L, 18L))
  }

  test("LSH-fed clustering recalls the exact clusters (text composition)") {
    // the text twin of the dedup_semantic_lsh recall check: every
    // co-clustered pair of the bounded exact-Jaccard clustering must
    // be co-clustered by the full-corpus minhashLsh -> components
    // pipeline too (the LSH graph may add full-corpus edges the
    // bounded slice cannot see, so subset — not equality — is the
    // correct relation)
    def coPairs(df: org.apache.spark.sql.DataFrame) = {
      val byCluster = df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values
      byCluster.flatMap { m =>
        val ids = m.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size)
          yield (ids(i), ids(j))
      }.toSet
    }
    val exact = coPairs(ops.DedupOps.clusters(spark, sf)
      .select(col("doc_id"), col("cluster_id")))
    val lsh = coPairs(ops.DedupOps.clustersLsh(spark, sf)
      .select(col("doc_id"), col("cluster_id")))
    assert(exact.nonEmpty, "fixture should contain non-singleton clusters")
    assert(exact.subsetOf(lsh), s"missed=${exact -- lsh}")
  }

  test("canonical-by-quality keeps the best-scoring duplicate, not min-id") {
    val rows = ops.DedupOps.canonicalByQuality(spark, sf).collect()
    assert(rows.nonEmpty, "fixture should contain near-dup clusters")
    // every kept member really is in its own cluster, clusters match
    // the min-id clustering's membership exactly
    val clusters = ops.DedupOps.clusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // doc -> cluster
    rows.foreach { r =>
      assert(clusters(r.getLong(1)) === r.getLong(0),
        s"keep_id ${r.getLong(1)} not in cluster ${r.getLong(0)}")
    }
    // and the keep rule is QUALITY, not min-id: the kept member must
    // carry the maximal quality score of its cluster (strictly
    // different from min-id whenever scores differ)
    val scores = Tables.documents(spark, sf)
      .select(col("doc_id"), ops.TextOps.qualityBlend(
        size(ops.TextOps.tokens(col("text"))).cast("double"),
        regexp_count(col("text"), lit("\\bthe\\b")).cast("double"))
        .as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = clusters.toSeq.groupBy(_._2)
    rows.foreach { r =>
      val members = byCluster(r.getLong(0)).map(_._1)
      val best = members.map(scores).max
      assert(math.abs(scores(r.getLong(1)) - best) < 1e-12,
        s"cluster ${r.getLong(0)} kept a non-maximal-quality member")
    }
  }

  test("corpus shuffle: exact permutation, matches the global-window rank") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val got = ops.TextOps.corpusShuffleOn(docs, seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    // a permutation: positions are exactly 1..n, each once
    assert(got.map(_._2).sorted.toSeq === (1L to n).toSeq)
    // bit-identical to the naive single-task global window
    val naive = docs.select(col("doc_id"))
      .withColumn("skey", md5(concat(lit("42:"), col("doc_id").cast("string"))))
      .withColumn("position", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("skey"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, p) => assert(naive(id) === p, s"doc $id") }
    // a different seed is a different permutation
    val reseeded = ops.TextOps.corpusShuffleOn(docs, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.exists { case (id, p) => reseeded(id) != p })
  }

  test("LM surprisal separates repetitive text from rare-vocabulary text") {
    import spark.implicits._
    // the LM filter's purpose: text made of corpus-frequent bigrams
    // scores LOW surprisal; text of unique-vocabulary bigrams scores
    // HIGH. Build a corpus where docs 0-9 share one repeated phrase
    // and docs 10-14 each use disjoint vocabulary.
    val common = (0L until 10L).map(i =>
      (i, "s", "the cat sat on the mat " * 5))
    val rare = (10L until 15L).map(i =>
      (i, "s", (0 until 30).map(j => s"tok${i}x$j").mkString(" ")))
    val docs = (common ++ rare).toDF("doc_id", "source", "text")
    val scores = ops.TextOps.lmScoreOn(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val avgCommon = (0L until 10L).map(scores).sum / 10.0
    val avgRare = (10L until 15L).map(scores).sum / 5.0
    assert(avgCommon < avgRare,
      s"repetitive $avgCommon should score below rare-vocab $avgRare")
    // surprisal of a repeated in-corpus bigram is small and positive
    assert(avgCommon > 0.0 && avgCommon < avgRare / 2)
  }

  test("LM surprisal property: duplicating a doc lowers its own surprisal") {
    import spark.implicits._
    // more copies of a doc's bigrams → higher model counts → lower
    // conditional surprisal for that doc (the mechanism by which the
    // filter favors corpus-typical text)
    val base = (0L until 8L).map(i =>
      (i, "s", (0 until 20).map(j => s"w${i}x$j").mkString(" ")))
    val dup = (100L until 104L).map(i => (i, "s", base.head._3))
    val before = ops.TextOps.lmScoreOn(base.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val after = ops.TextOps.lmScoreOn((base ++ dup)
        .toDF("doc_id", "source", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(after(0L) < before(0L),
      s"duplicated doc surprisal ${after(0L)} !< ${before(0L)}")
    // an unduplicated doc's own-bigram counts are unchanged; only V
    // grew, so its surprisal may rise slightly but never fall
    assert(after(5L) >= before(5L))
  }

  test("corpus mix: rates hit the target mixture invariants") {
    val rows = ops.TextOps.corpusMix(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    // the most-constraining source is kept whole (rate 256 = keep all)
    assert(rows.exists(_.getLong(1) === 256L), "some source keeps all")
    assert(rows.forall(r => r.getLong(1) > 0L && r.getLong(1) <= 256L))
    val shares = rows.map(_.getDouble(4))
    assert(math.abs(shares.sum - 1.0) < 1e-9, "shares sum to 1")
    // heavier-weighted (lower-index) sources should not get smaller
    // achieved shares than the lightest one
    val bySrc = rows.map(r => (r.getString(0), r.getDouble(4))).toMap
    assert(bySrc("src0") > bySrc("src19"),
      "src0 (weight 1) must out-share src19 (weight 1/20)")
  }

  test("dup ngrams: shared 5-gram counted, short docs contribute none") {
    import spark.implicits._
    // docs 1,2 share exactly the 5-gram "a b c d e"; doc 3 is too
    // short to produce any gram
    val docs = Seq(
      (1L, "s1", "a b c d e f"),
      (2L, "s1", "a b c d e x"),
      (3L, "s1", "short one")).toDF("doc_id", "source", "text")
    val r = ops.TextOps.dupNgramsOn(docs).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 4L, "four grams total")
    assert(r.head.getLong(2) === 2L, "the shared gram counts twice")
    assert(math.abs(r.head.getDouble(3) - 0.5) < 1e-12)
  }

  test("winnow stop-fingerprint guard: mass-duplicate corpus stays sub-quadratic") {
    import spark.implicits._
    // 200 byte-identical docs: every fingerprint occurs in 200 > 64
    // docs, so the stop-fingerprint filter drops them all — no
    // candidate pairs instead of 200*199/2. Two docs sharing a rarer
    // fragment must still pair.
    val boiler = "this exact boilerplate paragraph repeats across the corpus verbatim"
    val rare = "a genuinely distinctive shared sentence appears only twice"
    val docs = ((1L to 200L).map(i => (i, boiler)) ++
      Seq((201L, rare + " tail one"), (202L, rare + " tail two")))
      .toDF("doc_id", "text")
    val pairs = ops.DedupOps.winnowNearDupOn(spark, docs)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((201L, 202L)),
      s"expected only the rare pair, got ${pairs.size} pairs")
  }

  test("band join: fractional bounds and degenerate bands") {
    import spark.implicits._
    // value 10.2 sits in the band's top sub-bucket range: the band
    // must be exploded up to floor(hi/W), not floor((hi-1)/W)
    val bands = Seq(("x", 0.0, 10.5), ("empty", 7.0, 7.0))
      .toDF("band", "lo", "hi")
    val fact = Seq(10.2, 10.6, 7.0).toDF("v")
    val got = ops.Relational
      .bandJoin(fact, col("v"), bands, "lo", "hi", bucketWidth = 10L)
      .select("v", "band").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    // 10.2 ∈ [0,10.5) matches; 10.6 matches nothing; the degenerate
    // [7,7) band matches nothing (and must not blow up the sequence)
    assert(got === Set((10.2, "x"), (7.0, "x")))
  }

  test("chunk dedup: empty blob contributes zero chunks") {
    import spark.implicits._
    val media = Seq(
      (1L, "s1", "0123456789abcdef" * 8), // exactly 2 chunks of 64B
      (2L, "s1", ""))
      .toDF("media_id", "source", "txt")
      .withColumn("blob", encode(col("txt"), "utf-8"))
    val r = ops.MultimodalOps.chunkDedupOn(media).collect()
    assert(r.length === 1, r.mkString(";"))
    assert(r.head.getLong(1) === 2L,
      "empty blob must add no chunks: " + r.mkString(";"))
    assert(r.head.getLong(2) === 1L,
      "identical 64-byte chunks must collapse: " + r.mkString(";"))
  }

  test("band join: bucketed range join avoids the nested-loop plan") {
    val df = ops.Relational.priceBands(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "must not plan BNLJ")
    assert(plan.contains("BroadcastHashJoin"), "bucketed equi join expected")
    // bands tile [0, 600k): every order in range lands in exactly one
    val total = df.agg(sum(col("n_orders"))).collect().head.getLong(0)
    val expect = Tables.orders(spark, sf)
      .filter(col("o_totalprice") >= 0 && col("o_totalprice") < 600000)
      .count()
    assert(total === expect)
  }

  test("prefix sum: two-phase form matches the naive per-group window") {
    import spark.implicits._
    // 500 keys across 3 groups with bucketWidth=16 → ~31 buckets, so
    // every phase (local window, offset window, broadcast-back) is
    // exercised across many boundaries; values vary so a wrong offset
    // cannot cancel out
    val df = (1L to 500L).map(i => (i, s"s${i % 3}", (i * 7) % 13))
      .toDF("doc_id", "source", "v")
      .withColumn("v", col("v").cast("long"))
    val got = ops.PrefixSum
      .runningSum(df, Seq("source"), "doc_id", "v", "cum", bucketWidth = 16)
      .select("doc_id", "source", "v", "cum")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df.withColumn("cum", sum($"v").over(w))
      .select("doc_id", "source", "v", "cum")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // the data-bearing window must partition by (group, bucket) — not
    // by group alone — and offsets must come back via broadcast
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("_psum_bucket"), "bucketed window missing")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"), "offset join must broadcast")
  }

  test("corpus diff: added/removed/changed/unchanged partition exactly") {
    import spark.implicits._
    // ids 0..9, one source: A = %10<8 → {0..7}, B = %10>=1 → {1..9}
    // with %5==1 revised. Expected: 0 removed; 8,9 added; 1,6 changed;
    // 2,3,4,5,7 unchanged.
    val docs = (0L until 10L).map(i => (i, "s", s"text $i"))
      .toDF("doc_id", "source", "text")
    val got = ops.DedupOps.corpusDiffOn(docs).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === Map("removed" -> 1L, "added" -> 2L,
      "changed" -> 2L, "unchanged" -> 5L))
    // statuses partition the union of both snapshots
    assert(got.values.sum === 10L)
  }

  test("substring dedup: cross-doc and self-repeat spans, merged coverage") {
    import spark.implicits._
    def run(a: Int, b: Int, tag: String) =
      (a to b).map(i => s"$tag$i").mkString(" ")
    val p = run(1, 50, "p"); val q = run(1, 50, "q")
    val docs = Seq(
      (1L, "a", p + " " + run(1, 50, "f")),  // shares window@1 with doc2
      (2L, "a", p + " " + run(1, 50, "g")),
      (3L, "b", q + " " + q))                // self-repeat: window@1 == window@51
      .toDF("doc_id", "source", "text")
    val got = ops.DedupOps.substringDedupOn(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // source a: both docs flagged once (the shared 50-token prefix),
    // 50 positions covered each
    assert(got("a") === ((2L, 2L, 100L)))
    // source b: ONE doc, TWO flagged spans (start 1 and 51), and the
    // merged coverage is 100 distinct positions (no double-count)
    assert(got("b") === ((1L, 2L, 100L)))
  }

  test("tfidf: integer idf ranks rare terms above common ones") {
    import spark.implicits._
    // N=4. df(common)=4 → idf_bits floor(log2(4//4))=0; df(mid)=2 → 1;
    // df(rare)=1 → 2. Scores are exact integers tf*idf_bits.
    val docs = Seq(
      (1L, "s", "rare rare common common"),
      (2L, "s", "common"),
      (3L, "s", "common mid"),
      (4L, "s", "common mid")).toDF("doc_id", "source", "text")
    val rows = ops.TextOps.tfidfTopkOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(5))).toMap
    assert(rows((1L, 1L)) === ("rare", 4L), "tf=2 × idf_bits=2")
    assert(rows((1L, 2L)) === ("common", 0L))
    assert(rows((3L, 1L)) === ("mid", 1L))
    // ubiquitous term scores zero everywhere but still ranks by tie-break
    assert(rows((2L, 1L)) === ("common", 0L))
    // per-doc rank lists are dense from 1 and capped at 3
    val perDoc = rows.keySet.groupBy(_._1).view.mapValues(_.map(_._2))
    perDoc.foreach { case (d, rks) =>
      assert(rks === (1L to rks.size).toSet && rks.size <= 3, s"doc $d") }
  }

  test("chunking: window arithmetic, full coverage, content md5") {
    import spark.implicits._
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // expected starts: 1, 25, 49, ... up to greatest(len-8, 1)
    def expectStarts(len: Int) =
      1 to math.max(len - 8, 1) by 24
    val lens = Seq(1, 8, 9, 25, 32, 33, 56, 57, 60)
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, s"s$n", toks(n)) }
      .toDF("doc_id", "source", "text")
    val rows = ops.TextOps.textChunksOn(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    lens.foreach { n =>
      val starts = expectStarts(n)
      val clens = starts.map(s => math.min(s + 31, n) - s + 1)
      // every chunk end reaches len → full token coverage
      assert(starts.last + 31 >= n, s"len $n uncovered tail")
      assert(rows(s"s$n") ===
        ((starts.size.toLong, clens.sum.toLong,
          clens.count(_ == 32).toLong)), s"len $n")
    }
    // content pin: a one-chunk doc's min md5 is md5 of its joined tokens
    val one = ops.TextOps.textChunksOn(
        Seq((9L, "x", "a b c")).toDF("doc_id", "source", "text"))
      .collect().head.getString(5)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(one === md)
  }

  test("corpus overlap: identical sources J=1, disjoint pairs absent") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "pack my box with five dozen liquor jugs for the long trip"
    val z = "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"
    val docs = Seq(
      (1L, "s1", a), (2L, "s1", b),
      (3L, "s2", a), (4L, "s2", b),   // s2 == s1's shingle set
      (5L, "s3", a),                  // s3 ⊂ s1
      (6L, "s4", z)).toDF("doc_id", "source", "text")
    val rows = ops.TextOps.corpusOverlapOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val (n1, n2, c12, j12) = rows(("s1", "s2"))
    assert(n1 === n2 && c12 === n1 && j12 === 1.0, "identical sets")
    val (_, n3, c13, j13) = rows(("s1", "s3"))
    assert(c13 === n3 && j13 < 1.0, "subset: common = |s3|, J < 1")
    // s4 shares nothing: no pair rows mention it
    assert(!rows.keySet.exists(p => p._1 == "s4" || p._2 == "s4"))
    // pairs are canonical (source_a < source_b), each pair once
    assert(rows.keySet.forall(p => p._1 < p._2))
  }

  test("assoc rules: Apriori prune is lossless vs the no-prune brute pass") {
    import spark.implicits._
    val got = ops.Analytics.assocRules(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6))).toMap
    // brute: ALL brand pairs counted with no item-level prune, gated
    // only at the pair threshold — equality proves monotonicity made
    // the item prune lossless
    val baskets = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
      .distinct().cache()
    val n = baskets.select("ok").distinct().count()
    val brutePairs = baskets.as("x").join(baskets.as("y"),
        col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("ia"), col("y.item").as("ib"))
      .agg(count(lit(1)).as("supp"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .filter { case (_, supp) => supp * 100L >= 2L * n }.toMap
    baskets.unpersist()
    assert(brutePairs.nonEmpty, "fixture produced no frequent pairs")
    val gotPairs = got.keySet.filter(p => p._1 < p._2)
    assert(gotPairs == brutePairs.keySet,
      s"missed ${(brutePairs.keySet -- gotPairs).size} / " +
        s"invented ${(gotPairs -- brutePairs.keySet).size} frequent pairs")
    // each rule's scoring re-derives from its own support columns, and
    // the reverse direction exists with the same pair support
    got.foreach { case ((a, c), (ab, sa, sc, conf, lift)) =>
      assert(got((c, a))._1 === ab, s"rule ($a,$c) missing its reverse")
      assert(ab <= math.min(sa, sc), "support monotonicity violated")
      assert(conf === (ab.toDouble / sa * 1e9).round / 1e9)
      assert(lift === (n.toDouble * ab / (sa * sc) * 1e9).round / 1e9)
    }
  }

  test("markov transitions: mass conservation and row-normalized rows") {
    val rows = ops.EventOps.markovTransitions(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, sf)
    val expected = ev.count() -
      ev.select(col("user_id")).distinct().count()
    assert(total === expected,
      "every event except each user's first must be a transition")
    // per-row probability re-derives; per-from_type mass sums to ~1
    // (9-digit rounding slack × fan-out)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (_, rs) =>
      val rowTotal = rs.map(_.getLong(2)).sum
      rs.foreach(r => assert(r.getDouble(3) ===
        (r.getLong(2).toDouble / rowTotal * 1e9).round / 1e9))
      val mass = rs.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-8 * rs.size)
    }
  }

  test("decayed trend: scores equal the brute power-of-two recompute") {
    val got = ops.EventOps.decayedTrend(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val maxd = evs.map(_._2).max
    val brute = evs.groupBy(_._1).map { case (t, rs) =>
      t -> (rs.length.toLong, rs.map { case (_, dt) =>
        val age = java.time.temporal.ChronoUnit.DAYS.between(dt, maxd)
        if (age <= 30) 1L << (30 - age) else 0L
      }.sum)
    }
    assert(got == brute)
    // recency dominates: one event today outweighs any horizon-old one
    assert((1L << 30) > (1L << 0) * 29)
  }

  test("l-diversity: class accounting and the floor-band semantics") {
    val rows = ops.EtlParity.lDiversity(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum ===
      Tables.customer(spark, sf).count(), "classes must partition the table")
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(2),
        "distinct sensitive values outside [1, class_size]")
      assert(r.getBoolean(4) === (r.getLong(3) >= 3L))
    }
    // floor division (not truncation): negative balances band at -1,
    // identically to the oracle's floor()
    import spark.implicits._
    val bands = Seq(-994.28, -0.01, 0.0, 999.99, 1000.0, 9997.41)
      .toDF("c_acctbal")
      .select(floor(col("c_acctbal") / 1000.0).as("band"))
      .collect().map(_.getLong(0)).toSeq
    assert(bands === Seq(-1L, -1L, 0L, 0L, 1L, 9L))
  }

  test("sliding window: 2x fan-out, slide alignment, brute recount") {
    val rows = ops.EventOps.slidingWindow(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === 2 * nEvents,
      "every event must land in exactly size/slide = 2 windows")
    // starts align to 30-minute epoch multiples
    rows.foreach { r =>
      val t = r.getAs[java.time.LocalDateTime](0)
      assert(t.getSecond === 0 && t.getNano === 0 &&
        (t.getMinute === 0 || t.getMinute === 30),
        s"window start $t not slide-aligned")
    }
    // brute recount: each (window, type) count equals the number of
    // events of that type with start <= ts < start + 1h
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1)))
    rows.foreach { r =>
      val (s0, t) = (r.getAs[java.time.LocalDateTime](0), r.getString(1))
      val e0 = s0.plusHours(1)
      val expect = evs.count { case (typ, ts) =>
        typ == t && !ts.isBefore(s0) && ts.isBefore(e0) }
      assert(r.getLong(2) === expect.toLong, s"window $s0 type $t")
    }
  }

  test("label propagation: deterministic sync LPA on a known graph") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4:
    // three argmax/min-tie iterations settle each triangle on its
    // min label (hand-traced: 1->2->1, then stable 1 / 3)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = ops.Analytics.topCommunities(ops.Analytics.lpaLabelsOn(edges)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 3L), (3L, 3L)))
  }

  test("label propagation: fixture communities conserve the node set") {
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
    val li = edges
    val pairs = li.select(col("ok"), col("l_partkey").as("src"))
      .join(li.select(col("ok"), col("l_partkey").as("dst")), Seq("ok"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val nNodes = pairs.select(col("src")).distinct().count()
    val got = ops.Analytics.labelPropagation(spark, sf).collect()
    assert(got.length <= 20)
    assert(got.map(_.getLong(1)).sum <= nNodes,
      "top-20 community sizes cannot exceed the node count")
    assert(got.map(_.getLong(1)).forall(_ >= 1L))
    // ordered by size desc then label
    val sizes = got.map(r => (-r.getLong(1), r.getLong(0))).toSeq
    assert(sizes === sizes.sorted)
  }

  test("rfm: quartile balance, orientation, exact metric re-derive") {
    val rows = ops.Analytics.rfmScores(spark, sf).collect()
    val nCust = Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.length.toLong === nCust,
      "one row per customer that has orders")
    rows.foreach { r =>
      Seq(5, 6, 7).foreach(i =>
        assert(r.getLong(i) >= 1L && r.getLong(i) <= 4L))
      assert(r.getString(8) ===
        s"${r.getLong(5)}${r.getLong(6)}${r.getLong(7)}")
    }
    // SQL-standard ntile balance inside every nation: bucket sizes
    // differ by at most one, for each of the three scores
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      Seq(5, 6, 7).foreach { i =>
        val sizes = rs.groupBy(_.getLong(i)).view.mapValues(_.length)
        assert(sizes.values.max - sizes.values.min <= 1)
      }
    }
    // orientation: within a nation, a 4-scored monetary row's spend
    // is >= any 1-scored row's spend
    rows.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      val top = rs.filter(_.getLong(7) == 4L).map(_.getDouble(4))
      val bot = rs.filter(_.getLong(7) == 1L).map(_.getDouble(4))
      if (top.nonEmpty && bot.nonEmpty) assert(top.min >= bot.max)
    }
    // exact metric re-derive for the smallest custkey
    val ck = rows.map(_.getLong(1)).min
    val o = Tables.orders(spark, sf).filter(col("o_custkey") === ck)
      .agg(count(lit(1)), sum(col("o_totalprice").cast(ops.D18_2)))
      .head()
    val row = rows.find(_.getLong(1) == ck).get
    assert(row.getLong(3) === o.getLong(0))
    assert(row.getDouble(4) === o.getDecimal(1).doubleValue())
  }

  test("dp count: noise re-derives from the md5 draw, bounded, centered") {
    val rows = ops.EtlParity.dpCount(spark, sf).collect()
    val truth = Tables.customer(spark, sf)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("tc")).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows.length === truth.size)
    rows.foreach { r =>
      val key = (r.getInt(0), r.getString(1))
      val tc = truth(key)
      // JVM re-derivation of the identical inverse-CDF tree
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${key._1}|${key._2}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) /
        281474976710656.0
      val noise = (if (u < 0.5) 1.0 else -1.0) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5))
      val expect = BigDecimal(tc + noise)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expect, s"class $key")
      // Laplace(1) tail: 48-bit draw bounds |noise| by 49·ln2 < 34
      assert(math.abs(r.getDouble(2) - tc) < 34.0)
    }
    // the mechanism actually perturbs: not all noises are zero
    assert(rows.exists(r =>
      math.abs(r.getDouble(2) - truth((r.getInt(0), r.getString(1)))) > 1e-6))
  }

  test("zipf fit: negative power-law slope, r2 sane, brute re-derive") {
    val rows = ops.TextOps.zipfFit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) < 0.0, "token frequencies must decay with rank")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    // brute OLS for one source from the raw frequencies
    val src = rows.head.getString(0)
    val freqs = Tables.documents(spark, sf)
      .filter(col("source") === src)
      .select(explode(ops.TextOps.tokensNonEmpty(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, f) => (-f, t) }.take(200)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.round(math.log(i + 1.0) * 1e6),
        math.round(math.log(f.toDouble) * 1e6)) }
    val n = pts.length.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val expect = BigDecimal(slope)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getDouble(2) === expect)
  }

  test("relational division: returned set IS the for-all set") {
    val got = ops.Relational.relationalDivision(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perCust = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val universe = perCust.values.reduce(_ ++ _)
    val expect = perCust.filter(_._2 == universe).keySet
    assert(got.keySet === expect,
      "division must return exactly the customers spanning the domain")
    assert(universe.size >= 2, "fixture divisor domain degenerate")
    // n_orders re-derives
    val counts = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(count(lit(1))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (ck, n) => assert(n === counts(ck)) }
  }

  test("bitmask rollup: bitmaps re-derive from one-hot folds") {
    val got = ops.OlapOps.bitmaskRollup(spark, sf).collect()
    val rows = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_nationkey")).collect()
      .map(r => (r.getString(0), 1L << (r.getInt(1) % 16)))
      .groupBy(_._1)
    got.foreach { r =>
      val masks = rows(r.getString(0)).map(_._2)
      assert(r.getLong(1) === masks.length.toLong)
      assert(r.getLong(2) === masks.reduce(_ | _))
      assert(r.getLong(3) === masks.reduce(_ & _))
      assert(r.getLong(4) === masks.reduce(_ ^ _))
      assert(r.getLong(5) ===
        java.lang.Long.bitCount(masks.reduce(_ | _)).toLong)
      // the bitmap read: distinct buckets via popcount equals the set
      assert(r.getLong(5) === masks.toSet.size.toLong)
    }
  }

  test("bm25: scores re-derive from raw counts, ranking is by score") {
    val got = ops.TextOps.bm25Topk(spark, sf).collect()
    assert(got.length === 10)
    // brute BM25 from the raw corpus
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), ops.TextOps.tokensNonEmpty(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val n = docs.length.toLong
    val sumLen = docs.map(_._2.length.toLong).sum
    val dfm = ops.TextOps.Bm25Query.map(q =>
      q -> docs.count(_._2.contains(q)).toLong).toMap
    def score(toks: Seq[String]): Double = {
      val len = toks.length
      val s = ops.TextOps.Bm25Query.map { q =>
        val tf = toks.count(_ == q)
        if (tf == 0) 0.0
        else math.log((n.toDouble - dfm(q) + 0.5) / (dfm(q) + 0.5) + 1.0) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *
            (len.toLong * n).toDouble / sumLen.toDouble))
      }.sum
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = docs.map { case (id, t) => (id, score(t)) }
      .filter(_._2 > 0.0).sortBy { case (id, sc) => (-sc, id) }.take(10)
    assert(got.map(r => (r.getLong(0), r.getDouble(3))).toSeq === brute.toSeq)
    // scores strictly ordered (desc) up to doc_id tie-break
    val scores = got.map(_.getDouble(3)).toSeq
    assert(scores === scores.sorted.reverse)
  }

  test("benford: digit accounting, share math, truncation semantics") {
    val rows = ops.Analytics.benfordDigits(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "digits must partition orders")
    assert(rows.map(_.getInt(0)).forall(d => d >= 1 && d <= 9))
    rows.foreach { r =>
      val obs = r.getLong(1).toDouble / n
      assert(r.getDouble(2) ===
        BigDecimal(obs).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val exp = math.log10(1.0 + 1.0 / r.getInt(0))
      assert(r.getDouble(3) ===
        BigDecimal(exp).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(4) === BigDecimal(obs - exp)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // shares sum to ~1 and expected Benford mass is exactly log10(10)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-8)
  }

  test("autocorr: exact-moment r matches brute Pearson on lag pairs") {
    val got = ops.Analytics.autocorrHourly(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, rs) =>
      val ys = rs.sortBy(_._2.toString).map(_._3)
      val pairs = ys.sliding(2).map { case Array(a, b) => (a, b) }.toArray
      val n = pairs.length.toLong
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val (sxy, sxx, syy) = (pairs.map(p => p._1 * p._2).sum,
        pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
      val r = (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
      assert(got(t)._1 === n)
      assert(got(t)._2 === BigDecimal(r)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble, s"type $t")
    }
  }

  test("kcore: peel trajectory on a known graph, monotone on fixture") {
    import spark.implicits._
    // triangle {1,2,3} + pendant chain 3-7-8: peel 1 drops node 8
    // (deg 1), peel 2 drops 7 (its only surviving edge was to 8's
    // side), peels 3-4 hold the triangle — hand-traced (1,4) (2,3)
    // (3,3) (4,3)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L), (7L, 8L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = ops.Analytics.kcoreOn(edges).orderBy(col("peel")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got === Seq((1, 4L), (2, 3L), (3, 3L), (4, 3L)))
    // fixture trajectory is monotone non-increasing (peeling only
    // removes)
    val traj = ops.Analytics.kcore(spark, sf).collect().map(_.getLong(1))
    assert(traj.sliding(2).forall { case Array(a, b) => b <= a })
  }

  test("winsorize: caps bound the mean, tails and middle re-derive") {
    val rows = ops.EtlParity.winsorize(spark, sf).collect()
    val bals = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_acctbal")).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).groupBy(_._1)
    rows.foreach { r =>
      val vs = bals(r.getInt(0)).map(_._2)
      assert(r.getLong(1) === vs.length.toLong)
      val (p05, p95) = (r.getDouble(4), r.getDouble(5))
      assert(r.getLong(2) === vs.count(_ < p05).toLong)
      assert(r.getLong(3) === vs.count(_ > p95).toLong)
      // winsorized mean sits inside the cap interval and between
      // 5th/95th by construction
      assert(r.getDouble(6) >= p05 && r.getDouble(6) <= p95)
      // capping never moves the mean across the raw extremes
      assert(r.getDouble(6) >= vs.min && r.getDouble(6) <= vs.max)
      // ~5% per tail (interpolated caps: at most ceil(5%)+1)
      assert(r.getLong(2) <= vs.length / 20 + 1)
      assert(r.getLong(3) <= vs.length / 20 + 1)
    }
  }

  test("epoch plan: accounting identities and mixture fidelity") {
    val plan = ops.TextOps.epochPlan(spark, sf).collect()
    val mix = ops.TextOps.temperatureMix(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap // epochs
    plan.foreach { r =>
      val (src, nDocs, nTok) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (full, nEx, exTok, planned) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(full === math.floor(mix(src)).toLong,
        "full copies must be floor(epochs)")
      assert(nEx <= nDocs && exTok <= nTok)
      assert(planned === full * nTok + exTok)
      // the fractional subset tracks the fractional epoch mass:
      // md5-systematic selection is uniform, so extra/total token
      // share approximates frac within a loose band on 500+ docs
      val frac = mix(src) - math.floor(mix(src))
      assert(math.abs(exTok.toDouble / nTok - frac) < 0.25,
        s"$src frac=$frac got=${exTok.toDouble / nTok}")
      // planned tokens approximate epochs * corpus share
      assert(math.abs(planned.toDouble / nTok - mix(src)) < 0.25)
    }
    // rerun determinism: the SAME docs are selected
    val again = ops.TextOps.epochPlan(spark, sf).collect()
    assert(plan.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("changepoint: argmax CUSUM re-derives from brute integer scan") {
    val got = ops.EventOps.changepoint(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[java.time.LocalDateTime](2), r.getLong(3)))
      .toMap
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2)))
    hourly.groupBy(_._1).foreach { case (t, rs) =>
      val xs = rs.sortBy(_._2.toString)
      val m = xs.length.toLong
      val total = xs.map(_._3).sum
      var prefix = 0L
      val devs = xs.zipWithIndex.map { case ((_, h, x), i) =>
        prefix += x; (h, math.abs(m * prefix - (i + 1) * total))
      }
      val bestDev = devs.map(_._2).max
      val bestHour = devs.filter(_._2 == bestDev).map(_._1)
        .minBy(_.toString) // earliest hour on ties
      assert(got(t)._1 === m)
      assert(got(t)._3 === bestDev, s"type $t")
      assert(got(t)._2 === bestHour, s"type $t")
    }
  }

  test("gaps-islands: runs re-derive from brute consecutive-day scan") {
    val got = ops.Relational.gapsIslands(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val days = Tables.orders(spark, sf)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    days.groupBy(_._1).foreach { case (ck, rs) =>
      val ds = rs.map(_._2).sorted
      // brute: split on non-consecutive neighbors
      val lens = scala.collection.mutable.ArrayBuffer(1L)
      for (i <- 1 until ds.length)
        if (ds(i) == ds(i - 1) + 1) lens(lens.length - 1) += 1
        else lens += 1L
      assert(got(ck)._1 === ds.length.toLong)
      assert(got(ck)._2 === lens.length.toLong, s"cust $ck")
      assert(got(ck)._3 === lens.max, s"cust $ck")
    }
  }

  test("seq patterns: direction accounting against brute firsts scan") {
    val got = ops.Analytics.seqPatterns(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // brute: first (ts, event_id) per (user, type), count a-before-b
    implicit val ord: Ordering[(String, Long)] =
      Ordering.Tuple2[String, Long]
    val firsts = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getAs[java.time.LocalDateTime](2).toString, r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val byUser = firsts.toSeq.map { case ((u, t), f) => (u, t, f) }
      .groupBy(_._1)
    val brute = scala.collection.mutable.HashMap
      .empty[(String, String), Long].withDefaultValue(0L)
    byUser.values.foreach { ts =>
      for (a <- ts; b <- ts if a._2 != b._2 && ord.lt(a._3, b._3))
        brute.update((a._2, b._2), brute((a._2, b._2)) + 1L)
    }
    assert(got.keySet === brute.keySet)
    got.foreach { case (k, (n, share)) =>
      assert(n === brute(k), s"pair $k")
      val total = brute(k) + brute((k._2, k._1))
      assert(share ===
        (n.toDouble / total * 1e9).round / 1e9, s"pair $k")
    }
  }

  test("linreg multi: betas recover a planted linear relationship") {
    import spark.implicits._
    // planted: y = 7 + 3*x1 - 2*x2 exactly, all values 2-decimal so
    // the decimal moments are exact -> the Spark pipeline's betas
    // recover the plant to rounding
    val rows = for (i <- 1 to 40; j <- 0 to 4) yield
      ("A", i.toDouble, j * 0.05, 7.0 + 3.0 * i - 2.0 * (j * 0.05))
    val df = rows.toDF("l_returnflag", "l_quantity", "l_discount",
      "l_extendedprice")
    val got = ops.Analytics.linregMultiOn(df).collect()
    assert(got.length === 1)
    assert(got(0).getDouble(2) === 7.0)
    assert(got(0).getDouble(3) === 3.0)
    assert(got(0).getDouble(4) === -2.0)
    // fixture betas are finite and n accounts for every row
    val fix = ops.Analytics.linregMulti(spark, sf).collect()
    assert(fix.map(_.getLong(1)).sum === Tables.lineitem(spark, sf).count())
    fix.foreach { r =>
      Seq(2, 3, 4).foreach(i =>
        assert(!r.getDouble(i).isNaN && !r.getDouble(i).isInfinite))
    }
  }

  test("mode: argmax re-derives from brute counts with pinned ties") {
    val got = ops.OlapOps.modeExact(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    val counts = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
    counts.foreach { case (f, rs) =>
      val byVal = rs.groupBy(_._2).view.mapValues(_.length.toLong)
      val maxN = byVal.values.max
      val mode = byVal.filter(_._2 == maxN).keys.min
      assert(got(f) === ((mode, maxN)), s"flag $f")
    }
  }

  test("driver smoke: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("no duplicate query names across modules (silent overwrite)") {
    assert(SparkEntry.queries.size === SparkEntry.declaredQueryCount)
  }

  test("ER geocell cap: dense cell cannot go quadratic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20 records land in ONE (lat10, lon10) cell. Uncapped that is
    // C(20,2)=190 candidate pairs; capped at 8 it is C(8,2)=28 over
    // the 8 smallest rec_ids, with the 12 dropped rows published via
    // the graft_er_cell_overflow observed metric.
    @volatile var observedDropped = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get("graft_er_cell_overflow")
          .foreach(r => observedDropped = r.getAs[Long]("dropped"))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dense = (0L until 20L).map(i =>
        (i, s"resident-$i", "METROPOLIS", 77L, 123L))
      val recs = dense.toDF("rec_id", "name", "city", "lat10", "lon10")
      val capped = ops.DedupOps.erCellBlock(recs, maxCell = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.size === 8 * 7 / 2, s"got ${capped.size} pairs")
      // deterministic truncation: exactly the 8 smallest rec_ids survive
      assert(capped.flatMap(p => Set(p._1, p._2)) === (0L until 8L).toSet)
      val deadline = System.currentTimeMillis() + 15000
      while (observedDropped < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(observedDropped === 12L)
      // non-vacuity control: at the default cap the same cell is intact
      assert(ops.DedupOps.erCellBlock(recs).count() === 20L * 19 / 2)
    } finally spark.listenerManager.unregister(listener)
  }

  test("hybrid eval: BM25 and RRF disagree on P@10 on the fixture") {
    // VERDICT r14 #4 non-vacuity bar: the side-by-side eval is only
    // worth its rows if the fused ranker actually reorders the top-10
    // somewhere — sf0.01 showed 5 of 6 queries disagreeing, in both
    // directions; this pins the property on the suite fixture
    val rows = ops.TextOps.searchEvalHybrid(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === ops.TextOps.EvalQueries.length)
    assert(rows.exists(r => r.getDouble(2) != r.getDouble(5)),
      "BM25 and RRF agree on P@10 for every fixture query — the " +
        "fusion arm is vacuous")
    // and the harness itself must stay populated: some query has
    // relevant docs and a nonzero metric on each arm
    assert(rows.exists(_.getLong(1) > 0L))
    assert(rows.exists(r => r.getDouble(4) > 0.0) &&
      rows.exists(r => r.getDouble(7) > 0.0))
  }

  test("PSI drift equals brute-force replay; fixture drift is nonzero") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length))
    val bins = docs.map { case (id, len) => (id, math.min(len / 8, 31)) }
    val naT = bins.count(_._1 % 10 < 8).toLong
    val nbT = bins.count(_._1 % 10 >= 2).toLong
    val expect = bins.groupBy(_._2).map { case (bin, members) =>
      val na = members.count(_._1 % 10 < 8).toLong
      val nb = members.count(_._1 % 10 >= 2).toLong
      val pa = (na + 1).toDouble / (naT + 32.0)
      val pb = (nb + 1).toDouble / (nbT + 32.0)
      val psi = BigDecimal((pa - pb) * math.log(pa / pb) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (bin, na, nb, psi)
    }.toSeq.sortBy(_._1)
    assert(expect.map(_._4).sum > 0, "fixture snapshots show no drift")
    val got = ops.TextOps.driftPsi(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
  }

  test("paragraph dedup equals brute-force first-wins over word blocks") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // brute force: positional 16-word blocks, global first occurrence
    // wins ordered by (doc_id, blk), docs reassembled from survivors
    val blocks = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(16).zipWithIndex
        .map { case (ws, i) => (id, i.toLong, ws.mkString(" ")) }
    }
    val firstOwner = blocks.groupBy(_._3).map { case (para, occ) =>
      para -> occ.minBy(o => (o._1, o._2))
    }
    val expect = blocks.groupBy(_._1).map { case (id, bs) =>
      val sorted = bs.sortBy(_._2)
      val keptTxt = sorted.filter(b => firstOwner(b._3) == b)
        .map(_._3).mkString(" ")
      (id, sorted.length.toLong,
        sorted.count(b => firstOwner(b._3) != b).toLong, keptTxt)
    }.toSeq.sortBy(_._1)
    assert(expect.map(_._3).sum > 0, "fixture plants no duplicate blocks")
    val got = ops.DedupOps.paragraphDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got === expect)
  }

  test("er_resolve equals brute-force all-pairs linkage on the slice") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    case class R(id: Long, name: String, city: String, x: Long, y: Long)
    val recs = ops.DedupOps.erRecords(spark, d).collect()
      .map(r => R(r.getAs[Long]("rec_id"), r.getAs[String]("name"),
        r.getAs[String]("city"), r.getAs[Long]("lat10"),
        r.getAs[Long]("lon10")))
      .sortBy(_.id)
    assert(recs.nonEmpty)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val t = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(a.length)
    }
    // brute force: score EVERY pair (no blocking) — the engine's
    // blocked pipeline must reproduce exactly this match set, proving
    // the two blocking passes lose nothing the scorer would accept
    val matched = for {
      i <- recs.indices; j <- (i + 1) until recs.length
      a = recs(i); b = recs(j)
      score = (if (lev(a.name, b.name) <= 1) 2000000L else -1000000L) +
        (if (a.city == b.city) 1000000L else -500000L) +
        (if (a.x == b.x && a.y == b.y) 1500000L else -500000L)
      if score >= 3000000L
    } yield (a.id, b.id)
    assert(matched.nonEmpty, "fixture produced no true matches")
    // union-find the brute-force pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    matched.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val expect = matched.flatMap { case (x, y) => Seq(x, y) }.distinct
      .groupBy(find).map { case (root, members) =>
        (root, members.size.toLong,
          recs.find(_.id == root).get.name)
      }.toSeq.sortBy(_._1)
    val got = ops.DedupOps.erResolve(spark, d).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"),
        r.getAs[String]("canonical_name"))).toSeq
    assert(got === expect)
    // the impostor records (same name, different city+geo) never join
    val impostors = recs.filter(_.id % 10 == 3).map(_.id).toSet
    val matchedNodes = matched.flatMap { case (x, y) => Seq(x, y) }.toSet
    assert(impostors.nonEmpty)
    assert(impostors.intersect(matchedNodes).isEmpty)
    // at least one 3-member transitive cluster exists (base + both
    // twins, where the twins match only through the base)
    assert(got.exists(_._2 >= 3), "no transitive cluster in fixture")
  }

  test("unigram trainer: deterministic, shrinking vocab, optimal Viterbi") {
    val d = "/root/testdata/sf0.001"
    val (rows1, sizes) = ops.TextOps.unigramTrajectory(spark, d)
    val (rows2, _) = ops.TextOps.unigramTrajectory(spark, d)
    // determinism: the whole trajectory replays bit-identically
    assert(rows1 === rows2)
    // monotonicity: prune + zero-count drops only ever SHRINK the
    // vocabulary (seed, it1, it2, it3)
    assert(sizes.size === 4)
    sizes.sliding(2).foreach { case Seq(a, b) => assert(b <= a) }
    // totality: every single char survives to the final vocabulary
    // (the keep-alive floor), so every word stays segmentable
    val finalPieces = rows1.map(_._1).toSet
    val chars = rows1.filter(_._1.length == 1).map(_._1).toSet
    assert(chars.nonEmpty)
    // Viterbi optimality: the DP's segmentation cost equals the
    // brute-force minimum over ALL segmentations for every word
    val costs = rows1.map(r => r._1 -> r._3).toMap
    def brute(w: String): Long =
      if (w.isEmpty) 0L
      else (1 to math.min(3, w.length)).map { j =>
        costs.get(w.take(j)) match {
          case Some(c) =>
            val rest = brute(w.drop(j))
            if (rest >= Long.MaxValue / 2) Long.MaxValue / 2 else c + rest
          case None => Long.MaxValue / 2
        }
      }.min
    import org.apache.spark.sql.functions._
    val words = Tables.documents(spark, d).filter(col("doc_id") < 200)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0))
    val applied = ops.TextOps.unigramApply(spark, d)
    // the engine's forward DP total cost must equal the brute-force
    // minimum over ALL segmentations, for every distinct word
    import spark.implicits._
    val vmap = typedlit(costs)
    val dpCosts = words.toSeq.toDF("w")
      .select(col("w"), element_at(
        ops.TextOps.uniForward(col("w"), vmap), -1).as("dp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      val bf = brute(w)
      assert(bf < Long.MaxValue / 2, s"word $w not segmentable")
      assert(dpCosts(w) === bf,
        s"DP cost ${dpCosts(w)} != brute-force min $bf for '$w'")
      w.foreach(c => assert(finalPieces.contains(c.toString)))
    }
    // compression sanity: tokens never exceed chars, at least one
    // multi-char piece earns its keep (compression > 1 somewhere)
    val rowsA = applied.collect()
    rowsA.foreach { r =>
      assert(r.getAs[Long]("n_unigram_tokens") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("n_unigram_tokens") >= r.getAs[Long]("n_words"))
    }
    assert(rowsA.exists(_.getAs[Double]("compression") > 1.0))
  }

  test("search index append: merged stats ≡ full rebuild on a planted " +
      "split, batch-only term scored") {
    import spark.implicits._
    val all = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha alpha delta"),
      (2L, "beta beta beta epsilon"),
      (3L, "gamma delta"),
      (4L, "zeta eta"),
      (7L, "alpha beta"),
      (8L, "alpha theta theta"), // batch: theta exists NOWHERE in base
      (9L, "beta gamma gamma iota") // batch
    ).toDF("doc_id", "text")
    val base = all.filter(col("doc_id") % 10 < 8)
    val batch = all.filter(col("doc_id") % 10 >= 8)
    val qts = Seq((1L, "alpha"), (1L, "beta"), (2L, "gamma"),
      (2L, "theta")).toDF("query_id", "term")
    val terms = Seq("alpha", "beta", "gamma", "theta")
    val dfSnap = base.select(col("doc_id"), explode(array_distinct(
        ops.TextOps.tokensNonEmpty(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val statsSnap = base
      .select(size(ops.TextOps.tokensNonEmpty(col("text"))).as("len"))
      .agg(count(lit(1)).as("n"), sum(col("len").cast("long")).as("suml"))
    val got = ops.TextOps
      .searchIndexAppendOn(dfSnap, statsSnap, batch, qts, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getDouble(5))).toSeq
    // rebuilt: the full-corpus scoring path (the SAME tree
    // search_bm25_topk grades) restricted to the batch split + rank
    val full = ops.TextOps.bm25ScoredOn(all, qts, terms).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getLong(4)))
      .filter(_._2 % 10 >= 8)
    val expected = full.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(t => (-t._4, t._2)).take(10).zipWithIndex.map {
        case ((_, did, len, score, tft), i) =>
          (qid, (i + 1).toLong, did, len, tft, score)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == expected,
      s"append path diverges from full rebuild:\n$got\nvs\n$expected")
    // non-vacuity: the batch-only term really scored (df_base absent
    // for 'theta' exercises the union-merge's missing-term side)
    assert(got.exists(t => t._1 == 2L && t._3 == 8L),
      "batch-only term 'theta' should score doc 8 under query 2")
  }

  test("search index forget: planted decrement — removed-only term " +
      "zeroes, untouched term holds, header shrinks") {
    import spark.implicits._
    // full corpus: 4 docs; docs 8, 9 depart. 'merge' lives in both
    // splits, 'window' only in the remainder, 'vector' ONLY in the
    // departing docs (df_after must hit 0), 'hash' nowhere (all-zero
    // row)
    val docs = Seq(
      (1L, "merge window window"),
      (2L, "window merge"),
      (8L, "merge vector"),
      (9L, "vector vector merge")
    ).toDF("doc_id", "text")
    val terms = Seq("merge", "window", "vector", "hash")
    val dfFull = docs.select(col("doc_id"), explode(array_distinct(
        ops.TextOps.tokensNonEmpty(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val statsFull = docs
      .select(size(ops.TextOps.tokensNonEmpty(col("text"))).as("len"))
      .agg(count(lit(1)).as("n"), sum(col("len").cast("long")).as("suml"))
    val got = ops.TextOps.searchIndexForgetOn(spark, dfFull, statsFull,
        docs.filter(col("doc_id") % 10 >= 8), terms)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // remainder: docs 1, 2 → n_after 2, suml_after 3 + 2 = 5
    assert(got == Seq(
      ("hash", 0L, 0L, 0L, 2L, 5L),
      ("merge", 4L, 2L, 2L, 2L, 5L),
      ("vector", 2L, 2L, 0L, 2L, 5L),
      ("window", 2L, 0L, 2L, 2L, 5L)),
      s"planted decrement drifted: $got")
  }

  test("dedup eval: planted near-dup found by both stages, " +
      "dup-free corpus yields defined zeros") {
    import spark.implicits._
    val txt = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val docs = Seq(
      (1L, txt),
      (2L, txt + " extra tail words here"),
      (3L, "completely different content with nothing shared at all " +
        "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp")
    ).toDF("doc_id", "text")
    val got = ops.DedupOps.dedupEvalPrOn(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    val band = got.find(_._1 == "band").get
    val est = got.find(_._1 == "minhash_est").get
    assert(band._3 == 1L, s"exactly one planted true pair: $got")
    assert(band._2 >= 1L && band._4 == 1L,
      s"banding must surface the planted near-identical pair: $got")
    assert(est._4 == 1L,
      s"the 32-hash estimate must predict the planted pair: $got")
    assert(band._6 == 1.0 && est._6 == 1.0, s"recall must be 1: $got")
    // dup-free corpus: zero counts with DEFINED 0.0 metrics (the
    // empty-pool coalesce path, not NULL/NaN)
    val none = ops.DedupOps.dedupEvalPrOn(Seq(
      (1L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj kkkk"),
      (2L, "mmmm nnnn oooo pppp qqqq rrrr ssss tttt uuuu vvvv wwww"))
      .toDF("doc_id", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(none.map(_._1) == Seq("band", "minhash_est"))
    assert(none.forall(t => t._3 == 0L && t._4 == 0L &&
      t._5 == 0.0 && t._6 == 0.0), s"degenerate rows drifted: $none")
  }

  test("modularity eval: hand-computed Q on two bridged triangles, " +
      "judging the served LPA labeling") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} bridged by edge 3-4:
    // m = 7 undirected, E = 14 symmetric rows. Synchronous LPA with
    // the (count desc, label asc) tie-break converges to communities
    // {1,2,3}->1 and {4,5,6}->3 in 3 iterations (hand-traced); each
    // has L_c = 6 directed intra rows and d_c = 7, so
    // Q = 2*(6*14 - 49)/14^2 = 70/196 = 0.357143 (round 6)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = ops.Analytics.lpaLabelsOn(edges)
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"LPA labeling drifted: $lab")
    val got = ops.Analytics.modularityOn(edges, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((6L, 2L, 7L, 0.357143)),
      s"hand-computed modularity drifted: $got")
  }

  test("audio ingest verdict: planted duplicate rejects, pigeonhole " +
      "evader admits, frame-count stratification and buckets load-bearing") {
    import spark.implicits._
    // one frozen family at nf = 9: bits = 8, block width (9+2)/4 = 2
    val famA = 0xA5L // 1010_0101
    def blocksOf(afp: Long, nf: Int): Seq[(Int, Long)] = {
      val bw = (nf - 1 + 3) / 4
      (0 until 4).map(b => b -> ((afp >> (b * bw)) & ((1L << bw) - 1)))
    }
    val frozen = blocksOf(famA, 9)
      .map { case (blk, v) => (9L, blk, v, famA, 3L) }
      .toDF("nf", "blk", "val", "fam_afp", "keep_id")
    val batch = Seq(
      (80L, 9L, famA), // exact family hit -> hamming 0, reject
      // flips in blocks 0 and 3; blocks 1, 2 still collide ->
      // candidate, hamming 2 <= 3 -> reject
      (81L, 9L, famA ^ (1L << 1) ^ (1L << 7)),
      // one flip in EVERY 2-bit block: hamming 4 exceeds the
      // threshold AND evades the 4-block pigeonhole -> admit
      (82L, 9L, famA ^ 1L ^ (1L << 2) ^ (1L << 4) ^ (1L << 6)),
      // the SAME fingerprint at a different frame count must NOT
      // collide — the nf stratification is load-bearing
      (83L, 13L, famA)
    ).toDF("media_id", "nf", "afp")
    val got = ops.MultimodalOps.audioAppendOn(frozen, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getString(4))).toSeq
    assert(got === Seq(
      (80L, 1L, 1L, Some(0L), "reject"),
      (81L, 1L, 1L, Some(2L), "reject"),
      (82L, 0L, 0L, None, "admit"),
      (83L, 0L, 0L, None, "admit")))
    // wrong-bucket control: shifted frozen vals must change the answer
    val badFrozen = frozen.withColumn("val", col("val") + 1L)
    val bad = ops.MultimodalOps.audioAppendOn(badFrozen, batch)
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    assert(bad != got.map(t => (t._1, t._5)).toSet,
      "control: shifted frozen buckets not visible in the result")
  }

  test("t-closeness: hand-computed EMD — mirror class 0, both tails " +
      "0.5, constant attribute guarded") {
    import spark.implicits._
    // global: band0 = 3, band1 = 3 (N = 6, m = 2, cumg = [3, 6]).
    // A mirrors the global distribution exactly -> EMD 0 (meets);
    // B skews entirely to the low tail, C to the high tail -> both
    // |cum diffs| = [6, 0] -> EMD = 6/(2*6*1) = 0.5 (violate) —
    // the leak k- and l-style gates cannot see (B and C both have
    // 2 members and would pass a k=2 gate)
    val cust = Seq(
      (1, "X", 500.0), (1, "X", 1500.0),
      (2, "Y", 500.0), (2, "Y", 600.0),
      (3, "Z", 1500.0), (3, "Z", 1600.0)
    ).toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val got = ops.EtlParity.tClosenessOn(cust).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1, "X", 2L, 0.0, true),
      (2, "Y", 2L, 0.5, false),
      (3, "Z", 2L, 0.5, false)), s"hand-computed EMD drifted: $got")
    // a constant sensitive attribute has no m-1 normalizer — loud
    val ex = intercept[IllegalArgumentException] {
      ops.EtlParity.tClosenessOn(Seq((1, "X", 100.0), (2, "Y", 200.0))
        .toDF("c_nationkey", "c_mktsegment", "c_acctbal")).collect()
    }
    assert(ex.getMessage.contains("at least 2 global sensitive bands"))
  }

  test("video near-dup: hand-computed jaccard, both verdicts, " +
      "per-hash cap rule visible") {
    import spark.implicits._
    // A{1,2,3,4} B{3,4,5,6}: J = 2/6 → neardup.
    // E = {1} ∪ {100..138}: (A,E) J = 1/43 ≈ 0.0233 → distinct.
    // C{99}: shares nothing → absent from the output entirely.
    val frames = (
      Seq(1L, 2L, 3L, 4L).map(("vidA", _)) ++
      Seq(3L, 4L, 5L, 6L).map(("vidB", _)) ++
      (Seq(1L) ++ (100L to 138L)).map(("vidE", _)) ++
      Seq(("vidC", 99L))
    ).toDF("source", "dhash")
    val got = ops.MultimodalOps.videoNearDupOn(frames).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getString(6)))
      .toSeq
    assert(got == Seq(
      ("vidA", "vidB", 2L, 4L, 4L, 0.333333, "neardup"),
      ("vidA", "vidE", 1L, 4L, 40L, 0.023256, "distinct")),
      s"hand-computed pairs drifted: $got")
    // cap rule: 65 videos share hash 777; the cap keeps the first 64
    // by source order, so the lexicographically-last video's 777 row
    // is dropped — its only surviving pair evidence is hash 888,
    // while the kept 64 form exactly C(64,2) full-strength pairs
    val srcs = (0 until 65).map(i => f"w$i%02d")
    val capFrames = (srcs.map((_, 777L)) ++
      Seq((srcs.head, 888L), (srcs.last, 888L))).toDF("source", "dhash")
    val capped = ops.MultimodalOps.videoNearDupOn(capFrames).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val last = srcs.last
    val lastPairs = capped.filter(t => t._2 == last || t._1 == last)
    assert(lastPairs.toSeq == Seq((srcs.head, last, 1L)),
      s"capped-out video must only pair via its uncapped hash: " +
        s"${lastPairs.toSeq}")
    assert(capped.length == 64 * 63 / 2 + 1,
      s"kept buckets must form exactly C(64,2) pairs + the 888 pair: " +
        s"${capped.length}")
  }
}
