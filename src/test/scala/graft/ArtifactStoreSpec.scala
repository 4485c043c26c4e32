package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The content-addressed artifact contract (VERDICT r4 #5): build
  * once per input fingerprint, then SERVE — including from a cold JVM
  * (simulated by clearing the in-memory model map: the second serve
  * must come from the parquet store, not a retrain). */
class ArtifactStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("kmeans model: build once, cold-serve from the store, identical model") {
    TestSpark.withArtifactRoot { _ =>
      ops.SimilarityOps.clearKmeansMemoryCache()
      val before = ArtifactStore.builds
      val first = ops.SimilarityOps.kmeansSizes(spark, sf).collect().toSeq
      assert(ArtifactStore.builds === before + 1, "first call must build")
      // cold JVM simulation: drop the in-memory model, keep the store
      ops.SimilarityOps.clearKmeansMemoryCache()
      val second = ops.SimilarityOps.kmeansSizes(spark, sf).collect().toSeq
      assert(ArtifactStore.builds === before + 1,
        "second call must serve from the store, not retrain")
      assert(first === second)
      // and the trained-centroid read path serves the same index
      assert(ops.SimilarityOps.ivfTrained(spark, sf).count() > 0)
      assert(ArtifactStore.builds === before + 1)
    }
  }

  test("pq codebooks: build once, cold-serve from the store, identical result") {
    TestSpark.withArtifactRoot { _ =>
      ops.SimilarityOps.clearPqMemoryCache()
      val before = ArtifactStore.builds
      val first = ops.SimilarityOps.pqTopk(spark, sf).collect().toSeq
      // two artifacts on a cold store: the trained codebooks AND the
      // corpus code assignment (the PQ index proper)
      assert(ArtifactStore.builds === before + 2, "first call must build")
      ops.SimilarityOps.clearPqMemoryCache()
      val second = ops.SimilarityOps.pqTopk(spark, sf).collect().toSeq
      assert(ArtifactStore.builds === before + 2,
        "second call must serve stored codebooks AND codes, not retrain")
      assert(first === second)
    }
  }

  test("near-dup cluster map: one build feeds all three consumers") {
    TestSpark.withArtifactRoot { _ =>
      val before = ArtifactStore.builds
      val a = ops.DedupOps.clusters(spark, sf).count()
      assert(ArtifactStore.builds === before + 1)
      val b = ops.DedupOps.canonicalByQuality(spark, sf).count()
      val c = ops.DedupOps.leakageSafeSplit(spark, sf).count()
      assert(a > 0 && b > 0 && c > 0)
      assert(ArtifactStore.builds === before + 1,
        "consumers after the first must serve the stored cluster map")
    }
  }

  test("a partitioned artifact is published complete under dynamic partition overwrite") {
    TestSpark.withArtifactRoot { root =>
      ops.withConfs(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        val before = ArtifactStore.builds
        def serve() = ArtifactStore.parquet(spark, "by_parity", s"$sf/region.parquet",
            partitionColumns = Seq("parity")) {
          spark.range(6).select(col("id"), (col("id") % 2).as("parity"))
        }
        assert(serve().count() === 6)
        assert(serve().count() === 6)
        val addresses = new java.io.File(root, "by_parity").listFiles().toSeq
        assert(addresses.size === 1, addresses)
        assert(new java.io.File(addresses.head, "_SUCCESS").exists(),
          "the published artifact must carry its completeness marker")
        assert(ArtifactStore.builds === before + 1, "the second serve must not rebuild")
      }
    }
  }

  test("a rebuilt address is read afresh, not through the previous build's listing") {
    TestSpark.withArtifactRoot { root =>
      def serve() = ArtifactStore.parquet(spark, "ids", s"$sf/region.parquet") {
        spark.range(5).toDF("id")
      }
      assert(serve().count() === 5)
      val address = new java.io.File(root, "ids").listFiles().head.toPath
      val s = java.nio.file.Files.walk(address)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
      val before = ArtifactStore.builds
      assert(serve().count() === 5)
      assert(ArtifactStore.builds === before + 1)
    }
  }

  test("an isolated artifact root restores a preset graft.artifacts.dir") {
    val key = "graft.artifacts.dir"
    val prev = sys.props.get(key)
    val preset = java.nio.file.Files.createTempDirectory("graft-art-preset").toString
    sys.props(key) = preset
    try {
      TestSpark.withArtifactRoot { dir =>
        assert(dir !== preset)
        assert(ArtifactStore.root === dir)
      }
      assert(ArtifactStore.root === preset)
      intercept[IllegalStateException] {
        TestSpark.withArtifactRoot[Unit](_ => throw new IllegalStateException("body"))
      }
      assert(ArtifactStore.root === preset)
    } finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  test("fingerprint changes when the input content changes") {
    val tmp = java.nio.file.Files.createTempDirectory("fp_test").toString
    val df = spark.range(10).select(col("id"))
    df.write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val fp1 = ArtifactStore.fingerprint(spark, s"$tmp/t.parquet")
    assert(fp1 === ArtifactStore.fingerprint(spark, s"$tmp/t.parquet"))
    Thread.sleep(1100) // mtime granularity can be one second
    spark.range(20).select(col("id"))
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val fp2 = ArtifactStore.fingerprint(spark, s"$tmp/t.parquet")
    assert(fp1 !== fp2, "republished input must change the address")
  }
}
