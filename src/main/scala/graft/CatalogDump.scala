package graft
/** Prints the query catalog as markdown (used to generate QUERIES.md). */
object CatalogDump {
  def main(args: Array[String]): Unit = {
    // the trainer-derived oracles are GENERATED from trained constants
    // (SimilarityOps.generatedOracles); run one training at the
    // smallest SF so the catalog reports them the way a Verify run
    // produces them, not as rows-only
    val spark = Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries("sim_kmeans_sizes")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("sim_pca_project")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("sim_pq_topk")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("dedup_semantic_lsh")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("dedup_semantic_append_auto")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("text_bpe_train")(spark, "/root/testdata/sf0.001").count()
    SparkEntry.queries("sim_ivf_append")(spark, "/root/testdata/sf0.001").count()
    val oracles = SparkEntry.oracleSql.keySet
    spark.stop()
    // Write the ENTIRE QUERIES.md directly (UTF-8, atomic overwrite) —
    // stdout scraping shipped a duplicated table header in r12 and
    // mangles non-ASCII under the forked JVM's platform charset
    val out = new StringBuilder
    def line(s: String): Unit = { out ++= s; out += '\n' }
    line("# QUERIES — graded query catalog")
    line("")
    line("Generated by `runMain graft.CatalogDump` (writes this file directly).")
    line("Every query is an entry in `SparkEntry.queries`; DuckDB-oracled ones")
    line("hash-match `oracleSql` on the sf0.01 testdata (and are additionally")
    line("checked at sf0.001/sf0.1 locally).")
    line("")
    line("| query | oracle | module |")
    line("|---|---|---|")
    // module attribution comes from SparkEntry.moduleInventory — the
    // ONE registration point — not a hand-duplicated parallel list
    // that silently mislabeled queries of any newly added module
    // (review finding)
    val modules = SparkEntry.moduleInventory
    val generated =
      ops.SimilarityOps.generatedOracleKeys ++ ops.DedupOps.generatedOracleKeys ++
        ops.TextOps.generatedOracleKeys
    for (q <- SparkEntry.queries.keySet.toSeq.sorted) {
      val mod = modules.find(_._2.contains(q)).map(_._1).getOrElse("???")
      // the generated label must also CHECK the oracle exists: a
      // declined/ambiguous trainer splice would otherwise print
      // "DuckDB (generated)" for an oracle-less query and contradict
      // the total (review finding)
      val o =
        if (generated.contains(q) && oracles.contains(q)) "DuckDB (generated)"
        else if (oracles.contains(q)) "DuckDB"
        else "rows-only"
      line(s"| `$q` | $o | $mod |")
    }
    // temp-file + ATOMIC_MOVE so a killed dump can never leave a
    // truncated QUERIES.md behind (review finding)
    val target = java.nio.file.Paths.get("QUERIES.md").toAbsolutePath
    // This is a REGENERATION of the repo's catalog, never a creation:
    // the path resolves against the process CWD, so a dump launched
    // from any other directory would silently fork a fresh QUERIES.md
    // there instead of updating the real one (ADVICE r13) — fail loud.
    require(java.nio.file.Files.exists(target),
      s"QUERIES.md not found at $target — run CatalogDump from the repo " +
        "root (this regenerates the existing catalog, it does not create one)")
    val tmp = java.nio.file.Files.createTempFile(
      target.getParent, ".QUERIES", ".tmp")
    java.nio.file.Files.write(tmp,
      out.result().getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"[catalogdump] wrote $target: ${SparkEntry.queries.size} queries")
  }
}
