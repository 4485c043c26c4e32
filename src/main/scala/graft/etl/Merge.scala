package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE-style upsert over parquet (the engine-level generalization of
  * the reference's manifest update, S11/load.ts:287-294): updates win
  * on key collision, unmatched existing rows survive, brand-new keys
  * append. One full-outer-shaped anti-join + union — a single shuffle
  * on the key; at 100 TB, partition-restrict `existing` first so only
  * touched partitions rewrite (pair with dynamic partition
  * overwrite).
  */
object Merge {

  /** updates ∪ (existing ∖ keys(updates)) — updates take precedence. */
  def upsert(existing: DataFrame, updates: DataFrame, key: String): DataFrame = {
    val kept = existing.join(
      updates.select(col(key)).distinct(), Seq(key), "left_anti")
    updates.unionByName(kept.select(updates.columns.toIndexedSeq.map(col): _*))
  }
}
