package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Primary-key dedup (SURVEY.md §2.4 A3).
  *
  * The reference dedups at the sink: `createMany({skipDuplicates:
  * true})` over a `LALVOTERID` unique index keeps the FIRST inserted
  * row and silently drops later ones (load.ts:357-360). Batch
  * equivalent: first-wins by an explicit deterministic order — plain
  * `dropDuplicates` keeps an ARBITRARY row, which is only acceptable
  * when duplicates are known-identical.
  *
  * Re-load of a partially-loaded file (sink-time incremental dedup,
  * SURVEY.md §7.4) is `againstExisting`: anti-join the incoming rows
  * on keys already in the sink.
  *
  * Scale: both forms are one shuffle on the key. First-wins uses a
  * window rather than groupBy+struct-min so the full row survives
  * without re-joining.
  */
object Dedup {

  /** First-wins dedup: keep the first row per key in `order`. */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental sink dedup: drop incoming rows whose key already
    * exists in the sink (ON CONFLICT DO NOTHING re-run semantics). */
  def againstExisting(incoming: DataFrame, existing: DataFrame,
      key: String): DataFrame =
    incoming.join(existing.select(col(key)).distinct(), Seq(key), "left_anti")
}
