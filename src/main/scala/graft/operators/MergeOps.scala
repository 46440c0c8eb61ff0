package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge semantics — SURVEY.md §1.4 / A4.
  *
  * The reference's sinks are read-modify-write JSON merges: re-read the
  * file, insert new keys, last write wins (reference:
  * libs/export/authors.js:46-56). At 100 TB that becomes a distributed
  * union + per-key last-wins dedup — one shuffle on the key, no driver
  * state.
  */
object MergeOps {

  /** Merge `delta` into `state` by `keys`; rows from `delta` win on
    * conflict. Columns are aligned by name (`unionByName`). */
  def mergeLastWins(state: DataFrame, delta: DataFrame,
                    keys: Seq[String]): DataFrame = {
    val pri = "__merge_priority"
    val unioned = state.withColumn(pri, lit(0))
      .unionByName(delta.withColumn(pri, lit(1)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(pri).desc)
    unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop(pri, "__rn")
  }
}
