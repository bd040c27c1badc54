package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one per-key ranking tail, the Spark twin of
  * [[graft.oracle.DuckSql.topK]]: every registered per-key top-k (ANN
  * and retrieval rank lists, per-document terms, per-stratum samples,
  * per-group relational top-k) cuts through [[topK]], so its rank type,
  * numbering and plan shape are stated once.
  */
object Ranking {

  /** `df`'s rows whose `row_number()` within `partition` in `order` is
    * at most `k`, numbered 1.. in a LONG column `rank` appended last.
    * `order` must end with a key unique within a partition: ties beyond
    * it have no defined winner, and the oracles could not match them.
    * Spark plans the cut as a `WindowGroupLimit` on each side of the
    * partition exchange, so no input partition forwards more than `k`
    * rows per key.
    */
  def topK(df: DataFrame, partition: String, order: Seq[Column], k: Int): DataFrame =
    df.withColumn("rank",
        row_number().over(Window.partitionBy(partition).orderBy(order: _*)).cast("long"))
      .filter(col("rank") <= k)
}
