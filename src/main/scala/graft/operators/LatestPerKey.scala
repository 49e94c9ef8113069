package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** "Latest record per key" — the reference's single most common
  * operator (ROW_NUMBER() OVER (PARTITION BY client ORDER BY date
  * DESC, id DESC) = 1 appears 68× across the line-list queries, e.g.
  * Tx_Curr_LineList.sql:64).
  *
  * Scale: one shuffle on the partition key, then a sort within
  * partitions — Spark's window exec with a rank-limit pushes the
  * running row_number filter into the sort (WindowGroupLimit), so the
  * full per-key history is never materialized. This beats the
  * join-against-max alternative (2 shuffles) at any scale.
  */
object LatestPerKey {
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
}
