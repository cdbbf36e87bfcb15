package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact top-k per group: one `row_number` window over the group,
  * filtered to `rk <= k`.
  *
  * One window suffices even for a hot group key (a 5-value market
  * segment, one query vector against the whole corpus): Spark's
  * InferWindowGroupLimit rule rewrites a rank filter with a literal
  * k up to `spark.sql.optimizer.windowGroupLimitThreshold` (1000) into
  * a map-side partial `WindowGroupLimit` below the exchange, so each map
  * partition shuffles at most k rows per group and the final window
  * ranks at most (map partitions × k) rows per group. A salted first
  * phase over (group, hash(id) mod n) would only multiply those rows by
  * n and add an exchange and a sort. TopKSpec pins both the rows and the
  * partial limit. */
object TopK {

  /** The rows ranked 1..k in each `group` by `score` (a sort order such
    * as `col("sim").desc`), ties broken by `id` ascending: the input
    * columns plus the int rank `rk`. */
  def perGroup(df: DataFrame, group: Seq[Column], score: Column, id: Column, k: Int): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy(group: _*).orderBy(score, id)))
      .filter(col("rk") <= k)
}
