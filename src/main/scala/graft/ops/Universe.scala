package graft.ops

import graft.util.Exact
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time universe generation
  * (universe_generation_pipeline.py:144-179): month bucket → per-(month,
  * asset) mean value → row_number rank (pandas `rank(method='first')`) →
  * top-N → relational universe table (month, id).
  * Survivorship-bias-free by construction: each month ranks only on data
  * from that month.
  */
object Universe {

  /** (month, id, avg_value, rn) for rn <= n. One groupBy shuffle + one
    * month-partitioned window. */
  def topNPerMonth(df: DataFrame, date: String, id: String, value: String,
      n: Int): DataFrame = {
    val m = df.groupBy(date_trunc("month", col(date)).as("month"), col(id))
      .agg(Exact.exactAvg(col(value)).as("avg_value"))
    val w = Window.partitionBy("month").orderBy(col("avg_value").desc, col(id))
    m.withColumn("rn", row_number().over(w).cast("long")).filter(col("rn") <= n)
  }

  /** Relational universe (month, id) — the exploded form of the
    * reference's {"YYYY-MM-01": [ids]} JSON map. */
  def universeTable(df: DataFrame, date: String, id: String, value: String,
      n: Int): DataFrame =
    topNPerMonth(df, date, id, value, n).select(col("month"), col(id))
}
