package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Valuation

/** The reference's cleanse stage (`/root/reference/one_one_one_rule/
  * transform_valuation.py:100-149`) as one pure `DataFrame => DataFrame`:
  *
  *   E10 normalize ticker → F1 drop null/empty → D1 keep-first dedup →
  *   pandera-equivalent double coercion (E1, all 11 numeric columns) →
  *   F3 ±inf→null → F2 null-out non-positive price/market_cap →
  *   F3 sector ""/null → "Unknown".
  *
  * Scale notes:
  *  - The only wide dependency is the keep-first dedup (one shuffle on
  *    the key). Everything else is a narrow, codegen'd projection.
  *  - pandas' `keep="first"` is input-order defined; Spark has no input
  *    order, so the caller passes an explicit `orderBy` column
  *    (SURVEY.md §7.3 risk 3). When the data genuinely has no order
  *    column, pass `monotonically_increasing_id()` *before* any shuffle.
  */
object Cleanse {

  val numericCols: Seq[String] = Seq(
    "price", "market_cap", "trailing_pe", "forward_pe", "trailing_eps",
    "forward_eps", "earnings_growth", "peg_ratio", "book_value_per_share",
    "target_mean_price")

  /** Keep-first dedup (D1, `transform_valuation.py:113`): first row per
    * key under `order` wins. row_number (not dropDuplicates) so the
    * winner is deterministic.
    */
  def keepFirst(df: DataFrame, key: String, order: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full cleanse stage. `order` resolves keep-first ties. */
  def apply(df: DataFrame, order: Column): DataFrame = {
    val normalized = df
      .withColumn("ticker", Valuation.normalizeTicker(col("ticker")))
      .filter(col("ticker").isNotNull && col("ticker") =!= "")
    val deduped = keepFirst(normalized, "ticker", order)
    // one projection per dependency layer: the fix-ups read the coerced
    // columns, so they are a second projection over the first
    val coerced = deduped.withColumns(ListMap.from(
      numericCols.filter(deduped.columns.contains)
        .map(c => c -> Valuation.safeDouble(col(c)))))
    coerced.withColumns(ListMap(
      "price" -> when(col("price") <= 0, lit(null).cast("double"))
        .otherwise(col("price")),
      "market_cap" -> when(col("market_cap") <= 0, lit(null).cast("double"))
        .otherwise(col("market_cap")),
      "sector" -> when(col("sector").isNull || col("sector") === "",
        lit("Unknown")).otherwise(col("sector"))))
  }
}
