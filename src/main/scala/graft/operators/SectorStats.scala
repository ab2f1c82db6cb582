package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sector-median statistics (SURVEY.md §2.5 A1/A2 + §2.6 J1/J2/J3):
  * per-sector exact medians of trailing/forward P/E with overall-median
  * fallback, attached to every row.
  *
  * Reference: `transform_valuation.py:216-219` (groupby medians + overall
  * medians), `:235-236` (`map` lookup = broadcast left join; `fillna` =
  * coalesce with the overall scalar).
  *
  * Physical strategy (chosen for 100 TB, not just sf0.1):
  *  - `groupBy(sector).agg(median)` — one shuffle whose *input* is only
  *    (sector, pe, fpe) after column pruning; output is #sectors rows.
  *  - the overall medians come from the same tiny aggregate (weighted
  *    median of group medians would be wrong, so we aggregate the full
  *    column once more — still only the pruned columns move).
  *  - the per-sector result is **broadcast** back (build side ~dozens of
  *    rows), so the enrich join is shuffle-free on the big side.
  *
  * A `Window.partitionBy("sector")` formulation would fuse A1+J1 but
  * forces the *entire* table through a shuffle on a low-cardinality key
  * (sector skew → straggler partitions at scale); the broadcast form
  * shuffles only the pruned stats columns. Exact median itself buffers
  * all group values (Catalyst `Percentile` is a TypedImperativeAggregate)
  * — fine for ~100-row parity data and required for oracle equality; at
  * true 100 TB swap `exact = false` to use `approx_percentile` with tight
  * accuracy (documented trade-off, same API).
  */
object SectorStats {

  /** Adds sector_median_pe, pe_median_used, sector_median_fpe,
    * fpe_median_used. */
  def enrich(df: DataFrame, exact: Boolean = true): DataFrame = {
    val med: String => org.apache.spark.sql.Column =
      if (exact) c => median(col(c))
      else c => percentile_approx(col(c), lit(0.5), lit(100000))

    val perSector = df.groupBy("sector").agg(
      med("trailing_pe").as("sector_median_pe"),
      med("forward_pe").as("sector_median_fpe"))

    val overall = df.agg(
      med("trailing_pe").as("overall_median_pe"),
      med("forward_pe").as("overall_median_fpe"))

    df.join(broadcast(perSector), Seq("sector"), "left")
      .crossJoin(broadcast(overall))
      .withColumns(ListMap(
        "pe_median_used" ->
          coalesce(col("sector_median_pe"), col("overall_median_pe")),
        "fpe_median_used" ->
          coalesce(col("sector_median_fpe"), col("overall_median_fpe"))))
      .drop("overall_median_pe", "overall_median_fpe")
  }
}
