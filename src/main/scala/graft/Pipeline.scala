package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Valuation => V, ValuationThresholds}
import graft.operators.{Cleanse, SectorStats}

/** The reference's main query (SURVEY.md §3.1) as a lazy Catalyst plan:
  * cleanse → sector stats → valuation expressions → ordered output.
  *
  * The whole valuation stage is a single codegen'd projection over the
  * enriched table — the reference's four Python row-loops
  * (`transform_valuation.py:226-230,240-249,293,306`) collapse into one
  * whole-stage-codegen span with zero extra shuffles.
  */
object Pipeline {

  /** Valuation stage (`apply_valuation`, `transform_valuation.py:214-309`).
    * Input must already be cleansed; adds the 13 derived columns.
    */
  def applyValuation(df: DataFrame,
      th: ValuationThresholds = ValuationThresholds()): DataFrame = {
    val enriched = SectorStats.enrich(df)
    // one projection per dependency layer (each layer reads only the
    // columns of the layers before it); ListMap keeps the column order
    // the reference's chained assignments produce
    val scalars = enriched.withColumns(ListMap(
      "graham_value" ->
        V.grahamValue(col("trailing_eps"), col("book_value_per_share")),
      "peg_ratio_source" ->
        V.pegSource(col("peg_ratio"), col("trailing_pe"), col("earnings_growth")),
      "peg_ratio" ->
        V.pegValue(col("peg_ratio"), col("trailing_pe"), col("earnings_growth"))))
    val fair = scalars.withColumns(ListMap(
      "fair_value" ->
        V.fairValue(col("graham_value"), col("target_mean_price"),
          col("trailing_eps"), col("pe_median_used"),
          col("forward_eps"), col("fpe_median_used")),
      "fair_value_source" ->
        V.fairValueSource(col("graham_value"), col("target_mean_price"),
          col("trailing_eps"), col("pe_median_used"),
          col("forward_eps"), col("fpe_median_used")),
      "margin_of_safety" ->
        V.marginOfSafety(col("graham_value"), col("price"))))
    val passes = fair.withColumns(ListMap(
      "peg_pass" -> V.pegPass(col("peg_ratio"), th),
      "pe_vs_sector_pass" ->
        V.peVsSectorPass(col("trailing_pe"), col("pe_median_used"), th),
      "margin_of_safety_pass" ->
        V.marginOfSafetyPass(col("margin_of_safety"), th)))
    passes.withColumns(ListMap(
      "valuation_hunter" ->
        V.valuationHunter(col("peg_pass"), col("pe_vs_sector_pass"),
          col("margin_of_safety_pass")),
      "valuation" -> V.classifyValuation(col("price"), col("fair_value"), th),
      "pct_diff" -> V.pctDiff(col("price"), col("fair_value"))))
      // drop BOTH forward-PE intermediates: the reference's output has
      // exactly the 29 ordered columns (`pipeline_job.py:22-61`) and
      // never materializes forward-PE medians; keeping sector_median_fpe
      // would leak a 30th column through buildOutput's passthrough tail
      .drop("fpe_median_used", "sector_median_fpe")
  }

  /** Output builder (P1+P2, `pipeline_job.py:22-61`): run metadata first,
    * fixed 28-column order, unknown extra columns pass through at the end.
    * `asOfDate`/`runTsUtc` are parameters, never wall-clock reads, so runs
    * are deterministic (SURVEY.md §7.3 risk 6).
    */
  val orderedCols: Seq[String] = Seq(
    "as_of_date", "run_ts_utc", "ticker", "company", "sector", "price",
    "peg_ratio", "peg_ratio_source", "trailing_pe", "sector_median_pe",
    "pe_median_used", "forward_pe", "earnings_growth", "trailing_eps",
    "forward_eps", "book_value_per_share", "graham_value",
    "margin_of_safety", "peg_pass", "pe_vs_sector_pass",
    "margin_of_safety_pass", "valuation_hunter", "fair_value",
    "fair_value_source", "valuation", "pct_diff", "currency", "market_cap",
    "target_mean_price")

  def buildOutput(df: DataFrame, asOfDate: String, runTsUtc: String): DataFrame = {
    val stamps = Map("as_of_date" -> lit(asOfDate), "run_ts_utc" -> lit(runTsUtc))
    val present = orderedCols.filter(c => stamps.contains(c) || df.columns.contains(c))
    val rest = df.columns.filterNot(orderedCols.contains)
    df.select(present.map(c => stamps.get(c).fold(col(c))(_.as(c))) ++
      rest.map(col): _*)
  }

  /** Full pipeline: raw fundamentals snapshot → 28-column valuation table.
    * `order` resolves keep-first dedup ties (D1).
    */
  def run(fundamentals: DataFrame, order: Column,
      th: ValuationThresholds = ValuationThresholds(),
      asOfDate: String = "2026-01-01",
      runTsUtc: String = "2026-01-01T00:00:00Z"): DataFrame =
    buildOutput(applyValuation(Cleanse(fundamentals, order), th), asOfDate, runTsUtc)

  /** Deterministic fundamentals snapshot synthesized from the `part`
    * table — stands in for the reference's yfinance network source (S3,
    * `transform_valuation.py:42-96`), which a hermetic engine replaces
    * with a table of record (SURVEY.md §2.1). The arithmetic is chosen to
    * exercise every branch of the valuation ladders (nulls, non-positive
    * values, fraction-vs-percent growth) and is mirrored verbatim in the
    * DuckDB oracle SQL (SparkEntry.fundamentalsSql).
    */
  def syntheticFundamentals(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(
      col("p_partkey"),
      // lower-case with '.' separators so the cleanse stage's E10
      // normalization (trim/upper/'.'→'-') has real work to do; '#key'
      // suffix keeps tickers unique (p_name has only 64 distinct values)
      concat(translate(col("p_name"), " ", "."), lit("#"), col("p_partkey"))
        .as("ticker"),
      col("p_name").as("company"),
      when(col("p_partkey") % 17 === 0, lit(null).cast("string"))
        .otherwise(col("p_brand")).as("sector"),
      when(col("p_partkey") % 19 === 0, -col("p_retailprice"))
        .otherwise(col("p_retailprice")).as("price"),
      when(col("p_partkey") % 23 === 0, lit(0.0))
        .otherwise(col("p_retailprice") * 1000).as("market_cap"),
      lit("USD").as("currency"),
      when(col("p_partkey") % 5 === 0, lit(null).cast("double"))
        .otherwise(col("p_retailprice") / 3.0 + (col("p_size") % 13).cast("double"))
        .as("trailing_pe"),
      when(col("p_partkey") % 6 === 0, lit(null).cast("double"))
        .otherwise(col("p_retailprice") / 4.0 + (col("p_size") % 11).cast("double"))
        .as("forward_pe"),
      when(col("p_partkey") % 7 === 0, lit(null).cast("double"))
        .otherwise((col("p_size").cast("double") - 25.0) / 2.0).as("trailing_eps"),
      when(col("p_partkey") % 8 === 0, lit(null).cast("double"))
        .otherwise((col("p_size").cast("double") - 30.0) / 2.0).as("forward_eps"),
      when(col("p_partkey") % 4 === 0, lit(null).cast("double"))
        .when(col("p_partkey") % 4 === 1, (col("p_size") % 9).cast("double") / 10.0)
        .when(col("p_partkey") % 4 === 2, lit(5.0) + (col("p_size") % 20).cast("double"))
        .otherwise(lit(-0.1)).as("earnings_growth"),
      when(col("p_partkey") % 3 === 0, (col("p_size") % 5).cast("double") * 0.3)
        .otherwise(lit(null).cast("double")).as("peg_ratio"),
      when(col("p_partkey") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("p_retailprice") / 12.5).as("book_value_per_share"),
      when(col("p_partkey") % 9 === 0, col("p_retailprice") * 1.05)
        .otherwise(lit(null).cast("double")).as("target_mean_price"))
  }
}
