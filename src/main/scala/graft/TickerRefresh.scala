package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** The reference's standalone ticker-refresh job
  * (`/root/reference/scripts/update_nasdaq100_tickers.py:20-53`): pull
  * the constituents table (HTML else CSV fallback), normalize (trim /
  * upper / '.'→'-'), dedupe, sort, and write a one-column CSV headed
  * exactly `Symbol` — the file the main pipeline later reads as its S2
  * fallback. Reuses the S1/S2 scan + E10 normalization the engine
  * already verifies; this job adds the writer and the row-count report.
  */
object TickerRefresh {

  /** Standalone entry: `sbt "runMain graft.TickerRefresh <fallbackCsv>
    * <outputCsv> [htmlFile]"` — mirrors the reference script's CLI
    * shape (fetch page else fallback file, write, report count). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TickerRefresh <fallbackCsv> <outputCsv> [htmlFile]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val html = args.lift(2).map(p =>
        java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      refresh(spark, html, csvFallback = args(0), outputPath = args(1))
    } finally spark.stop()
  }

  /** Refresh `outputPath` from the sources; returns the ticker count
    * (the reference prints it, `update_nasdaq100_tickers.py:53`). */
  def refresh(spark: SparkSession, html: Option[String],
      csvFallback: String, outputPath: String): Long = {
    // loadTickers already yields normalized, distinct, sorted tickers,
    // as a local frame: the write and the count re-run no resolve
    val tickers: DataFrame = Sources.loadTickers(spark, html, csvFallback)
    Sources.writeSingleCsv(tickers.select(col("ticker").as("Symbol")),
      outputPath)
    val n = tickers.collect().length.toLong
    println(s"Updated $outputPath with $n tickers")
    n
  }
}
