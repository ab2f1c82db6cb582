package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Clock
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{LocalDrive, Sources}

/** The reference's complete main (`/root/reference/one_one_one_rule/
  * pipeline_job.py:83-186`) as one orchestrated engine job:
  *
  *   1. derive as_of_date (configured tz) / run_ts_utc   (E11)
  *   2. EXTRACT  tickers: HTML page else CSV fallback    (S1/S2)
  *   3. TRANSFORM fetch → cleanse → valuation → output   (S3, §2.2–2.8)
  *   4. LOAD     latest CSV + optional dated byte copy   (S4)
  *   5. optional upsert-by-name upload (S5, LocalDrive analog) and a
  *      dated per-run log file (S6, `pipeline_job.py:98-101,160-178`)
  */
object Job {

  /** @param fetch     snapshot fetcher (ticker → Snapshot), called once
    *                  per distinct ticker; injected so runs are hermetic
    *                  — the production impl calls the market-data API
    *                  per partition
    * @param html      pre-fetched constituents page, if any
    * @param csvPath   ticker CSV fallback path
    * @param driveRoot when set, the latest CSV is upserted-by-name into
    *                  this LocalDrive root with sheet conversion, like
    *                  the reference's `upload_to_drive` branch
    * @return the final ordered valuation rows as a local frame (also
    *         written to `settings.outputDir`); acting on it re-runs no
    *         stage and calls `fetch` no more
    */
  def run(spark: SparkSession, settings: Settings, clock: Clock,
      fetch: String => Sources.Snapshot,
      html: Option[String], csvPath: String,
      driveRoot: Option[java.nio.file.Path] = None): DataFrame = {
    val asOf = Settings.businessDate(settings, clock)
    val ts = Settings.runTsUtc(clock)
    val log = RunLog.fromSettings(settings, asOf, clock)
    log.foreach(_.info(s"Starting pipeline run as_of_date=$asOf run_ts_utc=$ts"))

    // each stage runs once and hands the next a local frame, so every
    // perf line times the stage it names, the fetcher is called once per
    // ticker, and the dated copy is a byte copy of the latest file.
    // The fundamentals are driver-sized, so the transform plans them as
    // one partition: its window, medians and sort need no exchange.
    val tickers = Perf.timed("extract_tickers")(
      Sources.loadTickers(spark, html, csvPath))
    val fundamentals = Perf.timed("fetch_fundamentals")(
      Sources.collectLocal(Sources.fetchSnapshots(tickers, fetch)))
    val out = Perf.timed("transform_valuation")(Sources.collectLocal(
      Pipeline.run(fundamentals.coalesce(1), col("ticker"),
        settings.thresholds, asOf, ts).orderBy("ticker")))

    val latestPath = s"${settings.outputDir}/${settings.latestName}"
    Perf.timed("load_csv") {
      Sources.writeSingleCsv(out, latestPath)
      if (settings.writeDatedCopy)
        Files.copy(Paths.get(latestPath),
          Paths.get(s"${settings.outputDir}/${Settings.datedName(asOf)}"),
          StandardCopyOption.REPLACE_EXISTING)
    }
    log.foreach(_.info(s"Wrote $latestPath"))
    driveRoot.foreach { root =>
      val id = Perf.timed("upload_drive")(
        LocalDrive.uploadCsv(spark, java.nio.file.Paths.get(latestPath),
          root, settings.latestName))
      log.foreach(_.info(s"Uploaded ${settings.latestName} (ID: $id)"))
    }
    log.foreach(_.info("Pipeline run complete"))
    out
  }
}
