package graft

import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneId}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.sources.Sources

object JobSpec {
  /** Every ticker the counting fetcher was called with, one entry per
    * call. A static field, so fetch calls made inside Spark tasks land
    * here too. */
  val fetched = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The counting fetcher: a fixed snapshot per ticker. */
  def fetch(t: String): Sources.Snapshot = {
    fetched.add(t)
    Sources.Snapshot(t, s"$t Co", if (t == "MSFT") "Tech" else "Fin",
      Some(100.0 + t.length), Some(1e9), "USD", Some(20.0), Some(18.0),
      Some(4.0), Some(4.2), Some(0.12), None, Some(30.0), None)
  }
}

/** End-to-end of the orchestrated main: extract (CSV fallback) →
  * hermetic fetch → valuation → latest + dated CSV.
  */
class JobSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val clock =
    Clock.fixed(Instant.parse("2026-08-12T23:30:00Z"), ZoneId.of("UTC"))

  /** Calls per ticker since the last `fetched.clear()`. */
  private def fetchCalls: Map[String, Int] =
    JobSpec.fetched.asScala.toSeq.groupBy(identity).map { case (t, c) => t -> c.size }

  private def runJob(dir: Path, tickersCsv: String) = {
    Files.writeString(dir.resolve("tickers.csv"), tickersCsv)
    Job.run(spark, Settings(outputDir = s"$dir/out", timezone = "Asia/Bangkok"),
      clock, JobSpec.fetch, html = None, csvPath = s"$dir/tickers.csv")
  }

  test("an HTML-path run with a drive upload starts at most 7 Spark jobs, " +
      "and its plans shuffle nothing") {
    Scratch.scoped("graft_job_jobs") { dir =>
      val rows = (1 to 85).map(i => s"<tr><td> t.$i </td><td>Co $i</td></tr>").mkString
      val html = s"<table><tr><th>Ticker</th><th>Company</th></tr>$rows</table>"
      val (_, run) = QueryMetrics.measure(spark) {
        Job.run(spark, Settings(outputDir = s"$dir/out"), clock, JobSpec.fetch,
          html = Some(html), csvPath = s"$dir/absent.csv",
          driveRoot = Some(dir.resolve("drive")))
      }
      val plans = run.plans
      // extract 1, fetch 1, transform 3 (two broadcasts and the collect),
      // latest CSV 1, drive payload 1
      assert(run.jobs.size <= 7, s"${run.jobs.size} Spark jobs")
      assert(plans.exists(p => find(p)(_.isInstanceOf[WindowExec]).isDefined),
        "the transform's plan was not seen")
      val shuffles = plans.filter(p => find(p)(_.isInstanceOf[ShuffleExchangeExec]).isDefined)
      assert(shuffles.isEmpty, shuffles.mkString("\n"))
    }
  }

  test("a CSV-path run with a drive upload starts at most 7 Spark jobs: " +
      "the ticker CSV's header is read on the driver") {
    Scratch.scoped("graft_job_csv_jobs") { dir =>
      Files.writeString(dir.resolve("tickers.csv"), "Symbol\nAAPL\nMSFT\nbrk.b\n")
      val (out, run) = QueryMetrics.measure(spark) {
        Job.run(spark, Settings(outputDir = s"$dir/out"), clock, JobSpec.fetch,
          html = None, csvPath = s"$dir/tickers.csv",
          driveRoot = Some(dir.resolve("drive")))
      }
      // extract 1 (no header job), fetch 1, transform 3, latest CSV 1,
      // drive payload 1
      assert(run.jobs.size <= 7, s"${run.jobs.size} Spark jobs")
      assert(out.count() == 3)
    }
  }

  test("full job writes latest + dated CSVs with identical content") {
    Scratch.scoped("graft_job") { dir =>
      val out = runJob(dir, "Symbol\nAAPL\nMSFT\nbrk.b\nAAPL\n")

      // 3 distinct tickers (AAPL deduped, brk.b normalized)
      assert(out.count() == 3)
      assert(out.select("ticker").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("AAPL", "BRK-B", "MSFT"))
      // business date crossed midnight in Bangkok
      assert(out.select("as_of_date").first().getString(0) == "2026-08-13")

      val latest = Files.readString(
        dir.resolve("out/nasdaq100_valuations_latest.csv"))
      val dated = Files.readString(
        dir.resolve("out/nasdaq100_valuations_2026-08-13.csv"))
      assert(latest == dated && latest.linesIterator.size == 4)
      assert(latest.startsWith("as_of_date,run_ts_utc,ticker,"))
    }
  }

  test("one run calls the fetcher once per distinct ticker, and acting " +
      "on the returned frame calls it no more") {
    Scratch.scoped("graft_job_fetch") { dir =>
      JobSpec.fetched.clear()
      val out = runJob(dir, "Symbol\nAAPL\nMSFT\nbrk.b\nAAPL\n")
      assert(fetchCalls == Map("AAPL" -> 1, "BRK-B" -> 1, "MSFT" -> 1))
      assert(out.count() == 3)
      assert(out.collect().length == 3)
      assert(fetchCalls == Map("AAPL" -> 1, "BRK-B" -> 1, "MSFT" -> 1))
    }
  }

  test("a source with zero tickers throws before any fetch") {
    Scratch.scoped("graft_job_empty") { dir =>
      JobSpec.fetched.clear()
      val e = intercept[IllegalStateException](runJob(dir, "Symbol\n"))
      assert(e.getMessage == "no tickers resolved from any source")
      assert(fetchCalls.isEmpty)
      assert(!Files.exists(dir.resolve("out")))
    }
  }
}
