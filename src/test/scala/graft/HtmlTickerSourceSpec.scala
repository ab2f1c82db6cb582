package graft

import graft.sources.{HtmlTickerSource, Sources}
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-html` DataSourceV2 connector: SourcesSpec's fixtures
  * round-trip through `spark.read.format("graft-html")` with identical
  * output to S1's `tickersFromHtml`, the ≥ 80-row guard and the
  * injected-fetcher contract both enforced. */
class HtmlTickerSourceSpec extends SparkSpec {

  private def htmlPage(nTickers: Int, headerName: String = "Ticker"): String = {
    val rows = (1 to nTickers)
      .map(i => s"<tr><td> t.$i </td><td>Company $i</td></tr>").mkString
    s"""<html><body>
       |<table class="infobox"><tr><th>Irrelevant</th></tr><tr><td>x</td></tr></table>
       |<table id="constituents">
       |<tr><th> $headerName </th><th>Company</th></tr>$rows</table>
       |</body></html>""".stripMargin
  }

  test("format(graft-html) round-trips the S1 fixture byte-identically") {
    val html = htmlPage(85)
    val viaConnector = spark.read.format("graft-html")
      .option("html", html).load()
    assert(viaConnector.schema.map(_.name) == Seq("ticker"))
    val got = viaConnector.collect().map(_.getString(0)).toSeq
    val want = Sources.tickersFromHtml(spark, html).get
      .collect().map(_.getString(0)).toSeq
    assert(got == want, "connector == S1 extraction")
    assert(got.head == "T-1" && got.sorted == got, "normalized + sorted")
  }

  test("the >= 80-row guard is preserved (extract_tickers.py:40-41 raise)") {
    val e = intercept[Exception] {
      spark.read.format("graft-html").option("html", htmlPage(79)).load().collect()
    }
    assert(e.getMessage.contains("80"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("graft-html")
        .option("html", htmlPage(85, "NotATicker")).load().collect()
    }
    assert(e2.getMessage.contains("ticker column"), e2.getMessage)
  }

  test("injected fetcher: url option resolves through the registry only") {
    HtmlTickerSource.registerFetcher("fixture")(url =>
      if (url == "https://example.invalid/constituents") htmlPage(90)
      else "<html></html>")
    val got = spark.read.format("graft-html")
      .option("url", "https://example.invalid/constituents")
      .option("fetcher", "fixture").load()
      .collect().map(_.getString(0))
    assert(got.length == 90)
    // no ambient HTTP client: url without a fetcher must refuse
    val e = intercept[Exception] {
      spark.read.format("graft-html")
        .option("url", "https://example.invalid/x").load().collect()
    }
    assert(e.getMessage.contains("fetcher"), e.getMessage)
  }

  test("file option reads fixture HTML from disk") {
      Scratch.scoped("graft-html") { dirPath =>
    val dir = dirPath.toFile
    val f = new java.io.File(dir, "page.html")
    val w = new java.io.FileWriter(f)
    w.write(htmlPage(82)); w.close()
    val got = spark.read.format("graft-html")
      .option("file", f.getAbsolutePath).load()
      .collect().map(_.getString(0))
    assert(got.length == 82)
  }}

  test("connector output feeds the S3 snapshot fan-out unchanged") {
    val tickers = spark.read.format("graft-html")
      .option("html", htmlPage(85)).load()
    val snaps = Sources.fetchSnapshots(tickers,
      t => Sources.Snapshot(t, s"co-$t", "tech", Some(1.0), Some(2.0), "USD",
        None, None, None, None, None, None, None, None))
    assert(snaps.count() == 85)
  }
}
