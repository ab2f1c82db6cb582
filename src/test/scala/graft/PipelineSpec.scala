package graft

import org.apache.spark.sql.functions._

/** End-to-end golden test of the full reference pipeline (SURVEY.md
  * §3.1) on a hand-computed fixture: every derived column checked
  * against values worked out from the reference semantics by hand.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // (ord, ticker, company, sector, price, mcap, currency, tpe, fpe,
  //  teps, feps, growth, peg, bvps, target)
  private lazy val raw = Seq(
    // AAA: graham path. graham = sqrt(22.5*4*20) = sqrt(1800) ≈ 42.426
    // price 40 < graham → mos > 0; peg derived = 20/(0.5*100) = 0.4
    (1L, "aaa", "Alpha", "Tech", 40.0, 1e9, "USD",
      Some(20.0), Some(18.0), Some(4.0), Some(4.5), Some(0.5), None: Option[Double], Some(20.0), None: Option[Double]),
    // BBB: no graham (eps<0) → target path; peg reported 0.8
    (2L, "bbb", "Beta", "Tech", 100.0, 2e9, "USD",
      Some(30.0), Some(25.0), Some(-1.0), Some(2.0), Some(10.0), Some(0.8), Some(10.0), Some(120.0)),
    // CCC: no graham/target → sector-median-trailing-pe path:
    // fair = teps * median_pe(Fin) = 2 * 15
    (3L, "ccc", "Fin", "Fin", 25.0, 5e8, "USD",
      Some(15.0), Some(12.0), Some(2.0), Some(2.2), None, None, None, None),
    // DDD: everything missing → unknown ladder
    (4L, "ddd", "Delta", "", -5.0, 0.0, "USD",
      None, None, None, None, None, None, None, None)
  ).toDF("ord", "ticker", "company", "sector", "price", "market_cap",
    "currency", "trailing_pe", "forward_pe", "trailing_eps", "forward_eps",
    "earnings_growth", "peg_ratio", "book_value_per_share", "target_mean_price")

  test("output columns are exactly the 29 ordered columns, in order") {
    val out = Pipeline.run(raw.drop("ord"), col("ticker"))
    assert(Pipeline.orderedCols.length == 29)
    assert(out.columns.toSeq == Pipeline.orderedCols)
  }

  test("full pipeline on a hand-computed fixture") {
    val out = Pipeline.run(raw, col("ord"), asOfDate = "2026-08-12",
      runTsUtc = "2026-08-12T00:00:00Z")
    val rows = out.collect().map(r => r.getAs[String]("ticker") -> r).toMap
    assert(rows.keySet == Set("AAA", "BBB", "CCC", "DDD"))

    val a = rows("AAA")
    assert(math.abs(a.getAs[Double]("graham_value") - math.sqrt(1800.0)) < 1e-9)
    assert(a.getAs[String]("fair_value_source") == "graham_value")
    assert(a.getAs[Double]("peg_ratio") == 0.4)
    assert(a.getAs[String]("peg_ratio_source") == "derived")
    assert(a.getAs[String]("peg_pass") == "pass")        // 0.4 < 1.0
    assert(a.getAs[String]("margin_of_safety_pass") == "pass") // mos > 0
    assert(a.getAs[String]("valuation") == "fair")
    // price 40 vs fair 42.43: 40 > 42.43*0.9 = 38.18 → fair

    val b = rows("BBB")
    assert(b.isNullAt(b.fieldIndex("graham_value")))
    assert(b.getAs[String]("fair_value_source") == "target_mean_price")
    assert(b.getAs[Double]("fair_value") == 120.0)
    assert(b.getAs[Double]("peg_ratio") == 0.8)
    assert(b.getAs[String]("peg_ratio_source") == "reported")
    assert(b.getAs[String]("margin_of_safety_pass") == "unknown") // no graham
    assert(b.getAs[String]("valuation_hunter") == "unknown")
    assert(b.getAs[String]("valuation") == "undervalued") // 100 ≤ 120*0.9=108

    val c = rows("CCC")
    // Fin sector has one member: median = own trailing_pe = 15
    assert(c.getAs[Double]("sector_median_pe") == 15.0)
    assert(c.getAs[String]("fair_value_source") == "sector_median_trailing_pe")
    assert(c.getAs[Double]("fair_value") == 30.0)
    assert(c.getAs[String]("valuation") == "undervalued") // 25 ≤ 27
    assert(c.getAs[String]("peg_ratio_source") == "missing")

    val d = rows("DDD")
    assert(d.getAs[String]("sector") == "Unknown")
    assert(d.isNullAt(d.fieldIndex("price")))       // -5 nulled
    assert(d.isNullAt(d.fieldIndex("market_cap")))  // 0 nulled
    assert(d.getAs[String]("fair_value_source") == "missing")
    assert(d.getAs[String]("valuation") == "unknown")
    assert(d.getAs[String]("valuation_hunter") == "unknown")
    assert(d.isNullAt(d.fieldIndex("pct_diff")))

    // output shape: the 29 ordered columns first, passthrough after
    assert(out.columns.take(Pipeline.orderedCols.length).toSeq ==
      Pipeline.orderedCols)
    assert(out.select("as_of_date").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("2026-08-12"))
  }
}
