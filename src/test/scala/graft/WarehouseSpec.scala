package graft

import org.apache.spark.sql.functions._

/** Property pins for the round-13 warehouse-maintenance tier
  * (q229–q232) — the laws the fixture oracle can't state for all
  * inputs: PageRank's fixed-point range and hub structure, HLL's
  * error envelope and register-max merge, CDC bucket accounting, and
  * the incremental-rollup consistency column being TRUE everywhere
  * (the in-query proof actually proving something). Runs on the
  * sf0.001 driver fixture. */
class WarehouseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q229: association laws hold — pair_cnt bounded by both item " +
      "counts, conf/support coherent, ranked head is positive-lift") {
    val out = graft.queries.WarehouseQueries.q229.fn(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 25)
    assert(out.map(_.getAs[Long]("rk")).toSeq ==
      (1L to out.length.toLong))
    val baskets = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val cnt = baskets.groupBy("l_partkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- out) {
      val a = r.getAs[Long]("part_a"); val b = r.getAs[Long]("part_b")
      val pc = r.getAs[Long]("pair_cnt")
      assert(a < b, "pairs must be canonical (a < b), each emitted once")
      assert(pc <= math.min(cnt(a), cnt(b)),
        s"pair ($a,$b) count $pc exceeds an item count")
      assert(r.getAs[Long]("conf_ppm") <= 1000000L)
      assert(pc >= 2L, "support floor")
      assert(r.getAs[Long]("lift_ppm") > 0L)
    }
    // lift-descending head: the ranking key actually ordered the rows
    val lifts = out.map(_.getAs[Long]("lift_ppm")).toSeq
    assert(lifts == lifts.sorted.reverse)
  }

  test("q230: HLL estimates land inside the m=256 error envelope " +
      "and the ALL row is a true register-max merge") {
    val out = graft.queries.WarehouseQueries.q230.fn(spark, dir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val est = r.getAs[Long]("est_n"); val exact = r.getAs[Long]("exact_n")
      assert(r.getAs[Long]("n_set") <= 256L)
      // 1.04/√256 ≈ 6.5% std error; 15% ≈ 2.3σ — deterministic data,
      // so this is a fixed number, not a flake surface (measured
      // ≤ 8.4% at sf0.001/0.01/0.1)
      assert(math.abs(est - exact) <= exact * 15 / 100,
        s"${r.getAs[String]("g")}: est $est vs exact $exact")
    }
    // the merged row estimates the GLOBAL key set, which overlaps
    // across groups: ALL ≤ Σ per-group, and ≥ the largest group
    val all = out.find(_.getAs[String]("g") == "ALL").get
    val perG = out.filterNot(_.getAs[String]("g") == "ALL")
    assert(all.getAs[Long]("exact_n") <= perG.map(_.getAs[Long]("exact_n")).sum)
    assert(all.getAs[Long]("exact_n") >= perG.map(_.getAs[Long]("exact_n")).max)
  }

  test("q231: bucket accounting closes — live + deleted = keys, ops " +
      "cover every event, delete rate ≈ the 1-in-10 hash design") {
    val out = graft.queries.WarehouseQueries.q231.fn(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 8)
    for (r <- out)
      assert(r.getAs[Long]("n_live") + r.getAs[Long]("n_deleted") ==
        r.getAs[Long]("n_keys"))
    val totalOps = out.map(_.getAs[Long]("n_ops")).sum
    val nEvents = Tables(spark, dir, "events").count()
    assert(totalOps == nEvents, "every changelog op must be applied")
    val nKeys = out.map(_.getAs[Long]("n_keys")).sum
    val nUsers = Tables(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(nKeys == nUsers)
  }

  test("q246: on the fixture (vocab < k) sketches are exact; on a " +
      "synthetic large vocabulary the theta estimate lands inside " +
      "the 1/sqrt(k) envelope") {
    import spark.implicits._
    // fixture regime: below k the sketch IS the set — zero error
    val fx = graft.queries.WarehouseQueries.q246.fn(spark, dir).collect()
    assert(fx.nonEmpty)
    assert(fx.forall(_.getAs[Long]("est_err_ppm") == 0L),
      "below-k sketches must be exact")
    // estimation regime: two sources, ~1200 distinct tokens each,
    // 50% overlap — far above k = 64
    Scratch.scoped("theta") { tmp =>
      // sa covers w0..w599, sb covers w300..w899 → overlap = 300
      val docs = (0 until 120).flatMap { d =>
        val src = if (d % 2 == 0) "sa" else "sb"
        val base = if (d % 2 == 0) 0 else 300
        val toks = (0 until 10).map(i => s"w${base + (d / 2) * 10 + i}")
        Seq((src, d.toLong, toks.mkString(" ")))
      }.toDF("source", "doc_id", "text")
      docs.write.mode("overwrite")
        .parquet(tmp.resolve("documents.parquet").toString)
      val out = graft.queries.WarehouseQueries.q246
        .fn(spark, tmp.toString).collect()
      assert(out.length == 1)
      val r = out.head
      val est = r.getAs[Long]("est_inter")
      val exact = r.getAs[Long]("exact_inter")
      assert(exact == 300L, s"fixture construction: overlap $exact")
      // theta-sketch rse ≈ 1/sqrt(k) = 12.5%; 40% ≈ 3σ. The data is
      // deterministic (md5 hashes), so this is a fixed number.
      assert(math.abs(est - exact) <= exact * 40 / 100,
        s"est $est vs exact $exact outside the envelope")
      assert(est != exact, "large vocab must actually be estimating")
    }
  }

  test("q232: the merge-vs-rescan consistency proof holds on every row") {
    val out = graft.queries.WarehouseQueries.q232.fn(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("consistent")),
      "partial-aggregate merge must equal the full rescan")
  }
}
