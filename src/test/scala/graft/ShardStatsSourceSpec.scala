package graft

import org.apache.spark.sql.functions._

/** The graft-shard DSv2 connector: plain row serving, aggregate
  * pushdown engagement (plan marker + reduced source traffic),
  * decline semantics for unsupported aggregates, and exact agreement
  * between pushed and un-pushed results. */
class ShardStatsSourceSpec extends SparkSpec {

  private def stage(): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_spec")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "x,5\ny,7\nx,1\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.csv"),
      "y,9\nz,2\nx,8\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("ignored.txt"),
      "not,1\n".getBytes("UTF-8"))
    dir
  }

  test("plain row scan serves every CSV line; non-csv files ignored") {
    val dir = stage()
    try {
      val rows = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(rows == Seq(("x", 1L), ("x", 5L), ("x", 8L), ("y", 7L),
        ("y", 9L), ("z", 2L)))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  test("grouped count/min/max pushes down and matches the row-scan answer") {
    val dir = stage()
    try {
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
      val agg = df.groupBy("g").agg(count(lit(1)).as("n"),
        min("x").as("mn"), max("x").as("mx")).orderBy("g")
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregates[c,n,x] grouped=true"), plan)
      val got = agg.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == Seq(("x", 3L, 1L, 8L), ("y", 2L, 7L, 9L),
        ("z", 1L, 2L, 2L)))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  test("global (ungrouped) aggregate pushes down") {
    val dir = stage()
    try {
      val agg = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
        .agg(count(lit(1)).as("n"), min("x").as("mn"), max("x").as("mx"))
      assert(agg.queryExecution.executedPlan.toString
        .contains("grouped=false"))
      assert(agg.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))) == Seq((6L, 1L, 9L)))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  test("unsupported aggregate (sum) declines pushdown and stays correct") {
    val dir = stage()
    try {
      val agg = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
        .groupBy("g").agg(sum("x").as("s")).orderBy("g")
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("PushedAggregates"), plan)
      assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("x", 14L), ("y", 16L), ("z", 2L)))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  test("pushdown reduces rows crossing the source boundary") {
    // 2 shards x 3 distinct groups: the pushed scan emits <= 6 rows
    // where the row scan emits 2000
    Scratch.scoped("graft_shard_big") { dir =>
      val sb = new StringBuilder
      (0 until 1000).foreach(i => sb.append(s"g${i % 3},$i\n"))
      java.nio.file.Files.write(dir.resolve("a.csv"),
        sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("b.csv"),
        sb.toString.getBytes("UTF-8"))
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
      val pushed = df.groupBy("g").agg(max("x").as("mx"))
      pushed.collect()
      val scanRows = pushed.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      assert(scanRows <= 6L, s"scan emitted $scanRows rows")
    }
  }

  test("top-n pushdown: per-shard bounded heap, exact answer both " +
      "directions, boundary traffic = files x k") {
    Scratch.scoped("graft_shard_topn") { dir =>
      // distinct x everywhere so the top-k row SET is deterministic
      val sb1 = new StringBuilder; val sb2 = new StringBuilder
      (0 until 500).foreach(i => sb1.append(s"g${i % 3},${i * 2}\n"))
      (0 until 500).foreach(i => sb2.append(s"g${i % 3},${i * 2 + 1}\n"))
      java.nio.file.Files.write(dir.resolve("a.csv"),
        sb1.toString.getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("b.csv"),
        sb2.toString.getBytes("UTF-8"))
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()

      val topDesc = df.orderBy(desc("x")).limit(4)
      assert(topDesc.queryExecution.executedPlan.toString
        .contains("PushedTopN[x DESC limit=4]"))
      assert(topDesc.collect().map(_.getLong(1)).toSeq ==
        Seq(999L, 998L, 997L, 996L))
      val scanRows = topDesc.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      assert(scanRows <= 8L, s"scan emitted $scanRows rows") // 2 files x 4

      val topAsc = df.orderBy(asc("x")).limit(3)
      assert(topAsc.queryExecution.executedPlan.toString
        .contains("PushedTopN[x ASC limit=3]"))
      assert(topAsc.collect().map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))

      // sort on g (non-numeric column) is declined — plain rows served
      val declined = df.orderBy("g").limit(2)
      assert(!declined.queryExecution.executedPlan.toString
        .contains("PushedTopN"))
      assert(declined.collect().length == 2)
    }
  }

  test("limit pushdown: shards stop reading after k lines; global " +
      "limit still exact") {
    Scratch.scoped("graft_shard_lim") { dir =>
      val sb = new StringBuilder
      (0 until 1000).foreach(i => sb.append(s"g,$i\n"))
      java.nio.file.Files.write(dir.resolve("a.csv"),
        sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("b.csv"),
        sb.toString.getBytes("UTF-8"))
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
      val limited = df.limit(10)
      assert(limited.queryExecution.executedPlan.toString
        .contains("PushedLimit[10]"))
      assert(limited.count() == 10L)
      val scanRows = limited.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      assert(scanRows <= 20L, s"scan emitted $scanRows rows") // 2 files x 10
      // limit larger than the corpus: every row, exactly once
      assert(df.limit(5000).count() == 2000L)
    }
  }

  test("filter pushdown: parse-time evaluation, trusted (no post-scan " +
      "re-filter), composes with limit / top-n / aggregates") {
    val dir = stage() // x values: a:(x5,y7,x1) b:(y9,z2,x8)
    try {
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()

      val filtered = df.where(col("x") > 4L && col("g") =!= "z")
      assert(filtered.queryExecution.executedPlan.toString
        .contains("PushedFilters"))
      assert(filtered.collect().map(_.getLong(1)).sorted.toSeq ==
        Seq(5L, 7L, 8L, 9L))
      // g != 'z' is NOT an accepted shape — it must survive post-scan;
      // x > 4 IS accepted and the scan must not re-emit rejected rows
      val leafRows = filtered.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      assert(leafRows == 4L, s"scan emitted $leafRows rows")

      // equality on g composes with top-n
      val top = df.where(col("g") === "x").orderBy(desc("x")).limit(2)
      val topPlan = top.queryExecution.executedPlan.toString
      assert(topPlan.contains("PushedTopN") &&
        topPlan.contains("PushedFilters"))
      assert(top.collect().map(_.getLong(1)).toSeq == Seq(8L, 5L))

      // filters under aggregate pushdown: per-group stats of x >= 5
      val agg = df.where(col("x") >= 5L)
        .groupBy("g").agg(count(lit(1)).as("n"), max("x").as("mx"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(aggPlan.contains("PushedAggregates") &&
        aggPlan.contains("PushedFilters"))
      assert(agg.orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("x", 2L, 8L), ("y", 2L, 9L)))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  test("runtime filtering: the join's observed build-side keys reach " +
      "the scan as In(g) and prune at parse time (DSv2 DPP analog)") {
    Scratch.scoped("graft_shard_rf") { dir => Scratch.scoped("graft_shard_rfd") { dimDir =>
      val sb = new StringBuilder
      for (g <- 0 until 10; i <- 0 until 200) sb.append(s"g$g,${g * 1000 + i}\n")
      java.nio.file.Files.write(dir.resolve("a.csv"),
        sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("b.csv"),
        sb.toString.getBytes("UTF-8"))
      val fact = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
      // the dim must be a FILE scan: a filtered LocalRelation constant-
      // folds to a bare LocalRelation during optimization, so
      // PartitionPruning sees no selective predicate and never fires
      import spark.implicits._
      (0 until 10).map(i => (s"g$i", i % 5)).toDF("g", "bucket")
        .write.mode("overwrite").parquet(dimDir.toString)
      val dim = spark.read.parquet(dimDir.toString)
        .where(col("bucket") === 0) // keeps g0, g5
      val joined = fact.join(dim.select("g"), "g")
      val n = joined.count()
      assert(n == 2L * 2 * 200, s"join returned $n rows")
      // plan the same query shape eagerly to read the marker + metric
      // (a count()'s own execution is separate from `joined`'s)
      val probe = fact.join(dim.select("g"), "g")
        .agg(count(lit(1)).as("n"))
      assert(probe.collect().head.getLong(0) == 800L)
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        "runtime filter was not planned")
      // under AQE the top node hides leaves — drill into the final plan
      val finalPlan = plan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val leafRows = finalPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      // 2 files x 2 surviving groups x 200 (+2 dim rows)
      assert(leafRows <= 802L, s"scan emitted $leafRows rows")
      // and the capability itself, independent of planner heuristics
      assert(graft.sources.ShardStatsSourceTestHook
        .rowsAfterRuntimeFilter(dir.toString, Set("g0", "g5")) == 800L)
    }}
  }

  test("column pruning: single-column and zero-column reads") {
    val dir = stage()
    try {
      val df = spark.read.format("graft-shard")
        .option("path", dir.toString).load()
      val xOnly = df.select("x")
      assert(xOnly.queryExecution.executedPlan.toString
        .contains("ReadSchema[x]"))
      assert(xOnly.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 5L, 7L, 8L, 9L))
      val gOnly = df.select("g")
      assert(gOnly.queryExecution.executedPlan.toString
        .contains("ReadSchema[g]"))
      assert(gOnly.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("x", "x", "x", "y", "y", "z"))
    } finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }
}
