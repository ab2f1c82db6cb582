package graft

import org.apache.spark.sql.functions._

/** Runtime filtering — the two adaptive read-path features that matter
  * most at 100 TB, demonstrated on real plans:
  *
  *  - **Dynamic partition pruning (DPP)**: a selective dimension filter
  *    prunes the fact table's PARTITIONS at runtime, before the scan —
  *    the join key's matching partition values are computed from the
  *    dim side and injected into the fact scan's partition filters.
  *  - **Bloom-filter runtime filter**: for non-partition join keys,
  *    Spark injects a bloom-filter aggregate built from the filtered
  *    (creation) side and applies `might_contain` on the large side's
  *    scan, cutting shuffle input ahead of the join.
  *
  * Both are plan-asserted AND result-checked against the plain join.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("dynamic partition pruning injects a runtime partition filter") {
    Scratch.scoped("graft_dpp") { dirPath =>
      val dir = dirPath.toString
      val sf = "/root/testdata/sf0.001"
      // fact partitioned by custkey bucket; dim carries the bucket too
      Tables(spark, sf, "orders")
        .withColumn("ckb", (col("o_custkey") % 10).cast("int"))
        .write.mode("overwrite").partitionBy("ckb").parquet(s"$dir/orders_p")
      val fact = spark.read.parquet(s"$dir/orders_p")
      val dim = Tables(spark, sf, "customer")
        .withColumn("ckb", (col("c_custkey") % 10).cast("int"))
        .where(col("c_mktsegment") === "BUILDING" && col("c_custkey") < 30)

      val conf = spark.conf
      val savedB = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      try {
        // DPP via broadcast reuse is the default path; keep broadcast on
        conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        val q = fact.join(dim, Seq("ckb"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"))
        val got = q.collect().toSeq.map(_.toSeq)
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruningexpression"),
          s"no DPP in plan:\n$plan")
        // result equals the plain (unpartitioned) join
        val plain = Tables(spark, sf, "orders")
          .withColumn("ckb", (col("o_custkey") % 10).cast("int"))
          .join(dim, Seq("ckb"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
          .collect().toSeq.map(_.toSeq)
        assert(got == plain)
      } finally {
        savedB.foreach(conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      }
    }
  }

  test("bloom-filter runtime filter prunes the big side of a shuffle join") {
    val sf = "/root/testdata/sf0.01"
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtimeFilter.number.threshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // prod default requires a 10GB application-side scan before the
      // filter pays for itself; scale it to the test fixture
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB")
      val part = Tables(spark, sf, "part")
        .where(col("p_brand") === "Brand#19") // selective creation side
      val li = Tables(spark, sf, "lineitem")
      val q = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
      val got = q.collect().toSeq.map(_.toSeq)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no bloom runtime filter in plan:\n$plan")
      // and the filtered join result matches the un-filtered semantics
      val expected = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "part")
          .where(col("p_brand") === "Brand#19"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
        .collect().toSeq.map(_.toSeq)
      assert(got == expected && got.nonEmpty)
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
