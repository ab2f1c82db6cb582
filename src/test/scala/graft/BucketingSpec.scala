package graft

import org.apache.spark.sql.functions._

/** Bucketing: pre-partitioned tables make repeated equi-joins
  * shuffle-free — the 100 TB answer to "this join shuffles every run".
  * The spec writes orders/customer bucketed by the join key and proves
  * the join plan contains NO shuffle exchange.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // external tables with explicit tmp paths: no warehouse-dir writes
    // (in-memory catalog; warehouse.dir is a static conf)
    Scratch.scoped("graft_wh") { whPath =>
      val wh = whPath.toString
      val dir = "/root/testdata/sf0.001"

      Tables(spark, dir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Tables(spark, dir, "customer")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")

      // force a sort-merge join (tiny test tables would broadcast and
      // trivially avoid the shuffle we're trying to demonstrate)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined =
        try {
          val j = spark.table("orders_b")
            .join(spark.table("customer_b"),
              col("o_custkey") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
          j.collect() // materialize so AQE finalizes the physical plan
          j
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

      // the SMJ reads co-bucketed inputs shuffle-free: no exchange on the
      // join keys anywhere in the plan (the only exchange is the final
      // low-cardinality groupBy's, on c_mktsegment)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
      assert(planStr.contains("Bucketed: true"), s"expected bucketed scans:\n$planStr")
      assert(!planStr.contains("Exchange hashpartitioning(o_custkey") &&
        !planStr.contains("Exchange hashpartitioning(c_custkey"),
        s"join keys should not shuffle:\n$planStr")

      // and the result matches the plain (shuffled) join — revenue
      // rounded: double summation order legitimately differs between
      // the bucketed and shuffled partitionings
      val plain = Tables(spark, dir, "orders")
        .join(Tables(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("c_mktsegment"), col("n"), round(col("rev"), 2).as("rev"))
          .orderBy("c_mktsegment").collect().toSeq
      assert(canon(joined) == canon(plain))

      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
