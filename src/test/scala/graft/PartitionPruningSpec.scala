package graft

import org.apache.spark.sql.functions._

/** Partitioned parquet layout + partition pruning: the other half of
  * the 100 TB read path (bucketing covers join keys; date partitioning
  * covers time-range scans).
  */
class PartitionPruningSpec extends SparkSpec {

  test("date-partitioned write prunes non-matching partitions at scan") {
    Scratch.scoped("graft_part") { dirPath =>
      val dir = dirPath.toString
      Tables(spark, "/root/testdata/sf0.001", "orders")
        .withColumn("year", date_format(col("o_orderdate"), "yyyy"))
        .write.mode("overwrite").partitionBy("year").parquet(s"$dir/orders_p")

      val years = new java.io.File(s"$dir/orders_p").listFiles()
        .filter(_.getName.startsWith("year=")).map(_.getName).sorted
      assert(years.length > 3) // several year partitions materialized

      val q = spark.read.parquet(s"$dir/orders_p")
        .where(col("year") === "1997")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      // the partition filter is applied at file-listing time, not as a
      // data filter: PartitionFilters set, and only year=1997 files read
      assert(plan.contains("PartitionFilters: [isnotnull(year"),
        s"expected partition filters in:\n$plan")
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }
      assert(scanned.forall(_ == 1), s"expected 1 selected partition, got $scanned")
    }
  }
}
