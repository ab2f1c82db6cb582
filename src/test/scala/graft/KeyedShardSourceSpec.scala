package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** [[graft.sources.KeyedShardSource]]: correct rows from the
  * partitionBy layout (multi-file keys chained, URL-escaped key
  * values decoded), the reported KeyGroupedPartitioning eliminating
  * the aggregate exchange under v2 bucketing (and NOT without it),
  * and the strict non-keyed-layout guard. */
class KeyedShardSourceSpec extends SparkSpec {

  private def hasShuffle(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike => true
    case qs: QueryStageExec => hasShuffle(qs.plan)
    case _ => p.children.exists(hasShuffle)
  }

  private def executedHasShuffle(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => hasShuffle(a.executedPlan)
      case p => hasShuffle(p)
    }
  }

  private def stage(): java.nio.file.Path = {
    val tmp = Files.createTempDirectory("graft_keyed_spec")
    import spark.implicits._
    // keys include a URL-escaped character (space); two staging
    // partitions force multiple files per key
    Seq(("hot key", 1L), ("hot key", 2L), ("cold", 10L),
      ("hot key", 3L), ("cold", 20L), ("warm", 7L))
      .toDF("g", "x").repartition(2)
      .write.mode("overwrite").partitionBy("g").csv(tmp.toString)
    tmp
  }

  test("serves all rows; multi-file keys chain into one partition") {
    val tmp = stage()
    try {
      val df = spark.read.format("graft-shard-keyed")
        .option("path", tmp.toString).load()
      val got = rows(df.orderBy("g", "x"))
        .map(r => (r.getString(0), r.getLong(1)))
      assert(got == Seq(("cold", 10L), ("cold", 20L), ("hot key", 1L),
        ("hot key", 2L), ("hot key", 3L), ("warm", 7L)))
      // one input partition per key, regardless of file count
      assert(df.rdd.getNumPartitions == 3)
    } finally graft.streaming.StreamingResidue.deleteRecursively(tmp)
  }

  test("reported partitioning removes the group-by exchange iff " +
      "v2 bucketing is enabled") {
    val tmp = stage()
    val ConfKey = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(ConfKey)
    try {
      def agg(): DataFrame = spark.read.format("graft-shard-keyed")
        .option("path", tmp.toString).load()
        .groupBy("g").agg(sum("x").as("sx"), count(lit(1)).as("n"))
      spark.conf.set(ConfKey, "true")
      val fired = agg()
      assert(!executedHasShuffle(fired))
      assert(rows(fired.orderBy("g")).map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))) ==
        Seq(("cold", 30L, 2L), ("hot key", 6L, 3L), ("warm", 7L, 1L)))
      spark.conf.set(ConfKey, "false")
      assert(executedHasShuffle(agg()))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ConfKey, v)
        case None => spark.conf.unset(ConfKey)
      }
      graft.streaming.StreamingResidue.deleteRecursively(tmp)
    }
  }

  test("refuses a non-keyed directory rather than mis-declare") {
    Scratch.scoped("graft_keyed_flat") { tmp =>
      Files.writeString(tmp.resolve("a.csv"), "g1,5\n")
      val err = intercept[Exception] {
        spark.read.format("graft-shard-keyed")
          .option("path", tmp.toString).load().collect()
      }
      assert(err.getMessage.contains("g=") ||
        (err.getCause != null && err.getCause.getMessage.contains("g=")))
    }
  }

  private def stageSorted(): java.nio.file.Path = {
    val tmp = Files.createTempDirectory("graft_keyed_sorted")
    import spark.implicits._
    Seq(("a", 3L), ("a", 1L), ("a", 2L), ("b", 9L), ("b", 5L))
      .toDF("g", "x").repartition(col("g")).sortWithinPartitions("g", "x")
      .write.mode("overwrite").partitionBy("g").csv(tmp.toString)
    tmp
  }

  test("reported ordering eliminates the window sort iff claimed " +
      "(SupportsReportOrdering)") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.expressions.Window
    def hasSort(p: SparkPlan): Boolean = p match {
      case _: SortExec => true
      case qs: QueryStageExec => hasSort(qs.plan)
      case _ => p.children.exists(hasSort)
    }
    def executedHasSort(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => hasSort(a.executedPlan)
        case p => hasSort(p)
      }
    }
    val tmp = stageSorted()
    val ConfKey = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, "true")
    try {
      def ranked(ordered: Boolean): DataFrame =
        spark.read.format("graft-shard-keyed")
          .option("path", tmp.toString).option("ordered", ordered).load()
          .withColumn("rn",
            row_number().over(Window.partitionBy("g").orderBy("x")))
      val claimed = ranked(ordered = true)
      assert(!executedHasSort(claimed) && !executedHasShuffle(claimed))
      assert(rows(claimed.orderBy("g", "x")).map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))) ==
        Seq(("a", 1L, 1), ("a", 2L, 2), ("a", 3L, 3),
          ("b", 5L, 1), ("b", 9L, 2)))
      // no claim → Spark must sort (and the result is identical)
      assert(executedHasSort(ranked(ordered = false)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ConfKey, v)
        case None => spark.conf.unset(ConfKey)
      }
      graft.streaming.StreamingResidue.deleteRecursively(tmp)
    }
  }

  test("a FALSE ordering claim fails loudly at read, never serves " +
      "out-of-order rows under the claim") {
    val tmp = Files.createTempDirectory("graft_keyed_unsorted")
    import spark.implicits._
    // deliberately unsorted within the key
    Seq(("a", 5L), ("a", 1L), ("a", 3L)).toDF("g", "x")
      .coalesce(1).write.mode("overwrite").partitionBy("g")
      .csv(tmp.toString)
    try {
      val err = intercept[Exception] {
        spark.read.format("graft-shard-keyed")
          .option("path", tmp.toString).option("ordered", true)
          .load().collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(err).exists(_.contains("false ordering claim")))
      // same layout without the claim reads fine
      assert(spark.read.format("graft-shard-keyed")
        .option("path", tmp.toString).load().count() == 3)
    } finally graft.streaming.StreamingResidue.deleteRecursively(tmp)
  }
}
