package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingPipeline

/** End-to-end: the valuation pipeline driven as a streaming job must
  * produce byte-identical CSV to the batch run on the same snapshot.
  */
class StreamingPipelineSpec extends SparkSpec {

  test("streamed pipeline CSV == batch pipeline CSV") {
    Scratch.scoped("graft_sp") { dirPath =>
      val dir = dirPath.toString
      val fundamentals = Pipeline.syntheticFundamentals(spark, "/root/testdata/sf0.001")
      // land the snapshot as the stream's source file
      fundamentals.coalesce(1).write.mode("overwrite").parquet(s"$dir/src")

      StreamingPipeline.run(spark, s"$dir/src", fundamentals.schema,
        s"$dir/out", asOfDate = "2026-01-01", runTsUtc = "2026-01-01T00:00:00Z")

      val batchCsv = s"$dir/batch.csv"
      graft.sources.Sources.writeSingleCsv(
        Pipeline.run(fundamentals, col("p_partkey"),
          asOfDate = "2026-01-01", runTsUtc = "2026-01-01T00:00:00Z")
          .orderBy("ticker"),
        batchCsv)

      val streamed = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/out/valuations_batch0.csv"))
      val batch = java.nio.file.Files.readString(java.nio.file.Paths.get(batchCsv))
      assert(streamed.nonEmpty && streamed.linesIterator.size > 100)
      assert(streamed == batch)
    }
  }
}
