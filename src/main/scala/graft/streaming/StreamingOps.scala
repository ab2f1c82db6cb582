package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Conf, Tables}

/** Structured Streaming form of the engine's event analytics: file
  * source → watermarked tumbling-window aggregation → sink. The
  * reference itself is batch-only (SURVEY.md §2.10 — its "stream" is a
  * daily cron), so this is the engine extension that makes the same
  * query incremental.
  *
  * Scale design: the file source scales to object-store listing; the
  * aggregation state is bounded by the watermark (late events beyond
  * 1 hour are dropped); Trigger.AvailableNow drains the backlog with
  * the streaming engine's incremental state machine, then stops —
  * identical semantics whether the job runs continuously or as a
  * cron'd catch-up batch (the modern replacement for the reference's
  * daily re-run).
  */
object StreamingOps {

  /** The events schema with `ts` as raw long — the shape TIMESTAMP(NANOS)
    * driver files resolve to under nanosAsLong, and the shape the
    * long-typed spec fixtures are written in. `eventsStream` does NOT
    * assume this: it resolves the actual physical encoding from a
    * parquet footer and dispatches (see below). This val remains the
    * fixture-staging schema for specs. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming hourly per-type aggregation over the events table,
    * drained to completion with AvailableNow and returned as a batch
    * DataFrame (memory sink). Matches the batch q14 frame exactly.
    */
  def hourlyEventStats(spark: SparkSession, dir: String): DataFrame =
    // State-store partition tuning: each shuffle partition materializes
    // a state store (files + maintenance). The aggregate has a few
    // thousand (window, type) keys — 8 stores ample locally; a real
    // cluster sizes this to executor count × cores.
    Conf.scoped(spark)("spark.sql.shuffle.partitions" -> "8") {
      // brace-glob: the streaming file source requires a directory base
      // path; the glob makes it treat `dir` as the base and match the
      // single file (real ingest points this at a partitioned
      // directory — see eventsStream + MultiFileStreamSpec)
      drainToBatch(spark,
        hourlyAgg(eventsStream(spark, s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))),
        "stream_hourly")
    }

  /** Streaming HOPPING-window aggregation (1-hour windows every 15
    * minutes — q184's overlapping-window shape run online): identical
    * watermarked state machinery to [[hourlyAgg]], but every event
    * updates FOUR window states. Drained AvailableNow and compared to
    * the batch hopping aggregate — overlap must not change a single
    * count. */
  def hoppingEventStats(spark: SparkSession, dir: String): DataFrame =
    Conf.scoped(spark)("spark.sql.shuffle.partitions" -> "8") {
      val agg = eventsStream(spark, s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(28,10)")), 2)
            .cast("double").as("total_value"))
      drainToBatch(spark, agg, "stream_hopping")
    }

  /** 6-hour windowed top-3 events by value per type through the
    * native bounded-heap top-k aggregate under the streaming state
    * store (q308): merge-order independence makes the drained result
    * equal the batch computation under ANY micro-batch split. */
  def streamTopK(spark: SparkSession, dir: String): DataFrame =
    Conf.scoped(spark)("spark.sql.shuffle.partitions" -> "8") {
      val agg = eventsStream(spark, s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))
        .withWatermark("ts", "1 hour")
        .select(col("ts"), col("event_type"), col("event_id"),
          expr("cast(floor(value * 100) as bigint)").as("cents"))
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(org.apache.spark.sql.graftagg.TopKAgg
          .graftTopK(col("cents"), col("event_id"), 3).as("top3"))
      drainToBatch(spark, agg, "stream_topk")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("top3"))
    }

  /** Windowed EXACT distinct users per event type through the native
    * bitmap aggregate under the streaming state store: the
    * partition-invariance contract (set-bit/OR/popcount is a
    * semilattice) means the streamed result must equal batch EXACTLY
    * under any micro-batch split — the same equivalence class as
    * streamTopK, but for an exact set cardinality, where the HLL
    * stream (q261's twin) only promises identical merge trees. */
  def streamBitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    Conf.scoped(spark)("spark.sql.shuffle.partitions" -> "8") {
      val agg = eventsStream(spark, s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))
        .withWatermark("ts", "1 hour")
        .select(col("ts"), col("event_type"), col("user_id"))
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(org.apache.spark.sql.graftagg.BitmapDistinctAgg
          .graftBitmapDistinct(col("user_id")).as("n_users"))
      drainToBatch(spark, agg, "stream_bitmap_distinct")
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n_users"))
    }

  /** Streaming reader over an events path (file or partitioned
    * directory). `maxFilesPerTrigger` is the backlog-draining rate
    * limit: a cron'd AvailableNow catch-up over a deep directory
    * processes bounded micro-batches instead of one giant one — state
    * checkpoints between batches, so a mid-drain failure resumes
    * instead of restarting (the 100 TB ingest shape).
    *
    * `ts` encoding is NOT assumed: one batch footer read over the same
    * path resolves whether files carry raw nanos-long (TIMESTAMP(NANOS)
    * under nanosAsLong, or plain-long fixtures), µs TIMESTAMP_NTZ, or µs
    * TimestampType, and the streaming schema + conversion dispatch on
    * that — the same three-way normalization as `graft.Tables`. The
    * footer read is one driver-side metadata op (no data scan) and
    * removes the class of bug where a testdata re-encode silently
    * collapses every window (round-9 q40). */
  def eventsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None,
      schemaProbePath: Option[String] = None): DataFrame = {
    Tables.nanosAsLong(spark)
    // probe path: the streaming source accepts brace-glob paths that the
    // batch footer reader does not — callers using a glob pass the plain
    // file path for schema resolution. An EMPTY landing directory (the
    // stream starts before the first file arrives) cannot be probed —
    // fall back to the raw-long fixture schema, the encoding every
    // pre-NTZ generation shipped; a wrong guess surfaces as a per-file
    // read error on the first real file, never silent data corruption
    // (long vs timestamp column types fail loudly in the parquet reader)
    val probe = schemaProbePath.getOrElse(path)
    val tsType =
      try Tables.eventTsType(spark.read.parquet(probe)).getOrElse(LongType)
      catch { case _: org.apache.spark.sql.AnalysisException => LongType }
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Tables.normalizeEventTs(reader.parquet(path))
  }

  /** Watermarked hourly per-type aggregation frame (q40's core).
    * Decimal aggregation: exact and summation-order-insensitive, so
    * the streamed frame is bit-identical to batch q14 at any SF and
    * any micro-batch split. */
  def hourlyAgg(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(28,10)")), 2)
          .cast("double").as("total_value"),
        round(sum(col("value").cast("decimal(28,10)")) / count(lit(1)), 6)
          .cast("double").as("avg_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"), col("avg_value"))

  /** Run a streaming aggregate to completion (AvailableNow) and return
    * its result DETACHED from the streaming machinery: the memory-sink
    * temp view is dropped, the per-run checkpoint deleted, and the
    * state-store maintenance thread stopped before returning — a long
    * packed session (Bench) accumulates zero residue per streamed
    * query. The copy-out is driver-side but so is the memory sink it
    * reads: streaming aggregate RESULTS are small by construction
    * (bounded by distinct group keys), only the input is big.
    */
  def drainToBatch(spark: SparkSession, agg: DataFrame,
      tag: String, outputMode: String = "complete"): DataFrame = {
    val name = s"${tag}_${System.nanoTime()}"
    graft.Scratch.scoped(s"graft_ckpt_$name") { ckpt =>
      graft.Views.scoped(spark) {
        val q = agg.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(outputMode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        try {
          q.awaitTermination()
          val sunk = spark.table(name)
          // LocalRelation copy: independent of the sink object's row buffer
          spark.createDataFrame(sunk.collectAsList(), sunk.schema)
        } finally { q.stop(); StateStore.stop() }
      }
    }
  }
}
