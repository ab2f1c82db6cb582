package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.{DedupStream, StreamingOps}

/** Multi-file streaming ingest: an AvailableNow catch-up over a
  * partitioned directory drains in BOUNDED micro-batches
  * (`maxFilesPerTrigger`) with results identical to the one-shot batch
  * — the real incremental form of the reference's daily re-run
  * (`README.md:236-241`).
  *
  * The fixture is TIME-partitioned (file i holds the next event-time
  * range, mod-times ascending) because that is the contract a
  * rate-limited drain runs under: the watermark advances after each
  * micro-batch, so a backlog whose files interleave event time would
  * (correctly, per watermark semantics) drop the stragglers. Ingest
  * directories are written in arrival order, which is event-time order
  * to within the watermark delay.
  */
class MultiFileStreamSpec extends SparkSpec {

  test("hourly agg over a 4-file backlog, maxFilesPerTrigger=1 == batch") {
    Tables.nanosAsLong(spark)
    // sf0.001 events re-laid-out as 4 event-time-ranged files (raw
    // long-nanos ts, the same values the NANOS files carry)
    val raw = spark.read.schema(StreamingOps.eventsSchema)
      .parquet("/root/testdata/sf0.001/events.parquet")
    val Array(lo, hi) = raw.agg(min("ts"), max("ts")).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head
    Scratch.scoped("graft_events_backlog") { dir =>
      val step = (hi - lo) / 4 + 1
      (0 until 4).foreach { i =>
        writeChunk(raw.filter(col("ts") >= lo + i * step &&
          col("ts") < lo + (i + 1) * step), dir, i)
      }

      val name = "multi_file_drain"
      Scratch.scoped("graft_ckpt_mf") { ckpt =>
        val q = StreamingOps.hourlyAgg(
            StreamingOps.eventsStream(spark, dir.toString,
              maxFilesPerTrigger = Some(1)))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Complete())
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        val streamed = spark.table(name).collect()
          .map(_.toSeq).sortBy(_.mkString("|")).toSeq
        q.stop()
        spark.catalog.dropTempView(name)

        assert(dataBatches == 4,
          s"expected 4 rate-limited micro-batches, saw $dataBatches")
        // identical to the one-shot batch aggregation over the same files
        val static = spark.read.schema(StreamingOps.eventsSchema)
          .parquet(dir.toString)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        val expected = StreamingOps.hourlyAgg(static).collect()
          .map(_.toSeq).sortBy(_.mkString("|")).toSeq
        assert(streamed == expected)
        assert(streamed.nonEmpty)
      }
    }
  }

  test("restart from checkpoint: new files only, state recovered exactly") {
    Tables.nanosAsLong(spark)
    val raw = spark.read.schema(StreamingOps.eventsSchema)
      .parquet("/root/testdata/sf0.001/events.parquet")
    val Array(lo, hi) = raw.agg(min("ts"), max("ts")).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head
    val step = (hi - lo) / 4 + 1
    def chunk(i: Int) = raw.filter(col("ts") >= lo + i * step &&
      col("ts") < lo + (i + 1) * step)
    Scratch.scoped("graft_events_restart") { dir =>
      Scratch.scoped("graft_ckpt_restart") { ckpt =>

        def drain(tag: String): (Long, Array[org.apache.spark.sql.Row]) = {
          val q = StreamingOps.hourlyAgg(
              StreamingOps.eventsStream(spark, dir.toString,
                maxFilesPerTrigger = Some(1)))
            .writeStream.format("memory").queryName(tag)
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
            .option("checkpointLocation", ckpt.toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          val inputRows = q.recentProgress.map(_.numInputRows).sum
          val res = spark.table(tag).collect()
          q.stop()
          spark.catalog.dropTempView(tag)
          (inputRows, res)
        }

        // phase 1: drain the first two files to completion
        writeChunk(chunk(0), dir, 0)
        writeChunk(chunk(1), dir, 1)
        val (in1, _) = drain("restart_phase1")
        assert(in1 == chunk(0).count() + chunk(1).count())

        // phase 2: two MORE files arrive; a fresh query on the SAME
        // checkpoint must read only them (offset log) yet emit the full
        // aggregate (state store recovery) — exactly-once across restarts
        writeChunk(chunk(2), dir, 2)
        writeChunk(chunk(3), dir, 3)
        val (in2, res2) = drain("restart_phase2")
        assert(in2 == chunk(2).count() + chunk(3).count(),
          s"restart must not reprocess committed files (read $in2 rows)")

        val static = spark.read.schema(StreamingOps.eventsSchema)
          .parquet(dir.toString)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        val expected = StreamingOps.hourlyAgg(static).collect()
          .map(_.toSeq).sortBy(_.mkString("|")).toSeq
        assert(res2.map(_.toSeq).sortBy(_.mkString("|")).toSeq == expected)
      }
    }
  }

  test("streaming dedup drops a duplicate arriving in a LATER file") {
    import spark.implicits._
    val M = 60L * 1000000L
    // offset event times away from epoch 0: a ts==0 row collides with
    // the INITIAL watermark (also 0) and is dropped as late
    val base = 1000L
    Scratch.scoped("graft_docs_backlog") { dir =>
      writeChunk(Seq(
        DedupStream.Doc(1, (base + 0) * M, "hello world"),
        DedupStream.Doc(2, (base + 1) * M, "fresh text")).toDS().toDF(), dir, 0)
      writeChunk(Seq(
        DedupStream.Doc(3, (base + 5) * M, "  Hello   WORLD "), // near-dup of 1
        DedupStream.Doc(4, (base + 6) * M, "another doc")).toDS().toDF(), dir, 1)

      val docs = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[DedupStream.Doc]].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString).as[DedupStream.Doc]
      val name = "multi_file_dedup"
      Scratch.scoped("graft_ckpt_mfd") { ckpt =>
        val q = DedupStream.firstOccurrences(docs, "10 minutes")
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        val ids = spark.table(name).select("doc_id").collect()
          .map(_.getLong(0)).toSet
        q.stop()
        spark.catalog.dropTempView(name)

        assert(dataBatches == 2, s"expected 2 micro-batches, saw $dataBatches")
        assert(ids == Set(1L, 2L, 4L),
          s"cross-file duplicate 3 should be dropped: $ids")
      }
    }
  }
}
