package graft

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamingOps

/** The events `ts` column has shipped under three physical parquet
  * encodings across driver testdata generations: TIMESTAMP(NANOS) (which
  * Spark reads as raw long under nanosAsLong — staged here as the
  * equivalent plain-long nanos fixture), TIMESTAMP(MICROS)
  * isAdjustedToUTC=false (inferred TIMESTAMP_NTZ), and µs TimestampType.
  * Round 9 broke five queries because both the batch reader and the
  * streaming schema assumed the first encoding forever; this spec stages
  * ALL THREE through `Tables` and `eventsStream`/`hourlyAgg` so any
  * future re-encode fails loudly here instead of silently collapsing
  * every window at the registry level.
  */
class EventsEncodingSpec extends SparkSpec {

  private val encodings = Seq("nanos-long", "us-ntz", "us-tz")

  // 48 events spanning ~6 hours from a fixed UTC instant, two types,
  // a few users — enough to produce multiple non-trivial hourly windows
  private def base: DataFrame = {
    import spark.implicits._
    (0 until 48).map { i =>
      (i.toLong, 1735689600000000L + i.toLong * 450L * 1000000L,
        (i % 7).toLong, if (i % 2 == 0) "click" else "view",
        i * 1.5, s"""{"i":$i}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
  }

  /** Stage the base events under one physical encoding and lend the
    * table dir (contains `events.parquet`) to `f`; the dir is deleted
    * when `f` exits. */
  private def staged[T](encoding: String)(f: Path => T): T = {
    val ts = encoding match {
      case "nanos-long" => col("ts_us") * 1000L
      case "us-ntz"     => timestamp_micros(col("ts_us")).cast(TimestampNTZType)
      case "us-tz"      => timestamp_micros(col("ts_us"))
    }
    Scratch.scoped(s"graft_enc_$encoding") { dir =>
      base.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      f(dir)
    }
  }

  test("batch Tables read normalizes all three encodings to identical µs instants") {
    val perEncoding = encodings.map { enc => staged(enc) { dir =>
      val read = Tables(spark, dir.toString, "events")
      assert(Tables.eventTsType(read).contains(TimestampType),
        s"$enc: expected TimestampType after normalization, got ${Tables.eventTsType(read)}")
      // unix_micros is exactly what q59/q60/q64/q99 apply — the round-9
      // failure mode was a DATATYPE_MISMATCH here on the NTZ branch
      enc -> read.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }}
    val expected = base.select("event_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    perEncoding.foreach { case (enc, got) =>
      assert(got == expected, s"$enc: µs instants drifted from staged values")
    }
  }

  test("eventsStream on an empty landing directory falls back to the long schema") {
    // the footer probe cannot resolve an encoding before the first file
    // arrives — the stream must still start (raw-long fallback), drain
    // zero batches, and emit an empty frame rather than throw
    Scratch.scoped("graft_enc_empty") { dir =>
      val drained = StreamingOps.drainToBatch(spark,
        StreamingOps.hourlyAgg(StreamingOps.eventsStream(spark, dir.toString)),
        "enc_empty")
      assert(drained.collect().isEmpty)
    }
  }

  test("streaming hourlyAgg is identical across all three encodings and matches batch") {
    val results = encodings.map { enc => staged(enc) { dir =>
      val streamed = StreamingOps.drainToBatch(spark,
        StreamingOps.hourlyAgg(
          StreamingOps.eventsStream(spark, dir.resolve("events.parquet").toString)),
        s"enc_${enc.replace('-', '_')}")
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      enc -> streamed
    }}
    val batch = staged("us-tz") { dir =>
      StreamingOps.hourlyAgg(Tables(spark, dir.toString, "events"))
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    assert(batch.size > 3, s"fixture must span several hourly windows, got ${batch.size}")
    results.foreach { case (enc, streamed) =>
      assert(streamed == batch,
        s"$enc: streamed hourly frame != batch frame (${streamed.size} vs ${batch.size} rows)")
    }
  }
}
