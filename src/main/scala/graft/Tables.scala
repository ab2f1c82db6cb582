package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All engine inputs are columnar parquet scans so Catalyst can push
  * filters and prune columns into the scan (`PushedFilters` /
  * `ReadSchema` in `.explain`). At 100 TB each `name.parquet` becomes a
  * partitioned directory; nothing here assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // `events.ts` has shipped under three physical encodings across
    // driver testdata generations: TIMESTAMP(NANOS) (read as raw long
    // via nanosAsLong — Spark's vectorized reader rejects nanos),
    // TIMESTAMP(MICROS) isAdjustedToUTC=false (inferred TIMESTAMP_NTZ),
    // and plain µs TimestampType. Normalize all three to microsecond
    // TimestampType so downstream `unix_micros`/window frames see one
    // type regardless of which generation produced the files. Session tz
    // is UTC everywhere (Bench/Verify/specs), so the NTZ→TZ cast is a
    // pure re-tag matching DuckDB's epoch_us on the same wall-clock
    // values. Each branch stays a pure columnar scan — prune/pushdown
    // intact.
    nanosAsLong(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Turn on `spark.sql.legacy.parquet.nanosAsLong` for the session,
    * and leave it on. It is the one session setting graft does not
    * scope with [[Conf.scoped]]: [[apply]] returns lazy frames whose
    * parquet scan runs after the caller has returned, and the scan
    * must still see the setting. Set-if-changed: redundant conf writes
    * churn SQLConf in packed multi-query sessions. */
  def nanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption(NanosAsLongKey).contains("true"))
      spark.conf.set(NanosAsLongKey, "true")

  private val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Resolved physical type of an events `ts` column, if present. */
  def eventTsType(df: DataFrame): Option[DataType] =
    df.schema.fields.find(_.name == "ts").map(_.dataType)

  /** Three-way dispatch: nanos-as-long → truncate to µs; NTZ → re-tag as
    * UTC instant; TimestampType → pass through untouched. */
  def normalizeEventTs(df: DataFrame): DataFrame = eventTsType(df) match {
    case Some(LongType) =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case Some(TimestampNTZType) =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
}
