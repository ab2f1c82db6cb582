package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.Trigger

/** Online distribution-drift monitoring — the data-quality alarm a
  * continuously-ingesting pipeline runs beside its funnels: the FIRST
  * micro-batch's categorical distribution (here: language) becomes the
  * baseline, and every later batch reports its total-variation
  * distance TVD = ½·Σ|p_c − q_c| against it plus a drift flag. A
  * upstream crawler change, a broken extractor, or a source mix shift
  * shows up as a TVD spike batches before it would poison a trained
  * model.
  *
  * Determinism contract: the per-batch distance folds its per-category
  * terms in SORTED category order (the LmScore ordered-fold pattern) —
  * an unordered float sum over categories would be
  * partition-order-dependent and an oracle could not replay it. State
  * is one tiny parquet of baseline counts (|categories| rows); batch
  * summaries append to the output table. At-least-once: a replayed
  * batch re-appends its summary row (idempotent by batch_id for any
  * keyed consumer), and the baseline write is guarded by existence so
  * replay cannot re-baseline.
  */
object DriftStream {

  final case class KeyedDoc(doc_id: Long, key: String)

  def drain(spark: SparkSession, docs: Dataset[KeyedDoc],
      stateDir: Path, outDir: Path,
      threshold: Double = 0.05,
      checkpoint: Option[Path] = None): Unit = {
    def run(ckpt: Path): Unit = {
      val q = docs.writeStream
        .foreachBatch { (batch: Dataset[KeyedDoc], batchId: Long) =>
          processBatch(batch.toDF(), batchId, stateDir, outDir, threshold)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally {
        q.stop()
        StateStore.stop()
      }
    }
    // a caller-given checkpoint is the caller's to keep
    checkpoint.fold(graft.Scratch.scoped("graft_ckpt_drift")(run))(run)
  }

  private def hasParquet(dir: Path): Boolean = {
    import scala.jdk.CollectionConverters._
    Files.exists(dir) && scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.exists(_.toString.endsWith(".parquet"))
    }
  }

  private def processBatch(batch: DataFrame, batchId: Long,
      stateDir: Path, outDir: Path, threshold: Double): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val counts = batch.groupBy("key").agg(count(lit(1)).as("c"))
    if (!hasParquet(stateDir)) {
      // first batch: becomes the baseline; its drift is 0 by definition
      counts.write.mode("overwrite").parquet(stateDir.toString)
      counts.agg(sum("c").as("n"))
        .select(lit(batchId).as("batch_id"), col("n").cast("long").as("n_docs"),
          lit(0.0).as("tvd"), lit(false).as("drifted"),
          lit(true).as("is_baseline"))
        .write.mode("append").parquet(outDir.toString)
    } else {
      val base = spark.read.parquet(stateDir.toString)
        .withColumnRenamed("c", "bc")
      val joined = counts.join(base, Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("c"), lit(0L)).as("c"),
          coalesce(col("bc"), lit(0L)).as("bc"))
      val totals = joined.agg(sum("c").as("n"), sum("bc").as("bn")).head()
      val n = totals.getLong(0).toDouble
      val bn = totals.getLong(1).toDouble
      // ordered fold: terms sorted by category key, summed left to
      // right — replayable by an oracle's list_sum(list(... ORDER BY))
      val summary = joined
        .select(struct(col("key"),
          abs(col("c") / lit(n) - col("bc") / lit(bn)).as("t")).as("s"))
        .agg(aggregate(array_sort(collect_list(col("s"))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("sum_t"))
        .select(lit(batchId).as("batch_id"),
          lit(n.toLong).as("n_docs"),
          round(col("sum_t") * 0.5, 6).as("tvd"))
        .withColumn("drifted", col("tvd") > threshold)
        .withColumn("is_baseline", lit(false))
      summary.write.mode("append").parquet(outDir.toString)
    }
  }
}
