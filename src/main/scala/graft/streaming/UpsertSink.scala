package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.Trigger

/** Streaming keep-latest UPSERT sink — the online form of the q98 CDC
  * compaction: each micro-batch MERGEs into a keyed parquet table
  * (one row per key, highest version wins; in-version ties broken by
  * latest batch, the arrival-order rule), written as a NEW versioned
  * snapshot directory with the previous snapshot left intact until
  * the swap completes. This is the transaction-log pattern every
  * lakehouse table format uses, reduced to its engine core:
  *
  *  - foreachBatch is serial, so read-merge-write needs no lock;
  *  - a snapshot is immutable once written — the merge reads snapshot
  *    N and writes snapshot N+1, never appends in place, so a crash
  *    mid-batch leaves snapshot N valid (foreachBatch replays the
  *    batch, the at-least-once contract NearDupStream documents);
  *  - crash-replay soundness needs TWO guards beyond immutability
  *    (UpsertRestartSpec pins both): the merge input is the latest
  *    snapshot that (a) carries a `_SUCCESS` commit marker — a crash
  *    mid-write leaves a marker-less partial directory that must
  *    never seed a merge — and (b) has id < the replaying batchId,
  *    so a replay never lazily reads the very directory its
  *    `mode(overwrite)` is about to clobber (Spark would abort with
  *    "Cannot overwrite a path that is also being read from", or
  *    worse, merge partial data). With both guards a replayed batch
  *    recomputes snapshot N from (committed snapshot N−1) ∪ batch —
  *    deterministic, so the rewrite is idempotent;
  *  - the merge itself is the one-exchange keep-latest window keyed
  *    by the upsert key — at table scale the snapshot would be
  *    bucketed by key (BucketingSpec) and even that exchange
  *    disappears.
  */
object UpsertSink {

  /** Drain `stream` (AvailableNow, one file per trigger when staged
    * that way) into a snapshot chain under `tableDir`; returns the
    * final snapshot as a DataFrame. Rows: (doc_id, version, text). */
  def drainUpsert(spark: SparkSession, stream: DataFrame,
      tableDir: String): DataFrame = {
    graft.Scratch.scoped("graft_upsert_ckpt") { ckpt =>
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          mergeBatch(spark, batch, batchId, tableDir)
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
    latestSnapshot(spark, tableDir, belowBatch = None)
      .getOrElse(throw new IllegalStateException("no snapshot written"))
  }

  /** One micro-batch merge: (latest COMMITTED snapshot below batchId)
    * ∪ batch → keep-latest window → snapshot_batchId. Factored out so
    * the restart spec can replay a batch against a hand-planted
    * partial snapshot exactly as the recovering stream would. */
  private[streaming] def mergeBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, tableDir: String): Unit = {
    val byKey = Window.partitionBy("doc_id")
      .orderBy(desc("version"), desc("batch_id"))
    val incoming = batch.withColumn("batch_id", lit(batchId))
    val prev = latestSnapshot(spark, tableDir, belowBatch = Some(batchId))
    val merged = prev.map(_.unionByName(incoming)).getOrElse(incoming)
      .withColumn("rk", row_number().over(byKey))
      .where(col("rk") === 1)
      .drop("rk")
    merged.write.mode("overwrite")
      .parquet(s"$tableDir/snapshot_$batchId")
    ()
  }

  /** Highest-numbered COMMITTED snapshot directory (has `_SUCCESS`),
    * optionally restricted to ids strictly below `belowBatch` (the
    * replay guard — see the class doc). */
  private[streaming] def latestSnapshot(spark: SparkSession,
      tableDir: String, belowBatch: Option[Long]): Option[DataFrame] = {
    val dir = new java.io.File(tableDir)
    val snaps = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snapshot_"))
      .filter(f => new java.io.File(f, "_SUCCESS").isFile)
      .map(f => (f.getName.stripPrefix("snapshot_").toLong, f))
      .filter { case (id, _) => belowBatch.forall(id < _) }
      .sortBy(_._1)
    snaps.lastOption.map { case (_, f) =>
      spark.read.parquet(f.getAbsolutePath) }
  }
}
