package graft.streaming

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Dedup

/** Online NEAR-duplicate dedup — the approximate sibling of
  * [[DedupStream]]: a document arriving in a later micro-batch that is
  * merely SIMILAR to one already admitted (not byte-identical) is
  * dropped. Uses the exact same MinHash band-bucket key space as the
  * offline pair finder (`Dedup.bandBuckets` — same hash family, same
  * banding), so online and offline decisions agree.
  *
  * Shape: `foreachBatch` + a persistent seen-bucket table, not a
  * stateful operator. `dropDuplicatesWithinWatermark` can't express
  * this — a doc owns SEVERAL band keys and the doc-level verdict
  * ("any band seen before") needs a per-doc aggregate over per-band
  * state, and in-batch ties between bands must resolve to ONE
  * representative deterministically (engine-defined per-key winners
  * can disagree across a doc's bands, dropping every copy). Per
  * micro-batch:
  *
  *  1. band buckets of the batch's docs (narrow projection + one
  *     shuffle keyed by doc id, same as offline);
  *  2. drop docs sharing ANY bucket with the seen-bucket table
  *     (equi-join on the bucket hash — broadcastable while the state
  *     is small, shuffle-join at scale; never touches raw text);
  *  3. in-batch resolution among survivors: connected components over
  *     the batch's bucket-co-membership graph (the same transitive
  *     clustering the offline pair graph yields), keeping the MIN doc
  *     id of each component — so chain-shaped in-batch clusters
  *     (A~B~C with A≁C) resolve to ONE representative, identical to
  *     `Dedup.connectedComponents` offline;
  *  4. ALL batch buckets (kept and dropped docs') are appended to the
  *     state so future arrivals chain through intermediates — the
  *     same transitive clustering the offline pair graph yields;
  *  5. kept docs are appended to the output table.
  *
  * Docs too short to shingle have no LSH identity and pass through
  * unconditionally (the exact [[DedupStream]] layer catches their
  * literal copies).
  *
  * State growth: the bucket table grows with ADMITTED content (plus
  * novel buckets of dropped docs), i.e. with unique data, not with
  * ingest volume. Production retention = date-partition the state dir
  * and drop partitions beyond the dedup horizon; the offline q31 pass
  * over accumulated output remains the global backstop, exactly like
  * the exact-dedup layering.
  *
  * Delivery contract: `foreachBatch` is AT-LEAST-ONCE — a crash
  * between the appends and the checkpoint commit replays the batch.
  * Replay is CONSERVATIVE here, never lossy: the output append runs
  * BEFORE the state append (order matters — see processBatch), so a
  * replay can only duplicate output rows, exactly what the offline
  * exact-dedup backstop removes; re-appended buckets are harmless
  * (the state join is a semi-join). Exactly-once output requires an
  * idempotent sink keyed by (batch id, doc id), the standard
  * foreachBatch discipline.
  *
  * Poison-pill contract (CC non-convergence): in-batch resolution
  * runs `Dedup.connectedComponents`, which FAILS LOUDLY if the
  * batch's bucket graph does not converge in `ccMaxIter` rounds. An
  * unhandled throw kills the stream, and because foreachBatch replays
  * the uncommitted batch on restart, the SAME graph hits the SAME
  * throw — a poison-pill loop. The operator playbook is explicit:
  *  - `onNonConvergence = Fail` (default): the batch fails with an
  *    exception naming the batch id and this knob. Restart after
  *    raising `ccMaxIter` (pointer jumping covers huge diameters in
  *    20 rounds, so needing more is already pathological), or rerun
  *    with `Fallback` to get past the batch.
  *  - `onNonConvergence = Fallback`: the batch logs the id to stderr
  *    and degrades in-batch resolution to ONE-HOP bucket-min (each
  *    doc drops iff some band bucket of its has a smaller member).
  *    One-hop is CONSERVATIVE in the never-lossy direction: every
  *    transitive cluster still admits at least one member, but a
  *    chain A~B~C can admit two (the offline q31+CC backstop collapses
  *    them later). Cross-batch dedup and state registration are
  *    unaffected.
  */
object NearDupStream {

  /** What to do when a batch's in-batch CC does not converge. */
  sealed trait NonConvergence
  /** Fail the batch (and stream) with a documented exception. */
  case object Fail extends NonConvergence
  /** Degrade to one-hop bucket-min resolution, log, keep going. */
  case object Fallback extends NonConvergence

  /** Drain `docs` (streaming frame of [[DedupStream.Doc]] rows) with
    * AvailableNow, writing admitted docs to `outDir` and bucket state
    * to `stateDir`. Returns after the backlog is fully processed.
    *
    * Pass a persistent `checkpoint` to make repeated drains
    * INCREMENTAL: the offset log skips committed files, so a cron'd
    * re-run processes only new arrivals (without it, each drain
    * re-reads everything — correct but wasteful: replayed docs just
    * match their own buckets in state and drop).
    *
    * `compactEvery = n > 0` (DEFAULT 16; 0 opts out) rewrites the
    * bucket state to ONE distinct sorted file-set after every n-th
    * batch: the state dir otherwise gains a small file-set per
    * micro-batch and the per-batch state scan degrades into a
    * small-files problem after thousands of batches — on by default
    * because the rewrite costs nothing at small state and the
    * unbounded-file-count foot-gun is silent. Compaction also
    * distinct-merges re-appended buckets, so
    * the state is bounded by UNIQUE content, not batch count. The
    * swap is delete-then-move: a crash mid-swap can only LOSE bucket
    * state (future dups get admitted and the offline backstop removes
    * them — conservative direction), never drop a novel doc. At
    * warehouse scale the same pass writes size-targeted sorted files
    * (Layout.writeSized) under a date-partitioned retention horizon. */
  def drain(spark: SparkSession, docs: Dataset[DedupStream.Doc],
      stateDir: Path, outDir: Path,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      checkpoint: Option[Path] = None,
      ccMaxIter: Int = 20,
      onNonConvergence: NonConvergence = Fail,
      compactEvery: Int = 16): Unit = {
    def run(ckpt: Path): Unit = {
      val q = docs.writeStream
        .foreachBatch { (batch: Dataset[DedupStream.Doc], batchId: Long) =>
          processBatch(batch.toDF(), batchId, stateDir, outDir, k, bands,
            shingleN, ccMaxIter, onNonConvergence)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            compactState(spark, stateDir)
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
    checkpoint.fold(graft.Scratch.scoped("graft_ckpt_neardup")(run))(run)
  }

  private def processBatch(batch: DataFrame, batchId: Long,
      stateDir: Path, outDir: Path,
      k: Int, bands: Int, shingleN: Int,
      ccMaxIter: Int, onNonConvergence: NonConvergence): Unit = {
    val spark = batch.sparkSession
    // both caches are loans, released on ANY exit: a Fail-policy batch
    // throws mid-body, and the stream's replay would otherwise pile up
    // one cache per attempt
    graft.CacheRegistry.persisting(batch) { b =>
      val bucketed = Dedup.bandBuckets(b, "doc_id", "text", k, bands, shingleN)
      graft.CacheRegistry.persisting(bucketed) { buckets =>
        try {
          val seen =
            if (Files.exists(stateDir) && hasParquet(stateDir))
              spark.read.parquet(stateDir.toString)
            else spark.emptyDataFrame.select(lit("").as("bucket")).limit(0)
          // 2. cross-batch: any bucket already seen → drop
          val hits = buckets.join(seen, Seq("bucket"), "left_semi")
            .select("id").distinct()
          // 3. in-batch: transitive resolution. Star edges (member, bucket
          //    min) connect every bucket's members; chains that share docs
          //    connect across buckets; connected components then labels
          //    each doc with its component's min id — the same transitive
          //    clustering as the offline pair graph (one-hop min alone
          //    keeps two docs from a chain A~B~C where offline keeps one).
          val bucketMin = buckets.groupBy("bucket").agg(min("id").as("bmin"))
          val pairs = buckets.join(bucketMin, "bucket")
            .where(col("id") =!= col("bmin"))
            .select(col("id").as("a"), col("bmin").as("b")).distinct()
          val inBatchDrop =
            try Dedup.connectedComponents(pairs, maxIter = ccMaxIter)
              .where(col("cluster") < col("id")).select("id")
            catch {
              case e: IllegalStateException => onNonConvergence match {
                case Fail =>
                  // poison pill: a restart replays this batch into the
                  // same graph — surface the playbook, don't loop silently
                  throw new IllegalStateException(
                    s"NearDupStream batch $batchId: in-batch connected " +
                      s"components did not converge in $ccMaxIter rounds. " +
                      "Restart with a higher ccMaxIter, or set " +
                      "onNonConvergence=Fallback to degrade this batch to " +
                      "one-hop resolution (conservative: may over-keep).", e)
                case Fallback =>
                  System.err.println(
                    s"[neardup] batch $batchId: CC non-convergence " +
                      s"(ccMaxIter=$ccMaxIter); falling back to one-hop " +
                      "bucket-min resolution for this batch")
                  // one-hop: drop docs whose some bucket has a smaller
                  // member — `pairs`' left side is exactly that set
                  pairs.select(col("a").as("id")).distinct()
              }
            }
          val dropped = hits.union(inBatchDrop).distinct()
            .withColumnRenamed("id", "doc_id")
          // 4. emit survivors (short un-shingleable docs pass through).
          //    Output BEFORE state, deliberately: a crash between the two
          //    appends then replays to a duplicate output (at-least-once,
          //    offline backstop removes it). The reverse order is LOSSY —
          //    the replayed batch would see its own buckets in state and
          //    drop every doc with no admitted copy anywhere.
          b.join(dropped, Seq("doc_id"), "left_anti")
            .write.mode("append").parquet(outDir.toString)
          // 5. register every batch bucket (transitive chaining)
          buckets.select("bucket").distinct()
            .write.mode("append").parquet(stateDir.toString)
        } finally {
          // a micro-batch is one unit of work: free the checkpoint blocks
          // connectedComponents registered for this batch's in-batch CC
          // (nothing else calls releaseAll on the streaming path, and a
          // long-lived stream would otherwise accumulate one block-set +
          // one registry thunk per batch)
          graft.CacheRegistry.releaseAll()
        }
      }
    }
  }

  // ---- Media tier: perceptual near-dup state over image columns ----

  /** The offline q127/q129 band keys for one image, as (bucket, hash)
    * rows: 4 contiguous 16-bit dHash bands (`d<band>#<bval>`) plus 4
    * STRIPED DCT-pHash bands (`p<band>#<bval>`, bit i → band i mod 4 —
    * the same striping the offline query uses so frequency-ordered
    * bits can't degenerate a band). The family prefix namespaces the
    * key space: a dHash band value can never collide with a pHash
    * band value in state, and a bucket match always compares hashes
    * of the SAME family. Undecodable payloads yield no rows (no LSH
    * identity — such docs pass through, like un-shingleable text).
    * Package-visible so the spec can replay the exact key derivation
    * for its batch-equivalence assert. */
  private[graft] def mediaBandRows(id: Long, data: Array[Byte])
      : Seq[(Long, String, Long)] =
    graft.operators.Multimodal.grayPixels(data).toSeq.flatMap {
      case (w, h, g) =>
        val dRows = graft.operators.Multimodal.dHash64(w, h, g).toSeq
          .flatMap { hd =>
            (0 until 4).map(b => (id, s"d$b#${(hd >>> (16 * b)) & 0xFFFFL}", hd))
          }
        val pRows = graft.operators.Multimodal.pHashDct64(w, h, g).toSeq
          .flatMap { hp =>
            (0 until 4).map { b =>
              var v = 0L
              var j = 0
              while (j < 16) { v |= ((hp >>> (4 * j + b)) & 1L) << j; j += 1 }
              (id, s"p$b#$v", hp)
            }
          }
        dRows ++ pRows
    }

  /** [[drain]] for IMAGE content: online perceptual near-dup over the
    * same dHash + DCT-pHash band keys as the offline q127/q129
    * pipeline, so online and offline decisions agree. Differences
    * from the text tier, both inherent to perceptual hashing:
    *
    *  - state rows are (bucket, hash) not bare buckets — a band
    *    collision is only a CANDIDATE; the verdict needs the full
    *    64-bit hamming verify (`≤ maxHamming`, default 6 = the
    *    offline gate), exactly as the offline pipeline verifies after
    *    banding. The state join stays an equi-join on the bucket key;
    *    the hamming check is a narrow post-filter on the matched rows.
    *  - in-batch candidates come from a per-bucket self-join (the
    *    offline candidate shape) rather than bucket-min star edges,
    *    because unverified star edges would merge docs whose hashes
    *    fail the hamming gate. Verified pairs then resolve through
    *    the same [[Dedup.connectedComponents]] min-id rule; the
    *    `Fallback` degradation drops the larger member of each
    *    verified pair (conservative: over-keeps chains, never loses
    *    a cluster's minimum).
    *
    * At-least-once delivery, state growth, compaction, and the
    * poison-pill playbook are identical to [[drain]] (same scaladoc
    * contracts apply). */
  def drainMedia(spark: SparkSession,
      media: Dataset[graft.operators.Multimodal.MediaRecord],
      stateDir: Path, outDir: Path,
      maxHamming: Int = 6,
      checkpoint: Option[Path] = None,
      ccMaxIter: Int = 20,
      onNonConvergence: NonConvergence = Fail,
      compactEvery: Int = 16): Unit = {
    def run(ckpt: Path): Unit = {
      val q = media.writeStream
        .foreachBatch {
          (batch: Dataset[graft.operators.Multimodal.MediaRecord],
              batchId: Long) =>
            processMediaBatch(batch, batchId, stateDir, outDir, maxHamming,
              ccMaxIter, onNonConvergence)
            if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
              compactState(spark, stateDir)
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
    checkpoint.fold(
      graft.Scratch.scoped("graft_ckpt_neardup_media")(run))(run)
  }

  // private[streaming] so RestartSpec can replay one batch exactly as
  // the recovering stream would (foreachBatch at-least-once)
  private[streaming] def processMediaBatch(
      batch: Dataset[graft.operators.Multimodal.MediaRecord], batchId: Long,
      stateDir: Path, outDir: Path, maxHamming: Int,
      ccMaxIter: Int, onNonConvergence: NonConvergence): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    graft.CacheRegistry.persisting(batch) { b =>
      // narrow decode+hash pass: ~8 rows of (id, bucket, hash) leave per
      // image; the container bytes never shuffle
      val hashed = b.flatMap(r => mediaBandRows(r.doc_id, r.data))
        .toDF("id", "bucket", "hash")
      graft.CacheRegistry.persisting(hashed) { keys =>
        try {
          val seen =
            if (Files.exists(stateDir) && hasParquet(stateDir))
              spark.read.parquet(stateDir.toString)
            else spark.emptyDataFrame
              .select(lit("").as("bucket"), lit(0L).as("hash")).limit(0)
          // cross-batch: bucket equi-join + full-hash hamming verify (the
          // family prefix in the bucket key guarantees hashes compared
          // here are same-family)
          val hits = keys
            .join(seen.withColumnRenamed("hash", "shash"), Seq("bucket"))
            .where(bit_count(col("hash").bitwiseXOR(col("shash"))) <= maxHamming)
            .select("id").distinct()
          // in-batch: the offline candidate shape (per-bucket self-join),
          // hamming-verified, then transitive min-id resolution
          val cand = keys.as("x").join(keys.as("y"), Seq("bucket"))
            .where(col("x.id") < col("y.id"))
            .where(bit_count(col("x.hash").bitwiseXOR(col("y.hash")))
              <= maxHamming)
            .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
          val inBatchDrop =
            try Dedup.connectedComponents(cand, maxIter = ccMaxIter)
              .where(col("cluster") < col("id")).select("id")
            catch {
              case e: IllegalStateException => onNonConvergence match {
                case Fail =>
                  throw new IllegalStateException(
                    s"NearDupStream media batch $batchId: in-batch connected " +
                      s"components did not converge in $ccMaxIter rounds. " +
                      "Restart with a higher ccMaxIter, or set " +
                      "onNonConvergence=Fallback to degrade this batch to " +
                      "verified-pair resolution (conservative: may over-keep).",
                    e)
                case Fallback =>
                  System.err.println(
                    s"[neardup-media] batch $batchId: CC non-convergence " +
                      s"(ccMaxIter=$ccMaxIter); dropping the larger member " +
                      "of each verified pair for this batch")
                  cand.select(col("b").as("id")).distinct()
              }
            }
          val dropped = hits.union(inBatchDrop).distinct()
            .withColumnRenamed("id", "doc_id")
          // output BEFORE state — same crash-replay direction as the text
          // tier (duplicate output, never a lost novel doc)
          b.join(dropped, Seq("doc_id"), "left_anti")
            .write.mode("append").parquet(outDir.toString)
          keys.select("bucket", "hash").distinct()
            .write.mode("append").parquet(stateDir.toString)
        } finally graft.CacheRegistry.releaseAll()
      }
    }
  }

  /** Rewrite the bucket state to a distinct, RANGE-SHARDED sorted
    * file-set: shard count scales with the state's on-disk bytes
    * (`targetShardBytes` per shard, default 64 MB), so compaction
    * parallelism grows with the state instead of serializing on one
    * task — state grows with distinct band buckets, and at 100 TB a
    * single-task rewrite would become the between-batch bottleneck.
    * Shards are `repartitionByRange(bucket)` + sorted within, so each
    * file covers a disjoint bucket range (the layout the per-batch
    * state probe join likes). Runs between micro-batches
    * (foreachBatch is serial), so no reader races the swap; a crash
    * mid-swap loses state in the conservative direction only (see
    * drain scaladoc). */
  private[graft] def compactState(spark: SparkSession, stateDir: Path,
      targetShardBytes: Long = 64L << 20): Unit = {
    if (!Files.exists(stateDir) || !hasParquet(stateDir)) return
    val bytes = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
    val shards = math.max(1L, math.min(4096L,
      (bytes + targetShardBytes - 1) / targetShardBytes)).toInt
    val tmp = stateDir.resolveSibling(stateDir.getFileName.toString + ".compact")
    spark.read.parquet(stateDir.toString)
      .distinct()
      .repartitionByRange(shards, col("bucket"))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(tmp.toString)
    StreamingResidue.deleteRecursively(stateDir)
    Files.move(tmp, stateDir)
  }

  private def hasParquet(dir: Path): Boolean =
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.exists(_.toString.endsWith(".parquet"))
    }
}
