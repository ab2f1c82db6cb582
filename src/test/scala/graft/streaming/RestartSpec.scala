package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{Scratch, SparkSpec}
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord

/** Mid-batch crash-and-replay contracts for the two stateful sinks
  * whose comments claim them (r11 verdict item 9 — pin, don't trust):
  *
  *  - [[UpsertSink]]: a crash mid-write of snapshot_N leaves a
  *    marker-less partial directory; the replayed batch must merge
  *    from the last COMMITTED snapshot below N (never the partial,
  *    never the directory it is about to overwrite) and the rewrite
  *    must be idempotent.
  *  - [[NearDupStream.drainMedia]]: output append runs BEFORE state
  *    append, so a crash between the two replays to DUPLICATE output
  *    rows — at-least-once, never lossy; and losing state (the
  *    compaction mid-swap hazard) only over-ADMITS, never drops a
  *    novel doc. A batch that fails outright (the Fail poison pill)
  *    admits nothing and leaves no cache behind for its replay.
  */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  private def write(rows: Seq[(Long, Long, String)], path: String): Unit =
    rows.toDF("doc_id", "version", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)

  test("UpsertSink replay: a marker-less partial snapshot_N is skipped; " +
      "the replayed batch merges from committed N-1 and overwrites N") {
    Scratch.scoped("graft_upsert_restart") { tableDir =>
      // committed snapshot_0 (spark write emits _SUCCESS); rows carry
      // batch_id 0, the shape mergeBatch writes
      Seq((1L, 1L, "one", 0L), (2L, 1L, "two", 0L))
        .toDF("doc_id", "version", "text", "batch_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$tableDir/snapshot_0")
      assert(new java.io.File(s"$tableDir/snapshot_0/_SUCCESS").isFile)
      // CRASH SCENE: partial snapshot_1 — some data landed, no marker
      write(Seq((2L, 99L, "partial-garbage")), s"$tableDir/snapshot_1")
      val marker = new java.io.File(s"$tableDir/snapshot_1/_SUCCESS")
      assert(marker.delete(), "fixture must remove the commit marker")
      // the partial must be invisible to snapshot selection
      assert(UpsertSink.latestSnapshot(spark, tableDir.toString, None)
        .get.agg(max("version")).head.getLong(0) == 1L)
      // replay batch 1 exactly as the recovering stream would
      val batch1 = Seq((2L, 2L, "two-v2"), (9L, 2L, "nine"))
        .toDF("doc_id", "version", "text")
      UpsertSink.mergeBatch(spark, batch1, 1L, tableDir.toString)
      // snapshot_1 is now committed and correct: the 99/partial row is
      // gone, the merge came from snapshot_0
      assert(new java.io.File(s"$tableDir/snapshot_1/_SUCCESS").isFile)
      val got = spark.read.parquet(s"$tableDir/snapshot_1")
        .select("doc_id", "version", "text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 1L, "one"), (2L, 2L, "two-v2"),
        (9L, 2L, "nine")), s"got $got")
      // idempotence: replaying the SAME batch again (crash after a
      // complete write but before the checkpoint commit) reproduces
      // the identical snapshot — belowBatch excludes snapshot_1 from
      // its own merge input, so no read-overwrite conflict either
      UpsertSink.mergeBatch(spark, batch1, 1L, tableDir.toString)
      val again = spark.read.parquet(s"$tableDir/snapshot_1")
        .select("doc_id", "version", "text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(again == got)
    }
  }

  test("UpsertSink first-batch replay: a partial snapshot_0 with NO " +
      "committed predecessor merges from nothing, not the partial") {
    Scratch.scoped("graft_upsert_restart0") { tableDir =>
      write(Seq((7L, 99L, "partial")), s"$tableDir/snapshot_0")
      assert(new java.io.File(s"$tableDir/snapshot_0/_SUCCESS").delete())
      UpsertSink.mergeBatch(spark,
        Seq((7L, 1L, "seven")).toDF("doc_id", "version", "text"),
        0L, tableDir.toString)
      val got = spark.read.parquet(s"$tableDir/snapshot_0")
        .select("doc_id", "version").as[(Long, Long)].collect().toSeq
      assert(got == Seq((7L, 1L)), s"got $got")
    }
  }

  /** q127 fixture records: ids in the same group (id/3) share a pixel
    * surface across different containers. */
  private def media(ids: Long*): Seq[MediaRecord] =
    Multimodal.encodePerceptualFixture(ids.toDF("doc_id"))
      .collect().toSeq.sortBy(_.doc_id)

  test("drainMedia replay after crash between output and state append: " +
      "duplicate output rows, never a lost doc") {
    Scratch.scoped("graft_media_restart_state") { stateDir => Scratch.scoped("graft_media_restart_out") { outDir =>
      val recs = media(0L, 1L, 6L).map(r => r.doc_id -> r).toMap
      // batch 0: group-0 PNG (id 0) admitted normally
      NearDupStream.processMediaBatch(
        Seq(recs(0L)).toDS(), 0L, stateDir, outDir,
        maxHamming = 6, ccMaxIter = 20,
        onNonConvergence = NearDupStream.Fail)
      // snapshot the state as of the crash point: batch 1 will append
      // output, then "crash" before its state append — we restore this
      val stateSnap = Files.createTempDirectory("graft_media_state_snap")
      scala.util.Using.resource(Files.list(stateDir)) { s =>
        s.forEach(p => Files.copy(p, stateSnap.resolve(p.getFileName)))
      }
      // batch 1: id 1 is a BMP re-encode of id 0 (dropped by state),
      // id 6 is novel (admitted)
      val batch1 = Seq(recs(1L), recs(6L)).toDS()
      NearDupStream.processMediaBatch(batch1, 1L, stateDir, outDir,
        maxHamming = 6, ccMaxIter = 20,
        onNonConvergence = NearDupStream.Fail)
      // CRASH: state append is rolled back, output append survived
      StreamingResidue.deleteRecursively(stateDir)
      Files.createDirectories(stateDir)
      scala.util.Using.resource(Files.list(stateSnap)) { s =>
        s.forEach(p => Files.copy(p, stateDir.resolve(p.getFileName)))
      }
      StreamingResidue.deleteRecursively(stateSnap)
      // REPLAY batch 1 (foreachBatch at-least-once)
      NearDupStream.processMediaBatch(batch1, 1L, stateDir, outDir,
        maxHamming = 6, ccMaxIter = 20,
        onNonConvergence = NearDupStream.Fail)
      val counts = spark.read.parquet(outDir.toString)
        .groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      // never lossy: every admitted doc present; the replayed batch's
      // survivor is duplicated (the at-least-once direction); the
      // re-encode stays dropped on replay too
      assert(counts.keySet == Set(0L, 6L), s"got $counts")
      assert(counts(0L) == 1L && counts(6L) == 2L, s"got $counts")
      // the offline exact backstop recovers exactly-once
      assert(spark.read.parquet(outDir.toString)
        .dropDuplicates("doc_id").count() == 2L)
    }}
  }

  test("processMediaBatch poison pill (Fail): the failed batch admits " +
      "nothing and releases every cache it made") {
    // ccMaxIter = 0 forces CC non-convergence; under Fail the batch
    // throws mid-way, after its band-key cache is materialized. The
    // replay of a failed batch must not find the previous attempt's
    // blocks still pinned, so residue is compared before and after.
    Scratch.scoped("graft_media_pp_state") { stateDir => Scratch.scoped("graft_media_pp_out") { outDir =>
      val batch = media(0L, 1L, 6L).toDS()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalStateException] {
        NearDupStream.processMediaBatch(batch, 0L, stateDir, outDir,
          maxHamming = 6, ccMaxIter = 0,
          onNonConvergence = NearDupStream.Fail)
      }
      assert(e.getMessage.contains("ccMaxIter") &&
        e.getMessage.contains("Fallback"), s"playbook not surfaced: $e")
      val leaked = persistedSince(before)
      assert(leaked.isEmpty, s"leaked blocks: ${leaked.mkString(", ")}")
      // failed before its output append: nothing admitted
      assert(outDir.toFile.list().isEmpty)
    }}
  }

  test("drainMedia state loss (compaction mid-swap hazard) only " +
      "over-admits — a novel doc is never dropped") {
    Scratch.scoped("graft_media_swap_state") { stateDir => Scratch.scoped("graft_media_swap_out") { outDir =>
      val recs = media(0L, 1L, 6L).map(r => r.doc_id -> r).toMap
      NearDupStream.processMediaBatch(
        Seq(recs(0L)).toDS(), 0L, stateDir, outDir,
        maxHamming = 6, ccMaxIter = 20,
        onNonConvergence = NearDupStream.Fail)
      // crash mid-swap: the state dir is GONE (worst case)
      StreamingResidue.deleteRecursively(stateDir)
      Files.createDirectories(stateDir)
      NearDupStream.processMediaBatch(
        Seq(recs(1L), recs(6L)).toDS(), 1L, stateDir, outDir,
        maxHamming = 6, ccMaxIter = 20,
        onNonConvergence = NearDupStream.Fail)
      val kept = spark.read.parquet(outDir.toString)
        .select("doc_id").as[Long].collect().toSet
      // conservative direction: the re-encode (1) is over-ADMITTED
      // because its state evidence was lost; the novel doc (6) is kept
      assert(kept == Set(0L, 1L, 6L), s"got $kept")
    }}
  }
}
