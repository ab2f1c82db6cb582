package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.streaming.UpsertSink

/** Streaming upsert sink: keep-latest merge across micro-batches,
  * immutable snapshot chain, batch equivalence. */
class UpsertSinkSpec extends SparkSpec {

  test("two-batch drain: updates win, inserts land, snapshots immutable") {
    val s = spark
    import s.implicits._
    Scratch.scoped("graft_upsert_in") { inDir => Scratch.scoped("graft_upsert_table") { tableDir =>
      def stage(rows: Seq[(Long, Long, String)], idx: Int): Unit =
        Sources.writeSinglePart(rows.toDF("doc_id", "version", "text"),
          inDir.resolve(f"part-$idx%04d.parquet"))(_.parquet(_))
      stage(Seq((1L, 1L, "one"), (2L, 1L, "two"), (3L, 1L, "three")), 0)
      stage(Seq((2L, 2L, "two-v2"), (9L, 2L, "nine")), 1)
      val stream = s.readStream
        .schema("doc_id LONG, version LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
      val result = UpsertSink.drainUpsert(s, stream, tableDir.toString)
        .select("doc_id", "version", "text")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(result == Seq((1L, 1L, "one"), (2L, 2L, "two-v2"),
        (3L, 1L, "three"), (9L, 2L, "nine")))
      // the snapshot chain is immutable: batch 0's snapshot still holds
      // the PRE-update row — a crashed batch 1 would have left it valid
      val snaps = tableDir.toFile.listFiles()
        .filter(_.getName.startsWith("snapshot_")).map(_.getName).sorted
      assert(snaps.length == 2)
      val snap0 = s.read.parquet(s"$tableDir/${snaps.head}")
        .where(col("doc_id") === 2L)
        .select("version").as[Long].collect().toSeq
      assert(snap0 == Seq(1L))
    }}
  }
}
