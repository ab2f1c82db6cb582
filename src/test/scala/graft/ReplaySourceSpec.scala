package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[graft.sources.ReplaySource]] (`graft-replay`, the custom DSv2
  * micro-batch streaming source): admission control splits the drain
  * into one batch per file; offsets persisted in the checkpoint make
  * a second drain RESUME (only new files read, state carried); a
  * malformed line fails naming the file. */
class ReplaySourceSpec extends SparkSpec {

  private def writeSeg(dir: Path, idx: Int, lines: Seq[String]): Unit =
    Files.writeString(dir.resolve(f"seg$idx%02d.csv"),
      lines.mkString("", "\n", "\n"))

  /** Drain the replay dir through a complete-mode per-type count+sum
    * into a memory sink; returns (result rows, per-batch input rows). */
  private def drain(dir: Path, ckpt: Path): (Seq[(String, Long, Long)], Seq[Long]) = {
    val agg = spark.readStream.format("graft-replay")
      .option("path", dir.toString).option("maxFilesPerBatch", 1).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val name = s"replay_spec_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val out = rows(spark.table(name).orderBy("event_type"))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val batches = q.recentProgress.toSeq
        .map(_.numInputRows).filter(_ > 0)
      (out, batches)
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("byte-based admission: maxBytesPerBatch packs files until the " +
      "budget trips, never splitting below one file") {
    Scratch.scoped("graft_replay_bytes") { dir => Scratch.scoped("graft_replay_bytes_ckpt") { ckpt =>
      writeSeg(dir, 0, Seq("1000,1,view,10", "2000,2,view,20")) // 30 B
      writeSeg(dir, 1, Seq("3000,1,buy,100"))                   // 15 B
      writeSeg(dir, 2, Seq("4000,3,view,30", "5000,1,buy,200")) // 31 B
      val sz = (0 to 2).map(i =>
        Files.size(dir.resolve(f"seg$i%02d.csv")))
      // budget admits seg0+seg1 but not seg2 → batches [3 rows, 2 rows]
      val budget = sz(0) + sz(1)
      val agg = spark.readStream.format("graft-replay")
        .option("path", dir.toString)
        .option("maxFilesPerBatch", 10)
        .option("maxBytesPerBatch", budget)
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val name = s"replay_bytes_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        val batches = q.recentProgress.toSeq
          .map(_.numInputRows).filter(_ > 0)
        assert(batches == Seq(3L, 2L), s"byte budget $budget: $batches")
        assert(rows(spark.table(name).orderBy("event_type"))
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
          Seq(("buy", 2L, 300L), ("view", 3L, 60L)))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
      // a 1-byte budget cannot stall the stream: one file per batch
      val ckpt2 = Files.createTempDirectory("graft_replay_bytes_ckpt2")
      val agg2 = spark.readStream.format("graft-replay")
        .option("path", dir.toString)
        .option("maxFilesPerBatch", 10)
        .option("maxBytesPerBatch", 1)
        .load().groupBy().agg(count(lit(1)).as("n"))
      val name2 = s"replay_floor_${System.nanoTime()}"
      val q2 = agg2.writeStream.format("memory").queryName(name2)
        .outputMode("complete")
        .option("checkpointLocation", ckpt2.toString)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q2.awaitTermination()
        val b2 = q2.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
        assert(b2 == Seq(2L, 1L, 2L), s"one-file floor: $b2")
      } finally {
        q2.stop(); spark.catalog.dropTempView(name2)
        graft.streaming.StreamingResidue.deleteRecursively(ckpt2)
      }
    }}
  }

  test("prefix drift: a segment landing BEFORE consumed ones in sort " +
      "order refuses the resume loudly instead of shifting offsets") {
    Scratch.scoped("graft_replay_drift") { dir => Scratch.scoped("graft_replay_drift_ckpt") { ckpt =>
      writeSeg(dir, 0, Seq("1000,1,view,10"))
      writeSeg(dir, 1, Seq("2000,1,buy,100"))
      drain(dir, ckpt) // consumes seg00, seg01; checkpoint pins seg01
      // a file lands with a lexicographically EARLIER name — every
      // index into the re-listed directory now points one file off
      Files.writeString(dir.resolve("aaa00.csv"), "9,9,late,9\n")
      val ex = intercept[Exception] { drain(dir, ckpt) }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("shifted the consumed prefix"))),
        s"expected a loud prefix-drift refusal, got: $ex")
    }}
  }

  test("user-declared schema: a non-default BIGINT/DOUBLE/STRING " +
      "layout reads through readStream.schema(...)") {
    Scratch.scoped("graft_replay_schema") { dir => Scratch.scoped("graft_replay_schema_ckpt") { ckpt =>
      Files.writeString(dir.resolve("seg00.csv"),
        "alpha,1.5,7\nbeta,-0.25,9\n")
      Files.writeString(dir.resolve("seg01.csv"), "gamma,3.0,11\n")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val df = spark.readStream.format("graft-replay").schema(schema)
        .option("path", dir.toString).option("maxFilesPerBatch", 1)
        .load()
        .groupBy().agg(count(lit(1)).as("rows"), sum("w").as("sw"),
          sum("n").as("sn"))
      val name = s"replay_schema_${System.nanoTime()}"
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        val r = rows(spark.table(name)).head
        assert((r.getLong(0), r.getDouble(1), r.getLong(2)) ==
          (3L, 4.25, 27L))
      } finally { q.stop(); spark.catalog.dropTempView(name) }
      // refused column types refuse loudly at table resolution
      val bad = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ok",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nope",
          org.apache.spark.sql.types.BooleanType)))
      val ex = intercept[Exception] {
        spark.readStream.format("graft-replay").schema(bad)
          .option("path", dir.toString).load()
      }
      assert(ex.getMessage.contains("unsupported column type"))
    }}
  }

  test("admission control: one micro-batch per file, exact totals") {
    Scratch.scoped("graft_replay_spec") { dir => Scratch.scoped("graft_replay_ckpt") { ckpt =>
      writeSeg(dir, 0, Seq("1000,1,view,10", "2000,2,view,20"))
      writeSeg(dir, 1, Seq("3000,1,buy,100"))
      writeSeg(dir, 2, Seq("4000,3,view,30", "5000,1,buy,200"))
      val (out, batches) = drain(dir, ckpt)
      assert(batches.size == 3, s"expected 3 fed batches, got $batches")
      assert(batches == Seq(2L, 1L, 2L))
      assert(out == Seq(("buy", 2L, 300L), ("view", 3L, 60L)))
    }}
  }

  test("checkpointed offsets resume: a second drain reads ONLY new " +
      "files and carries the state forward") {
    Scratch.scoped("graft_replay_resume") { dir => Scratch.scoped("graft_replay_resume_ckpt") { ckpt =>
      writeSeg(dir, 0, Seq("1000,1,view,10"))
      writeSeg(dir, 1, Seq("2000,2,view,20"))
      val (out1, batches1) = drain(dir, ckpt)
      assert(out1 == Seq(("view", 2L, 30L)))
      assert(batches1.sum == 2L)
      // two new segments land; SAME checkpoint → replay resumes at
      // offset 2, reads exactly the 3 new rows, state carries the
      // first drain's 2 rows through the checkpoint
      writeSeg(dir, 2, Seq("3000,1,buy,100", "4000,2,buy,200"))
      writeSeg(dir, 3, Seq("5000,3,view,40"))
      val (out2, batches2) = drain(dir, ckpt)
      assert(batches2.sum == 3L,
        s"resume re-read already-committed files: $batches2")
      assert(out2 == Seq(("buy", 2L, 300L), ("view", 3L, 70L)))
    }}
  }

  test("malformed line fails naming the file") {
    Scratch.scoped("graft_replay_bad") { dir => Scratch.scoped("graft_replay_bad_ckpt") { ckpt =>
      writeSeg(dir, 0, Seq("1000,1,view,10", "not-a-number,2,view,20"))
      val err = intercept[Exception] { drain(dir, ckpt) }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(err).exists(m =>
        m.contains("seg00.csv") && m.contains("malformed")))
    }}
  }
}
