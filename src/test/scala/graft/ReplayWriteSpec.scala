package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.unsafe.types.UTF8String

/** The `graft-replay` STREAMING SINK's transactional contracts,
  * driven directly at the [[org.apache.spark.sql.connector.write
  * .streaming.StreamingWrite]] level (the end-to-end relay is
  * q377's job): epoch replay publishes the same names (no
  * duplicates), abort removes staged files and leaves published
  * epochs untouched, and staged files are invisible to the read
  * side. */
class ReplayWriteSpec extends SparkSpec {

  private def writeVia(w: org.apache.spark.sql.connector.write.streaming
      .StreamingWrite, epochId: Long, partitionId: Int,
      rows: Seq[(Long, Long, String, Long)]): WriterCommitMessage = {
    val task = w.createStreamingWriterFactory(null)
      .createWriter(partitionId, 0L, epochId)
    rows.foreach { case (ts, u, t, c) =>
      task.write(InternalRow(ts, u, UTF8String.fromString(t), c))
    }
    task.commit()
  }

  private def mkWrite(dir: Path) =
    graft.sources.ReplaySourceTestHook.streamingWrite(dir.toString)

  test("string values that cannot round-trip the CSV layout are " +
      "refused at write time, not accepted and corrupted") {
    Scratch.scoped("graft_rw_inject") { dir =>
      val w = mkWrite(dir)
      for (hostile <- Seq("has,comma", "has\nnewline", "has\rreturn")) {
        val task = w.createStreamingWriterFactory(null)
          .createWriter(0, 0L, 0L)
        val ex = intercept[IllegalArgumentException] {
          task.write(InternalRow(1L, 1L, UTF8String.fromString(hostile), 1L))
        }
        assert(ex.getMessage.contains("cannot round-trip"), ex.getMessage)
        task.abort()
      }
      // nothing got published
      assert(!dir.toFile.listFiles().exists(_.getName.endsWith(".csv")))
    }
  }

  test("custom-schema write: BIGINT/DOUBLE/STRING rows publish and " +
      "re-read exactly") {
    Scratch.scoped("graft_rw_schema") { dir =>
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val w = graft.sources.ReplaySourceTestHook
        .streamingWrite(dir.toString, schema)
      val task = w.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
      task.write(InternalRow(UTF8String.fromString("alpha"), 1.5, 7L))
      task.write(InternalRow(UTF8String.fromString("beta"),
        -0.1234567890123456789, 9L))
      w.commit(0L, Array(task.commit()))
      val content = Files.readString(dir.resolve("epoch00000-p00000.csv"))
      assert(content == "alpha,1.5,7\nbeta,-0.12345678901234568,9\n")
      // Double.toString → parseDouble is an exact round trip
      assert("-0.12345678901234568".toDouble == -0.1234567890123456789)
    }
  }

  test("epoch replay republishes the SAME segment names — no dups") {
    Scratch.scoped("graft_rw_idem") { dir =>
      val w = mkWrite(dir)
      val m1 = writeVia(w, epochId = 0L, partitionId = 0,
        Seq((1000L, 1L, "view", 10L)))
      w.commit(0L, Array(m1))
      // the same epoch runs again after a simulated post-commit crash
      // (offsets not yet advanced): a fresh attempt stages new files
      // and commits — the publish must REPLACE, not duplicate
      val m2 = writeVia(w, epochId = 0L, partitionId = 0,
        Seq((1000L, 1L, "view", 10L)))
      w.commit(0L, Array(m2))
      val files = dir.toFile.listFiles().map(_.getName).sorted
      assert(files.toSeq == Seq("epoch00000-p00000.csv"))
      assert(Files.readString(dir.resolve("epoch00000-p00000.csv"))
        == "1000,1,view,10\n")
    }
  }

  test("abort deletes staged files and leaves published epochs intact") {
    Scratch.scoped("graft_rw_abort") { dir =>
      val w = mkWrite(dir)
      val ok = writeVia(w, 0L, 0, Seq((1L, 1L, "a", 1L)))
      w.commit(0L, Array(ok))
      val doomed = writeVia(w, 1L, 0, Seq((2L, 2L, "b", 2L)))
      // staged but never published
      assert(dir.toFile.listFiles().exists(_.getName.startsWith(".stage-")))
      w.abort(1L, Array(doomed))
      val files = dir.toFile.listFiles().map(_.getName).sorted
      assert(files.toSeq == Seq("epoch00000-p00000.csv"))
    }
  }

  test("staged files are invisible to the replay READ side") {
    Scratch.scoped("graft_rw_hidden") { dir =>
      val w = mkWrite(dir)
      w.commit(0L, Array(writeVia(w, 0L, 0, Seq((1L, 1L, "a", 1L)))))
      writeVia(w, 1L, 0, Seq((2L, 2L, "b", 2L))) // staged, uncommitted
      val listed = graft.sources.ReplaySourceTestHook.listFiles(dir.toString)
      assert(listed.length == 1 &&
        listed.head.endsWith("epoch00000-p00000.csv"))
    }
  }
}
