package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ShardBatchWrite, ShardWriterFactory}

/** The graft-shard DSv2 WRITE path: the two-phase commit protocol must
  * publish exactly the task-committed files, clean up after aborts and
  * speculative orphans, honor truncate, and reject schema drift —
  * the behaviors that make a sink safe under task retry at scale. */
class ShardWriteSpec extends SparkSpec {

  private def lines(dir: String): Seq[String] = {
    val fs = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv")).sorted
    fs.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq
  }

  test("append publishes every task file; round-trip preserves rows") {
    Scratch.scoped("graft_shardw_spec") { tmp =>
      spark.range(0, 1000).select(
        concat(lit("g"), (col("id") % 7).cast("string")).as("g"),
        col("id").as("x"))
        .repartition(5)
        .write.format("graft-shard").option("path", s"$tmp/out")
        .mode("append").save()
      val files = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(files.length == 5)
      assert(!new java.io.File(s"$tmp/out").listFiles()
        .exists(_.getName.startsWith(".staging")))
      val back = spark.read.format("graft-shard").load(s"$tmp/out")
      assert(back.count() == 1000)
      assert(back.agg(sum("x")).head.getLong(0) == 999L * 1000 / 2)
      // append again: no truncation, both generations served
      spark.range(0, 10).select(lit("h").as("g"), col("id").as("x"))
        .coalesce(1)
        .write.format("graft-shard").option("path", s"$tmp/out")
        .mode("append").save()
      assert(spark.read.format("graft-shard").load(s"$tmp/out")
        .count() == 1010)
    }
  }

  test("overwrite truncates the previous generation atomically-enough") {
    Scratch.scoped("graft_shardw_trunc") { tmp =>
      spark.range(0, 100).select(lit("a").as("g"), col("id").as("x"))
        .repartition(3)
        .write.format("graft-shard").option("path", s"$tmp/out")
        .mode("append").save()
      spark.range(0, 7).select(lit("b").as("g"), col("id").as("x"))
        .coalesce(1)
        .write.format("graft-shard").option("path", s"$tmp/out")
        .mode("overwrite").save()
      val back = spark.read.format("graft-shard").load(s"$tmp/out")
      assert(back.count() == 7)
      assert(col1(back.select("g").distinct(), "g") == Seq("b"))
    }
  }

  test("job abort and speculative orphans leave no residue") {
    Scratch.scoped("graft_shardw_abort") { tmp =>
      val target = s"$tmp/out"
      // pre-existing generation that must survive an aborted write
      spark.range(0, 5).select(lit("keep").as("g"), col("id").as("x"))
        .coalesce(1)
        .write.format("graft-shard").option("path", target)
        .mode("append").save()
      val bw = new ShardBatchWrite(target, "q-abort-test",
        truncateFirst = true)
      val factory = bw.createBatchWriterFactory(null)
      // two task attempts write; only attempt 0 commits (attempt 1 is
      // the speculative loser: its file stays in staging, unreferenced)
      val w0 = factory.createWriter(0, 0L)
      w0.write(InternalRow(UTF8String.fromString("x"), 1L))
      val m0 = w0.commit()
      val w1 = factory.createWriter(0, 1L)
      w1.write(InternalRow(UTF8String.fromString("x"), 2L))
      w1.commit() // committed at TASK level but never reaches the job
      // job ABORTS: staging (incl. both task files) must vanish and
      // the previous generation must be untouched (truncate is a
      // commit-time action, so an abort never truncates)
      bw.abort(Array(m0))
      assert(lines(target) == Seq("keep,0", "keep,1", "keep,2",
        "keep,3", "keep,4"))
      assert(!new java.io.File(target).listFiles()
        .exists(_.getName.startsWith(".staging")))
    }
  }

  test("job commit publishes ONLY message-named files (spec orphans die)") {
    Scratch.scoped("graft_shardw_spec2") { tmp =>
      val target = s"$tmp/out"
      val bw = new ShardBatchWrite(target, "q-spec-test",
        truncateFirst = false)
      val factory = bw.createBatchWriterFactory(null)
      val w0 = factory.createWriter(0, 10L)
      w0.write(InternalRow(UTF8String.fromString("win"), 1L))
      val m0 = w0.commit()
      // speculative duplicate of partition 0 under another attempt id:
      // task-committed, but its message LOSES the race and is dropped
      val w1 = factory.createWriter(0, 11L)
      w1.write(InternalRow(UTF8String.fromString("lose"), 2L))
      w1.commit()
      bw.commit(Array(m0))
      assert(lines(target) == Seq("win,1"))
      assert(!new java.io.File(target).listFiles()
        .exists(_.getName.startsWith(".staging")))
    }
  }

  test("schema drift and separator-corrupting values are rejected") {
    Scratch.scoped("graft_shardw_schema") { tmp =>
      intercept[Exception] {
        spark.range(0, 3).select(col("id").as("wrong"))
          .write.format("graft-shard").option("path", s"$tmp/out")
          .mode("append").save()
      }
      intercept[Exception] {
        spark.range(0, 3).select(lit("a,b").as("g"), col("id").as("x"))
          .write.format("graft-shard").option("path", s"$tmp/out2")
          .mode("append").save()
      }
    }
  }

  test("offset pushes only on a single shard; multi-shard stays exact") {
    Scratch.scoped("graft_shardw_off") { tmp =>
      spark.range(0, 60).select(lit("g").as("g"), col("id").as("x"))
        .orderBy("x").coalesce(1)
        .write.format("graft-shard").option("path", s"$tmp/one")
        .mode("append").save()
      val one = spark.read.format("graft-shard").load(s"$tmp/one")
        .offset(10).limit(5)
      assert(one.queryExecution.executedPlan.toString
        .contains("PushedOffset[10]"))
      assert(col1(one, "x") == Seq(10L, 11L, 12L, 13L, 14L))

      spark.range(0, 60).select(lit("g").as("g"), col("id").as("x"))
        .repartition(4)
        .write.format("graft-shard").option("path", s"$tmp/many")
        .mode("append").save()
      val many = spark.read.format("graft-shard").load(s"$tmp/many")
        .offset(10)
      assert(!many.queryExecution.executedPlan.toString
        .contains("PushedOffset"))
      assert(many.count() == 50)
    }
  }
}
