package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.Trigger

/** `QueryMetrics.measure` counts its body's Spark work and nothing else,
  * on every exit, without waiting on a clock. */
class QueryMetricsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def sc = spark.sparkContext

  test("records each job's stages and tasks, and the driver gap between jobs") {
    val (n, run) = QueryMetrics.measure(spark) {
      val a = sc.parallelize(1 to 10, 2).count()
      val t = System.nanoTime()
      while (System.nanoTime() - t < 150000000L) {}
      a + sc.parallelize(1 to 10, 3).count()
    }
    assert(n == 20)
    assert(run.jobs.size == 2 && run.jobs.forall(j => j.endMs >= j.startMs && j.stages == 1))
    assert(run.stages.map(_.job).toSet == run.jobs.map(_.id).toSet)
    assert(run.tasks == 5 && run.stages.map(_.tasks).sum == 5)
    assert(run.driverGapMs >= 140 && run.driverGapMs <= run.wallNs / 1000000 + 1,
      s"gap ${run.driverGapMs} ms of ${run.wallNs / 1000000} ms")
  }

  test("counts a broadcast join's jobs and keeps its plan") {
    val (_, plain) = QueryMetrics.measure(spark)(spark.range(1000).collect())
    val (_, run) = QueryMetrics.measure(spark) {
      spark.range(1000).join(broadcast(spark.range(10)), "id").collect()
    }
    assert(run.jobs.size > plain.jobs.size,
      s"${run.jobs.size} jobs with the broadcast, ${plain.jobs.size} without")
    assert(run.plans.exists(p => find(p)(_.isInstanceOf[BroadcastHashJoinExec]).isDefined),
      run.plans.mkString("\n"))
  }

  test("excludes the jobs another thread runs at the same time") {
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count())
      done.countDown()
    })
    other.start()
    val (_, run) = QueryMetrics.measure(spark) {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
      sc.parallelize(1 to 10, 1).count()
    }
    other.join()
    assert(run.jobs.size == 1 && run.tasks == 1, run.jobs)
  }

  test("counts an AvailableNow query's micro-batch jobs") {
    Scratch.scoped("graft_metrics_stream") { dir =>
      val in = Files.createDirectories(dir.resolve("in"))
      writeChunk(spark.range(0, 5).toDF("id"), in, 0)
      writeChunk(spark.range(5, 9).toDF("id"), in, 1)
      val (batches, run) = Views.scoped(spark) {
        QueryMetrics.measure(spark) {
          val q = spark.readStream.schema("id LONG").option("maxFilesPerTrigger", 1)
            .parquet(in.toString)
            .writeStream.format("memory").queryName("query_metrics_stream")
            .option("checkpointLocation", dir.resolve("ckpt").toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.recentProgress.count(_.numInputRows > 0)
        }
      }
      assert(batches == 2)
      // the body's own thread runs no job: each one is a micro-batch's
      assert(run.jobs.size >= batches && run.plans.size >= batches,
        s"${run.jobs.size} jobs, ${run.plans.size} plans")
    }
  }

  test("a body that throws leaves no tag on the thread, and a later " +
      "measure sees none of its jobs") {
    val before = sc.getJobTags()
    val e = intercept[IllegalStateException] {
      QueryMetrics.measure(spark) {
        sc.parallelize(1 to 10, 2).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(sc.getJobTags() == before)
    val (_, run) = QueryMetrics.measure(spark)(sc.parallelize(1 to 10, 1).count())
    assert(run.jobs.size == 1 && run.tasks == 1, run.jobs)
  }

  test("waits on the marker job, never on a clock") {
    val t0 = System.nanoTime()
    val (_, run) = QueryMetrics.measure(spark)(())
    val ms = (System.nanoTime() - t0) / 1000000
    assert(run.jobs.isEmpty && run.tasks == 0 && run.plans.isEmpty)
    assert(ms < 1500, s"$ms ms for an empty body")
    val src = Files.readString(Paths.get("src/main/scala/graft/QueryMetrics.scala"))
    assert(!src.contains("sleep"), "QueryMetrics sleeps")
  }
}
