package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev attribution tool: run one query once (after a warm run) and
  * print a per-JOB timing table — job id, wall ms, task-time ms,
  * stage count/ids, and the first line of the job's call site — so a
  * multi-stage query's seconds can be attributed to its stages
  * (r20 verdict item 2: "per-stage Spark-listener attribution first,
  * then attack the top stage").
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Attr q132_e2e_pipeline [warmRuns]"
  */
object Attr {
  private final case class JobRow(id: Int, start: Long, var end: Long,
    var taskMs: Long, var stages: Int, desc: String, site: String)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val warm = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    for (_ <- 1 to warm) {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      CacheRegistry.releaseAll(); spark.catalog.clearCache()
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(j.jobId,
          JobRow(j.jobId, j.time, 0L, 0L, j.stageIds.size, desc, site))
        j.stageIds.foreach(s => stageJob.put(s, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = jobs.get(j.jobId); if (r != null) r.end = j.time
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val jid = stageJob.getOrDefault(s.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) {
          // executorRunTime is in ms already
          r.taskMs += s.stageInfo.taskMetrics.executorRunTime
        }
        val m = s.stageInfo.taskMetrics
        println(f"ATTR-STAGE job=$jid%4d stage=${s.stageInfo.stageId}%4d " +
          f"tasks=${s.stageInfo.numTasks}%4d runMs=${m.executorRunTime}%7d " +
          f"cpuMs=${m.executorCpuTime / 1000000}%7d " +
          f"deserMs=${m.executorDeserializeTime}%6d " +
          f"gcMs=${m.jvmGCTime}%5d  ${s.stageInfo.name.take(60)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
    Thread.sleep(1500) // let the listener bus drain
    val rows = jobs.values().toArray(Array.empty[JobRow]).sortBy(_.id)
    println(f"ATTR $name measured ${sec}%.3f s over ${rows.length} jobs")
    println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"stages"}%6s  site")
    var gapMs = 0L
    var prevEnd = 0L
    rows.foreach { r =>
      if (prevEnd > 0 && r.start > prevEnd) gapMs += r.start - prevEnd
      prevEnd = math.max(prevEnd, r.end)
      val wall = if (r.end > 0) r.end - r.start else -1L
      println(f"${r.id}%4d ${wall}%8d ${r.taskMs}%8d ${r.stages}%6d  ${r.site.take(70)}")
    }
    println(f"ATTR total wall between-jobs gap = ${gapMs} ms " +
      "(driver-side planning/collect/IO not inside any job)")
    spark.stop()
  }
}
