package graft

/** Dev profiling: run each named query N times in one warm session and
  * print one `PROF` line per run, measured by [[QueryMetrics.measure]]:
  * wall time; spill bytes, max per-task peak execution memory and shuffle
  * bytes written (verdict r15 #8: `spillDisk=0` at sf10 makes "bounded
  * memory at 100×" measurable); janino compiles; jobs, stages, tasks,
  * task ms and driver gap. The last run of each query also prints its
  * stages and per-job table, to attribute its seconds to stages.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Prof q01_valuation_pipeline,q40_stream_hourly [runs]"
  *
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` sets session conf for experiments.
  * Semantic dedup's two configurations are registry queries: the pinned
  * oracle variant `q93_semantic_dedup` (fixed 16 cells, quadratic within
  * a cell) and the production k ∝ N path `q112_semantic_dedup_scaled`.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';').filter(_.contains('=')))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Harness.session(extraConf = extraConf)
    spark.sparkContext.setLogLevel("WARN")
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    for (name <- names; i <- 1 to n) {
      val fn = SparkEntry.queries(name)
      val compilesBefore = compiles.getCount
      val (_, run) = QueryMetrics.measure(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      // janino compiles of this run (the codahale count is exact); the
      // per-compile ms come only from a decaying JVM-wide reservoir, so
      // they are a sample's mean and max, never this run's total
      val sampled = compiles.getSnapshot
      println(f"PROF $name run$i ${run.wallNs / 1e9}%.3f s " +
        s"spillMemMB=${mb(run.spillMemBytes)} " +
        s"spillDiskMB=${mb(run.spillDiskBytes)} " +
        s"peakTaskExecMemMB=${mb(run.peakTaskExecMemBytes)} " +
        s"shuffleWriteMB=${mb(run.shuffleWriteBytes)} " +
        s"codegenCompiles=${compiles.getCount - compilesBefore} " +
        f"codegenMsSampledMean=${sampled.getMean}%.1f " +
        s"codegenMsSampledMax=${sampled.getMax} " +
        s"jobs=${run.jobs.size} stages=${run.stages.size} tasks=${run.tasks} " +
        s"taskMs=${run.taskMs} driverGapMs=${run.driverGapMs}")
      if (i == n) {
        run.stages.sortBy(_.id).foreach { s =>
          println(f"PROF-STAGE job=${s.job}%4d stage=${s.id}%4d tasks=${s.tasks}%4d " +
            f"runMs=${s.runMs}%7d cpuMs=${s.cpuMs}%7d deserMs=${s.deserializeMs}%6d " +
            f"gcMs=${s.gcMs}%5d  ${s.name.take(60)}")
        }
        println(f"${"job"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"stages"}%6s  site")
        run.jobs.foreach { j =>
          val wall = if (j.endMs >= 0) j.endMs - j.startMs else -1L
          val taskMs = run.stages.filter(_.job == j.id).map(_.runMs).sum
          println(f"${j.id}%4d ${wall}%8d ${taskMs}%8d ${j.stages}%6d  ${j.site.take(70)}")
        }
      }
    }
    spark.stop()
  }
}
