package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev profiling scratch: run one query N times in a warm session.
  *
  * Each run also reports EXECUTION-MEMORY evidence from TaskMetrics
  * (verdict r15 #8 — the 100 TB scale story was plan-shaped but
  * nothing measured spill): summed in-memory/on-disk spill bytes, the
  * max per-task peak execution memory, and total shuffle bytes
  * written, aggregated across every task of the run by a listener.
  * `spillDisk=0` at sf10 is the "bounded memory at 100×" claim made
  * measurable; a nonzero value quantifies exactly how gracefully the
  * operator degrades instead of OOMing.
  */
object Prof {
  private final class MemListener extends SparkListener {
    val spillMem = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    val peakExecMem = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        peakExecMem.getAndAccumulate(m.peakExecutionMemory, math.max)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = {
      spillMem.set(0); spillDisk.set(0)
      peakExecMem.set(0); shuffleWrite.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" for conf experiments
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';').filter(_.contains('=')))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Harness.session(extraConf = extraConf)
    spark.sparkContext.setLogLevel("WARN")
    val mem = new MemListener
    spark.sparkContext.addSparkListener(mem)
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    for (name <- names; i <- 1 to n) {
      val fn = SparkEntry.queries(name)
      mem.reset()
      val compilesBefore = compiles.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      // listener events drain asynchronously (the bus is
      // private[spark]); poll until the counters stop moving
      var prevSnap = -1L
      var snap = mem.spillMem.get + mem.spillDisk.get +
        mem.peakExecMem.get + mem.shuffleWrite.get
      var waited = 0
      while (snap != prevSnap && waited < 5000) {
        Thread.sleep(200); waited += 200
        prevSnap = snap
        snap = mem.spillMem.get + mem.spillDisk.get +
          mem.peakExecMem.get + mem.shuffleWrite.get
      }
      // janino compiles of this run (the codahale count is exact); the
      // per-compile ms come only from a decaying JVM-wide reservoir, so
      // they are a sample's mean and max, never this run's total
      val sampled = compiles.getSnapshot
      println(f"PROF $name run$i $sec%.3f s " +
        s"spillMemMB=${mb(mem.spillMem.get)} " +
        s"spillDiskMB=${mb(mem.spillDisk.get)} " +
        s"peakTaskExecMemMB=${mb(mem.peakExecMem.get)} " +
        s"shuffleWriteMB=${mb(mem.shuffleWrite.get)} " +
        s"codegenCompiles=${compiles.getCount - compilesBefore} " +
        f"codegenMsSampledMean=${sampled.getMean}%.1f " +
        s"codegenMsSampledMax=${sampled.getMax}")
    }
    spark.stop()
  }
}
