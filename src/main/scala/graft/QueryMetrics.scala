package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one way to measure what a block of code asks of Spark: its jobs,
  * stages, task metrics, executed plans and driver gap, counted for that
  * block only.
  *
  * [[measure]] tags the calling thread with a fresh job tag for the
  * block. Spark copies a thread's tags into every job, SQL execution and
  * child thread it starts (a streaming query's micro-batches included), so
  * only the block's own work carries the tag; jobs another thread runs
  * meanwhile do not. Listener events arrive in the order they were
  * posted, so once a tagged marker job started after the block has been
  * seen, every event of the block has been seen too, with no clock involved.
  */
object QueryMetrics {

  /** One Spark job: start and end in epoch ms (end -1 if it never ended),
    * the stages it lists (skipped ones too) and its short call site. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int, site: String)

  /** One completed stage: its job, task count, and the summed task run,
    * CPU, deserialize and GC ms. */
  final case class Stage(id: Int, job: Int, tasks: Int, runMs: Long,
      cpuMs: Long, deserializeMs: Long, gcMs: Long, name: String)

  /** What one [[measure]] call saw. Task sums are over every finished
    * task of the block's stages; `peakTaskExecMemBytes` is the largest
    * single task's peak execution memory. `driverGapMs` is the block's
    * wall time that no job covers: driver-side planning, collects and
    * file I/O. */
  final case class Run(wallNs: Long, jobs: Seq[Job], stages: Seq[Stage],
      tasks: Long, spillMemBytes: Long, spillDiskBytes: Long,
      peakTaskExecMemBytes: Long, shuffleWriteBytes: Long,
      plans: Seq[SparkPlan], driverGapMs: Long) {
    def taskMs: Long = stages.map(_.runMs).sum
  }

  /** Runs `body` and returns its result with the [[Run]] it caused. The
    * tag and both listeners are removed on every exit, a throwing `body`
    * included. */
  def measure[A](spark: SparkSession)(body: => A): (A, Run) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-metrics-${UUID.randomUUID}")
    // registering first creates the session's execution-listener bus,
    // so it sits before `rec` on the shared queue (see Recorder.ended)
    spark.listenerManager.register(rec.planListener)
    sc.addSparkListener(rec)
    try {
      val lo = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try { sc.addJobTag(rec.tag); body } finally sc.removeJobTag(rec.tag)
      val wallNs = System.nanoTime() - t0
      val hi = System.currentTimeMillis()
      sc.addJobTag(rec.marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(rec.marker)
      if (!rec.drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus never delivered the marker job")
      (out, rec.run(wallNs, lo, hi))
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec.planListener)
    }
  }

  /** Records the tagged events. Every callback, `planListener`'s
    * included, runs on the shared listener queue's one thread, and nothing
    * is recorded after the marker, so the caller may read the buffers
    * once `drained` opens. */
  private final class Recorder(val tag: String) extends SparkListener {
    val marker = s"$tag-marker"
    val drained = new CountDownLatch(1)
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val executions = mutable.HashSet.empty[Long]
    private val plans = mutable.ArrayBuffer.empty[SparkPlan]
    private var tasks, spillMem, spillDisk, peakExecMem, shuffleWrite = 0L
    // The plan of the execution end being delivered: the bus calls
    // `planListener` with it just before `onOtherEvent` sees the same end.
    private var ended: Option[SparkPlan] = None

    val planListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ended = Try(qe.executedPlan).toOption
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        ended = Try(qe.executedPlan).toOption
    }

    private def open = drained.getCount > 0

    override def onJobStart(e: SparkListenerJobStart): Unit = if (open) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val tags = prop("spark.job.tags").fold(Set.empty[String])(_.split(",").toSet)
      if (tags(marker)) drained.countDown()
      else if (tags(tag)) {
        // Spark's own job name: the call site, else its last stage's name
        jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds.size, prop("callSite.short")
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse(""))
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (open)
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (open) stageJob.get(e.stageInfo.stageId).foreach { job =>
        val s = e.stageInfo
        val m = s.taskMetrics
        stages += Stage(s.stageId, job, s.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000, m.executorDeserializeTime, m.jvmGCTime, s.name)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (open && stageJob.contains(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          spillMem += m.memoryBytesSpilled
          spillDisk += m.diskBytesSpilled
          peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (open) e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags(tag) => executions += s.executionId
      case s: SparkListenerSQLExecutionEnd =>
        if (executions(s.executionId)) plans ++= ended
        ended = None
      case _ => ()
    }

    /** The run of a body that took `wallNs`, between epoch ms `lo` and `hi`. */
    def run(wallNs: Long, lo: Long, hi: Long): Run = {
      val js = jobs.values.toSeq
      val busy = covered(js.map(j =>
        (math.max(lo, j.startMs), math.min(hi, if (j.endMs < 0) hi else j.endMs))))
      Run(wallNs, js, stages.toSeq, tasks, spillMem, spillDisk, peakExecMem,
        shuffleWrite, plans.toSeq, hi - lo - busy)
    }
  }

  /** Total length of the union of [start, end] intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, hi), (s, e)) =>
      if (e <= hi) (total, hi) else (total + math.max(0L, e - math.max(s, hi)), e)
    }._1
}
