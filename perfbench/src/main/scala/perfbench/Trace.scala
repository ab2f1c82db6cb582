package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the harness tells the tracer. The untraced run uses [[NoTrace]],
  * so its timings carry no listener or bookkeeping cost. */
trait Tracer {
  /** Enter a phase of the run: `setup`, `cold`, `warm` or `check`. */
  def phase(name: String): Unit = ()
  /** Run one step of a unit (`job`, `build`, `exec`, `cleanup`). */
  def step[T](name: String, unit: Int)(f: => T): T = f
  /** Called after a unit's cleanup: records what the unit left behind. */
  def unitDone(unit: Int, name: String, startMs: Long, blankSnapshots: Int): Unit = ()
}

object NoTrace extends Tracer

/** One timed call the harness made: name, interval (epoch ms), the unit
  * it belongs to and the span that caused it. */
final case class Span(name: String, unit: Int, parent: String,
    startMs: Long, endMs: Long)

/** Per-layer tracing from outside graft: spans around each call the
  * harness makes, plus Spark's public listener and tracker APIs.
  *
  *  - Every job carries the open span in a local property, so it is
  *    charged to its unit and step exactly; its graft module comes from
  *    the innermost `graft.*` frame of its call site.
  *  - Planning-tracker, streaming-progress and codegen figures have no
  *    span, so they are charged to the phase the run is in when they
  *    arrive; the harness waits for the listener queues to drain at each
  *    phase boundary ([[quiesce]]).
  */
final class Trace(spark: SparkSession, writtenDirs: Seq[Path],
    scratchBase: => Path) extends Tracer {
  import Trace._

  private val lock = new Object
  private val SpanKey = "perfbench.span"
  // Spark keeps 20 frames of a job's call site, counted from the first
  // non-Spark frame; inside query execution that is often a JDK or Hadoop
  // frame far below graft's, so keep the whole stack.
  System.setProperty("spark.callstack.depth", "1000")
  private val sc = spark.sparkContext
  @volatile private var current = "setup"

  final class Job(val span: String, val module: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  /** Figures charged to a phase rather than to a span. */
  final class PhaseAcc {
    var executions, analysisMs, optimizationMs, planningMs = 0L
    var ruleNs, ruleCalls, ruleEffective = 0L
    var batches, batchMs, commitMs = 0L
    var codegenNs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val executionModule = mutable.HashMap.empty[Long, String]
  private val phases = mutable.HashMap.empty[String, PhaseAcc]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val residue = mutable.LinkedHashMap.empty[Int, Map[String, Double]]
  private var codegenMark = CodeGenerator.compileTime
  private var stagedMark = graft.FixtureCache.stagedSoFar
  // Bytes the process read through read system calls (`rchar`), all
  // threads. Neither Spark's task input metrics nor Hadoop's file-system
  // statistics see parquet data reads: the vectored reader completes
  // them on I/O threads.
  private def fileBytesRead: Long =
    try Files.readAllLines(java.nio.file.Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }
  private var readMark = fileBytesRead
  // the session conf after the previous unit's cleanup: a unit's drift
  // is what it changed and did not restore
  private var confMark = spark.conf.getAll
  private val unitNames = mutable.HashMap.empty[Int, String]
  private var events = 0L

  private def acc(): PhaseAcc = phases.getOrElseUpdate(current, new PhaseAcc)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(s"$current/-1/other")
      val streaming =
        props.exists(_.getProperty("sql.streaming.queryId") != null)
      // a SQL query's jobs run on Spark's execution threads, whose stacks
      // hold no graft frame: take the module of the thread that started
      // the query
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionModule.get(id.toLong))
      val module =
        if (streaming) "streaming"
        else execution.getOrElse(moduleOf(e.stageInfos.map(_.details)))
      val j = new Job(span, module, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
      events += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        executionModule(s.executionId) = moduleOf(Seq(s.details))
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      events += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  })

  private def record(qe: QueryExecution): Unit = lock.synchronized {
    val a = acc()
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    a.executions += 1
    a.analysisMs += ms("analysis")
    a.optimizationMs += ms("optimization")
    a.planningMs += ms("planning")
    qe.tracker.rules.foreach { case (name, r) =>
      if (name.startsWith("graft.plans.")) {
        a.ruleNs += r.totalTimeNs
        a.ruleCalls += r.numInvocations
        a.ruleEffective += r.numEffectiveInvocations
      }
    }
    events += 1
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val a = acc()
        a.batches += 1
        a.batchMs += ms("triggerExecution")
        a.commitMs += ms("walCommit") + ms("commitOffsets")
        events += 1
      }
  })

  /** Wait until every started job has ended and no listener event has
    * arrived for 100 ms (at most 5 s), so late events land in the phase
    * that caused them. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis + 5000
    var last = -1L
    var stableSince = System.currentTimeMillis
    while (System.currentTimeMillis < deadline &&
        System.currentTimeMillis - stableSince < 100) {
      val (n, open) = lock.synchronized((events, jobs.valuesIterator.exists(_.end < 0)))
      if (n != last || open) { last = n; stableSince = System.currentTimeMillis }
      Thread.sleep(10)
    }
  }

  override def phase(name: String): Unit = {
    quiesce()
    lock.synchronized {
      val now = CodeGenerator.compileTime
      acc().codegenNs += now - codegenMark
      codegenMark = now
      current = name
    }
    confMark = spark.conf.getAll
    readMark = fileBytesRead
  }

  override def step[T](name: String, unit: Int)(f: => T): T = {
    sc.setLocalProperty(SpanKey, s"$current/$unit/$name")
    val t0 = System.currentTimeMillis
    try f
    finally {
      val t1 = System.currentTimeMillis
      sc.setLocalProperty(SpanKey, null)
      lock.synchronized(spans += Span(name, unit, s"$current/$unit", t0, t1))
    }
  }

  override def unitDone(unit: Int, name: String, startMs: Long,
      blankSnapshots: Int): Unit = {
    val conf = spark.conf.getAll
    val drift = (conf.keySet ++ confMark.keySet).count(k => conf.get(k) != confMark.get(k))
    confMark = conf
    val read = fileBytesRead
    val readBytes = read - readMark
    readMark = read
    if (current != "warm") return
    lock.synchronized(unitNames(unit) = name)
    var files, bytes = 0L
    (writtenDirs :+ scratchBase).filter(Files.isDirectory(_)).foreach { d =>
      scala.util.Using.resource(Files.walk(d)) { s =>
        s.iterator.asScala.filter(Files.isRegularFile(_)).foreach { p =>
          if (Files.getLastModifiedTime(p).toMillis >= startMs) {
            files += 1; bytes += Files.size(p)
          }
        }
      }
    }
    val staged = graft.FixtureCache.stagedSoFar
    residue(unit) = Map(
      "sources.input_bytes" -> readBytes.toDouble,
      "sources.files_written" -> files.toDouble,
      "sources.bytes_written" -> bytes.toDouble,
      "sources.blank_snapshots" -> blankSnapshots.toDouble,
      "cache.tracked_left" -> graft.CacheRegistry.trackedCount.toDouble,
      "cache.persistent_rdds_left" -> sc.getPersistentRDDs.size.toDouble,
      "cache.scratch_entries_left" ->
        Option(scratchBase.toFile.list()).map(_.length).getOrElse(0).toDouble,
      "cache.conf_drift" -> drift.toDouble,
      "cache.fixture_staged" -> (staged - stagedMark).toDouble)
    stagedMark = staged
  }

  /** Per-layer figures, each a mean per warm unit (ratios are overall). */
  def layers(warmUnits: Int): Map[String, Double] = lock.synchronized {
    val n = math.max(1, warmUnits).toDouble
    val warm = warmJobs
    val a = phases.getOrElse("warm", new PhaseAcc)
    val warmSpans = spans.filter(_.parent.startsWith("warm/")).toSeq
    def spanMs(step: String): Double =
      warmSpans.filter(_.name == step).map(s => s.endMs - s.startMs).sum / n
    def jobMs(js: Seq[Job]): Double = js.map(j => math.max(0L, j.end - j.start)).sum / n
    def gap(steps: Set[String]): Double =
      warmSpans.groupBy(_.unit).keys.toSeq.map(u => unitGap(u, steps)).sum / n
    def sum(f: Job => Long): Double = warm.map(f).sum / n
    val res = residue.values.toSeq
    def resMean(k: String): Double = if (res.isEmpty) 0.0 else res.map(_(k)).sum / res.size
    val sourcesJobs = warm.filter(_.module == "sources")
    val opJobs = warm.filter(_.module == "operators")
    Map(
      "job.run_ms" -> spanMs("job"),
      "job.driver_gap_ms" -> gap(Set("job")),
      "sources.jobs" -> sourcesJobs.size / n,
      "sources.job_ms" -> jobMs(sourcesJobs),
      "queries.build_ms" -> spanMs("build"),
      "queries.build_jobs" -> warm.count(_.span.endsWith("/build")) / n,
      "queries.exec_ms" -> spanMs("exec"),
      "queries.cleanup_ms" -> spanMs("cleanup"),
      "plans.rule_ms" -> a.ruleNs / 1e6 / n,
      "plans.rule_effective_ratio" ->
        (if (a.ruleCalls == 0) 0.0 else a.ruleEffective.toDouble / a.ruleCalls),
      "operators.jobs" -> opJobs.size / n,
      "operators.job_ms" -> jobMs(opJobs),
      "streaming.batches" -> a.batches / n,
      "streaming.batch_ms" -> a.batchMs / n,
      "streaming.commit_ms" -> a.commitMs / n,
      "spark.analysis_ms" -> a.analysisMs / n,
      "spark.optimization_ms" -> a.optimizationMs / n,
      "spark.planning_ms" -> a.planningMs / n,
      "spark.codegen_ms" -> a.codegenNs / 1e6 / n,
      "spark.executions" -> a.executions / n,
      "spark.jobs" -> warm.size / n,
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.driver_gap_ms" -> gap(Set("job", "build", "exec")),
      "spark.task_run_ms" -> sum(_.runMs),
      "spark.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.gc_ms" -> sum(_.gcMs),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.spill_bytes" -> sum(_.spill)
    ) ++ Seq("sources.input_bytes", "sources.files_written", "sources.bytes_written",
      "sources.blank_snapshots", "cache.tracked_left",
      "cache.persistent_rdds_left", "cache.scratch_entries_left",
      "cache.conf_drift", "cache.fixture_staged").map(k => k -> resMean(k))
  }

  private def warmJobs: Seq[Job] = jobs.valuesIterator.filter(_.span.startsWith("warm/")).toSeq
  private def jobsOf(unit: Int): Seq[Job] = warmJobs.filter(_.span.split('/')(1) == unit.toString)

  /** Time inside warm unit `unit`'s blocking `steps` that no Spark job
    * covers: driver-side time, in ms. */
  private def unitGap(unit: Int, steps: Set[String]): Double = {
    val in = spans.filter(s => s.parent == s"warm/$unit" && steps(s.name))
    if (in.isEmpty) 0.0 else {
      val (lo, hi) = (in.map(_.startMs).min, in.map(_.endMs).max)
      val busy = covered(jobsOf(unit)
        .map(j => (math.max(lo, j.start), math.min(hi, if (j.end < 0) hi else j.end))))
      (hi - lo - busy).toDouble
    }
  }

  /** Where a warm unit's time goes, per unit name (query or day), as
    * means per unit: blocking time, driver time no job covers, task run
    * time per slot (data work), task CPU, input bytes, jobs and
    * operator jobs. */
  def splitByName(slots: Int): Map[String, Map[String, Double]] = lock.synchronized {
    val blocking = Set("job", "build", "exec")
    unitNames.toSeq.groupBy(_._2).map { case (name, us) =>
      val units = us.map(_._1)
      val n = units.size.toDouble
      val js = units.flatMap(jobsOf)
      val ms = units.map { u =>
        val in = spans.filter(s => s.parent == s"warm/$u" && blocking(s.name))
        if (in.isEmpty) 0L else in.map(_.endMs).max - in.map(_.startMs).min
      }
      name -> Map("units" -> n, "unit_ms" -> ms.sum / n,
        "driver_gap_ms" -> units.map(unitGap(_, blocking)).sum / n,
        "task_run_ms_per_slot" -> js.map(_.runMs).sum / n / slots,
        "task_cpu_ms" -> js.map(_.cpuNs).sum / 1e6 / n,
        "input_bytes" -> units.flatMap(residue.get).map(_("sources.input_bytes")).sum / n,
        "operator_jobs" -> js.count(_.module == "operators") / n,
        "jobs" -> js.size / n)
    }
  }

  def spanList: Seq[Span] = lock.synchronized(spans.toSeq)

  /** Warm jobs per attributed module, for the trace file. */
  def warmJobsByModule: Map[String, Int] = lock.synchronized(
    warmJobs.groupBy(_.module).map { case (m, js) => m -> js.size })
}

object Trace {
  private val Frame = """^graft\.([A-Za-z0-9_]+)[.$(].*""".r
  private val Packages = Map("sources" -> "sources", "operators" -> "operators",
    "functions" -> "operators", "queries" -> "queries", "plans" -> "plans",
    "streaming" -> "streaming")

  /** The graft module of a job: the package of the innermost `graft.*`
    * frame in its stages' long call sites; `graft` for top-level objects
    * (Job, Pipeline, Tables, ...), `harness` when no graft frame is on
    * the stack (the benchmark's own noop write). */
  def moduleOf(details: Seq[String]): String =
    details.iterator.flatMap(_.linesIterator).map(_.trim).collectFirst {
      case Frame(pkg) => Packages.getOrElse(pkg, "graft")
    }.getOrElse("harness")

  /** Total length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, hi = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > hi) { total += e - s; hi = e; open = true }
      else if (e > hi) { total += e - hi; hi = e }
    }
    total
  }
}
