package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import org.apache.spark.sql.SparkSession
import graft.{GraftExtensions, Scratch}

/** The benchmark's JVM side. `run.py` launches it once per run with
  * `java -cp`; it runs one workload and writes the raw figures (unit
  * times, checks, and in a traced run the per-layer figures and spans)
  * to `--out` as JSON. Statistics and the oracle compare are `run.py`'s.
  *
  * Phases: set-up (JVM launch until the session is built and the inputs
  * are ready), a cold pass, whole warm passes until `--seconds` have
  * elapsed (at least two), then the untimed checks.
  */
object Main {
  /** Warm passes a run makes at least. With `--seconds` below two passes'
    * time, every run makes exactly two, so runs of one workload all
    * measure the same units at the same stage of JIT warm-up. */
  val MinWarmPasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(o("root")).toAbsolutePath
    val slots = o("slots").toInt
    val spark = Scratch.tuneCheckpoints(SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .withExtensions(new GraftExtensions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val workloadName = o("workload")
    val traced = o("trace") == "1"
    lazy val trace = new Trace(spark,
      Seq("out", "drive", "logs", "warehouse").map(root.resolve), Scratch.base)
    val tracer: Tracer = if (traced) trace else NoTrace
    val w: Workload = workloadName match {
      case "daily_job" => new DailyWorkload(spark, Paths.get(o("daily")), root, tracer)
      case "heavy_queries" => new QueryWorkload(spark, Pools.heavy, o("seed").toLong,
        o("data"), o("check-data"), root.resolve("check"), tracer)
    }
    w.prepare()
    val setupS = (nowNs() - o("launch-ns").toLong) / 1e9
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "setup_s" -> setupS)
    out("canary_start_s") = canary(slots)
    out("loadavg_start") = loadAvg()
    val units = scala.collection.mutable.ArrayBuffer.empty[UnitRun]
    tracer.phase("cold")
    val coldLen = if (workloadName == "daily_job") 1 else w.passLength
    val c0 = System.nanoTime()
    (0 until coldLen).foreach(i => units += w.unit(i, 0))
    out("first_s") = (System.nanoTime() - c0) / 1e9
    tracer.phase("warm")
    val seconds = o("seconds").toDouble
    val w0 = System.nanoTime()
    var pass = 1
    while ((pass <= MinWarmPasses || (System.nanoTime() - w0) / 1e9 < seconds) &&
        units.size + w.passLength <= w.maxUnits) {
      (0 until w.passLength).foreach(_ => units += w.unit(units.size, pass))
      pass += 1
    }
    out("warm_wall_s") = (System.nanoTime() - w0) / 1e9
    // the heap is fixed and pre-touched, so its committed size is a
    // constant part of VmHWM; what lies above it (metaspace and generated
    // classes, JIT code, thread stacks, direct buffers) is what moves
    out("rss_over_heap_mb") = vmHwmMb() -
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    tracer.phase("check")
    out("checks") = w.check()
    out("canary_end_s") = canary(slots)
    out("loadavg_end") = loadAvg()
    out("units") = units.toSeq.map(u => Map("name" -> u.name, "pass" -> u.pass,
      "s" -> u.seconds, "cleanup_s" -> u.cleanupSeconds, "error" -> u.error.orNull))
    if (traced) {
      trace.quiesce()
      out("layers") = trace.layers(units.size - coldLen)
      out("jobs_by_module") = trace.warmJobsByModule
      out("split") = trace.splitByName(slots)
      out("spans") = trace.spanList.map(s => Map("name" -> s.name, "unit" -> s.unit,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    Files.writeString(Paths.get(o("out")), Json(out.toMap))
    spark.stop()
  }

  private def nowNs(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** VmHWM: the process's peak resident set, in MiB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** CPU canary: a fixed integer loop on `threads` threads. A quiet
    * machine reads about the same every run; contention inflates it.
    * Metadata only: it never discards a run. */
  private def canary(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var h = 0x9e3779b97f4a7c15L
        var i = 0
        while (i < 20000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
        if (h == 42L) println()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
