package graft

/** Per-stage perf instrumentation in the reference's log format
  * (`/root/reference/one_one_one_rule/perf.py:23-52`):
  * `perf <name> wall_ms=… cpu_ms=… rss_mb=… delta_rss_mb=…`.
  */
object Perf {
  /** The process's resident set (`VmRSS` of `/proc/self/status`) in
    * MiB; JVM heap in use where that file is absent (non-Linux hosts). */
  private def rssMb: Double = {
    val vmRss =
      try scala.util.Using.resource(
          scala.io.Source.fromFile("/proc/self/status")) { s =>
        s.getLines().find(_.startsWith("VmRSS:"))
          .map(_.trim.split("\\s+")(1).toDouble / 1024)
      }
      catch { case _: java.io.IOException => None }
    vmRss.getOrElse {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / 1048576.0
    }
  }

  def timed[A](name: String)(f: => A): A = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val rss0 = rssMb
    val cpu0 = if (bean.isCurrentThreadCpuTimeSupported)
      bean.getCurrentThreadCpuTime else 0L
    val t0 = System.nanoTime()
    val out = f
    val wallMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = if (bean.isCurrentThreadCpuTimeSupported)
      (bean.getCurrentThreadCpuTime - cpu0) / 1e6 else 0.0
    val rss1 = rssMb
    println(f"perf $name wall_ms=$wallMs%.2f cpu_ms=$cpuMs%.2f " +
      f"rss_mb=$rss1%.2f delta_rss_mb=${rss1 - rss0}%.2f")
    out
  }
}
