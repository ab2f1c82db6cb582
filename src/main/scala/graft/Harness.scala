package graft

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains (Bench, Explain, Prof, Smoke,
  * Verify) and the test suites run on. */
object Harness {

  /** Core count from `SPARK_GRAFT_CPUS`; every available processor by
    * default. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    String.valueOf(Runtime.getRuntime.availableProcessors))

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, the
    * graft extension surface installed as a deployment would
    * (`spark.sql.extensions`) and the local checkpoint tuning of
    * [[Scratch.tuneCheckpoints]]. `extraConf` is applied last. */
  def session(cpus: String = Harness.cpus,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val b = Scratch.tuneCheckpoints(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions))
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
