package perfbench

import java.nio.file.{Files, Path}
import java.time.{Clock, Instant, ZoneOffset}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{CacheRegistry, Job, Settings, SparkEntry}
import graft.sources.{LocalDrive, Sources}

/** The fixed query pool of `heavy_queries`: registry queries whose units
  * spend most of their time in Spark jobs — the reference pipeline as one
  * query, a streaming query (state store and checkpoint writes) and a
  * query whose operator runs jobs of its own (`Bpe.train`). `PoolSpec`
  * checks each name against `SparkEntry.specs`. */
object Pools {
  val heavy: Seq[String] = Seq(
    "q01_valuation_pipeline", "q40_stream_hourly", "q83_bpe_encode")
}

/** One measured unit: its wall time (blocking steps only), its cleanup
  * time, and the error if it failed. */
final case class UnitRun(name: String, pass: Int, seconds: Double,
    cleanupSeconds: Double, error: Option[String])

trait Workload {
  /** Make the inputs ready (untimed by the unit clock, inside setup). */
  def prepare(): Unit
  /** Run the unit with global index `i` in pass `pass`. */
  def unit(i: Int, pass: Int): UnitRun
  /** Units per pass. */
  def passLength: Int
  /** How many units the inputs allow; `Int.MaxValue` when unbounded. */
  def maxUnits: Int
  /** Checks made after the timed region, as JSON fields. */
  def check(): Map[String, Any]
}

/** `heavy_queries`: every pool query once per pass, on graft.Bench's
  * path: `fn(spark, dir)`, a `noop` write, then release of tracked caches.
  * The cold pass runs the pool in its fixed order, because the first
  * query of a JVM pays most of the first-use cost and that cost differs
  * by query; each warm pass runs in an order drawn from the seed. */
final class QueryWorkload(spark: SparkSession, pool: Seq[String], seed: Long,
    dataDir: String, checkDir: String, outDir: Path, tracer: Tracer)
    extends Workload {
  private val fns = SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private var order = Seq.empty[String]

  def passLength: Int = pool.size
  def maxUnits: Int = Int.MaxValue

  def prepare(): Unit = {
    val missing = pool.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
  }

  def unit(i: Int, pass: Int): UnitRun = {
    if (i % pool.size == 0) order = if (pass == 0) pool else rng.shuffle(pool)
    val name = order(i % pool.size)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis
    val err =
      try {
        val df = tracer.step("build", i)(fns(name)(spark, dataDir))
        tracer.step("exec", i)(df.write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable => Some(Main.describe(e)) }
    val t1 = System.nanoTime()
    tracer.step("cleanup", i) {
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }
    val t2 = System.nanoTime()
    tracer.unitDone(i, name, startMs, 0)
    UnitRun(name, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, err)
  }

  /** Each pool query once more on the small check tables, written as
    * parquet for the oracle compare that follows the run. */
  def check(): Map[String, Any] = {
    val results = pool.map { name =>
      val err =
        try {
          fns(name)(spark, checkDir).coalesce(1).write.mode("overwrite")
            .parquet(outDir.resolve(name).toString)
          None
        } catch { case e: Throwable => Some(Main.describe(e)) }
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      name -> err.orNull
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => pool.contains(k) }
    Map("outputs" -> results.toMap, "oracle_sql" -> oracle, "dir" -> outDir.toString)
  }
}

/** `daily_job`: one `Job.run` per business day, with a fixed clock and a
  * pure, seeded fetcher that fails on the planned tickers. */
final class DailyWorkload(spark: SparkSession, inputDir: Path, root: Path,
    tracer: Tracer) extends Workload {
  private val outDir = root.resolve("out")
  private val driveDir = root.resolve("drive")
  private val settings = Settings(outputDir = outDir.toString,
    logDir = Some(root.resolve("logs").toString))
  private var dates = IndexedSeq.empty[String]
  private var snaps = Map.empty[String, Map[String, Sources.Snapshot]]
  private var fails = Map.empty[String, Set[String]]
  private val days = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  def passLength: Int = 5 // one business week
  def maxUnits: Int = dates.size

  def prepare(): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.readTree(inputDir.resolve("manifest.json").toFile)
    dates = manifest.get("dates").elements.asScala.map(_.asText).toIndexedSeq
    val rows = Files.readAllLines(inputDir.resolve("snapshots.jsonl")).asScala
      .map(mapper.readTree)
    def num(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      Option(n.get(k)).filterNot(_.isNull).map(_.asDouble)
    val parsed = rows.map { n =>
      val t = n.get("ticker").asText
      (n.get("day").asText, t, n.get("fail").asBoolean,
        Sources.Snapshot(t, n.get("company").asText, n.get("sector").asText,
          num(n, "price"), num(n, "market_cap"), n.get("currency").asText,
          num(n, "trailing_pe"), num(n, "forward_pe"), num(n, "trailing_eps"),
          num(n, "forward_eps"), num(n, "earnings_growth"), num(n, "peg_ratio"),
          num(n, "book_value_per_share"), num(n, "target_mean_price")))
    }
    snaps = parsed.groupBy(_._1).map { case (d, rs) => d -> rs.map(r => r._2 -> r._4).toMap }
    fails = parsed.groupBy(_._1).map { case (d, rs) => d -> rs.filter(_._3).map(_._2).toSet }
  }

  def unit(i: Int, pass: Int): UnitRun = {
    val day = dates(i)
    val html = Some(Files.readString(inputDir.resolve(s"html/$day.html")))
    val clock = Clock.fixed(Instant.parse(s"${day}T10:00:00Z"), ZoneOffset.UTC)
    val daySnaps = snaps(day)
    val dayFails = fails(day)
    val fetch: String => Sources.Snapshot = t =>
      if (dayFails(t)) throw new java.io.IOException(s"planned fetch failure: $t")
      else daySnaps(t)
    val csv = inputDir.resolve("tickers.csv").toString
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis
    val err =
      try {
        tracer.step("job", i)(
          Job.run(spark, settings, clock, fetch, html, csv, Some(driveDir)))
        None
      } catch { case e: Throwable => Some(Main.describe(e)) }
    val t1 = System.nanoTime()
    val blanks = if (err.isEmpty) checkDay(day) else -1
    tracer.unitDone(i, day, startMs, blanks)
    UnitRun(day, pass, (t1 - t0) / 1e9, 0.0, err)
  }

  /** Outside the clock: the dated copy equals the latest CSV byte for
    * byte; record its rows, blank rows and digest. */
  private def checkDay(day: String): Int = {
    val latest = Files.readAllBytes(outDir.resolve(settings.latestName))
    val dated = Files.readAllBytes(outDir.resolve(Settings.datedName(day)))
    val lines = new String(latest, "UTF-8").linesIterator.toIndexedSeq
    val price = lines.head.split(",", -1).indexOf("price")
    val body = lines.tail.map(_.split(",", -1))
    val blanks = body.count(r => price < 0 || r(price).isEmpty)
    days += Map("date" -> day, "rows" -> body.size, "blank" -> blanks,
      "planned_failures" -> fails(day).size, "dated_equals_latest" ->
        java.util.Arrays.equals(latest, dated),
      "sha256" -> Main.sha256(latest))
    blanks
  }

  /** The drive holds one entry under the latest name, and its payload
    * (the sheet conversion) has exactly the rows of the latest CSV. */
  def check(): Map[String, Any] = {
    val entries = LocalDrive.listEntries(driveDir).filter(_.name == settings.latestName)
    val driveOk = entries.size == 1 && {
      val e = entries.head
      val payload = spark.read.parquet(
        LocalDrive.payloadPath(driveDir, e.id, e.mime).toString)
      val csv = spark.read.option("header", true).option("inferSchema", true)
        .csv(outDir.resolve(settings.latestName).toString)
      payload.count() == csv.count() && payload.exceptAll(csv).isEmpty &&
        csv.exceptAll(payload).isEmpty
    }
    Map("days" -> days.toSeq, "drive_entries" -> entries.size, "drive_ok" -> driveOk)
  }
}
