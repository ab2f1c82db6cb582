package graft

import graft.Harness.jsonString

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Hygiene rules (each measured ~2.5× inflation when violated in a
  * 56-query single-JVM session):
  *  - full materialization via a `noop`-format write — `.count()` lets
  *    Catalyst prune unused projections/sorts, under-measuring
  *    projection-heavy queries;
  *  - operator-internal caches are released between queries
  *    (CacheRegistry + clearCache) so MEMORY_AND_DISK blocks from one
  *    query never squeeze the heap of the next;
  *  - per-query failures are recorded in an "errors" map, never
  *    swallowed into a fake fast time.
  */
object Bench {
  /** 1-minute load average, for the calibration fields (Linux only;
    * absent proc → -1, never a failure). */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // optional args: query names to run (default: all) — dev profiling
    val wanted = args.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n) }
    // untimed generic warmup: session init, parquet reader + noop sink
    // classloading, one tiny shuffle. Deliberately NOT query-specific
    // (no valuation/dedup expressions) — per-query codegen still lands
    // on each query's own clock; only shared JVM startup is amortized.
    try {
      Tables(spark, sfDir, "region").groupBy("r_regionkey").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    val loadStart = loadAvg()
    // Parallel-throughput probe: loadavg misses the noise mode that
    // actually poisons benches on shared hosts — full cores visible,
    // multi-x slowdowns only under WIDE parallel load (co-tenant
    // phases; round-11 measured the same binary at 259.8s and 468.4s
    // for the identical 195-query session). One fixed CPU-bound task
    // fanned across every core, before and after the session: a clean
    // window reads near the single-thread time; a noisy phase inflates
    // it multiplicatively. Adjudication-grade artifacts require
    // probe_s within ~2x of the machine's known-clean value.
    def parallelProbeSec(): Double = {
      val n = Runtime.getRuntime.availableProcessors
      val t0 = System.nanoTime()
      val threads = (0 until n).map { _ =>
        new Thread(() => {
          var h = 0x9e3779b97f4a7c15L
          var i = 0
          while (i < 30000000) { // ~60 ms of integer mixing per core, clean
            h ^= h << 13; h ^= h >>> 7; h ^= h << 17
            i += 1
          }
          if (h == 42L) println("") // defeat dead-code elimination
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // I/O probe: the CPU probe above is blind to disk/page-cache
    // stalls (r12: the e2e family read 2–8× its clean records in a
    // clean-CPU, loadavg-8 session and the artifact could not
    // adjudicate which). One fixed 64 MiB write+fsync+read+delete on
    // the bench CWD's filesystem (same device as Spark's local dirs
    // here): a healthy box reads well under a second; a saturated
    // device or evicted page cache inflates multiplicatively. The
    // probe never fails the bench — on any error it just reports the
    // elapsed time of the attempt.
    def ioProbeSec(): Double = {
      val t0 = System.nanoTime()
      try {
        val p = java.nio.file.Files.createTempFile(
          java.nio.file.Paths.get("."), ".io_probe", ".tmp")
        val buf = new Array[Byte](1 << 20)
        java.util.Arrays.fill(buf, 0x5a.toByte)
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.WRITE)
        var i = 0
        while (i < 64) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
        ch.force(true)
        ch.close()
        val in = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.READ)
        val rb = java.nio.ByteBuffer.allocate(1 << 20)
        var n = 0L
        var r = in.read(rb)
        while (r >= 0) { n += r; rb.clear(); r = in.read(rb) }
        in.close()
        java.nio.file.Files.deleteIfExists(p)
        if (n == 42L) println("") // keep the read live
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    val probeStart = parallelProbeSec()
    val ioProbeStart = ioProbeSec()
    // per-query 1-min loadavg, sampled as each query finishes: a
    // contended SEGMENT of a long session (round-7's driver run cost a
    // round of misleading deltas) is then identifiable per query, not
    // just per session via the start/end pair
    val loadPer = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // queries whose clock included staging a fixture-cache layout
    // fresh (a cache miss): their time is staging + query, so a
    // re-fixtured round must not be read as a plan regression
    // (q379/q390 lesson, round 18)
    val stagedQueries = scala.collection.mutable.ArrayBuffer.empty[String]
    def timed(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (String, Double, Option[String]) = {
      val stagedBefore = FixtureCache.stagedSoFar
      val t0 = System.nanoTime()
      val err =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      loadPer += ((name, loadAvg()))
      if (FixtureCache.stagedSoFar > stagedBefore) stagedQueries += name
      // release operator-internal caches before the next query's clock
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      (name, sec, err)
    }
    // Per-BLOCK contention probes (r11: a contended driver run read
    // 222.7 s for a single groupBy+sort query and the artifact could
    // not disqualify itself — the judge had to re-run). Every
    // `probeEvery` queries the parallel probe runs again (~60 ms
    // clean, so ≤ ~1% overhead even at 15-query granularity) and each
    // query inherits its block's reading: `probe_ok` = probe ≤ 1 s
    // (clean machines read 0.06–0.6 s; co-tenant phases read multi-x).
    // A reader drops exactly the poisoned blocks, keeps the rest.
    val probeEvery = 15
    val probeOkThresholdSec = 1.0
    val ioProbeOkThresholdSec = 2.0
    val blockProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ioBlockProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // stable name order: consistent warmup attribution across rounds
    val results = selected.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((n, fn), i) =>
        if (i % probeEvery == 0) {
          blockProbes += parallelProbeSec()
          ioBlockProbes += ioProbeSec()
        }
        timed(n, fn)
    }
    val probeOfQuery: Seq[(String, Double)] = results.zipWithIndex.map {
      case ((n, _, _), i) => (n, blockProbes(i / probeEvery))
    }
    val ioProbeOfQuery: Seq[(String, Double)] = results.zipWithIndex.map {
      case ((n, _, _), i) => (n, ioBlockProbes(i / probeEvery))
    }
    val loadPerMain = loadPer.toSeq.take(results.size)
    // Calibration canary: re-run cheap reference queries at session END.
    // In a clean session the warm re-run is ≤ the cold first run; an
    // end/start ratio well ABOVE 1 (or a high loadavg) marks the window
    // as contended by outside CPU load — BENCH_r05 was inflated ~1.6×
    // by exactly that and nothing in the artifact said so. The fields
    // let a reader reject a contended run without re-running it.
    val calibNames = Seq("q05_topk", "q58_null_funcs")
      .filter(selected.contains)
    val calib = calibNames.map { n => (n, timed(n, selected(n))._2) }
    val loadEnd = loadAvg()
    // The driver captures only a ~2000-char stdout TAIL: an 82-query
    // map under full names is ~2.8 KB, so ANY single line carrying it
    // loses its head and fails to parse (BENCH_r03/r04 both did). The
    // parse target must therefore be the LAST line and fit the window:
    // the final line keys each query by its unique short prefix
    // ("q31_minhash_lsh_pairs" → "q31", ~1.1 KB for 82 queries), and
    // the full-name map goes to bench_full.json + its own earlier line
    // for humans reading complete logs.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val shortUnique =
      results.map(r => shortKey(r._1)).distinct.size == results.size
    def key(name: String): String =
      if (shortUnique) shortKey(name) else name
    val qsFull = results.map { case (k, v, _) => jsonString(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v, _) => jsonString(key(k)) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => jsonString(key(k)) + ":" + jsonString(e) }
    val errJson = if (errs.isEmpty) "" else s""","errors":${errs.mkString("{", ",", "}")}"""
    // calib entries are [first-run sec, end-of-session re-run sec]; a
    // warm re-run above the cold first run flags outside contention
    val calibJson =
      if (calib.isEmpty) ""
      else {
        val cq = calib.map { case (n, end) =>
          val start = results.find(_._1 == n).map(_._2).getOrElse(-1.0)
          jsonString(key(n)) + ":[" + r3(start) + "," + r3(end) + "]"
        }.mkString("{", ",", "}")
        s""","calib":$cq,"loadavg":[${r3(loadStart)},${r3(loadEnd)}]""" +
          s""","parallel_probe_s":[${r3(probeStart)},${r3(parallelProbeSec())}]"""
      }
    val total = r3(results.map(_._2).sum)
    // full artifact only (the stdout contract line must stay small):
    // the loadavg observed as each query completed
    val loadPerJson = loadPerMain
      .map { case (n, l) => jsonString(n) + ":" + r3(l) }.mkString("{", ",", "}")
    // Auto-adjudicated contention flags (two driver rounds in a row
    // recorded load-noise timings that a judge then had to re-run —
    // the artifact itself now carries the verdict). The flags must
    // correct for SELF-load: a local[cpus] bench legitimately drives
    // the 1-min loadavg toward `cpus` with its own executor threads,
    // so the old raw cpus/4 row gate fired on every healthy run (18
    // rows in the judge's r10 IDLE adjudication — flags meant to save
    // a re-run were crying wolf). A query row is `contended` only
    // when loadavg at its completion exceeds what this JVM's own pool
    // can account for (cpus × 1.25 — headroom for GC/daemon threads);
    // anything beyond that is runnable work we did not create. The
    // SESSION is contended when an end-of-session canary re-run
    // drifted > 1.5× its cold first run (drift measures interference
    // directly, independent of load accounting), when the PRE-bench
    // loadavg — sampled before our queries contribute — crossed
    // cpus/4, or when the end loadavg exceeds the self-corrected
    // bound. Readers: treat contended rows as upper bounds, not
    // regressions.
    val cpusN =
      try cpus.toInt
      catch { case _: Throwable => Runtime.getRuntime.availableProcessors }
    val selfBound = cpusN * 1.25
    val contendedRows = loadPerMain.filter(_._2 > selfBound).map(_._1)
    val calibDrifted = calib.exists { case (n, end) =>
      results.find(_._1 == n).map(_._2).exists(s => s > 0 && end / s > 1.5) }
    val sessionContended = calibDrifted ||
      (loadStart > cpusN / 4.0) || (loadEnd > selfBound)
    val contendedJson = s""","contended":${contendedRows
        .map(jsonString(_) + ":true").mkString("{", ",", "}")
      },"contended_session":$sessionContended"""
    // per-query probe readings + adjudication (full artifact), plus
    // ONE session-level bool for the size-capped stdout contract line
    val probePerJson = probeOfQuery
      .map { case (n, p) => jsonString(n) + ":" + r3(p) }.mkString("{", ",", "}")
    val probeOkPerJson = probeOfQuery
      .map { case (n, p) => jsonString(n) + ":" + (p <= probeOkThresholdSec) }
      .mkString("{", ",", "}")
    val probeOkSession = blockProbes.forall(_ <= probeOkThresholdSec) &&
      probeStart <= probeOkThresholdSec
    val ioProbeEnd = ioProbeSec()
    val ioPerJson = ioProbeOfQuery
      .map { case (n, p) => jsonString(n) + ":" + r3(p) }.mkString("{", ",", "}")
    val ioProbeOkSession =
      ioBlockProbes.forall(_ <= ioProbeOkThresholdSec) &&
        ioProbeStart <= ioProbeOkThresholdSec &&
        ioProbeEnd <= ioProbeOkThresholdSec
    val probeFullJson =
      s""","probe_per_query":$probePerJson,"probe_ok":$probeOkPerJson""" +
        s""","probe_ok_session":$probeOkSession""" +
        s""","io_probe_s":[${r3(ioProbeStart)},${r3(ioProbeEnd)}]""" +
        s""","io_probe_per_query":$ioPerJson""" +
        s""","io_probe_ok_session":$ioProbeOkSession"""
    // usually empty or tiny: only cache-miss (freshly staged) queries
    val stagedJson = s""","staged":${stagedQueries
        .map(jsonString(_) + ":true").mkString("{", ",", "}")}"""
    val fullLine =
      s"""{"metric":"total_fullnames","value":$total,"unit":"sec","queries":$qsFull$calibJson,"loadavg_per_query":$loadPerJson$contendedJson$probeFullJson$stagedJson,"sf":"$sfDir"}"""
    // only a FULL-registry run may write the definitive artifact — a
    // subset dev run (query names as args) silently clobbering the
    // 300+-query record cost round 15 a re-run
    if (wanted.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () } // best-effort; stdout is the contract
    println(fullLine)
    val shortLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson$calibJson,"probe_ok_session":$probeOkSession,"sf":"$sfDir"}"""
    // Machine-readable artifact: when SPARK_GRAFT_BENCH_OUT names a
    // file, write the short JSON line there too, so a driver can read
    // the result directly instead of scraping a truncated stdout tail.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      // never clobber the full artifact if pointed at the same file
      try if (java.nio.file.Paths.get(p).toAbsolutePath.normalize !=
            java.nio.file.Paths.get("bench_full.json").toAbsolutePath.normalize)
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (shortLine + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    println(shortLine)
    // LAST stdout line, by contract: a compact (<200 B) summary that
    // always fits inside a size-capped log tail — the full-names and
    // short lines above are 8+ KB at a 400-query registry, so a
    // driver keeping only the last 2000 bytes of stdout would
    // otherwise capture no parseable record at all (it did, for three
    // rounds). Carries the coverage count and the quiet-run flags;
    // per-query detail stays in the two full lines / bench_full.json.
    val compactLine =
      s"""{"metric":"total_compact","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},""" +
        s""""errors":${results.count(_._3.isDefined)},""" +
        s""""contended_session":$sessionContended,""" +
        s""""probe_ok_session":$probeOkSession,""" +
        s""""io_probe_ok_session":$ioProbeOkSession,""" +
        s""""staged_count":${stagedQueries.size},"sf":"$sfDir"}"""
    println(compactLine)
    spark.stop()
  }
}
