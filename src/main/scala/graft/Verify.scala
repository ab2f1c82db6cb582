package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (round-16 hardening — CORRECTNESS_r15.json came
  * back `{}` because the driver's run died before anything comparable
  * was on disk):
  *  1. `oracle_sql.json` is written FIRST, before any query runs — a
  *     mid-run kill (driver timeout under host contention) now leaves a
  *     partial-but-comparable artifact instead of failing `json.load`.
  *  2. Queries run on a small worker pool (default min(8, cores/4),
  *     override SPARK_GRAFT_VERIFY_THREADS; subset arg runs keep it
  *     too). Each worker gets its OWN child SparkSession — SQLConf,
  *     temp views, and stream names are session-scoped, so the
  *     conf-keyed engine queries stay as isolated as they are in the
  *     sequential run — and wraps each query in CacheRegistry.scoped,
  *     the per-thread release that cannot destroy a sibling's
  *     localCheckpoint blocks the way a global releaseAll would.
  *     Wall time drops ~the pool width (sf0.01 queries individually
  *     underuse the 32 local cores), which is the real defense: the
  *     r15 failure mode was a sequential ~15 min run inflated ~3× by
  *     co-tenant load past the driver's patience.
  *  3. Per-query wall time is printed, so a straggler is attributable
  *     from the driver log alone.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: restrict to named queries (local dev loop);
    // the driver always invokes with exactly (sfDir, outDir) → full run
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // oracle_sql.json BEFORE the queries (robustness rule 1 above)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) =>
        s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val declared = SparkEntry.queries.keySet
      .filter(name => only.forall(_.contains(name)))
    // Two queues: queries that RUN a stream are serial-only — the
    // JVM-wide StateStore machinery races one stream's stop against
    // another's commit (see QuerySpec.serial) — and get a DEDICATED
    // worker draining them one at a time from t0, overlapping the
    // batch workers instead of blocking them on a lock. Batch queries
    // stay fully parallel. Wall ≈ max(Σ streams, Σ batch / workers).
    val serialNames = SparkEntry.specs.filter(_.serial).map(_.name).toSet
    type Q = ConcurrentLinkedQueue[(String, (SparkSession, String) => DataFrame)]
    val batchWork = new Q()
    val streamWork = new Q()
    SparkEntry.queries
      .filter { case (name, _) => declared(name) }
      .foreach { e =>
        if (serialNames(e._1)) streamWork.add(e) else batchWork.add(e)
      }
    val failed = new ConcurrentLinkedQueue[String]()
    val poolWidth = math.max(1,
      sys.env.get("SPARK_GRAFT_VERIFY_THREADS").map(_.trim.toInt)
        .getOrElse(math.min(8,
          Runtime.getRuntime.availableProcessors / 4)))
    val t0 = System.nanoTime()
    def drain(session: SparkSession, q: Q): Unit = {
      var e = q.poll()
      while (e != null) {
        val (name, fn) = e
        val tq = System.nanoTime()
        try {
          CacheRegistry.scoped {
            fn(session, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          println(f"[verify] $name ok (${(System.nanoTime() - tq) / 1e9}%.1f s)")
        } catch { case t: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${t.getMessage}")
        }
        e = q.poll()
      }
    }
    // lane 0 is the single stream lane (then helps batch); the rest
    // are batch lanes — total threads = poolWidth, sequential when 1
    val lanes = math.max(1,
      math.min(poolWidth, 1 + batchWork.size))
    val workers = (0 until lanes).map { wi =>
      val t = new Thread(() => {
        // one child session per worker: shared SparkContext + caches,
        // isolated SQLConf/temp views (the same isolation the engine's
        // own conf-keyed queries get in a sequential run)
        val session = if (lanes == 1) spark else spark.newSession()
        // pin the child session as THIS thread's active session:
        // SQLConf.get (rules, plan asserts touched outside an action)
        // must resolve to the worker's conf, not the base session's
        SparkSession.setActiveSession(session)
        if (wi == 0) drain(session, streamWork)
        drain(session, batchWork)
      }, s"graft-verify-$wi")
      t.setDaemon(false)
      t.start()
      t
    }
    workers.foreach(_.join())
    // quiescent point: every worker has drained, so the global release
    // (streaming-thread-registered handles land here, not in scopes)
    // and the shared-cache clear are safe again
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()

    // Declared-vs-reported audit (round-9 lesson): an erroring query is
    // simply ABSENT from the correctness file, so a shrinking registry
    // can read as all-green. Diff the declared query set against what
    // was actually written and shout any gap — on BOTH stdout and
    // stderr, so it survives either stream being filtered.
    val failedSet = {
      val b = Set.newBuilder[String]
      failed.forEach(n => b += n)
      b.result()
    }
    val written = declared -- failedSet
    val missing = (declared -- written).toSeq.sorted
    val noOracle = (declared -- SparkEntry.oracleSql.keySet).toSeq.sorted
    val audit = s"[verify] AUDIT: declared=${declared.size} " +
      s"written=${written.size} failed=${missing.size}" +
      (if (missing.nonEmpty) s" MISSING=${missing.mkString(",")}" else "") +
      (if (noOracle.nonEmpty) s" rows-only(no oracle)=${noOracle.mkString(",")}" else "")
    println(audit)
    if (missing.nonEmpty) System.err.println(audit)
    println(f"[verify] wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"workers=${workers.size}")
    // session-hygiene evidence: after the whole registry ran with
    // per-query scoped release, nothing may remain pinned in the JVM or
    // left under the scratch base — the r4 bench band came from exactly
    // this kind of residue
    val scratchLeft = scala.util.Using.resource(
      java.nio.file.Files.list(Scratch.base))(_.count())
    println(s"[verify] residue: tracked=${CacheRegistry.trackedCount} " +
      s"persistentRdds=${spark.sparkContext.getPersistentRDDs.size} " +
      s"scratchEntries=$scratchLeft")
    spark.stop()
    // Zero-output sentinel (round-16 hardening, verdict r15 #1): a run
    // that produced NOTHING comparable must be LOUD and non-zero, not a
    // silently-empty correctness round (CORRECTNESS_r15.json came back
    // `{}`). Belt and braces: the in-process `written` ledger AND the
    // on-disk directory both have to show output.
    val onDisk = Option(new java.io.File(outDir).list()).map(_.count(
      n => n != "oracle_sql.json")).getOrElse(0)
    if (written.isEmpty || onDisk == 0) {
      val msg = s"[verify] FATAL: ZERO query outputs " +
        s"(written=${written.size} onDisk=$onDisk declared=${declared.size})" +
        " — the correctness round would be empty; failing loudly"
      println(msg)
      System.err.println(msg)
      sys.exit(3)
    }
  }
}
