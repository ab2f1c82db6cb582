package graft.queries

import org.apache.spark.sql.functions._
import graft.{Conf, QuerySpec, Scratch, Tables, Views}
import graft.sources.GraftCatalog

/** Round-18 engine wave: the DML tier's MAINTENANCE and DERIVED-STATE
  * surfaces. Round 17 gave [[graft.sources.GraftCatalog]] file-keyed
  * copy-on-write groups; round 18 moved the groups to columnar
  * Parquet with typed stats — and with sustained DML comes
  * FRAGMENTATION (every statement stages new small groups), so q395
  * certifies OPTIMIZE: bin-packed compaction that is bit-stable,
  * history-preserving, and honestly CHANGE-FLAGGED to streaming
  * consumers. And with a change stream comes the classic consumer:
  * q396 maintains a MATERIALIZED VIEW incrementally off the manifest
  * change log (the q231 CDC-apply shape pointed at the catalog's own
  * MERGE) and proves it equal to the full recompute — the pattern
  * that turns a 100 TB nightly rollup rebuild into a per-commit
  * delta apply. Both keep the registry's no-flap conventions: exact
  * integer aggregates and oracles that replay the lifecycle
  * relationally from the base corpus.
  */
object Wave18Queries {

  private def seedSql(view: String, where: String): String = s"""
    SELECT o_custkey % 100 AS k,
      CASE WHEN (o_custkey % 100) % 3 = 0 THEN 'retail'
           WHEN (o_custkey % 100) % 3 = 1 THEN 'pro'
           ELSE 'inst' END AS seg,
      sum(cast(round(o_totalprice * 100) as bigint)) AS v
    FROM $view WHERE $where GROUP BY 1"""

  private val oracleSeg = raw"""CASE WHEN (o_custkey % 100) % 3 = 0
    THEN 'retail' WHEN (o_custkey % 100) % 3 = 1 THEN 'pro'
    ELSE 'inst' END"""

  /** q395 — OPTIMIZE (small-group compaction) under the change-stream
    * contract: five era inserts fragment the balance table into five
    * group files, [[graft.sources.GraftCatalog.optimizeTable]]
    * bin-packs them into ONE, and the query REQUIRES the three
    * properties that make compaction safe to run against live
    * consumers at 100 TB: (1) BIT-STABLE contents — the packed
    * snapshot equals the fragmented one row for row (only the file
    * geometry changed), with every pre-OPTIMIZE version still
    * addressable by time travel; (2) HONEST CHANGE FLAGGING — the
    * compaction commit removes files, so a strict append-only stream
    * REFUSES it loudly (silently re-serving packed rows would double
    * every downstream count), while `skipChangeCommits` consumers
    * skip the commit wholesale and still see every APPENDED row
    * exactly once — the drained total equals the table, proving the
    * packed file was neither served nor double-counted; (3)
    * MAINTENANCE CONTINUITY — a post-OPTIMIZE insert lands as an
    * ordinary append that the same stream then serves. Fragmentation
    * is not hypothetical: file-keyed COW stages a new group per
    * statement, and a thousand-commit day means a thousand tiny
    * files unless compaction folds them back. */
  val q395 = QuerySpec("q395_catalog_optimize",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cat = s"graftop${System.nanoTime()}"
      val hook = graft.sources.GraftCatalogTestHook
      Scratch.scoped("graft_q395_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.fr (k BIGINT, seg STRING, v BIGINT)")
          val tdir = root.resolve("db").resolve("fr")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"src_$cat")
          // independent single-file era appends — submit concurrently
          // (guide §2.6, the q352 precedent); the catalog's lost-race
          // append rebase serializes commits, and every assert below
          // depends only on version COUNT (v1..v5) and contents
          locally {
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            Await.result(Future.sequence(Seq("k < 20", "k >= 20 AND k < 40",
              "k >= 40 AND k < 60", "k >= 60 AND k < 80", "k >= 80").map {
                slice => Future(s.sql(s"INSERT INTO $cat.db.fr " +
                  s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM src_$cat " +
                  s"WHERE $slice"))                            // v1..v5
            }), scala.concurrent.duration.Duration(20, "min"))
          }
          require(hook.manifestFiles(tdir, 5L).size == 5,
            "expected five fragmented era groups")
          val pre = s.sql(s"SELECT k, seg, v FROM $cat.db.fr")
            .collect().map(_.toSeq).toSet
          val res = hook.optimizeTable(tdir, targetRows = 1000L) // v6
          require(res.removedFiles.size == 5 && res.addedFiles.size == 1,
            s"OPTIMIZE should pack 5 fragments into 1 file: $res")
          require(hook.manifestFiles(tdir, 6L).size == 1,
            "packed manifest should bind exactly one group")
          // (1) bit-stable: same rows, and history still addressable
          require(s.sql(s"SELECT k, seg, v FROM $cat.db.fr")
            .collect().map(_.toSeq).toSet == pre,
            "OPTIMIZE changed table contents")
          require(s.sql(s"SELECT count(*) FROM $cat.db.fr VERSION AS OF 5")
            .collect().head.getLong(0) == pre.size,
            "pre-OPTIMIZE snapshot lost rows")
          def drain(skip: Boolean, ck: java.nio.file.Path): (Long, Seq[Long]) = {
            val name = s"opt_sink_${System.nanoTime()}"
            val r = s.readStream
            if (skip) r.option("skipChangeCommits", "true")
            val q = r.table(s"$cat.db.fr")
              .groupBy().agg(sum("v").as("total"))
              .writeStream.format("memory").queryName(name)
              .outputMode("complete")
              .option("checkpointLocation", ck.toString)
              .trigger(Trigger.AvailableNow()).start()
            try {
              q.awaitTermination()
              val t = s.table(name).collect().head.getLong(0)
              val ends = q.recentProgress.toSeq
                .flatMap(_.sources.headOption)
                .flatMap(p => Option(p.endOffset)).map(_.trim.toLong)
                .distinct.sorted
              (t, ends)
            } finally q.stop()
          }
          // (2a) strict consumer refuses the compaction commit loudly
          val refused = Scratch.scoped("graft_q395_sk") { strictCk =>
            try { drain(skip = false, strictCk); None }
            catch { case e: Exception =>
              Some(Iterator.iterate[Throwable](e)(_.getCause)
                .takeWhile(_ != null)
                .flatMap(t => Option(t.getMessage)).mkString(" | "))
            }
          }
          require(refused.exists(m => m.contains("append-only")),
            s"strict stream must refuse the OPTIMIZE commit: $refused")
          // (2b) skipChangeCommits: every appended row exactly once —
          // the packed file is neither served nor double-counted
          val expectedTotal = pre.toSeq.map(_(2).asInstanceOf[Long]).sum
          Scratch.scoped("graft_q395_ck") { ckpt =>
            val (t1, ends1) = drain(skip = true, ckpt)
            require(t1 == expectedTotal,
              s"skip-stream total $t1 != appended total $expectedTotal")
            require(ends1.max == 6L,
              s"stream should have committed through the OPTIMIZE version: $ends1")
            // (3) a post-OPTIMIZE append is served by the same stream
            s.sql(s"INSERT INTO $cat.db.fr VALUES (100, 'late', 777)") // v7
            val (t2, _) = drain(skip = true, ckpt)
            require(t2 == expectedTotal + 777L,
              s"post-OPTIMIZE append not served incrementally: $t2")
          }
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.fr ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM seed
UNION ALL
SELECT 100, 'late', 777
ORDER BY k
"""),
    serial = true)

  /** q396 — INCREMENTAL MATERIALIZED VIEW off the catalog change
    * stream: the manifest change log (q394) composed with the
    * CDC-apply shape (q231), pointed at the DML tier's own MERGE.
    * Four era rollups land as commits v1..v4; a streaming consumer
    * drains them as four SINGLE-VERSION micro-batches (REQUIRED on
    * the committed offset spans) and each batch MERGEs its per-segment
    * delta into a second catalog table — additive upsert: matched
    * segments accumulate counts and cents, unmatched insert. The
    * query REQUIRES the view equals the FULL RECOMPUTE over the feed
    * after the initial 3-era drain AND after an incremental 1-era
    * drain (the checkpoint resumes, so era 4 is the only batch fed —
    * the delta-apply property itself, not just the final value).
    * This is the 100 TB economics the change stream exists for:
    * maintaining a rollup costs one MERGE per commit over the
    * commit's delta, not a nightly corpus re-aggregation. */
  val q396 = QuerySpec("q396_incremental_mv",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cat = s"graftmv${System.nanoTime()}"
      Scratch.scoped("graft_q396_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.feed (k BIGINT, seg STRING, v BIGINT)")
          s.sql(s"CREATE TABLE $cat.db.mv (seg STRING, n_slices BIGINT, " +
            "total_cents BIGINT)")
          val eras = Seq(
            "o_orderdate < DATE'1994-01-01'",
            "o_orderdate >= DATE'1994-01-01' AND o_orderdate < DATE'1995-01-01'",
            "o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1996-06-01'",
            "o_orderdate >= DATE'1996-06-01'")
          def land(era: String): Unit =
            s.sql(s"INSERT INTO $cat.db.feed " + seedSql(s"ord_$cat", era))
          def applyBatches(ck: java.nio.file.Path): Seq[Long] = {
            val q = s.readStream.table(s"$cat.db.feed")
              .writeStream
              .foreachBatch {
                (batch: org.apache.spark.sql.Dataset[
                   org.apache.spark.sql.Row], batchId: Long) =>
                  Views.scoped(batch.sparkSession) {
                    val view = s"mvdelta_${cat}_$batchId"
                    batch.groupBy("seg")
                      .agg(count(lit(1)).as("n"), sum("v").as("t"))
                      .createOrReplaceTempView(view)
                    batch.sparkSession.sql(s"""
                      MERGE INTO $cat.db.mv m USING $view d ON m.seg = d.seg
                      WHEN MATCHED THEN UPDATE SET
                        n_slices = m.n_slices + d.n,
                        total_cents = m.total_cents + d.t
                      WHEN NOT MATCHED THEN
                        INSERT (seg, n_slices, total_cents)
                        VALUES (d.seg, d.n, d.t)
                    """)
                  }
                  ()
              }
              .option("checkpointLocation", ck.toString)
              .trigger(Trigger.AvailableNow()).start()
            try {
              q.awaitTermination()
              q.recentProgress.toSeq.flatMap(_.sources.headOption)
                .flatMap(p => Option(p.endOffset)).map(_.trim.toLong)
                .distinct.sorted
            } finally q.stop()
          }
          def mvRows(): Set[Seq[Any]] =
            s.sql(s"SELECT seg, n_slices, total_cents FROM $cat.db.mv")
              .collect().map(_.toSeq).toSet
          def recompute(): Set[Seq[Any]] =
            s.sql(s"SELECT seg, count(*) AS n_slices, sum(v) AS " +
              s"total_cents FROM $cat.db.feed GROUP BY seg")
              .collect().map(_.toSeq).toSet
          // initial load: three eras, three single-version batches
          Scratch.scoped("graft_q396_ck") { ckpt =>
            eras.take(3).foreach(land)
            val ends1 = applyBatches(ckpt)
            require(ends1 == Seq(1L, 2L, 3L),
              s"three landed eras should apply as three single-version " +
                s"micro-batches, got $ends1")
            require(mvRows() == recompute(),
              "incremental view diverged from full recompute after load")
            // incremental maintenance: ONE new era, ONE new batch
            land(eras(3))
            val ends2 = applyBatches(ckpt)
            require(ends2 == Seq(4L),
              s"resume should feed only the new commit, got $ends2")
            require(mvRows() == recompute(),
              "incremental view diverged after the delta apply")
          }
          val out = s.sql(s"SELECT seg, n_slices, total_cents " +
            s"FROM $cat.db.mv ORDER BY seg")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH eras AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1994-01-01' GROUP BY 1, 2
  UNION ALL
  SELECT o_custkey % 100, $oracleSeg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
  FROM orders WHERE o_orderdate >= DATE '1994-01-01'
    AND o_orderdate < DATE '1995-01-01' GROUP BY 1, 2
  UNION ALL
  SELECT o_custkey % 100, $oracleSeg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
  FROM orders WHERE o_orderdate >= DATE '1995-01-01'
    AND o_orderdate < DATE '1996-06-01' GROUP BY 1, 2
  UNION ALL
  SELECT o_custkey % 100, $oracleSeg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
  FROM orders WHERE o_orderdate >= DATE '1996-06-01' GROUP BY 1, 2
)
SELECT seg, CAST(count(*) AS BIGINT) AS n_slices,
  CAST(sum(v) AS BIGINT) AS total_cents
FROM eras GROUP BY seg ORDER BY seg
"""),
    serial = true)

  /** q397 — TYPED STATS PRUNING in-query: the round-18 catalog move
    * to Parquet groups with TYPED manifest stats (BIGINT + DOUBLE +
    * STRING min/max with null counts) means a DOUBLE range predicate
    * or a STRING equality prunes group files BEFORE any I/O — the
    * zone-map economics q212/q355 pin for Parquet footers, here on
    * the DML tier's own manifests, where the r17 grammar was
    * BIGINT-only and silently scanned everything for the other two
    * types. Three range-keyed groups carry disjoint DOUBLE domains
    * (v = k + cents%100/100) and prefix-tagged STRING segments; the
    * query REQUIRES from the executed plans that the DOUBLE probe and
    * the STRING probe each plan a ONE-group scan while the
    * unselective control keeps all three. Values are exact: the
    * fractional part is cents/100 (an exact decimal both engines
    * compute identically), and the oracle replays the probes
    * relationally. */
  val q397 = QuerySpec("q397_typed_stats_pruning",
    (s, dir) => {
      val cat = s"graftts${System.nanoTime()}"
      Scratch.scoped("graft_q397_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.px (k BIGINT, seg STRING, v DOUBLE)")
          // disjoint typed domains per group: v ∈ [0,34) / [34,67) /
          // [67,100); seg prefixed a_ / m_ / z_ by the same slices
          s.sql(s"""
            SELECT k,
              CASE WHEN k < 34 THEN concat('a_', seg)
                   WHEN k <= 66 THEN concat('m_', seg)
                   ELSE concat('z_', seg) END AS seg,
              cast(k as double) + cast(v % 100 as double) / 100.0 AS v
            FROM (${seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'")})
          """).createOrReplaceTempView(s"pxsrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.px " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM pxsrc_$cat " +
              s"WHERE $slice")
          def groupsOf(df: org.apache.spark.sql.DataFrame): Int =
            "groups=(\\d+)".r.findFirstMatchIn(
              df.queryExecution.executedPlan.toString)
              .map(_.group(1).toInt).getOrElse(-1)
          val doubleProbe = s.sql(s"SELECT 'double' AS probe, k, seg, v " +
            s"FROM $cat.db.px WHERE v >= 70.5")
          require(groupsOf(doubleProbe) == 1,
            s"DOUBLE stats should prune to one group, planned " +
              s"${groupsOf(doubleProbe)}")
          val stringProbe = s.sql(s"SELECT 'string' AS probe, k, seg, v " +
            s"FROM $cat.db.px WHERE seg < 'b'")
          require(groupsOf(stringProbe) == 1,
            s"STRING stats should prune to one group, planned " +
              s"${groupsOf(stringProbe)}")
          val control = s.sql(s"SELECT k FROM $cat.db.px WHERE v >= 0.0")
          require(groupsOf(control) == 3,
            s"unselective control lost its groups: ${groupsOf(control)}")
          val out = doubleProbe.unionByName(stringProbe)
            .orderBy("probe", "k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg0,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v0
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), px AS (
  SELECT k,
    CASE WHEN k < 34 THEN 'a_' || seg0
         WHEN k <= 66 THEN 'm_' || seg0
         ELSE 'z_' || seg0 END AS seg,
    CAST(k AS DOUBLE) + CAST(v0 % 100 AS DOUBLE) / 100.0 AS v
  FROM seed
)
SELECT * FROM (
  SELECT 'double' AS probe, CAST(k AS BIGINT) AS k, seg, v
  FROM px WHERE v >= 70.5
  UNION ALL
  SELECT 'string', CAST(k AS BIGINT), seg, v FROM px WHERE seg < 'b'
) ORDER BY probe, k
"""))

  /** q398 — SNAPSHOT TAGS + `TIMESTAMP AS OF`: the named-ref half of
    * time travel (Iceberg tags). A q387-shaped lifecycle lands
    * v1 (seed) / v2 (MERGE delta) / v3 (purge); version 2 is tagged
    * `quarterly`, and the query REQUIRES (1) `VERSION AS OF
    * 'quarterly'` equals `VERSION AS OF 2` equals `TIMESTAMP AS OF
    * <v2's publish instant>` — names, numbers, and wall-clock all
    * resolve to the same bit-stable snapshot; (2) tags are IMMUTABLE
    * (a retag aborts loudly); (3) retention PINS tagged versions —
    * retain-last-1 retires v0/v1 but not the tagged v2, and the
    * tagged read is byte-identical across the expiry. This is how a
    * regulated 100 TB pipeline keeps "the snapshot the Q3 report ran
    * on" addressable for years while retention reclaims everything
    * else. The oracle replays the tagged (merged) and live (purged)
    * states relationally. */
  val q398 = QuerySpec("q398_snapshot_tags",
    (s, dir) => {
      val cat = s"grafttg${System.nanoTime()}"
      val hook = graft.sources.GraftCatalogTestHook
      Scratch.scoped("graft_q398_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.bal (k BIGINT, seg STRING, v BIGINT)")
          val tdir = root.resolve("db").resolve("bal")
          s.sql(s"INSERT INTO $cat.db.bal " +
            seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))  // v1
          Thread.sleep(30) // distinct publish instants for TIMESTAMP AS OF
          s.sql(seedSql(s"ord_$cat", "o_orderdate >= DATE'1996-01-01'"))
            .createOrReplaceTempView(s"tdelta_$cat")
          s.sql(s"""
            MERGE INTO $cat.db.bal t USING tdelta_$cat d ON t.k = d.k
            WHEN MATCHED THEN UPDATE SET v = t.v + d.v
            WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (d.k, d.seg, d.v)
          """)                                                       // v2
          Thread.sleep(30)
          s.sql(s"DELETE FROM $cat.db.bal WHERE v < 50000000")       // v3
          hook.tagSnapshot(tdir, "quarterly", 2L)
          def rollup(ref: String, label: String) = s.sql(
            s"SELECT '$label' AS ref, seg, count(*) AS n_keys, " +
              s"sum(v) AS total_cents FROM $cat.db.bal $ref GROUP BY seg")
          def rows(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(_.toSeq.drop(1)).toSet
          val byTag = rollup("VERSION AS OF 'quarterly'", "tagged")
          val byNum = rollup("VERSION AS OF 2", "x")
          require(rows(byTag) == rows(byNum),
            "tag did not resolve to its pinned version")
          // wall-clock resolution: the instant v2 published sees v2
          val i = java.time.Instant.ofEpochMilli(
            hook.commitTimeMillis(tdir, 2L))
          val lit = "TIMESTAMP '" + java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
            .withZone(java.time.ZoneOffset.UTC).format(i) + "'"
          require(rows(rollup(s"TIMESTAMP AS OF $lit", "x")) == rows(byTag),
            "TIMESTAMP AS OF drifted from the publish instant's snapshot")
          // immutable tags; retention pins the tagged version
          val retag = try { hook.tagSnapshot(tdir, "quarterly", 3L); false }
            catch { case _: java.util.ConcurrentModificationException => true }
          require(retag, "retagging must abort loudly")
          val pre = rows(byTag)
          val res = hook.expireSnapshots(tdir, retainLast = 1)
          require(res.retainedVersions.contains(2L) &&
            res.expiredVersions == Seq(0L, 1L),
            s"retention should pin the tagged v2: $res")
          require(rows(rollup("VERSION AS OF 'quarterly'", "tagged")) == pre,
            "tagged snapshot not bit-stable across expiry")
          val out = rollup("VERSION AS OF 'quarterly'", "tagged")
            .unionByName(rollup("", "live")).orderBy("ref", "seg")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), delta AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
), merged AS (
  SELECT COALESCE(s.k, d.k) AS k, COALESCE(s.seg, d.seg) AS seg,
    COALESCE(s.v, 0) + COALESCE(d.v, 0) AS v
  FROM seed s FULL OUTER JOIN delta d ON s.k = d.k
), purged AS (SELECT * FROM merged WHERE v >= 50000000)
SELECT * FROM (
  SELECT 'live' AS ref, seg, CAST(count(*) AS BIGINT) AS n_keys,
    CAST(sum(v) AS BIGINT) AS total_cents FROM purged GROUP BY seg
  UNION ALL
  SELECT 'tagged', seg, CAST(count(*) AS BIGINT),
    CAST(sum(v) AS BIGINT) FROM merged GROUP BY seg
) ORDER BY ref, seg
"""))

  /** q399 — the FULL tri-direction MERGE: `WHEN NOT MATCHED BY
    * SOURCE` (Spark 4 SQL) makes one statement the complete
    * table-sync primitive — matched rows update or die by a delta
    * predicate, unmatched delta rows insert, and target rows the
    * delta LOST (not matched by source) are retired or flagged
    * stale. That last arm is what distinguishes "apply a delta" from
    * "synchronize to a snapshot": at 100 TB it replaces the
    * full-outer-join + INSERT OVERWRITE rewrite pipelines otherwise
    * needed to expire vanished keys. Delta rows with `k % 17 = 0`
    * carry a NEGATIVE balance (the delete-marked shape); stale
    * target rows below the purge floor die, the rest are re-tagged.
    * The oracle replays all five arms relationally. */
  val q399 = QuerySpec("q399_merge_sync_by_source",
    (s, dir) => {
      val cat = s"graftsy${System.nanoTime()}"
      Scratch.scoped("graft_q399_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.sync (k BIGINT, seg STRING, v BIGINT)")
          s.sql(s"INSERT INTO $cat.db.sync " +
            seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
          s.sql(s"""
            SELECT k, seg,
              CASE WHEN k % 17 = 0 THEN -v ELSE v END AS v
            FROM (${seedSql(s"ord_$cat",
              "o_orderdate >= DATE'1996-01-01'")})
            WHERE k >= 30 AND k < 70""")
            .createOrReplaceTempView(s"sdelta_$cat")
          s.sql(s"""
            MERGE INTO $cat.db.sync t USING sdelta_$cat d ON t.k = d.k
            WHEN MATCHED AND d.v < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = t.v + d.v
            WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (d.k, d.seg, d.v)
            WHEN NOT MATCHED BY SOURCE AND t.v < 50000000 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET seg = 'stale'
          """)
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.sync ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), delta AS (
  SELECT k, seg, CASE WHEN k % 17 = 0 THEN -v ELSE v END AS v
  FROM (
    SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
    FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
  ) WHERE k >= 30 AND k < 70
), matched AS (
  SELECT s.k, s.seg, s.v + d.v AS v
  FROM seed s JOIN delta d ON s.k = d.k WHERE d.v >= 0
), inserted AS (
  SELECT d.k, d.seg, d.v FROM delta d
  WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.k = d.k)
), unmatched AS (
  SELECT s.k, CASE WHEN s.v >= 50000000 THEN 'stale' END AS seg, s.v
  FROM seed s
  WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = s.k)
    AND s.v >= 50000000
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM (
  SELECT * FROM matched
  UNION ALL SELECT * FROM inserted
  UNION ALL SELECT * FROM unmatched
) ORDER BY k
"""))

  /** q400 — MERGE-ON-READ DELETE (deletion vectors): the other half
    * of production row-level operations. `TBLPROPERTIES('delete.mode'
    * = 'merge-on-read')` routes DELETE through
    * [[org.apache.spark.sql.connector.write.SupportsDelta]]: matching
    * rows ship their `(_file, _pos)` row ids, the commit publishes
    * per-group DELETION VECTOR sidecars, and NOT ONE data file is
    * rewritten — the query REQUIRES the data-file set is bit-stable
    * across a misaligned corpus-wide delete while `dv-*.bin` sidecars
    * appear, that `count(*)` still plans the metadata-only scan
    * (live-row counts are exact under vectors), and that an ALIGNED
    * delete still takes the zero-I/O manifest-edit path. At 100 TB
    * this is the difference between a small scattered delete costing
    * bytes-proportional-to-rows-killed (DV write) and
    * bytes-proportional-to-groups-touched (COW rewrite) — Delta DVs /
    * Iceberg position deletes, re-expressed on the Spark DSv2 delta
    * write protocol. The append-only change stream REQUIRES the DV
    * commit is flagged as a change (a vector deletes rows while
    * keeping file names — serving the file again would resurrect
    * them). The oracle replays both deletes relationally. */
  val q400 = QuerySpec("q400_merge_on_read_delete",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cat = s"graftdv${System.nanoTime()}"
      Scratch.scoped("graft_q400_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.dv (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("dv")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"dvsrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.dv " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM dvsrc_$cat " +
              s"WHERE $slice")
          def files(pre: String, suf: String): Set[String] =
            Option(tdir.toFile.listFiles()).getOrElse(Array.empty)
              .map(_.getName)
              .filter(n => n.startsWith(pre) && n.endsWith(suf)).toSet
          val dataBefore = files("data-", ".parquet")
          // misaligned scattered delete: every group holds matches, no
          // group is provably all/none — the DV path must fire
          s.sql(s"DELETE FROM $cat.db.dv WHERE k % 10 = 7")         // v4
          require(files("data-", ".parquet") == dataBefore,
            "merge-on-read delete must not rewrite or stage data files")
          require(files("dv-", ".bin").size == 3,
            s"expected one deletion vector per group: ${files("dv-", ".bin")}")
          // live-row counts stay exact → metadata-only count(*)
          val cnt = s.sql(s"SELECT count(*) AS n FROM $cat.db.dv")
          require(cnt.queryExecution.executedPlan.toString
            .contains("graft-rl-agg"),
            "count(*) under deletion vectors lost the metadata path")
          // aligned delete: still a pure manifest edit, zero data I/O
          s.sql(s"DELETE FROM $cat.db.dv WHERE k < 34")             // v5
          require(files("data-", ".parquet") == dataBefore &&
            files("dv-", ".bin").size == 3,
            "aligned delete must be metadata-only even under vectors")
          // the DV commit is a CHANGE commit: strict append-only
          // streaming must refuse it by name
          val refused = Scratch.scoped("graft_q400_ck") { ckpt =>
            try {
              val q = s.readStream.table(s"$cat.db.dv")
                .groupBy().agg(count(lit(1)).as("n"))
                .writeStream.format("memory")
                .queryName(s"dv_sink_${System.nanoTime()}")
                .outputMode("complete")
                .option("checkpointLocation", ckpt.toString)
                .trigger(Trigger.AvailableNow()).start()
              try { q.awaitTermination(); None } finally q.stop()
            } catch { case e: Exception =>
              Some(Iterator.iterate[Throwable](e)(_.getCause)
                .takeWhile(_ != null)
                .flatMap(t => Option(t.getMessage)).mkString(" | "))
            }
          }
          require(refused.exists(m => m.contains("deletion vector") ||
            m.contains("append-only")),
            s"strict stream must refuse the DV commit: $refused")
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.dv ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v
FROM seed WHERE k % 10 <> 7 AND k >= 34 ORDER BY k
"""),
    serial = true)

  /** q401 — MERGE-ON-READ UPDATE (`update.mode = 'merge-on-read'`,
    * represented as delete+insert on the DSv2 delta protocol): a
    * scattered UPDATE vectors the OLD ordinals and APPENDS the
    * rewritten rows as a fresh group — the query REQUIRES the
    * original data files are untouched, exactly one appended group
    * and one vector sidecar per touched group exist, and `count(*)`
    * stays metadata-exact. Compared against q400's delete-only
    * vectors, this is the full MOR write family: at 100 TB a
    * reprice-one-percent-of-rows UPDATE costs the rewritten rows
    * plus ordinal sidecars, not a copy of every touched multi-GB
    * group. OPTIMIZE then folds vectors and append-fragments back
    * into clean groups and the query REQUIRES the fold is
    * bit-stable. The oracle replays the update relationally. */
  val q401 = QuerySpec("q401_merge_on_read_update",
    (s, dir) => {
      val cat = s"graftmu${System.nanoTime()}"
      val hook = graft.sources.GraftCatalogTestHook
      Scratch.scoped("graft_q401_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.mu (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('update.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("mu")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"musrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.mu " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM musrc_$cat " +
              s"WHERE $slice")
          def files(pre: String, suf: String): Set[String] =
            Option(tdir.toFile.listFiles()).getOrElse(Array.empty)
              .map(_.getName)
              .filter(n => n.startsWith(pre) && n.endsWith(suf)).toSet
          val dataBefore = files("data-", ".parquet")
          // scattered reprice across every group
          s.sql(s"UPDATE $cat.db.mu SET v = v + 1, seg = 'repriced' " +
            "WHERE k % 10 = 3")                                    // v4
          require(files("data-", ".parquet").intersect(dataBefore)
            == dataBefore,
            "MOR update must not rewrite existing groups")
          require(files("dv-", ".bin").size == 3,
            s"expected a vector per touched group: ${files("dv-", ".bin")}")
          val appended = (files("data-", ".parquet") -- dataBefore).size
          require(appended >= 1 && appended <= 3,
            s"rewritten rows should land as at most one appended group " +
              s"per scan task (3 groups), got $appended")
          val cnt = s.sql(s"SELECT count(*) AS n FROM $cat.db.mu")
          require(cnt.queryExecution.executedPlan.toString
            .contains("graft-rl-agg"),
            "count(*) under update vectors lost the metadata path")
          // OPTIMIZE folds vectors + the append fragment; bit-stable
          val pre = s.sql(s"SELECT k, seg, v FROM $cat.db.mu")
            .collect().map(_.toSeq).toSet
          hook.optimizeTable(tdir, targetRows = 1000L)             // v5
          require(s.sql(s"SELECT k, seg, v FROM $cat.db.mu")
            .collect().map(_.toSeq).toSet == pre,
            "OPTIMIZE fold changed MOR-updated contents")
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.mu ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k,
  CASE WHEN k % 10 = 3 THEN 'repriced' ELSE seg END AS seg,
  CAST(CASE WHEN k % 10 = 3 THEN v + 1 ELSE v END AS BIGINT) AS v
FROM seed ORDER BY k
"""))

  /** q402 — MERGE-ON-READ MERGE: q399's full tri-direction sync
    * statement (matched delete/update, insert, not-matched-by-source
    * retire/flag) on `merge.mode = 'merge-on-read'` storage — SAME
    * SQL, SAME ORACLE, different physics: the query REQUIRES not one
    * original group file was rewritten (the whole upsert ships as
    * deletion-vector sidecars + appended rewritten-row groups via the
    * delta protocol) and that `count(*)` stays metadata-exact through
    * vectors-plus-appends. The q399/q402 pair is the COW-vs-MOR
    * differential every production format documents: COW pays group
    * rewrites for read-clean files, MOR pays sidecars for
    * write-cheap commits, and OPTIMIZE converges the two. */
  val q402 = QuerySpec("q402_merge_on_read_merge",
    (s, dir) => {
      val cat = s"graftmm${System.nanoTime()}"
      Scratch.scoped("graft_q402_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.sync (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('merge.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("sync")
          s.sql(s"INSERT INTO $cat.db.sync " +
            seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
          s.sql(s"""
            SELECT k, seg,
              CASE WHEN k % 17 = 0 THEN -v ELSE v END AS v
            FROM (${seedSql(s"ord_$cat",
              "o_orderdate >= DATE'1996-01-01'")})
            WHERE k >= 30 AND k < 70""")
            .createOrReplaceTempView(s"mdelta_$cat")
          def files(pre: String, suf: String): Set[String] =
            Option(tdir.toFile.listFiles()).getOrElse(Array.empty)
              .map(_.getName)
              .filter(n => n.startsWith(pre) && n.endsWith(suf)).toSet
          val dataBefore = files("data-", ".parquet")
          // PARTIAL sync (no catch-all by-source arm): rows the delta
          // lost survive in place when above the purge floor, so the
          // original groups must remain LIVE IN THE MANIFEST carrying
          // partial vectors — the observable that separates MOR from a
          // COW rewrite (which would replace every touched group)
          s.sql(s"""
            MERGE INTO $cat.db.sync t USING mdelta_$cat d ON t.k = d.k
            WHEN MATCHED AND d.v < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = t.v + d.v
            WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (d.k, d.seg, d.v)
            WHEN NOT MATCHED BY SOURCE AND t.v < 50000000 THEN DELETE
          """)
          require(files("data-", ".parquet").intersect(dataBefore)
            == dataBefore,
            "MOR merge must not rewrite existing groups")
          require(files("dv-", ".bin").nonEmpty,
            "expected deletion-vector sidecars from the merge")
          require((files("data-", ".parquet") -- dataBefore).nonEmpty,
            "rewritten/inserted rows should land as appended groups")
          val hook = graft.sources.GraftCatalogTestHook
          val cur = hook.manifestVersions(tdir).max
          require(hook.manifestFiles(tdir, cur).toSet
            .intersect(dataBefore).nonEmpty,
            "surviving rows should keep their ORIGINAL groups live in " +
              "the manifest (a COW rewrite would have replaced them)")
          val cnt = s.sql(s"SELECT count(*) AS n FROM $cat.db.sync")
          require(cnt.queryExecution.executedPlan.toString
            .contains("graft-rl-agg"),
            "count(*) under merge vectors lost the metadata path")
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.sync ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), delta AS (
  SELECT k, seg, CASE WHEN k % 17 = 0 THEN -v ELSE v END AS v
  FROM (
    SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
    FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
  ) WHERE k >= 30 AND k < 70
), matched AS (
  SELECT s.k, s.seg, s.v + d.v AS v
  FROM seed s JOIN delta d ON s.k = d.k WHERE d.v >= 0
), inserted AS (
  SELECT d.k, d.seg, d.v FROM delta d
  WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.k = d.k)
), unmatched AS (
  SELECT s.k, s.seg, s.v FROM seed s
  WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = s.k)
    AND s.v >= 50000000
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM (
  SELECT * FROM matched
  UNION ALL SELECT * FROM inserted
  UNION ALL SELECT * FROM unmatched
) ORDER BY k
"""))

  def all: Seq[QuerySpec] =
    Seq(q395, q396, q397, q398, q399, q400, q401, q402)
}
