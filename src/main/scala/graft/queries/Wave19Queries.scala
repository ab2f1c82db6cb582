package graft.queries

import org.apache.spark.sql.functions._
import graft.{Conf, QuerySpec, Scratch, Tables}
import graft.sources.GraftCatalog

/** Round-19 engine wave: the catalog tier's CONCURRENCY and
  * MAINTENANCE-AT-SCALE surfaces. Round 18 made
  * [[graft.sources.GraftCatalog]] a full production table format
  * (columnar groups, typed stats, MOR deletion vectors); round 19
  * closes the operational story a 100 TB deployment actually lives
  * on: q403 proves FILE-DISJOINT optimistic concurrency (two live
  * writers on disjoint key ranges both commit — version-granularity
  * conflicts would serialize every tenant of a busy table), q404
  * closes the streaming loop with `writeStream.toTable` INTO the
  * catalog (exactly-once epochs via in-manifest txn markers), q405
  * certifies DISTRIBUTED OPTIMIZE (compaction bins as executor
  * tasks — maintenance that scales with the cluster, not the
  * driver), q406 exposes and pays down DV READ AMPLIFICATION (the
  * dead-row ledger plus the dead-fraction fold gate), and q407
  * proves MERGE SCHEMA EVOLUTION (auto-widen, history null-fills,
  * no rewrite). Oracles replay each lifecycle relationally from the
  * base corpus, exact integer aggregates, no flap. */
object Wave19Queries {

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

  private val oracleSeed = raw"""
  SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1"""

  /** q403 — FILE-DISJOINT OPTIMISTIC CONCURRENCY: two LIVE writers
    * (real threads, no fault injection) issue row-level DELETEs whose
    * key ranges live in DISJOINT group files, racing on the same
    * snapshot. Version-granularity conflict detection would abort
    * whichever loses the manifest race even though not one shared row
    * exists — the r18 behavior, and at 100 TB with many tenants it
    * serializes all DML through a global retry loop. The engine now
    * proves disjointness per file (a touched group's manifest line
    * must be bit-identical in the winner's manifest) and REBASES, so
    * the query REQUIRES: both deletes committed (two vector commits
    * in the lineage), no data file rewritten (MOR), and the final
    * contents carry BOTH effects. The oracle replays both deletes
    * relationally — which is only deterministic BECAUSE disjoint
    * commits compose. */
  val q403 = QuerySpec("q403_disjoint_concurrent_dml",
    (s, dir) => {
      val cat = s"graftfd${System.nanoTime()}"
      Scratch.scoped("graft_q403_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.fd (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("fd")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"fdsrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.fd " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM fdsrc_$cat " +
              s"WHERE $slice")                                  // v1..v3
          def files(pre: String): Set[String] =
            Option(tdir.toFile.listFiles()).getOrElse(Array.empty)
              .map(_.getName).filter(_.startsWith(pre)).toSet
          val dataBefore = files("data-")
          // the race: both statements read snapshot v3; their key
          // ranges are misaligned WITHIN their group (the DV path
          // fires) but the pushed range predicates statically prune
          // each scan to a different group — file-disjoint by
          // construction, so whichever loses the publish race must
          // rebase and land, in either interleaving
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          val deletes = Seq("k % 10 = 3 AND k < 34",
            "k % 10 = 7 AND k >= 67").map { pred =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              override def call(): Unit =
                s.sql(s"DELETE FROM $cat.db.fd WHERE $pred")
            })
          }
          deletes.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
          pool.shutdown()
          // merged lineage: v4 and v5 both exist — NEITHER writer
          // aborted — and the winners' effects compose: two vectored
          // groups, zero rewritten data files
          val versions = graft.sources.GraftCatalogTestHook
            .manifestVersions(tdir)
          require(versions.max == 5L,
            s"both disjoint deletes must commit (v4 + v5): $versions")
          require(files("data-") == dataBefore,
            "MOR deletes must not rewrite data files")
          require(files("dv-").size == 2,
            s"expected one vector per deleted-from group: ${files("dv-")}")
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.fd ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM seed
WHERE NOT (k % 10 = 3 AND k < 34) AND NOT (k % 10 = 7 AND k >= 67)
ORDER BY k
"""))

  /** q404 — STREAMING WRITE INTO THE CATALOG: the sink half that
    * makes the catalog a closed incremental loop — `readStream` off
    * one table's manifest change log, `writeStream.toTable` into
    * another, each epoch an ordinary atomic manifest commit. The
    * query feeds THREE era batches (drained as three separate
    * micro-batch epochs under `maxVersionsPerBatch=1`), RESTARTS the
    * stream from its checkpoint for a fourth, and REQUIRES
    * exactly-once composition: the sink equals the one-shot batch
    * result, every sink commit carries the `#txn=<queryId>:<epoch>`
    * idempotence marker IN the manifest header (marker and rows
    * become visible in one atomic publish — the crash window between
    * table commit and checkpoint advance cannot double-append), and
    * a re-drain with nothing new appends nothing. This is the Delta
    * `txn` discipline on the Spark DSv2 StreamingWrite protocol. */
  val q404 = QuerySpec("q404_streaming_catalog_sink",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val cat = s"graftsw${System.nanoTime()}"
      Scratch.scoped("graft_q404_cat") { root =>
        Scratch.scoped("graft_q404_ck") { ck =>
          Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
              ("spark.sql.shuffle.partitions" -> "8"): _*) {
            Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
            s.sql(s"CREATE TABLE $cat.db.src (k BIGINT, seg STRING, v BIGINT)")
            s.sql(s"CREATE TABLE $cat.db.snk (k BIGINT, seg STRING, v BIGINT)")
            val sdir = root.resolve("db").resolve("snk")
            s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
              .createOrReplaceTempView(s"swsrc_$cat")
            def feed(slice: String): Unit =
              s.sql(s"INSERT INTO $cat.db.src " +
                s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM swsrc_$cat " +
                s"WHERE $slice")
            def drain(): Unit = {
              val q = s.readStream
                .option("maxVersionsPerBatch", "1")
                .table(s"$cat.db.src")
                .writeStream.option("checkpointLocation", ck.toString)
                .trigger(Trigger.AvailableNow())
                .toTable(s"$cat.db.snk")
              try q.awaitTermination() finally q.stop()
            }
            feed("k < 25"); feed("k >= 25 AND k < 50"); feed("k >= 50 AND k < 75")
            drain() // three source versions → three sink epochs
            val hook = graft.sources.GraftCatalogTestHook
            def txns: Seq[String] = hook.manifestVersions(sdir)
              .flatMap(v => hook.manifestMeta(sdir, v).get("txn"))
            require(txns.size >= 3,
              s"expected one txn-marked sink commit per epoch: $txns")
            require(txns.map(_.split(":").last.toLong).distinct.size ==
              txns.size, s"epoch markers must be distinct: $txns")
            val after3 = s.sql(s"SELECT count(*) FROM $cat.db.snk")
              .collect().head.getLong(0)
            // restart from the same checkpoint: a fourth era streams in
            // as one more epoch — incremental, not a re-read
            feed("k >= 75")
            drain()
            require(txns.size >= 4, s"restart must resume the epoch " +
              s"sequence from the checkpoint: $txns")
            // idempotence: nothing new → nothing appended
            val vMax = hook.manifestVersions(sdir).max
            drain()
            require(hook.manifestVersions(sdir).max == vMax,
              "an empty drain must not publish new sink versions")
            val total = s.sql(s"SELECT count(*) FROM $cat.db.snk")
              .collect().head.getLong(0)
            require(total > after3,
              s"the restarted stream must have appended era 4: $total")
            val out = s.sql(s"SELECT k, seg, v FROM $cat.db.snk ORDER BY k")
            val sunk = out.collect()
            s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
          }
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM seed
ORDER BY k
"""),
    serial = true)

  /** q405 — DISTRIBUTED OPTIMIZE: compaction bins dispatched as ONE
    * SPARK TASK EACH instead of a driver-side serial loop — the last
    * single-threaded maintenance path, fanned out. A fragmented
    * 100 TB table's thousand-commit day compacts with cluster
    * parallelism; the driver keeps only bin planning and the single
    * manifest publish. Ten era fragments (one carrying a deletion
    * vector from a scattered MOR delete) pack through a multi-task
    * job; the query REQUIRES bit-stable contents, every fragment
    * compacted, the vector FOLDED AWAY (post-pack occupancy shows
    * zero masked rows — the read-amplification debt paid), and
    * history still addressable. Same planner, same codec as the
    * serial path — Round19Spec pins plan equivalence; this certifies
    * the result at corpus scale. */
  val q405 = QuerySpec("q405_distributed_optimize",
    (s, dir) => {
      val cat = s"graftdo${System.nanoTime()}"
      Scratch.scoped("graft_q405_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.dop (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("dop")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"dosrc_$cat")
          for (i <- 0 until 10)
            s.sql(s"INSERT INTO $cat.db.dop " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM dosrc_$cat " +
              s"WHERE k % 10 = $i")                            // v1..v10
          s.sql(s"DELETE FROM $cat.db.dop WHERE k = 30")       // v11: DV
          val hook = graft.sources.GraftCatalogTestHook
          require(hook.manifestFiles(tdir, 11L).size == 10,
            "expected ten era fragments")
          val pre = s.sql(s"SELECT k, seg, v FROM $cat.db.dop")
            .collect().map(_.toSeq).toSet
          val res = hook.optimizeTableDistributed(s, tdir,
            targetRows = 1000L)                                // v12
          require(res.removedFiles.size == 10,
            s"distributed OPTIMIZE must compact every fragment: $res")
          require(res.addedFiles.nonEmpty &&
            res.addedFiles.size < res.removedFiles.size,
            s"packing must reduce file count: $res")
          require(hook.groupOccupancy(tdir).forall { case (_, r, l) =>
            r == l }, "the deletion vector must be folded away")
          require(s.sql(s"SELECT k, seg, v FROM $cat.db.dop")
            .collect().map(_.toSeq).toSet == pre,
            "distributed OPTIMIZE changed table contents")
          require(s.sql(
            s"SELECT count(*) FROM $cat.db.dop VERSION AS OF 11")
            .collect().head.getLong(0) == pre.size,
            "pre-OPTIMIZE history lost")
          val out = s.sql(s"SELECT k, seg, v FROM $cat.db.dop ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v FROM seed
WHERE k <> 30 ORDER BY k
"""))

  /** q406 — DV READ AMPLIFICATION, measured and paid down: a
    * deletion vector is write-cheap but read-expensive — a group
    * masking 30% dead rows decodes every column of every dead row on
    * every scan, forever, unless maintenance folds it. The query
    * exposes the DEAD-ROW LEDGER (per-group rows vs liveRows off the
    * manifest — zero data I/O) after a scattered MOR delete, then
    * runs OPTIMIZE and REQUIRES the dead-fraction gate selected the
    * heavily-masked group even though its live rows dwarf
    * targetRows (the r18 selector only took any-DV groups; the gate
    * makes big mostly-live groups immune to churn while big
    * mostly-dead ones MUST fold). Output is the ledger before/after:
    * total, live, and dead rows — the oracle computes the same
    * arithmetic relationally. */
  val q406 = QuerySpec("q406_dead_row_ledger",
    (s, dir) => {
      val cat = s"graftdl${System.nanoTime()}"
      Scratch.scoped("graft_q406_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.led (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("led")
          s.sql(s"INSERT INTO $cat.db.led " +
            s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM (" +
            seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'") + ")")
          // scattered 1-in-3 delete: unprovable per the group's stats →
          // a deletion vector masking ~33% of a single big group
          s.sql(s"DELETE FROM $cat.db.led WHERE k % 3 = 0")
          val hook = graft.sources.GraftCatalogTestHook
          val before = hook.groupOccupancy(tdir)
          val (total, live) = (before.map(_._2).sum, before.map(_._3).sum)
          require(total > live && live > 0,
            s"expected a masked group: $before")
          require((total - live).toDouble / total >=
            graft.sources.GraftCatalog.DvFoldDeadFraction,
            "fixture must exceed the fold gate")
          // the gate: liveRows >> targetRows, yet the dead fraction
          // selects the group for folding (distributed — no serial cap)
          val res = hook.optimizeTableDistributed(s, tdir, targetRows = 8L)
          require(res.removedFiles.size == 1 && res.addedFiles.size == 1,
            s"dead-fraction gate must select the masked group: $res")
          val after = hook.groupOccupancy(tdir)
          require(after.forall { case (_, r, l) => r == l },
            s"fold must clear every mask: $after")
          import s.implicits._
          Seq((total, live, total - live, after.map(_._2).sum))
            .toDF("total_rows", "live_rows", "dead_rows", "rows_after_fold")
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed)
SELECT CAST(count(*) AS BIGINT) AS total_rows,
  CAST(count(*) FILTER (WHERE k % 3 <> 0) AS BIGINT) AS live_rows,
  CAST(count(*) FILTER (WHERE k % 3 = 0) AS BIGINT) AS dead_rows,
  CAST(count(*) FILTER (WHERE k % 3 <> 0) AS BIGINT) AS rows_after_fold
FROM seed
"""))

  /** q407 — MERGE SCHEMA EVOLUTION (Delta `mergeSchema`): a MERGE
    * whose source carries a column the target lacks WIDENS the target
    * (atomic `schema-<n+1>.json` publish through the optimistic ALTER
    * path) instead of refusing on width; existing groups are NEVER
    * rewritten — their rows read the new column as NULL
    * (schema-on-read) — and the merge's arms bind it for touched
    * rows. The query seeds two era groups, widens-and-merges a delta
    * carrying an `origin` tag restricted to the second era's keys,
    * and REQUIRES: the first era's group file survives byte-identical
    * (null-fill is a read-path fact, not a rewrite), untouched rows
    * show NULL origin, merged/inserted rows carry the tag, and the
    * schema version advanced exactly once. */
  val q407 = QuerySpec("q407_merge_schema_evolution",
    (s, dir) => {
      val cat = s"graftse${System.nanoTime()}"
      Scratch.scoped("graft_q407_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.se (k BIGINT, seg STRING, v BIGINT)")
          val tdir = root.resolve("db").resolve("se")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"sesrc_$cat")
          for (slice <- Seq("k < 50", "k >= 50"))
            s.sql(s"INSERT INTO $cat.db.se " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM sesrc_$cat " +
              s"WHERE $slice")                                  // v1, v2
          val hook = graft.sources.GraftCatalogTestHook
          val eraOneFile = hook.manifestFiles(tdir, 1L).head
          val eraOneBytes = java.nio.file.Files
            .readAllBytes(tdir.resolve(eraOneFile)).toSeq
          // the delta carries an EXTRA column the target lacks
          s.sql(s"""SELECT k, seg, v, 'late96' AS origin FROM (
            ${seedSql(s"ord_$cat", "o_orderdate >= DATE'1996-01-01'")}
          ) WHERE k >= 50""").createOrReplaceTempView(s"sedelta_$cat")
          val added = graft.sources.GraftCatalog.widenForMerge(s,
            s"$cat.db.se", s.table(s"sedelta_$cat").schema)
          require(added == Seq("origin"),
            s"widen must add exactly the missing column: $added")
          require(hook.schemaVersion(tdir) == 1L,
            "widen must publish schema v1 atomically")
          s.sql(s"""
            MERGE INTO $cat.db.se t USING sedelta_$cat d ON t.k = d.k
            WHEN MATCHED THEN
              UPDATE SET v = t.v + d.v, origin = d.origin
            WHEN NOT MATCHED THEN
              INSERT (k, seg, v, origin) VALUES (d.k, d.seg, d.v, d.origin)
          """)
          // the untouched first-era group: never rewritten, not even
          // opened — its rows null-fill the new column at read time
          require(java.nio.file.Files.readAllBytes(
            tdir.resolve(eraOneFile)).toSeq == eraOneBytes,
            "schema evolution must not rewrite pre-widening groups")
          require(hook.manifestFiles(tdir,
            hook.manifestVersions(tdir).max).contains(eraOneFile),
            "the untouched group must survive the merge commit")
          val out = s.sql(
            s"SELECT k, seg, v, origin FROM $cat.db.se ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed),
delta AS (
  SELECT k, seg, v, 'late96' AS origin FROM (
    SELECT o_custkey % 100 AS k, $oracleSeg AS seg,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
    FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
  ) WHERE k >= 50
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v, origin
FROM (
  SELECT s.k, s.seg, s.v + d.v AS v, d.origin
  FROM seed s JOIN delta d ON s.k = d.k
  UNION ALL
  SELECT d.k, d.seg, d.v, d.origin FROM delta d
  WHERE NOT EXISTS (SELECT 1 FROM seed s WHERE s.k = d.k)
  UNION ALL
  SELECT s.k, s.seg, s.v, CAST(NULL AS VARCHAR) AS origin FROM seed s
  WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = s.k)
) ORDER BY k
"""))

  /** q408 — DESCRIBE HISTORY: the audit surface every table format
    * pairs with time travel — one row per retained version with the
    * commit's SHAPE derived from the manifest diff (create / append /
    * change), group-file delta counts, and the recorded `#ts` commit
    * instant (asserted monotone, excluded from the hashed output for
    * determinism). A deletion-vector attach is a `change` even
    * though no file name moved — rows were deleted, which is exactly
    * the verdict the strict change stream enforces; history and
    * streaming share one diff engine, so they can never disagree
    * about what a commit did. Manifest-only: zero data I/O however
    * large the table. The oracle is the scripted lifecycle's known
    * shape, replayed as literals. */
  val q408 = QuerySpec("q408_describe_history",
    (s, dir) => {
      val cat = s"grafth${System.nanoTime()}"
      Scratch.scoped("graft_q408_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.h (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          val tdir = root.resolve("db").resolve("h")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"hsrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.h " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM hsrc_$cat " +
              s"WHERE $slice")                                  // v1..v3
          s.sql(s"DELETE FROM $cat.db.h WHERE k % 10 = 7 AND k < 34") // v4 DV
          s.sql(s"DELETE FROM $cat.db.h WHERE k >= 67")         // v5 aligned
          val hook = graft.sources.GraftCatalogTestHook
          hook.optimizeTable(tdir, targetRows = 1000L)          // v6 pack
          val h = hook.history(tdir)
          require(h.map(_.commitTimeMillis) ==
            h.map(_.commitTimeMillis).sorted,
            "history commit times must be monotone")
          require(h.forall(_.txn.isEmpty),
            "no streaming epochs in this lifecycle")
          // the DV attach (v4) and the metadata delete (v5) are both
          // CHANGE commits — same verdict the change stream enforces
          import s.implicits._
          val out = h.map(e => (e.version, e.operation,
            e.filesAdded.toLong, e.filesRemoved.toLong))
            .toDF("version", "operation", "files_added", "files_removed")
            .orderBy("version")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
SELECT CAST(version AS BIGINT) AS version, operation,
  CAST(files_added AS BIGINT) AS files_added,
  CAST(files_removed AS BIGINT) AS files_removed
FROM (VALUES (0, 'create', 0, 0), (1, 'append', 1, 0),
  (2, 'append', 1, 0), (3, 'append', 1, 0), (4, 'change', 1, 1),
  (5, 'change', 0, 1), (6, 'change', 1, 2))
  AS t(version, operation, files_added, files_removed)
ORDER BY version
"""))

  /** q409 — CLUSTERED OPTIMIZE (1-D Delta `ZORDER BY`): sustained
    * ingest SCATTERS key ranges — every commit spans the keyspace, so
    * after a day of appends a key predicate prunes NOTHING and a
    * 100 TB scan pays the whole table for a one-key lookup. Clustered
    * compaction re-cuts the fragments into KEY-RANGE bins (boundaries
    * from the exact sort keys, one executor task per range, rows
    * sorted in-file) so the packed files cover tight disjoint ranges
    * and static stats pruning works again. The query REQUIRES the
    * before/after pruning differential measured through the REAL scan
    * (all groups kept before, exactly one after), range-disjoint
    * manifest stats, bit-stable contents, and incremental idempotence
    * (a second clustered run emits no bins). Output is the clustered
    * table's rollup; the oracle replays it relationally. */
  val q409 = QuerySpec("q409_clustered_optimize",
    (s, dir) => {
      val cat = s"graftcl${System.nanoTime()}"
      Scratch.scoped("graft_q409_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.cl (k BIGINT, seg STRING, v BIGINT)")
          val tdir = root.resolve("db").resolve("cl")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"clsrc_$cat")
          // four era fragments, EACH spanning the whole key domain —
          // the sustained-ingest shape that defeats pruning
          for (r <- 0 until 4)
            s.sql(s"INSERT INTO $cat.db.cl " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM clsrc_$cat " +
              s"WHERE k % 4 = $r")                              // v1..v4
          def keptGroups(pred: String): Int =
            s.sql(s"SELECT k, v FROM $cat.db.cl WHERE $pred")
              .rdd.getNumPartitions // one InputPartition per kept group
          require(keptGroups("k < 10") == 4,
            "interleaved fragments must defeat pruning (the premise)")
          val pre = s.sql(s"SELECT k, seg, v FROM $cat.db.cl")
            .collect().map(_.toSeq).toSet
          val hook = graft.sources.GraftCatalogTestHook
          val res = hook.optimizeTableDistributed(s, tdir,
            targetRows = 50L, sortCol = Some("k"))              // v5
          require(res.removedFiles.size == 4 && res.addedFiles.size == 2,
            s"4 interleaved fragments should re-cut into 2 ranges: $res")
          require(s.sql(s"SELECT k, seg, v FROM $cat.db.cl")
            .collect().map(_.toSeq).toSet == pre,
            "clustering changed table contents")
          require(keptGroups("k < 10") == 1,
            "clustering must restore single-file static pruning")
          // incremental idempotence: nothing further to re-cut
          val again = hook.optimizeTableDistributed(s, tdir,
            targetRows = 50L, sortCol = Some("k"))
          require(again.removedFiles.isEmpty && again.addedFiles.isEmpty,
            s"clustered OPTIMIZE must be idempotent: $again")
          val out = s.sql(s"SELECT seg, count(*) AS n_keys, " +
            s"sum(v) AS total_cents, min(k) AS min_k, max(k) AS max_k " +
            s"FROM $cat.db.cl GROUP BY seg ORDER BY seg")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed)
SELECT seg, CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(v) AS BIGINT) AS total_cents,
  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
FROM seed GROUP BY seg ORDER BY seg
"""))

  /** q410 — DYNAMIC FILE PRUNING: Spark's dynamic partition pruning
    * extended to ANY clustered column through the typed manifest
    * stats — the plain catalog scan implements
    * SupportsRuntimeV2Filtering over every table column, so a join
    * against a selectively-filtered dimension plans a
    * dynamic-pruning subquery on the join key and the fact scan
    * drops, at runtime before any data I/O, every group whose stats
    * prove no build-side key can live in it (coverage = NoRows; the
    * same proof engine as metadata DELETE — may refuse, never lie).
    * Classic DPP needs a partition column; stats-backed groups make
    * the feature available on whatever clustered OPTIMIZE (q409)
    * maintains. The query REQUIRES the dynamic-pruning subquery in
    * the executed plan AND that the fact scan's row count equals one
    * group's rows, not the table's. The oracle replays the join
    * relationally. */
  val q410 = QuerySpec("q410_dynamic_file_pruning",
    (s, dir) => {
      val cat = s"graftdf${System.nanoTime()}"
      Scratch.scoped("graft_q410_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          Tables(s, dir, "customer").createOrReplaceTempView(s"cust_$cat")
          s.sql(s"CREATE TABLE $cat.db.df (k BIGINT, seg STRING, v BIGINT)")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"dfsrc_$cat")
          // four range-clustered fact groups (what clustered OPTIMIZE
          // maintains): k<25, 25-49, 50-74, 75-99
          for (slice <- Seq("k < 25", "k >= 25 AND k < 50",
            "k >= 50 AND k < 75", "k >= 75"))
            s.sql(s"INSERT INTO $cat.db.df " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM dfsrc_$cat " +
              s"WHERE $slice")
          // selective dim: a REAL scan (customer) filtered to keys
          // living in exactly the first fact group
          val q = s.sql(s"""
            SELECT /*+ BROADCAST(d) */ f.seg AS seg,
              count(*) AS n, sum(f.v) AS total
            FROM $cat.db.df f
            JOIN (SELECT DISTINCT c_custkey % 100 AS k FROM cust_$cat
                  WHERE c_mktsegment = 'BUILDING' AND
                    c_custkey % 100 < 25) d
              ON f.k = d.k
            GROUP BY f.seg""")
          val sunk = q.collect()
          val plan = q.queryExecution.executedPlan.toString
          require(plan.contains("dynamicpruningexpression"),
            "no dynamic-pruning subquery on the catalog fact scan")
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          def scanRows(p: SparkPlan): Seq[Long] = p match {
            case qs: QueryStageExec => scanRows(qs.plan)
            case b: BatchScanExec
                if b.toString.contains("graft-rl-table") =>
              Seq(b.metrics("numOutputRows").value)
            case _ => p.children.flatMap(scanRows)
          }
          val rows = scanRows(q.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          })
          val groupOne = s.sql(
            s"SELECT count(*) FROM dfsrc_$cat WHERE k < 25")
            .collect().head.getLong(0)
          val total = s.sql(s"SELECT count(*) FROM dfsrc_$cat")
            .collect().head.getLong(0)
          require(rows.sum == groupOne && groupOne < total,
            s"runtime pruning must read one group ($groupOne of " +
              s"$total rows), scan read ${rows.sum}")
          val out = s.createDataFrame(
            java.util.Arrays.asList(sunk: _*), q.schema).orderBy("seg")
          val sorted = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sorted: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed),
dim AS (
  SELECT DISTINCT o_custkey % 100 AS k FROM (
    SELECT c_custkey % 100 AS o_custkey FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_custkey % 100 < 25)
)
SELECT f.seg, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(f.v) AS BIGINT) AS total
FROM seed f JOIN dim d ON f.k = d.k
GROUP BY f.seg ORDER BY f.seg
"""))

  /** q411 — SQL STORED PROCEDURES: the maintenance tier as
    * first-class SQL through Spark 4's DSv2 ProcedureCatalog —
    * `CALL cat.system.optimize/expire_snapshots/tag_snapshot/history/
    * dead_rows`, the Iceberg `system.*` convention. A 100 TB
    * deployment's maintenance is driven from SQL schedulers, not
    * Scala jobs, and every call returns its outcome AS ROWS, so the
    * run's audit trail is a query result. The query scripts a full
    * lifecycle in pure SQL (seed, scattered MOR delete, dead-row
    * ledger read, compaction by CALL, ledger re-read, history read)
    * and emits the ledger-before/ledger-after/history rows; the
    * oracle replays the arithmetic relationally and the history
    * shape as literals — deterministic because every step's file
    * geometry is pinned by REPARTITION(1) era inserts. */
  val q411 = QuerySpec("q411_sql_procedures",
    (s, dir) => {
      val cat = s"graftpr${System.nanoTime()}"
      Scratch.scoped("graft_q411_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.pr (k BIGINT, seg STRING, v BIGINT)" +
            " TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
          s.sql(seedSql(s"ord_$cat", "o_orderdate < DATE'1996-01-01'"))
            .createOrReplaceTempView(s"prsrc_$cat")
          for (slice <- Seq("k < 34", "k >= 34 AND k <= 66", "k >= 67"))
            s.sql(s"INSERT INTO $cat.db.pr " +
              s"SELECT /*+ REPARTITION(1) */ k, seg, v FROM prsrc_$cat " +
              s"WHERE $slice")                                  // v1..v3
          s.sql(s"DELETE FROM $cat.db.pr WHERE k % 10 = 3")     // v4: DVs
          def ledger(label: String) = {
            val r = s.sql(s"CALL $cat.system.dead_rows('db.pr')")
              .agg(sum("rows"), sum("live_rows")).collect().head
            (label, r.getLong(0), r.getLong(1))
          }
          val before = ledger("ledger_before")
          val opt = s.sql(
            s"CALL $cat.system.optimize('db.pr', 100000)")      // v5
            .collect().head
          require(opt.getLong(0) == 3L && opt.getLong(1) == 1L,
            s"CALL optimize should fold 3 vectored groups into 1: $opt")
          val after = ledger("ledger_after")
          require(after._2 == after._3,
            s"post-fold ledger must be mask-free: $after")
          val hist = s.sql(s"CALL $cat.system.history('db.pr')")
            .collect().map(r => (s"v${r.getLong(0)}",
              r.getLong(3), r.getLong(4))).toSeq
          import s.implicits._
          val out = ((Seq(before, after) ++ hist)
            .toDF("item", "a", "b")).orderBy("item")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS ($oracleSeed),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS total,
    CAST(count(*) FILTER (WHERE k % 10 <> 3) AS BIGINT) AS live
  FROM seed
)
SELECT item, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM (
  SELECT 'ledger_before' AS item, total AS a, live AS b FROM counts
  UNION ALL SELECT 'ledger_after', live, live FROM counts
  UNION ALL SELECT * FROM (VALUES ('v0', 0, 0), ('v1', 1, 0),
    ('v2', 1, 0), ('v3', 1, 0), ('v4', 3, 3), ('v5', 1, 3))
    AS h(item, a, b)
) ORDER BY item
"""))

  /** q412 — METADATA-ONLY GROUP BY: a grouped
    * COUNT(*)/COUNT(col)/MIN/MAX whose group column every candidate
    * file is PROVABLY single-valued on answers straight from the
    * manifest — per-group file subsets fold their stats lines, zero
    * data files open. Identity-partitioned tables qualify by
    * construction; this query additionally proves the layout-derived
    * case: era inserts each constant on the group key. `SELECT part,
    * count(*), min(v), max(v) GROUP BY part` on a 100 TB table is
    * then a manifest read (the Iceberg partitions-metadata-table
    * trick, generalized to any provably-clustered column). The plan
    * is REQUIRED to pin the `graft-rl-agg` metadata scan; the oracle
    * replays the rollup relationally. */
  val q412 = QuerySpec("q412_metadata_grouped_agg",
    (s, dir) => {
      val cat = s"graftga${System.nanoTime()}"
      Scratch.scoped("graft_q412_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.ga (era BIGINT, k BIGINT, " +
            "v BIGINT) PARTITIONED BY (era)")
          s.sql(s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS era,
              o_custkey % 100 AS k,
              cast(round(o_totalprice * 100) as bigint) AS v
            FROM ord_$cat""").createOrReplaceTempView(s"gasrc_$cat")
          s.sql(s"INSERT INTO $cat.db.ga SELECT era, k, v FROM gasrc_$cat")
          val q = s.sql(s"""
            SELECT era, count(*) AS n, count(v) AS n_v,
              min(v) AS lo, max(v) AS hi
            FROM $cat.db.ga GROUP BY era ORDER BY era""")
          val sunk = q.collect()
          require(q.queryExecution.executedPlan.toString
            .contains("graft-rl-agg"),
            "grouped rollup must plan the metadata-only scan:\n" +
              q.queryExecution.executedPlan)
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), q.schema)
        }
      }
    },
    Some(raw"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS era,
  CAST(count(*) AS BIGINT) AS n,
  CAST(count(*) AS BIGINT) AS n_v,
  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS lo,
  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS hi
FROM orders GROUP BY 1 ORDER BY era
"""))

  def all: Seq[QuerySpec] =
    Seq(q403, q404, q405, q406, q407, q408, q409, q410, q411, q412)
}
