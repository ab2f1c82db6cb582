package graft.queries

import org.apache.spark.sql.functions._
import graft.{Conf, QuerySpec, Scratch, Tables}
import graft.sources.GraftCatalog

/** Round-20 engine wave: the catalog tier's remaining
  * LAKEHOUSE-PARITY surfaces. q414 proves MULTI-COLUMN Z-ORDER
  * OPTIMIZE (Morton-interleaved rank buckets — a 100 TB fact table
  * filtered on two dimensions keeps pruning power on BOTH, where 1-D
  * clustering serves only one), q415 the row-level CHANGE DATA FEED
  * (per-commit change rows with pre/post images derived from the MOR
  * machinery), q416 STREAMING UPSERT into the catalog (CDC drain with
  * exactly-once MERGE epochs), q417 PARTITION EVOLUTION (per-era
  * specs, mixed-era pruning), and q418 BRANCH/WAP
  * (write-audit-publish: audit on a branch, atomic main advance).
  * Oracles replay each lifecycle relationally from the base corpus,
  * exact integer aggregates, no flap. */
object Wave20Queries {

  /** q414 — MULTI-COLUMN Z-ORDER OPTIMIZE: sustained ingest scatters
    * BOTH filter dimensions across every fragment, and 1-D clustered
    * compaction (q409) can only give one of them its pruning power
    * back — the classic (day, key) fact-table bind at 100 TB. The
    * Morton path buckets each clustered column into equi-depth ranks,
    * interleaves the rank bits into one Z-value per row, and re-cuts
    * the fragments into Z-range files with the SAME row-range bin
    * machinery as q409 — each packed file then spans a bounded
    * sub-rectangle, so its per-column min/max stats stay narrow on
    * EVERY clustered dimension and static pruning works for point
    * predicates on either. Exercised through the SQL procedure
    * surface (`CALL cat.system.optimize(..., zorder_cols => 'x,y')`).
    * The query REQUIRES: all fragments defeat pruning before (the
    * premise), point predicates on EACH dimension prune to ≤ half
    * the packed files after (≈√F is the curve's ideal), a conjunctive
    * point predicate prunes to ~1 cell, contents bit-stable, and a
    * repeat run is a no-op. Output is the clustered table's banded
    * rollup; the oracle replays it relationally. */
  val q414 = QuerySpec("q414_zorder_optimize",
    (s, dir) => {
      val cat = s"graftzo${System.nanoTime()}"
      Scratch.scoped("graft_q414_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.zf (id BIGINT, x BIGINT, " +
            "y BIGINT, v BIGINT)")
          // x and y are decorrelated arithmetic coordinates the oracle
          // replays exactly (orderkeys are dense in the synthetic
          // corpus); the FRAGMENT assignment is engine-side only
          // (contents are fragment-agnostic), so it may hash-scatter:
          // ntile over hash(id) gives 16 equal-size era fragments each
          // spanning the full (x, y) domain — the sustained-ingest
          // shape where neither dimension prunes
          val framed = s.sql(s"""
            SELECT o_orderkey AS id, o_orderkey % 64 AS x,
              (o_orderkey div 64) % 64 AS y,
              cast(round(o_totalprice * 100) as bigint) AS v,
              ntile(16) OVER (ORDER BY hash(o_orderkey)) AS frag
            FROM ord_$cat""")
          graft.CacheRegistry.persisting(framed) { src =>
            src.createOrReplaceTempView(s"zfsrc_$cat")
            // the 16 era INSERTs are independent single-file appends over
            // the one cached projection: submit concurrently (guide §2.6
            // overlap independent jobs — the q352 precedent) and let the
            // catalog's lost-race append rebase serialize the commits;
            // contents and version COUNT (v1..v16) are order-independent
            import scala.concurrent.{Await, Future}
            import scala.concurrent.ExecutionContext.Implicits.global
            Await.result(Future.sequence((1 to 16).map { r =>
              Future(s.sql(s"INSERT INTO $cat.db.zf " +
                s"SELECT /*+ REPARTITION(1) */ id, x, y, v " +
                s"FROM zfsrc_$cat WHERE frag = $r"))            // v1..v16
            }), scala.concurrent.duration.Duration(20, "min"))
          }
          val total = s.sql(s"SELECT count(*) FROM ord_$cat")
            .collect().head.getLong(0)
          def keptGroups(pred: String): Int =
            s.sql(s"SELECT x, y, v FROM $cat.db.zf WHERE $pred")
              .rdd.getNumPartitions // one InputPartition per kept group
          require(keptGroups("x = 7") == 16 && keptGroups("y = 9") == 16,
            "interleaved fragments must defeat 2-D pruning (the premise)")
          val pre = s.sql(s"SELECT id, x, y, v FROM $cat.db.zf")
            .collect().map(_.toSeq).toSet
          // ~16 Z-ranges regardless of scale factor (an even interleave
          // depth, so the implied grid is square); ntile fragments
          // (≤ total/16 + 1 rows) stay below targetRows, and full
          // chunks hold ≥ targetRows so they leave candidacy and the
          // repeat run is a no-op by construction
          val target = total / 16 + 2
          val res = s.sql(s"CALL $cat.system.optimize('db.zf', $target, " +
            "NULL, 'x,y')").collect().head
          require(res.getLong(0) == 16,
            s"all 16 fragments should re-cut, removed=${res.getLong(0)}")
          val f = res.getLong(1).toInt
          require(f >= 12 && f <= 20, s"~16 Z-range files expected: $f")
          require(s.sql(s"SELECT id, x, y, v FROM $cat.db.zf")
            .collect().map(_.toSeq).toSet == pre,
            "Z-ordering changed table contents")
          val keptX = keptGroups("x = 7")
          val keptY = keptGroups("y = 9")
          require(keptX <= f / 2 && keptY <= f / 2,
            s"Z-order must restore pruning on BOTH dims: " +
              s"x→$keptX y→$keptY of $f")
          val keptXY = keptGroups("x = 7 AND y = 9")
          require(keptXY <= math.max(2, f / 4) && keptXY <= keptX &&
            keptXY <= keptY,
            s"conjunctive point predicate must prune to ~1 cell: " +
              s"$keptXY of $f")
          // incremental idempotence through the same SQL surface
          val again = s.sql(s"CALL $cat.system.optimize('db.zf', " +
            s"$target, NULL, 'x,y')").collect().head
          require(again.getLong(0) == 0 && again.getLong(1) == 0,
            s"Z-order OPTIMIZE must be idempotent: $again")
          val out = s.sql(s"SELECT x div 16 AS xb, y div 16 AS yb, " +
            s"count(*) AS n, sum(v) AS total_cents FROM $cat.db.zf " +
            "GROUP BY x div 16, y div 16 ORDER BY xb, yb")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_orderkey % 64 AS x, (o_orderkey // 64) % 64 AS y,
    CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
)
SELECT x // 16 AS xb, y // 16 AS yb, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(v) AS BIGINT) AS total_cents
FROM seed GROUP BY x // 16, y // 16 ORDER BY xb, yb
"""))

  /** q415 — CHANGE DATA FEED: the capability Delta consumers rely on
    * daily — every commit replayable as typed change rows
    * `(…, _change_type, _commit_version)` — served from the MOR
    * machinery alone (`t$changes`, the Iceberg changes-table shape):
    * added files are the commit's inserts, deletion-vector deltas its
    * removed rows (full PRE-IMAGES, because MOR never rewrites the
    * file), and a commit with both classifies update pre/post. Before
    * this, q396-class consumers replayed manifests with bespoke MERGE
    * logic; with CDF every downstream incremental job is `readStream
    * FROM t$changes`. The query drains a DELETE+UPDATE+MERGE
    * lifecycle BATCH and STREAMING (one slice planner — the engine
    * REQUIRES they agree exactly), and the oracle replays the same
    * change rows relationally from the base corpus. */
  val q415 = QuerySpec("q415_change_data_feed",
    (s, dir) => {
      val cat = s"graftcdf${System.nanoTime()}"
      Scratch.scoped("graft_q415_cat") { root =>
        Scratch.scoped("graft_q415_ck") { ck =>
          Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
              ("spark.sql.shuffle.partitions" -> "8"): _*) {
            Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
            s.sql(s"CREATE TABLE $cat.db.cdf (k BIGINT, v BIGINT) " +
              "TBLPROPERTIES ('delete.mode'='merge-on-read'," +
              "'update.mode'='merge-on-read','merge.mode'='merge-on-read')")
            s.sql(s"""
              SELECT o_custkey % 100 AS k,
                sum(cast(round(o_totalprice * 100) as bigint)) AS v
              FROM ord_$cat GROUP BY 1""")
              .createOrReplaceTempView(s"cdfsrc_$cat")
            s.sql(s"INSERT INTO $cat.db.cdf " +
              s"SELECT /*+ REPARTITION(1) */ k, v FROM cdfsrc_$cat")  // v1
            s.sql(s"DELETE FROM $cat.db.cdf WHERE k % 10 = 3")        // v2
            s.sql(s"UPDATE $cat.db.cdf SET v = v + 7 WHERE k % 10 = 4") // v3
            s.sql(s"""
              MERGE INTO $cat.db.cdf t
              USING (SELECT k, v FROM cdfsrc_$cat WHERE k % 10 = 5
                     UNION ALL
                     SELECT k + 1000 AS k, CAST(1 AS BIGINT) AS v
                     FROM cdfsrc_$cat WHERE k % 10 = 6) s
              ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = t.v * 2
              WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""") // v4
            val feedSql = "SELECT k, v, _change_type, _commit_version " +
              s"FROM $cat.db.`cdf$$changes`"
            val batch = s.sql(feedSql).collect()
              .map(_.toSeq).sortBy(_.toString)
            // STREAMING drains the SAME planner — must agree exactly
            import org.apache.spark.sql.streaming.Trigger
            val mem = s"cdf_feed_$cat"
            val q = s.readStream.option("maxVersionsPerBatch", "2")
              .table(s"$cat.db.`cdf$$changes`")
              .writeStream.option("checkpointLocation", ck.toString)
              .trigger(Trigger.AvailableNow()).format("memory")
              .queryName(mem).start()
            try q.awaitTermination() finally q.stop()
            val streamed = s.sql(
              s"SELECT k, v, _change_type, _commit_version FROM $mem")
              .collect().map(_.toSeq).sortBy(_.toString)
            require(streamed.toSeq == batch.toSeq,
              s"streaming feed (${streamed.length} rows) must equal the " +
                s"batch feed (${batch.length} rows)")
            val out = s.sql(feedSql)
              .orderBy("_commit_version", "_change_type", "k", "v")
            val sunk = out.collect()
            s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
          }
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
changes AS (
  SELECT k, v, 'insert' AS ct, 1 AS cv FROM seed
  UNION ALL
  SELECT k, v, 'delete', 2 FROM seed WHERE k % 10 = 3
  UNION ALL
  SELECT k, v, 'update_preimage', 3 FROM seed WHERE k % 10 = 4
  UNION ALL
  SELECT k, v + 7, 'update_postimage', 3 FROM seed WHERE k % 10 = 4
  UNION ALL
  SELECT k, v, 'update_preimage', 4 FROM seed WHERE k % 10 = 5
  UNION ALL
  SELECT k, v * 2, 'update_postimage', 4 FROM seed WHERE k % 10 = 5
  UNION ALL
  SELECT k + 1000, 1, 'update_postimage', 4 FROM seed WHERE k % 10 = 6
)
SELECT k, CAST(v AS BIGINT) AS v, ct AS "_change_type",
  CAST(cv AS BIGINT) AS "_commit_version"
FROM changes ORDER BY "_commit_version", "_change_type", k, v
"""))

  /** q416 — STREAMING UPSERT INTO THE CATALOG: a CDC stream landing
    * keep-latest in a real table — `foreachBatch` MERGE composed with
    * the exactly-once epoch discipline
    * ([[graft.sources.GraftCatalog.exactlyOnceEpoch]], Delta's
    * `txnAppId`/`txnVersion` shape: the epoch marker rides the
    * MERGE's own manifest publish, so "applied" and "visible" are one
    * atomic commit). q171's UpsertSink proved the semantics on its
    * own snapshot chain; this is the production shape in the real
    * table format. The MERGE is deliberately CUMULATIVE
    * (`v = t.v + s.v`) so any replayed epoch would corrupt the sums —
    * the query then RESTARTS FROM A STALE CHECKPOINT (the crash-
    * between-commit-and-checkpoint window) and REQUIRES the replayed
    * epoch to be skipped: final contents must equal the one-shot
    * relational aggregate, which is exactly what the oracle
    * computes. */
  val q416 = QuerySpec("q416_streaming_upsert",
    (s, dir) => {
      val cat = s"graftsu${System.nanoTime()}"
      Scratch.scoped("graft_q416_cat") { root =>
        Scratch.scoped("graft_q416_ck") { ck =>
          Scratch.scoped("graft_q416_cks") { ckStale =>
            Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
                ("spark.sql.shuffle.partitions" -> "8"): _*) {
              Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
              s.sql(s"CREATE TABLE $cat.db.cdcsrc (k BIGINT, v BIGINT)")
              s.sql(s"CREATE TABLE $cat.db.target (k BIGINT, v BIGINT) " +
                "TBLPROPERTIES ('merge.mode'='merge-on-read')")
              val tdir = root.resolve("db").resolve("target")
              import org.apache.spark.sql.streaming.Trigger
              // the Delta txnAppId discipline: a stable app-chosen id keys
              // the epoch high-water mark across restarts
              val appId = s"q416cdc_$cat"
              def drain(fromCk: java.nio.file.Path): Unit = {
                val q = s.readStream.table(s"$cat.db.cdcsrc")
                  .writeStream
                  .option("checkpointLocation", fromCk.toString)
                  .trigger(Trigger.AvailableNow())
                  .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                      epoch: Long) =>
                    // foreachBatch hands an isolated session clone — the
                    // staging view and the MERGE must live on THAT session
                    val bs = batch.sparkSession
                    val view = s"cdc_${cat}_$epoch"
                    batch.groupBy("k")
                      .agg(org.apache.spark.sql.functions.sum("v").as("v"))
                      .createOrReplaceTempView(view)
                    graft.sources.GraftCatalog.exactlyOnceEpoch(
                      tdir, appId, epoch) {
                      bs.sql(s"""MERGE INTO $cat.db.target t USING $view s
                        ON t.k = s.k
                        WHEN MATCHED THEN UPDATE SET v = t.v + s.v
                        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
                    }
                    ()
                  }
                  .start()
                try q.awaitTermination() finally q.stop()
              }
              // CDC arrives in three source commits → three epochs
              def feed(slice: Int): Unit =
                s.sql(s"INSERT INTO $cat.db.cdcsrc " +
                  s"SELECT /*+ REPARTITION(1) */ o_custkey % 50 AS k, " +
                  s"cast(round(o_totalprice * 100) as bigint) AS v " +
                  s"FROM ord_$cat WHERE o_orderkey % 3 = $slice")
              feed(0)
              drain(ck) // epoch 0
              // the stale copy knows epoch 0 only: restarting from it
              // replays epoch 1 — which the cumulative MERGE cannot survive
              // unless the marker swallows it
              def copyTree(from: java.nio.file.Path,
                  to: java.nio.file.Path): Unit =
                scala.util.Using.resource(java.nio.file.Files.walk(from)) { st =>
                  st.forEach { p =>
                    val d = to.resolve(from.relativize(p).toString)
                    if (java.nio.file.Files.isDirectory(p))
                      java.nio.file.Files.createDirectories(d)
                    else {
                      java.nio.file.Files.createDirectories(d.getParent)
                      java.nio.file.Files.copy(p, d)
                    }
                  }
                }
              copyTree(ck, ckStale)
              feed(1)
              drain(ck) // epoch 1, live
              feed(2)
              drain(ckStale) // replays epoch 1 (skipped), then drains epoch 2
              val out = s.sql(s"SELECT k, v FROM $cat.db.target ORDER BY k")
              val sunk = out.collect()
              // engine-side proof against the one-shot relational merge
              val oneShot = s.sql(s"SELECT o_custkey % 50 AS k, " +
                "sum(cast(round(o_totalprice * 100) as bigint)) AS v " +
                s"FROM ord_$cat GROUP BY 1 ORDER BY k").collect()
              require(sunk.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq,
                "streamed upsert must equal the one-shot batch CDC merge " +
                  "(a replayed epoch would inflate the sums)")
              s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
            }
          }
        }
      }
    },
    Some(raw"""
SELECT o_custkey % 50 AS k,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
FROM orders GROUP BY 1 ORDER BY k
"""))

  /** q417 — PARTITION EVOLUTION (Iceberg's model, single identity
    * column): a 100 TB table keyed on yesterday's partition grain
    * cannot afford a rewrite to change it — the new spec must apply
    * to NEW writes only, with old files keeping their era's layout
    * and readers staying correct across the mix. The engine records
    * spec ERAS (`partspec-<n>`, atomic-exclusive publish); pruning
    * and metadata DML run off per-file typed stats (era-agnostic by
    * construction), and the key-grouped scan claim stands down
    * wherever an old-era file is not provably single-valued in the
    * current column. The query REQUIRES: era-0 writes cluster by p1,
    * post-evolution writes cluster by p2 (file counts through the
    * real manifest), a p1 point predicate prunes era-0 files and a
    * p2 point predicate prunes era-1 files THROUGH THE REAL SCAN
    * across the mixed layout, and contents are exact. Exercised via
    * `CALL cat.system.evolve_partition`. Oracle replays the rollup
    * relationally. */
  val q417 = QuerySpec("q417_partition_evolution",
    (s, dir) => {
      val cat = s"graftpe${System.nanoTime()}"
      Scratch.scoped("graft_q417_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.pe (p1 BIGINT, p2 BIGINT, " +
            "v BIGINT) PARTITIONED BY (p1)")
          def feed(pred: String): Unit =
            s.sql(s"INSERT INTO $cat.db.pe " +
              s"SELECT o_custkey % 4 AS p1, o_orderkey % 5 AS p2, " +
              s"cast(round(o_totalprice * 100) as bigint) AS v " +
              s"FROM ord_$cat WHERE $pred")
          feed("o_orderkey % 2 = 0")                              // era 0
          val t = root.resolve("db").resolve("pe")
          val hook = graft.sources.GraftCatalogTestHook
          val era0 = hook.manifestFiles(t, hook.manifestVersions(t).max)
          require(era0.size == 4,
            s"era 0 must cluster by p1 (4 values): ${era0.size}")
          val era = s.sql(
            s"CALL $cat.system.evolve_partition('db.pe', 'p2')")
            .collect().head
          require(era.getLong(0) == 1L && era.getString(1) == "p2",
            s"evolution must publish era 1 on p2: $era")
          feed("o_orderkey % 2 = 1")                              // era 1
          val all = hook.manifestFiles(t, hook.manifestVersions(t).max)
          val era1 = all.filterNot(era0.contains)
          require(era1.size == 5,
            s"era 1 must cluster by p2 (5 values): ${era1.size}")
          def keptGroups(pred: String): Int =
            s.sql(s"SELECT p1, p2, v FROM $cat.db.pe WHERE $pred")
              .rdd.getNumPartitions
          require(keptGroups("p1 = 1") == 1 + era1.size,
            s"p1 point must prune era-0 files to one across the mix: " +
              s"${keptGroups("p1 = 1")}")
          require(keptGroups("p2 = 2") == era0.size + 1,
            s"p2 point must prune era-1 files to one across the mix: " +
              s"${keptGroups("p2 = 2")}")
          val out = s.sql(s"SELECT p1, p2, count(*) AS n, " +
            s"sum(v) AS total_cents FROM $cat.db.pe " +
            "GROUP BY p1, p2 ORDER BY p1, p2")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
SELECT o_custkey % 4 AS p1, o_orderkey % 5 AS p2,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders GROUP BY 1, 2 ORDER BY p1, p2
"""))

  /** q418 — BRANCH / WRITE-AUDIT-PUBLISH: a 100 TB backfill must be
    * AUDITED before anyone reads it — tags pin immutable history, but
    * WAP needs a WRITABLE fork: commits land on a branch (its chain
    * in `_branch_<name>/`, seed referencing the fork's files through
    * `../` names — zero data copied), audit queries read the branch
    * head, and publish fast-forwards main in ONE atomic manifest
    * publish. Main readers NEVER see intermediate states, and a main
    * that moved since the fork REFUSES the publish — rebasing would
    * ship something nobody audited. The query runs the lifecycle
    * through the SQL surface (`CALL system.create_branch`, DML on
    * ``db.`t$branch$b``, `CALL system.publish_branch`) and REQUIRES:
    * main frozen during branch work, audit rollup on the branch,
    * atomic advance, time travel to the pre-publish state, and the
    * stale-fork refusal. Oracle replays base + branch delta
    * relationally. */
  val q418 = QuerySpec("q418_branch_wap",
    (s, dir) => {
      val cat = s"graftbw${System.nanoTime()}"
      Scratch.scoped("graft_q418_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root) :+
            ("spark.sql.shuffle.partitions" -> "8"): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.wap (k BIGINT, v BIGINT) " +
            "TBLPROPERTIES ('delete.mode'='merge-on-read')")
          s.sql(s"INSERT INTO $cat.db.wap " +
            s"SELECT /*+ REPARTITION(1) */ o_custkey % 100 AS k, " +
            "sum(cast(round(o_totalprice * 100) as bigint)) AS v " +
            s"FROM ord_$cat GROUP BY 1")                          // v1
          val mainBefore = s.sql(s"SELECT k, v FROM $cat.db.wap")
            .collect().map(_.toSeq).toSet
          val fork = s.sql(
            s"CALL $cat.system.create_branch('db.wap', 'audit')")
            .collect().head
          require(fork.getLong(1) == 1L, s"fork at v1: $fork")
          // the backfill lands ON THE BRANCH: delete the k%10=3 cohort
          // (a DV on a MAIN file through the ../ reference), append a
          // correction cohort
          s.sql(s"DELETE FROM $cat.db.`wap$$branch$$audit` " +
            "WHERE k % 10 = 3")
          s.sql(s"INSERT INTO $cat.db.`wap$$branch$$audit` " +
            s"SELECT /*+ REPARTITION(1) */ k + 1000 AS k, " +
            "CAST(7 AS BIGINT) AS v " +
            s"FROM (SELECT DISTINCT o_custkey % 100 AS k FROM ord_$cat " +
            "WHERE o_custkey % 10 = 6)")
          // main is FROZEN while the branch carries the work
          require(s.sql(s"SELECT k, v FROM $cat.db.wap")
            .collect().map(_.toSeq).toSet == mainBefore,
            "main readers must not see unpublished branch work")
          // the audit runs on the branch head
          val audit = s.sql("SELECT count(*) AS n, sum(v) AS total " +
            s"FROM $cat.db.`wap$$branch$$audit`").collect().head
          require(audit.getLong(0) > 0, "audit must see branch state")
          // publish = one atomic main advance to the audited state
          val pub = s.sql(
            s"CALL $cat.system.publish_branch('db.wap', 'audit')")
            .collect().head
          require(pub.getLong(1) == 2L, s"publish at v2: $pub")
          require(s.sql("SELECT count(*), sum(v) " +
            s"FROM $cat.db.wap").collect().head.toSeq ==
            Seq(audit.getLong(0), audit.getLong(1)),
            "published main must equal the audited branch state")
          // time travel still serves the pre-publish snapshot
          require(s.sql(s"SELECT k, v FROM $cat.db.wap VERSION AS OF 1")
            .collect().map(_.toSeq).toSet == mainBefore,
            "v1 must remain the pre-publish state")
          // stale-fork refusal: main moves after a second fork
          s.sql(s"CALL $cat.system.create_branch('db.wap', 'stale')")
            .collect()
          s.sql(s"INSERT INTO $cat.db.wap VALUES (99999, 1)")
          val refused = try {
            s.sql(s"CALL $cat.system.publish_branch('db.wap', 'stale')")
              .collect()
            false
          } catch { case _: Throwable => true }
          require(refused,
            "publish over a moved main must refuse (stale audit)")
          val out = s.sql(s"SELECT k, v FROM $cat.db.wap " +
            "WHERE k != 99999 ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 100 AS k,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
final AS (
  SELECT k, v FROM seed WHERE k % 10 != 3
  UNION ALL
  SELECT DISTINCT (o_custkey % 100) + 1000 AS k, CAST(7 AS BIGINT)
  FROM orders WHERE o_custkey % 10 = 6
)
SELECT k, v FROM final ORDER BY k
"""))

  def all: Seq[QuerySpec] = Seq(q414, q415, q416, q417, q418)
}
