package graft

import java.nio.file.Files

/** [[graft.sources.GraftCatalog]]: the full SQL DML surface against a
  * custom DSv2 TableCatalog — CREATE/INSERT/SELECT round trip,
  * copy-on-write DELETE / UPDATE / MERGE INTO through
  * SupportsRowLevelOperations, TRUNCATE-overwrite, value fidelity
  * (tabs/newlines/nulls/exact doubles), and staged-file hygiene. */
class GraftCatalogSpec extends SparkSpec with SuiteScratch {

  private lazy val root = {
    val r = suiteScratch
    spark.conf.set("spark.sql.catalog.graftrl",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftrl.root", r.toString)
    r
  }

  private def sqlRows(q: String): Seq[Seq[Any]] =
    spark.sql(q).collect().toSeq.map(_.toSeq)

  test("create / insert / select round trip with hostile values") {
    root
    spark.sql("CREATE TABLE graftrl.db.rt (k BIGINT, s STRING, v DOUBLE)")
    spark.sql("INSERT INTO graftrl.db.rt VALUES " +
      "(1, 'plain', 1.5), " +
      "(2, 'tab\there', 0.1), " +
      "(3, 'line\nbreak', -0.0), " +
      "(4, NULL, CAST('NaN' AS DOUBLE)), " +
      "(5, 'back\\\\slash', 3.141592653589793)")
    val got = sqlRows("SELECT k, s, v FROM graftrl.db.rt ORDER BY k")
    assert(got(0) == Seq(1L, "plain", 1.5))
    assert(got(1) == Seq(2L, "tab\there", 0.1))
    // NOTE: Spark itself normalizes -0.0 to 0.0 on the insert path
    // (NormalizeFloatingNumbers), so bit-sign preservation cannot be
    // asserted end-to-end; the storage codec is bit-exact (hex bit
    // pattern), which the NaN row below proves
    assert(got(2) == Seq(3L, "line\nbreak", -0.0))
    assert(got(3)(1) == null &&
      got(3)(2).asInstanceOf[Double].isNaN)
    assert(got(4) == Seq(5L, "back\\slash", 3.141592653589793))
    // second INSERT appends, never clobbers
    spark.sql("INSERT INTO graftrl.db.rt VALUES (6, 'more', 6.0)")
    assert(sqlRows("SELECT count(*) FROM graftrl.db.rt").head.head == 6L)
    // INSERT OVERWRITE truncates then writes
    spark.sql("INSERT OVERWRITE graftrl.db.rt VALUES (9, 'only', 9.0)")
    assert(sqlRows("SELECT k, s FROM graftrl.db.rt") ==
      Seq(Seq(9L, "only")))
  }

  test("row-level DELETE / UPDATE / MERGE INTO (copy-on-write)") {
    root
    spark.sql("CREATE TABLE graftrl.db.acct (k BIGINT, seg STRING, v BIGINT)")
    spark.sql("INSERT INTO graftrl.db.acct VALUES " +
      "(1, 'a', 10), (2, 'a', 20), (3, 'b', 30), (4, 'b', 40)")
    // DELETE with a non-trivial predicate → the group is rewritten
    spark.sql("DELETE FROM graftrl.db.acct WHERE seg = 'a' AND v > 15")
    assert(sqlRows("SELECT k FROM graftrl.db.acct ORDER BY k")
      .map(_.head) == Seq(1L, 3L, 4L))
    // UPDATE with expression assignment
    spark.sql("UPDATE graftrl.db.acct SET v = v + 100 WHERE seg = 'b'")
    assert(sqlRows("SELECT k, v FROM graftrl.db.acct ORDER BY k") ==
      Seq(Seq(1L, 10L), Seq(3L, 130L), Seq(4L, 140L)))
    // MERGE: update a matched row, insert an unmatched one, delete on
    // a matched condition — all three WHEN arms in one statement
    spark.sql("CREATE TABLE graftrl.db.delta (k BIGINT, seg STRING, v BIGINT)")
    spark.sql("INSERT INTO graftrl.db.delta VALUES " +
      "(3, 'b', 7), (4, 'b', -1), (5, 'c', 50)")
    spark.sql("""
      MERGE INTO graftrl.db.acct t USING graftrl.db.delta s ON t.k = s.k
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + s.v
      WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)
    """)
    assert(sqlRows("SELECT k, seg, v FROM graftrl.db.acct ORDER BY k") ==
      Seq(Seq(1L, "a", 10L), Seq(3L, "b", 137L), Seq(5L, "c", 50L)))
    // no staged/commit residue in either table dir after all
    // operations — only the schema, the immutable group files, and
    // the versioned manifests that bind them into snapshots
    for (t <- Seq("acct", "delta")) {
      val files = root.resolve("db").resolve(t).toFile.listFiles()
        .map(_.getName).sorted
      assert(files.forall(f => f == "schema.json" ||
        f.matches("data-.*\\.parquet") ||
        f.matches("schema-\\d+\\.json") || f.matches("v\\d+\\.manifest")),
        s"residue in $t: ${files.mkString(",")}")
    }
  }

  test("time travel: VERSION AS OF addresses every committed snapshot") {
    root
    spark.sql("CREATE TABLE graftrl.db.tt (k BIGINT, seg STRING, v BIGINT)")
    spark.sql("INSERT INTO graftrl.db.tt VALUES (1, 'a', 10), (2, 'a', 20)")
    spark.sql("UPDATE graftrl.db.tt SET v = v * 2 WHERE k = 2")
    spark.sql("DELETE FROM graftrl.db.tt WHERE k = 1")
    def at(v: Int): Seq[(Long, Long)] =
      sqlRows(s"SELECT k, v FROM graftrl.db.tt VERSION AS OF $v ORDER BY k")
        .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(at(0) == Seq())                          // created empty
    assert(at(1) == Seq((1L, 10L), (2L, 20L)))      // after insert
    assert(at(2) == Seq((1L, 10L), (2L, 40L)))      // after update
    assert(at(3) == Seq((2L, 40L)))                 // after delete
    // the live table equals the newest snapshot
    assert(sqlRows("SELECT k, v FROM graftrl.db.tt ORDER BY k")
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      == at(3))
    // a version that was never committed refuses loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM graftrl.db.tt VERSION AS OF 9").collect()
    }
  }

  private def ins1(table: String, rows: String): Unit =
    // REPARTITION(1) pins one write task → exactly one group file,
    // making group geometry deterministic for the asserts below
    spark.sql(s"INSERT INTO $table SELECT /*+ REPARTITION(1) */ * " +
      s"FROM VALUES $rows AS t(k, seg, v)")

  private def dataFilesOnDisk(dir: java.nio.file.Path): Set[String] =
    dir.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("data-") && n.endsWith(".parquet")).toSet

  test("file-keyed groups: one partition per group, MERGE touching " +
      "1 of 4 groups rewrites exactly 1 file") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.grp (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("grp")
    // four disjoint key-range groups, one file each
    ins1("graftrl.db.grp", "(1L,'a',10L),(2L,'a',20L)")
    ins1("graftrl.db.grp", "(11L,'b',30L),(12L,'b',40L)")
    ins1("graftrl.db.grp", "(21L,'c',50L),(22L,'c',60L)")
    ins1("graftrl.db.grp", "(31L,'d',70L),(32L,'d',80L)")
    val v4 = Hook.manifestFiles(dir, 4L)
    assert(v4.size == 4, s"expected 4 groups, got $v4")
    val g2 = (Hook.manifestFiles(dir, 2L).toSet --
      Hook.manifestFiles(dir, 1L).toSet).head
    // the scan plans one InputPartition per group — parallel reads
    assert(spark.sql("SELECT * FROM graftrl.db.grp")
      .rdd.getNumPartitions == 4)
    // MERGE whose source keys live only in group 2 (k=11,12 match;
    // k=13 is a NOT MATCHED insert): runtime group filtering must
    // narrow the rewrite to that single file
    locally {
      import spark.implicits._
      Seq((11L, "b", 5L), (12L, "b", 5L), (13L, "b", 99L))
        .toDF("k", "seg", "v").createOrReplaceTempView("grp_delta")
    }
    spark.sql("""
      MERGE INTO graftrl.db.grp t USING grp_delta s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = t.v + s.v
      WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)
    """)
    val v5 = Hook.manifestFiles(dir, 5L)
    assert(v5.toSet.intersect(v4.toSet) == v4.toSet - g2,
      s"MERGE should have replaced exactly $g2: v4=$v4 v5=$v5")
    assert(sqlRows("SELECT k, v FROM graftrl.db.grp ORDER BY k") ==
      Seq(Seq(1L, 10L), Seq(2L, 20L), Seq(11L, 35L), Seq(12L, 45L),
        Seq(13L, 99L), Seq(21L, 50L), Seq(22L, 60L), Seq(31L, 70L),
        Seq(32L, 80L)))
    // DELETE with a key predicate: manifest min/max stats prune the
    // scan statically — only the k<=2 group is read, and because every
    // row in it dies, the new manifest simply drops that file
    spark.sql("DELETE FROM graftrl.db.grp WHERE k <= 2")
    val v6 = Hook.manifestFiles(dir, 6L)
    assert(v6.toSet == v5.toSet -- Hook.manifestFiles(dir, 1L).toSet,
      s"DELETE should have dropped exactly the first group: v5=$v5 v6=$v6")
    // UPDATE keyed into the third group rewrites exactly that file
    val g3 = (Hook.manifestFiles(dir, 3L).toSet --
      Hook.manifestFiles(dir, 2L).toSet).head
    spark.sql("UPDATE graftrl.db.grp SET v = v + 1 WHERE k = 21")
    val v7 = Hook.manifestFiles(dir, 7L)
    assert(v7.toSet.intersect(v6.toSet) == v6.toSet - g3,
      s"UPDATE should have replaced exactly $g3: v6=$v6 v7=$v7")
    assert(sqlRows("SELECT v FROM graftrl.db.grp WHERE k = 21")
      == Seq(Seq(51L)))
  }

  test("optimistic concurrency: a row-level commit racing a " +
      "competing writer aborts loudly and loses no committed row") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.occ (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("occ")
    ins1("graftrl.db.occ", "(1L,'a',10L),(2L,'a',20L)")
    // the competing writer TRUNCATES (publishes the empty v0 manifest
    // as v2) at the exact instant this UPDATE — which read snapshot
    // v1 and touches v1's only group — tries to commit: the group it
    // read is GONE from the winner's manifest, a real write-write
    // conflict on shared rows, so the commit must abort loudly
    Hook.setBeforeReplacePublish(() => {
      Hook.clearPublishHooks()
      assert(Hook.republishAs(dir, 0L, 2L), "competing publish lost?")
    })
    try {
      val ex = intercept[Exception] {
        spark.sql("UPDATE graftrl.db.occ SET v = v + 1 WHERE k = 1")
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t =>
        t.isInstanceOf[java.util.ConcurrentModificationException] ||
          Option(t.getMessage).exists(_.contains("concurrent commit"))),
        s"expected a loud concurrent-commit abort, got: $chain")
    } finally Hook.clearPublishHooks()
    // the winner's commit is intact and the loser applied NOTHING
    assert(Hook.manifestVersions(dir).max == 2L)
    assert(sqlRows("SELECT count(*) FROM graftrl.db.occ").head.head == 0L)
    // no orphaned staged files: everything on disk is manifest-bound
    val referenced = Hook.manifestVersions(dir)
      .flatMap(v => Hook.manifestFiles(dir, v)).toSet
    assert(dataFilesOnDisk(dir) == referenced)
    // FILE-DISJOINT rebase: a competing writer whose commit leaves
    // every group this statement read bit-identical (here: a no-op
    // republication — same lines, new version) is NOT a conflict;
    // the row-level commit rebases onto the winner and lands
    ins1("graftrl.db.occ", "(1L,'a',10L),(2L,'a',20L)")       // v3
    Hook.setBeforeReplacePublish(() => {
      Hook.clearPublishHooks()
      assert(Hook.republishAs(dir, 3L, 4L), "competing publish lost?")
    })
    try spark.sql("UPDATE graftrl.db.occ SET v = v + 1 WHERE k = 1")
    finally Hook.clearPublishHooks()
    assert(Hook.manifestVersions(dir).max == 5L,
      "disjoint loser should rebase to the next version, not abort")
    assert(sqlRows("SELECT k, v FROM graftrl.db.occ ORDER BY k") ==
      Seq(Seq(1L, 11L), Seq(2L, 20L)))
  }

  test("file-disjoint optimistic concurrency: concurrent row-level " +
      "commits on disjoint groups both land; overlapping ones still " +
      "abort") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.fdc (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("fdc")
    ins1("graftrl.db.fdc", "(1L,'a',10L),(2L,'a',20L)")  // group A: v1
    ins1("graftrl.db.fdc", "(11L,'b',30L),(12L,'b',40L)") // group B: v2
    // writer 1 (the interleaved "winner") deletes group B's rows —
    // run REENTRANTLY at the instant writer 2's UPDATE (which read
    // snapshot v2 and touches only group A) first tries to publish
    Hook.setBeforeReplacePublish(() => {
      Hook.clearPublishHooks()
      spark.sql("DELETE FROM graftrl.db.fdc WHERE k >= 11") // wins v3
    })
    try spark.sql("UPDATE graftrl.db.fdc SET v = v + 1 WHERE k = 1")
    finally Hook.clearPublishHooks()
    // both commits landed: the delete won v3, the update rebased to v4
    assert(Hook.manifestVersions(dir).max == 4L,
      s"expected the disjoint update to rebase: " +
        s"${Hook.manifestVersions(dir)}")
    assert(sqlRows("SELECT k, v FROM graftrl.db.fdc ORDER BY k") ==
      Seq(Seq(1L, 11L), Seq(2L, 20L)),
      "merged lineage must carry BOTH disjoint commits")
    // overlap control: a concurrent delete of the SAME group the
    // update touches is a real conflict and still aborts loudly
    Hook.setBeforeReplacePublish(() => {
      Hook.clearPublishHooks()
      spark.sql("DELETE FROM graftrl.db.fdc WHERE k = 2") // wins v5
    })
    val ex = try intercept[Exception] {
      spark.sql("UPDATE graftrl.db.fdc SET v = v + 100 WHERE k = 1")
    } finally Hook.clearPublishHooks()
    assert(Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).exists(t =>
        t.isInstanceOf[java.util.ConcurrentModificationException] ||
          Option(t.getMessage).exists(_.contains("concurrent commit"))),
      s"overlapping commit must abort: $ex")
    assert(sqlRows("SELECT k, v FROM graftrl.db.fdc ORDER BY k") ==
      Seq(Seq(1L, 11L)), "winner's delete intact, loser applied nothing")
  }

  test("file-disjoint MOR concurrency: concurrent deletion-vector " +
      "commits on disjoint groups both land; a vector attach on a " +
      "shared group aborts") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.fdv (k BIGINT, seg STRING, " +
      "v BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = root.resolve("db").resolve("fdv")
    ins1("graftrl.db.fdv", "(1L,'a',10L),(2L,'a',20L),(3L,'a',30L)")
    ins1("graftrl.db.fdv", "(11L,'b',40L),(12L,'b',50L),(13L,'b',60L)")
    // winner vectors group B while the loser's DELETE (read at v2,
    // vectoring only group A) is mid-commit → disjoint → both land
    Hook.setBeforeDeltaPublish(() => {
      Hook.clearPublishHooks()
      spark.sql("DELETE FROM graftrl.db.fdv WHERE k = 12")   // wins v3
    })
    try spark.sql("DELETE FROM graftrl.db.fdv WHERE k = 2")
    finally Hook.clearPublishHooks()
    assert(Hook.manifestVersions(dir).max == 4L,
      "disjoint MOR delete should rebase, not abort")
    assert(sqlRows("SELECT k FROM graftrl.db.fdv ORDER BY k")
      .map(_.head) == Seq(1L, 3L, 11L, 13L),
      "both disjoint vector commits must be visible")
    // overlap control: both statements vector group A → the loser's
    // union was computed against a stale vector state → abort
    Hook.setBeforeDeltaPublish(() => {
      Hook.clearPublishHooks()
      spark.sql("DELETE FROM graftrl.db.fdv WHERE k = 1")    // wins v5
    })
    val ex = try intercept[Exception] {
      spark.sql("DELETE FROM graftrl.db.fdv WHERE k = 3")
    } finally Hook.clearPublishHooks()
    assert(Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).exists(t =>
        t.isInstanceOf[java.util.ConcurrentModificationException] ||
          Option(t.getMessage).exists(_.contains("concurrent commit"))),
      s"vector overlap must abort: $ex")
    assert(sqlRows("SELECT k FROM graftrl.db.fdv ORDER BY k")
      .map(_.head) == Seq(3L, 11L, 13L),
      "winner's vector intact, loser applied nothing")
  }

  test("append commits rebase past a racing writer: both inserts land") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.apr (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("apr")
    ins1("graftrl.db.apr", "(1L,'a',10L)")
    Hook.setBeforeAppendPublish(() => {
      Hook.clearPublishHooks()
      assert(Hook.republishAs(dir, 1L, 2L), "competing publish lost?")
    })
    try ins1("graftrl.db.apr", "(2L,'b',20L)")
    finally Hook.clearPublishHooks()
    // the insert lost v2 to the racing writer, rebased, won v3 —
    // appends commute, so every committed row from both writers lives
    assert(Hook.manifestVersions(dir).max == 3L)
    assert(sqlRows("SELECT k FROM graftrl.db.apr ORDER BY k")
      .map(_.head) == Seq(1L, 2L))
  }

  test("snapshot retention: expireSnapshots retires old versions, " +
      "keeps surviving ones bit-stable, vacuums unreferenced files") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.ret (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("ret")
    ins1("graftrl.db.ret", "(1L,'a',10L),(2L,'a',20L)")   // v1
    spark.sql("UPDATE graftrl.db.ret SET v = v * 2")        // v2
    spark.sql("DELETE FROM graftrl.db.ret WHERE k = 1")     // v3
    ins1("graftrl.db.ret", "(3L,'c',30L)")                  // v4
    def snap(v: Long): Seq[Seq[Any]] =
      sqlRows(s"SELECT k, v FROM graftrl.db.ret VERSION AS OF $v ORDER BY k")
    val (pre3, pre4) = (snap(3L), snap(4L))
    val res = Hook.expireSnapshots(dir, retainLast = 2)
    assert(res.retainedVersions == Seq(3L, 4L))
    assert(res.expiredVersions == Seq(0L, 1L, 2L))
    assert(res.deletedDataFiles.nonEmpty,
      "v1/v2's replaced group files should have been vacuumed")
    // surviving snapshots are bit-stable across the expiry
    assert(snap(3L) == pre3 && snap(4L) == pre4)
    assert(sqlRows("SELECT k, v FROM graftrl.db.ret ORDER BY k") == pre4)
    // expired versions refuse loudly — and say why
    val gone = intercept[Exception] { snap(1L) }
    assert(gone.getMessage.contains("expired"), gone.getMessage)
    // a version that never existed stays a different, honest error
    val never = intercept[Exception] { snap(9L) }
    assert(never.getMessage.contains("no version"), never.getMessage)
    // disk holds exactly the files the surviving manifests reference
    val referenced = Seq(3L, 4L)
      .flatMap(v => Hook.manifestFiles(dir, v)).toSet
    assert(dataFilesOnDisk(dir) == referenced)
  }

  test("metadata-only aggregates: ungrouped COUNT/MIN/MAX answered " +
      "from the manifest without opening a data file") {
    root
    spark.sql("CREATE TABLE graftrl.db.agg (k BIGINT, seg STRING, v BIGINT)")
    ins1("graftrl.db.agg", "(5L,'a',10L),(1L,'a',CAST(NULL AS BIGINT))")
    ins1("graftrl.db.agg", "(11L,'b',30L),(12L,'b',40L)")
    ins1("graftrl.db.agg", "(CAST(NULL AS BIGINT),'c',CAST(NULL AS BIGINT))")
    val q = spark.sql("SELECT count(*) AS n, count(v) AS nv, " +
      "min(k) AS mink, max(k) AS maxk, min(v) AS minv " +
      "FROM graftrl.db.agg")
    assert(q.queryExecution.executedPlan.toString.contains("graft-rl-agg"),
      "expected the metadata-only aggregate scan in the plan:\n" +
        q.queryExecution.executedPlan.toString)
    assert(q.collect().map(_.toSeq).toSeq ==
      Seq(Seq(5L, 3L, 1L, 12L, 10L)))
    // a WHERE defeats the proof: normal scan, same SQL answer shape
    val filtered = spark.sql("SELECT count(*) AS n FROM graftrl.db.agg " +
      "WHERE k >= 11")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(filtered.collect().head.getLong(0) == 2L)
    // grouping defeats it too
    val grouped = spark.sql("SELECT seg, count(*) AS n " +
      "FROM graftrl.db.agg GROUP BY seg")
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(grouped.collect().length == 3)
    // empty table: count 0, min/max NULL — still metadata-only
    spark.sql("CREATE TABLE graftrl.db.agge (k BIGINT, seg STRING, v BIGINT)")
    val e = spark.sql(
      "SELECT count(*) AS n, min(k) AS mk FROM graftrl.db.agge")
    assert(e.queryExecution.executedPlan.toString.contains("graft-rl-agg"))
    val er = e.collect().head
    assert(er.getLong(0) == 0L && er.isNullAt(1))
  }

  test("metadata-only DELETE: an aligned key-range delete edits the " +
      "manifest and touches no data file; a misaligned one falls " +
      "back to the copy-on-write rewrite") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.md (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("md")
    ins1("graftrl.db.md", "(1L,'a',10L),(2L,'a',20L)")     // k 1..2
    ins1("graftrl.db.md", "(11L,'b',30L),(12L,'b',40L)")   // k 11..12
    ins1("graftrl.db.md", "(21L,'c',50L),(22L,'c',60L)")   // k 21..22
    val before = dataFilesOnDisk(dir)
    val g1 = Hook.manifestFiles(dir, 1L).toSet
    // aligned: every file is provably all-match or none-match
    spark.sql("DELETE FROM graftrl.db.md WHERE k < 10")
    assert(dataFilesOnDisk(dir) == before,
      "metadata delete must not create or remove any data file")
    assert(Hook.manifestFiles(dir, 4L).toSet ==
      Hook.manifestFiles(dir, 3L).toSet -- g1)
    assert(sqlRows("SELECT k FROM graftrl.db.md ORDER BY k")
      .map(_.head) == Seq(11L, 12L, 21L, 22L))
    // time travel still sees the pre-delete state
    assert(sqlRows("SELECT count(*) FROM graftrl.db.md VERSION AS OF 3")
      .head.head == 6L)
    // misaligned: k < 12 splits the second group → COW rewrite runs,
    // staging a replacement file for it
    spark.sql("DELETE FROM graftrl.db.md WHERE k < 12")
    assert(dataFilesOnDisk(dir) != before,
      "expected the copy-on-write fallback to stage a replacement file")
    assert(sqlRows("SELECT k FROM graftrl.db.md ORDER BY k")
      .map(_.head) == Seq(12L, 21L, 22L))
    // a predicate over nulls can never prove all-match: NULL keeps
    // its row under SQL delete semantics
    spark.sql("CREATE TABLE graftrl.db.mdn (k BIGINT, seg STRING, v BIGINT)")
    val nd = root.resolve("db").resolve("mdn")
    ins1("graftrl.db.mdn",
      "(1L,'a',1L),(CAST(NULL AS BIGINT),'a',2L)")
    val ndBefore = dataFilesOnDisk(nd)
    spark.sql("DELETE FROM graftrl.db.mdn WHERE k < 10")
    assert(dataFilesOnDisk(nd) != ndBefore,
      "a file with a NULL key cannot be dropped by metadata proof")
    assert(sqlRows("SELECT v FROM graftrl.db.mdn").map(_.head) == Seq(2L))
  }

  test("partitioned tables: per-value group files, zero-exchange " +
      "join on the partition key, metadata-only partition delete") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    for (t <- Seq("pt", "pt2"))
      spark.sql(s"CREATE TABLE graftrl.db.$t (k BIGINT, seg STRING, " +
        "v BIGINT) PARTITIONED BY (k)")
    // unclustered input: the write's required distribution clusters
    // by k, so each partition value lands in exactly ONE group file
    spark.sql("INSERT INTO graftrl.db.pt SELECT id % 4 AS k, " +
      "concat('s', id % 4) AS seg, id AS v FROM range(0, 40)")
    spark.sql("INSERT INTO graftrl.db.pt2 SELECT id % 4 AS k, " +
      "concat('t', id % 4) AS seg, id * 10 AS v FROM range(0, 20)")
    val dir = root.resolve("db").resolve("pt")
    assert(Hook.manifestFiles(dir, 1L).size == 4,
      s"expected one group file per partition value: " +
        s"${Hook.manifestFiles(dir, 1L)}")
    // scan plans one partition per VALUE
    assert(spark.sql("SELECT * FROM graftrl.db.pt")
      .rdd.getNumPartitions == 4)
    // storage-partitioned join: both scans report KeyGrouped(k) →
    // the join plans with ZERO shuffle exchange
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "-1")
    spark.conf.set(keys(2), "-1")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def hasExchange(df: org.apache.spark.sql.DataFrame): Boolean = {
        df.collect()
        def walk(p: SparkPlan): Boolean = p match {
          case qs: QueryStageExec => walk(qs.plan)
          case _ => p.isInstanceOf[ShuffleExchangeLike] ||
            p.children.exists(walk)
        }
        walk(df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        })
      }
      val joined = spark.sql("""
        SELECT a.k AS k, count(*) AS n, sum(a.v + b.v) AS s
        FROM graftrl.db.pt a JOIN graftrl.db.pt2 b ON a.k = b.k
        GROUP BY a.k""")
      assert(!hasExchange(joined),
        "partition-keyed join+rollup should plan zero exchanges:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq == Seq((0L, 50L), (1L, 50L), (2L, 50L),
          (3L, 50L)))
      // control: bucketing off → the exchanges come back
      spark.conf.set(keys(0), "false")
      assert(hasExchange(spark.sql(
        "SELECT a.k FROM graftrl.db.pt a JOIN graftrl.db.pt2 b " +
          "ON a.k = b.k")))
      spark.conf.set(keys(0), "true")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // a NULL partition value is its own group
    spark.sql("INSERT INTO graftrl.db.pt VALUES " +
      "(CAST(NULL AS BIGINT), 'n', 999)")
    assert(Hook.manifestFiles(dir, 2L).size == 5)
    assert(sqlRows("SELECT v FROM graftrl.db.pt WHERE k IS NULL")
      .map(_.head) == Seq(999L))
    // dropping one partition is a manifest edit: no data file touched
    val before = dataFilesOnDisk(dir)
    spark.sql("DELETE FROM graftrl.db.pt WHERE k = 2")
    assert(dataFilesOnDisk(dir) == before,
      "partition-aligned delete must be metadata-only")
    assert(sqlRows("SELECT count(*) FROM graftrl.db.pt").head.head == 31L)
    // row-level ops keyed to one partition rewrite only its file(s)
    val v3 = Hook.manifestFiles(dir, 3L).toSet
    spark.sql("UPDATE graftrl.db.pt SET v = v + 1 WHERE k = 3")
    val v4 = Hook.manifestFiles(dir, 4L).toSet
    assert((v3 -- v4).size == 1,
      s"UPDATE should have replaced exactly one partition file: " +
        s"$v3 -> $v4")
  }

  test("schema evolution: ADD COLUMNS is schema-on-read — old files " +
      "never rewritten, NULL-filled, stats stay exact") {
    root
    spark.sql("CREATE TABLE graftrl.db.se (k BIGINT, v BIGINT)")
    val dir = root.resolve("db").resolve("se")
    spark.sql("INSERT INTO graftrl.db.se VALUES (1, 10), (2, 20)")
    val before = dataFilesOnDisk(dir)
    spark.sql("ALTER TABLE graftrl.db.se ADD COLUMNS " +
      "(w BIGINT, tag STRING)")
    assert(dataFilesOnDisk(dir) == before,
      "ADD COLUMNS must not rewrite any data file")
    // old rows read the new columns as NULL
    assert(sqlRows("SELECT k, v, w, tag FROM graftrl.db.se ORDER BY k") ==
      Seq(Seq(1L, 10L, null, null), Seq(2L, 20L, null, null)))
    spark.sql("INSERT INTO graftrl.db.se VALUES (3, 30, 7, 'x')")
    // metadata-only aggregates stay answerable: an added column is
    // KNOWN all-null in pre-evolution files
    val agg = spark.sql("SELECT count(*) AS n, count(w) AS nw, " +
      "min(w) AS minw FROM graftrl.db.se")
    assert(agg.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"), "added column defeated the " +
        "metadata aggregate:\n" + agg.queryExecution.executedPlan)
    assert(agg.collect().map(_.toSeq).toSeq == Seq(Seq(3L, 1L, 7L)))
    // ...and so does metadata-only DELETE: purging the
    // never-backfilled rows is a pure manifest edit
    val mid = dataFilesOnDisk(dir)
    spark.sql("DELETE FROM graftrl.db.se WHERE w IS NULL")
    assert(dataFilesOnDisk(dir) == mid,
      "IS NULL delete over evolution boundary should be metadata-only")
    assert(sqlRows("SELECT k, v, w FROM graftrl.db.se") ==
      Seq(Seq(3L, 30L, 7L)))
    // time travel reads history through the CURRENT schema
    assert(sqlRows(
      "SELECT k, w FROM graftrl.db.se VERSION AS OF 1 ORDER BY k") ==
      Seq(Seq(1L, null), Seq(2L, null)))
    // refusals: non-nullable, positioned, dropped, renamed columns
    for (bad <- Seq(
      "ALTER TABLE graftrl.db.se ADD COLUMNS (nn BIGINT NOT NULL)",
      "ALTER TABLE graftrl.db.se ADD COLUMNS (p BIGINT FIRST)",
      "ALTER TABLE graftrl.db.se DROP COLUMN v",
      "ALTER TABLE graftrl.db.se RENAME COLUMN v TO value"))
      intercept[Exception] { spark.sql(bad) }
    // the refused ALTERs left the schema intact
    assert(spark.table("graftrl.db.se").columns.toSeq ==
      Seq("k", "v", "w", "tag"))
  }

  test("streaming reads: manifest history drains as an append-only " +
      "change log; change commits refuse unless skipped") {
    root
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE graftrl.db.cs (k BIGINT, seg STRING, v BIGINT)")
    Scratch.scoped("graft_cs_ckpt") { ckpt =>
      def drain(skipChanges: Boolean = false): (Long, Int) = {
        val name = s"cs_sink_${System.nanoTime()}"
        val r = spark.readStream
        if (skipChanges) r.option("skipChangeCommits", "true")
        val q = r.table("graftrl.db.cs")
          .groupBy().agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        try {
          q.awaitTermination()
          val n = rows(spark.table(name)).head.getLong(0)
          val fed = q.recentProgress.count(_.numInputRows > 0)
          (n, fed)
        } finally { q.stop(); spark.catalog.dropTempView(name) }
      }
      spark.sql("INSERT INTO graftrl.db.cs VALUES (1,'a',10), (2,'a',20)")
      spark.sql("INSERT INTO graftrl.db.cs VALUES (3,'b',30)")
      // one micro-batch per version, all appended rows served
      assert(drain() == ((3L, 2)))
      // a resume sees ONLY the new version
      spark.sql("INSERT INTO graftrl.db.cs VALUES (4,'b',40)")
      assert(drain() == ((4L, 1)))
      // a change commit (UPDATE rewrites a group) refuses loudly...
      spark.sql("UPDATE graftrl.db.cs SET v = v + 1 WHERE k = 1")
      val ex = intercept[Exception] { drain() }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("append-only"))), s"got: $ex")
      // ...unless skipChangeCommits opts in; later appends still arrive
      spark.sql("INSERT INTO graftrl.db.cs VALUES (5,'c',50)")
      val (n2, _) = drain(skipChanges = true)
      // the skipped change commit contributes nothing; the new insert
      // and nothing else lands on top of the 4 already-counted rows
      assert(n2 == 5L, s"expected 4 prior + 1 appended, got $n2")
    }
  }

  test("typed stats pruning: DOUBLE and STRING predicates prune group " +
      "files statically, before any data I/O") {
    root
    spark.sql("CREATE TABLE graftrl.db.tp (k BIGINT, seg STRING, v DOUBLE)")
    ins1("graftrl.db.tp", "(1L,'alpha',1.5),(2L,'beta',9.25)")
    ins1("graftrl.db.tp", "(11L,'kilo',12.0),(12L,'lima',19.5)")
    ins1("graftrl.db.tp", "(21L,'yankee',25.0),(22L,'zulu',29.75)")
    def groupsInPlan(sql: String): (Int, Seq[Long]) = {
      val df = spark.sql(sql)
      val m = "groups=(\\d+)".r.findFirstMatchIn(
        df.queryExecution.executedPlan.toString)
      (m.map(_.group(1).toInt).getOrElse(-1),
        df.collect().map(_.getLong(0)).sorted.toSeq)
    }
    // DOUBLE range predicate: only the third group can match
    assert(groupsInPlan("SELECT k FROM graftrl.db.tp WHERE v > 20.0")
      == ((1, Seq(21L, 22L))))
    // STRING equality and range: manifest string bounds prune
    assert(groupsInPlan("SELECT k FROM graftrl.db.tp WHERE seg = 'zulu'")
      == ((1, Seq(22L))))
    assert(groupsInPlan("SELECT k FROM graftrl.db.tp WHERE seg < 'c'")
      == ((1, Seq(1L, 2L))))
    // control: an unselective predicate keeps all three groups
    assert(groupsInPlan("SELECT k FROM graftrl.db.tp WHERE v > -1.0")._1
      == 3)
    // NaN discipline: a NaN voids the file's upper bound, so
    // `v > huge` can no longer prune that group (NaN sorts above
    // every double in Spark) — but fully-below groups still prune
    ins1("graftrl.db.tp",
      "(31L,'nan',CAST('NaN' AS DOUBLE)),(32L,'nan2',3.0)")
    val (g, ks) = groupsInPlan(
      "SELECT k FROM graftrl.db.tp WHERE v > 1e308")
    assert(g == 1 && ks == Seq(31L),
      s"NaN group must survive the prune and serve the row: $g $ks")
  }

  test("metadata-only aggregates cover DOUBLE and STRING columns; " +
      "NaN voids MAX, truncated string bounds refuse, values stay exact") {
    root
    spark.sql("CREATE TABLE graftrl.db.ta (k BIGINT, s STRING, v DOUBLE)")
    ins1("graftrl.db.ta",
      "(1L,'mango',2.5),(2L,'apple',CAST(NULL AS DOUBLE))")
    ins1("graftrl.db.ta", "(3L,'pear',-7.25),(4L,'fig',1e300)")
    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString
    val fast = spark.sql("SELECT count(v) AS nv, min(v) AS minv, " +
      "max(v) AS maxv, min(s) AS mins, max(s) AS maxs " +
      "FROM graftrl.db.ta")
    assert(planOf("SELECT count(v) AS nv, min(v) AS minv, " +
      "max(v) AS maxv, min(s) AS mins, max(s) AS maxs " +
      "FROM graftrl.db.ta").contains("graft-rl-agg"),
      "typed metadata aggregate missing from the plan:\n" +
        fast.queryExecution.executedPlan)
    assert(fast.collect().map(_.toSeq).toSeq ==
      Seq(Seq(3L, -7.25, 1e300, "apple", "pear")))
    // a NaN row voids MAX(v) (the true max is NaN — the metadata path
    // must refuse, and the scan fallback must return NaN)
    // (a NaN-ONLY file would void MIN too — its own min IS NaN; here
    // the NaN shares a file with 9.0, so the file's lower bound holds)
    ins1("graftrl.db.ta", "(5L,'kiwi',CAST('NaN' AS DOUBLE)),(6L,'lime',9.0)")
    val maxq = spark.sql("SELECT max(v) AS maxv FROM graftrl.db.ta")
    assert(!planOf("SELECT max(v) AS maxv FROM graftrl.db.ta")
      .contains("graft-rl-agg"),
      "NaN-bearing MAX must not take the metadata path")
    assert(maxq.collect().head.getDouble(0).isNaN)
    // ...while MIN(v) stays metadata-answerable (NaN is never the min)
    val minq = spark.sql("SELECT min(v) AS minv FROM graftrl.db.ta")
    assert(planOf("SELECT min(v) AS minv FROM graftrl.db.ta")
      .contains("graft-rl-agg"))
    assert(minq.collect().head.getDouble(0) == -7.25)
    // a >32-code-point string truncates its bounds → MIN/MAX(s)
    // refuse (a truncated bound is not the value); values stay exact
    spark.sql("CREATE TABLE graftrl.db.tb (k BIGINT, s STRING, v DOUBLE)")
    ins1("graftrl.db.tb",
      s"(1L,'${"long" * 20}tail',1.0),(2L,'aaa',2.0)")
    assert(!planOf("SELECT max(s) AS maxs FROM graftrl.db.tb")
      .contains("graft-rl-agg"))
    assert(spark.sql("SELECT max(s) AS maxs FROM graftrl.db.tb")
      .collect().head.getString(0) == "long" * 20 + "tail")
    // COUNT over the string column is still metadata-only
    assert(planOf("SELECT count(s) AS ns FROM graftrl.db.tb")
      .contains("graft-rl-agg"))
  }

  test("vacuum grace window: expireSnapshots never deletes young " +
      "files (a concurrent writer's committed-but-unpublished stage), " +
      "and in-progress files are never candidates at all") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.gr (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("gr")
    ins1("graftrl.db.gr", "(1L,'a',10L)")
    spark.sql("UPDATE graftrl.db.gr SET v = v + 1") // v1's file now dead
    // a concurrent writer's staged-but-unpublished file (final name,
    // fresh mtime) and an in-flight task file (dot-prefixed)
    val staged = dir.resolve("data-staged-by-racer.parquet")
    val inflight = dir.resolve(".inprogress-data-racer.parquet")
    Files.writeString(staged, "not yet referenced")
    Files.writeString(inflight, "half written")
    // default-grace expiry: NOTHING young is vacuumed
    val guarded = Hook.expireSnapshots(dir, retainLast = 1,
      graceMs = 10L * 60L * 1000L)
    assert(guarded.deletedDataFiles.isEmpty,
      s"grace window must protect young files: $guarded")
    assert(Files.exists(staged) && Files.exists(inflight))
    // zero-grace expiry (maintenance window, no writers): the dead
    // v1 file AND the orphaned stage go; the dot-prefixed in-flight
    // file is STILL not a candidate (wrong name shape)
    val swept = Hook.expireSnapshots(dir, retainLast = 1, graceMs = 0L)
    assert(swept.deletedDataFiles.contains("data-staged-by-racer.parquet"))
    assert(!Files.exists(staged) && Files.exists(inflight))
    Files.delete(inflight)
    assert(sqlRows("SELECT v FROM graftrl.db.gr").map(_.head) == Seq(11L))
  }

  test("concurrent ALTER TABLE: the loser aborts loudly — no column " +
      "is ever silently dropped by a schema race") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.alt (k BIGINT, v BIGINT)")
    val dir = root.resolve("db").resolve("alt")
    // the competing ALTER publishes schema v1 at the racy instant
    Hook.setBeforeSchemaPublish(() => {
      Hook.clearPublishHooks()
      val widened = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("racer",
          org.apache.spark.sql.types.LongType, nullable = true)))
      assert(Hook.publishSchemaAs(dir, 1L, widened.json),
        "competing schema publish lost?")
    })
    try {
      val ex = intercept[Exception] {
        spark.sql("ALTER TABLE graftrl.db.alt ADD COLUMNS (mine BIGINT)")
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t =>
        t.isInstanceOf[java.util.ConcurrentModificationException] ||
          Option(t.getMessage).exists(_.contains("concurrent ALTER"))),
        s"expected a loud concurrent-ALTER abort, got: $chain")
    } finally Hook.clearPublishHooks()
    // the winner's column is intact, the loser applied nothing
    assert(Hook.schemaVersion(dir) == 1L)
    assert(spark.table("graftrl.db.alt").columns.toSeq ==
      Seq("k", "v", "racer"))
    // a clean retry lands on top of the winner
    spark.sql("ALTER TABLE graftrl.db.alt ADD COLUMNS (mine BIGINT)")
    assert(spark.table("graftrl.db.alt").columns.toSeq ==
      Seq("k", "v", "racer", "mine"))
  }

  test("OPTIMIZE: bin-packs fragmented groups, contents bit-stable, " +
      "history addressable, partition layout preserved") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.opt (k BIGINT, seg STRING, v DOUBLE)")
    val dir = root.resolve("db").resolve("opt")
    ins1("graftrl.db.opt", "(1L,'a',1.5),(2L,'b',2.5)")
    ins1("graftrl.db.opt", "(3L,'c',CAST('NaN' AS DOUBLE))")
    ins1("graftrl.db.opt", "(4L,CAST(NULL AS STRING),4.5)")
    ins1("graftrl.db.opt", "(5L,'e',-0.0)")
    val pre = sqlRows("SELECT k, seg, v FROM graftrl.db.opt ORDER BY k")
    assert(Hook.manifestFiles(dir, 4L).size == 4)
    val res = Hook.optimizeTable(dir, targetRows = 100L)
    assert(res.removedFiles.size == 4 && res.addedFiles.size == 1 &&
      res.version == 5L, s"expected 4→1 packing: $res")
    assert(Hook.manifestFiles(dir, 5L).size == 1)
    // bit-stable contents (NaN, NULL, signed zero included)
    val post = sqlRows("SELECT k, seg, v FROM graftrl.db.opt ORDER BY k")
    assert(post.map(_.take(2)) == pre.map(_.take(2)))
    assert(post.zip(pre).forall { case (a, b) =>
      java.lang.Double.compare(a(2).asInstanceOf[Double],
        b(2).asInstanceOf[Double]) == 0 })
    // pre-OPTIMIZE history still addressable
    assert(sqlRows("SELECT count(*) FROM graftrl.db.opt VERSION AS OF 4")
      .head.head == 5L)
    // idempotent: nothing left to pack
    val again = Hook.optimizeTable(dir, targetRows = 100L)
    assert(again.removedFiles.isEmpty && again.addedFiles.isEmpty)
    // partitioned table: packing stays WITHIN a partition value
    spark.sql("CREATE TABLE graftrl.db.optp (k BIGINT, seg STRING, " +
      "v DOUBLE) PARTITIONED BY (k)")
    val pdir = root.resolve("db").resolve("optp")
    for (_ <- 1 to 2)
      spark.sql("INSERT INTO graftrl.db.optp SELECT id % 2 AS k, " +
        "concat('s', id) AS seg, id * 1.5 AS v FROM range(0, 8)")
    assert(Hook.manifestFiles(pdir, 2L).size == 4) // 2 values × 2 files
    val pres = Hook.optimizeTable(pdir, targetRows = 100L)
    assert(pres.addedFiles.size == 2,
      s"expected one packed file per partition value: $pres")
    // the packed layout still storage-partitions: per-value groups
    assert(spark.sql("SELECT * FROM graftrl.db.optp")
      .rdd.getNumPartitions == 2)
    assert(sqlRows("SELECT sum(v) FROM graftrl.db.optp").head.head ==
      2 * (0 until 8).map(_ * 1.5).sum)
  }

  test("merge-on-read DELETE: misaligned deletes write deletion " +
      "vectors instead of rewriting groups; scans mask, COW folds, " +
      "whole-file vectors drop the file") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.mor (k BIGINT, seg STRING, " +
      "v BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = root.resolve("db").resolve("mor")
    ins1("graftrl.db.mor", "(1L,'a',10L),(2L,'a',20L),(3L,'a',30L)," +
      "(4L,'a',40L)")                                          // A: v1
    ins1("graftrl.db.mor", "(11L,'b',50L),(12L,'b',60L)")      // B: v2
    def dvFiles: Set[String] = dir.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("dv-") && n.endsWith(".bin")).toSet
    val dataBefore = dataFilesOnDisk(dir)
    // misaligned delete touching BOTH groups: no group is provably
    // all/none-match, so the delta path writes two deletion vectors
    // and not a single data file changes
    spark.sql("DELETE FROM graftrl.db.mor WHERE k IN (2, 12)")   // v3
    assert(dataFilesOnDisk(dir) == dataBefore,
      "merge-on-read delete must not rewrite or stage any data file")
    assert(dvFiles.size == 2, s"expected two vectors, got $dvFiles")
    assert(sqlRows("SELECT k FROM graftrl.db.mor ORDER BY k")
      .map(_.head) == Seq(1L, 3L, 4L, 11L))
    // COUNT(*) stays metadata-answerable (liveRows is exact)...
    val cnt = spark.sql("SELECT count(*) AS n FROM graftrl.db.mor")
    assert(cnt.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(cnt.collect().head.getLong(0) == 4L)
    // ...but per-column MIN refuses under a vector, value still right
    val minq = spark.sql("SELECT min(k) AS mk FROM graftrl.db.mor")
    assert(!minq.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(minq.collect().head.getLong(0) == 1L)
    // repeated MOR deletes COMPOSE: the vectors union
    spark.sql("DELETE FROM graftrl.db.mor WHERE k = 1")          // v4
    assert(dataFilesOnDisk(dir) == dataBefore)
    assert(sqlRows("SELECT k FROM graftrl.db.mor ORDER BY k")
      .map(_.head) == Seq(3L, 4L, 11L))
    // _pos is the ORIGINAL ordinal: survivors of group A are rows 2,3
    assert(sqlRows("SELECT _pos FROM graftrl.db.mor WHERE k IN (3, 4) " +
      "ORDER BY _pos").map(_.head) == Seq(2L, 3L))
    // an UPDATE stays copy-on-write and FOLDS the vector: group A is
    // rewritten from its live rows only, vector gone from the manifest
    spark.sql("UPDATE graftrl.db.mor SET v = v + 100 WHERE k = 3") // v5
    assert(sqlRows("SELECT k, v FROM graftrl.db.mor ORDER BY k") ==
      Seq(Seq(3L, 130L), Seq(4L, 40L), Seq(11L, 50L)))
    // an ALIGNED delete still takes the metadata-only path, dropping
    // group B (and its vector) as a pure manifest edit
    val mid = dataFilesOnDisk(dir)
    spark.sql("DELETE FROM graftrl.db.mor WHERE k >= 11")        // v6
    assert(dataFilesOnDisk(dir) == mid,
      "aligned delete over a vectored table must stay metadata-only")
    // a vector that covers EVERY original row drops the file outright
    spark.sql("DELETE FROM graftrl.db.mor WHERE k IN (3, 4)")    // v7
    assert(Hook.manifestFiles(dir, 7L).isEmpty,
      "whole-file deletion vector should drop the group from the manifest")
    assert(sqlRows("SELECT count(*) FROM graftrl.db.mor").head.head == 0L)
    // history reads THROUGH the historical vectors
    assert(sqlRows("SELECT count(*) FROM graftrl.db.mor VERSION AS OF 2")
      .head.head == 6L)
    assert(sqlRows("SELECT k FROM graftrl.db.mor VERSION AS OF 3 " +
      "ORDER BY k").map(_.head) == Seq(1L, 3L, 4L, 11L))
    // retention vacuums unreferenced vectors with everything else
    Hook.expireSnapshots(dir, retainLast = 1)
    assert(dvFiles.isEmpty, s"expired vectors must vacuum: $dvFiles")
  }

  test("merge-on-read UPDATE: vector the old ordinals, append the " +
      "rewritten rows — untouched groups never open") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.moru (k BIGINT, seg STRING, " +
      "v BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read', " +
      "'update.mode' = 'merge-on-read')")
    val dir = root.resolve("db").resolve("moru")
    ins1("graftrl.db.moru", "(1L,'a',10L),(2L,'a',20L)")       // A: v1
    ins1("graftrl.db.moru", "(11L,'b',30L),(12L,'b',40L)")     // B: v2
    val dataBefore = dataFilesOnDisk(dir)
    spark.sql("UPDATE graftrl.db.moru SET v = v + 5 WHERE k = 2") // v3
    // the original groups are untouched; the rewrite is one vector
    // (A's ordinal 1) plus one appended group with the new row
    assert(dataFilesOnDisk(dir).intersect(dataBefore) == dataBefore,
      "MOR update must not rewrite existing groups")
    assert((dataFilesOnDisk(dir) -- dataBefore).size == 1,
      "MOR update should append exactly one rewritten-rows group")
    assert(dir.toFile.listFiles().map(_.getName)
      .count(n => n.startsWith("dv-") && n.endsWith(".bin")) == 1)
    assert(sqlRows("SELECT k, v FROM graftrl.db.moru ORDER BY k") ==
      Seq(Seq(1L, 10L), Seq(2L, 25L), Seq(11L, 30L), Seq(12L, 40L)))
    // count stays metadata-exact; repeated updates compose
    val cnt = spark.sql("SELECT count(*) AS n FROM graftrl.db.moru")
    assert(cnt.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(cnt.collect().head.getLong(0) == 4L)
    spark.sql("UPDATE graftrl.db.moru SET seg = 'hot' WHERE v >= 30") // v4
    assert(sqlRows("SELECT k, seg, v FROM graftrl.db.moru ORDER BY k") ==
      Seq(Seq(1L, "a", 10L), Seq(2L, "a", 25L), Seq(11L, "hot", 30L),
        Seq(12L, "hot", 40L)))
    // history reads through both vector generations
    assert(sqlRows("SELECT v FROM graftrl.db.moru VERSION AS OF 3 " +
      "WHERE k = 2").map(_.head) == Seq(25L))
    assert(sqlRows("SELECT count(*) FROM graftrl.db.moru VERSION AS OF 2")
      .head.head == 4L)
    // OPTIMIZE folds vectors + appended fragments into clean groups
    val res = Hook.optimizeTable(dir, targetRows = 100L)
    assert(res.addedFiles.size == 1 && Hook.manifestFiles(dir, 5L).size == 1)
    assert(sqlRows("SELECT k, seg, v FROM graftrl.db.moru ORDER BY k") ==
      Seq(Seq(1L, "a", 10L), Seq(2L, "a", 25L), Seq(11L, "hot", 30L),
        Seq(12L, "hot", 40L)))
  }

  test("merge-on-read MERGE: the full upsert ships as vectors plus " +
      "appends — matched updates, matched deletes, inserts, and " +
      "not-matched-by-source arms, no group rewritten") {
    root
    spark.sql("CREATE TABLE graftrl.db.morm (k BIGINT, seg STRING, " +
      "v BIGINT) TBLPROPERTIES ('merge.mode' = 'merge-on-read')")
    val dir = root.resolve("db").resolve("morm")
    ins1("graftrl.db.morm", "(1L,'a',10L),(2L,'a',20L),(3L,'a',30L)")
    ins1("graftrl.db.morm", "(11L,'b',40L),(12L,'b',50L),(13L,'b',60L)")
    val dataBefore = dataFilesOnDisk(dir)
    locally {
      import spark.implicits._
      Seq((2L, "a", -1L), (11L, "b", 5L), (21L, "c", 99L))
        .toDF("k", "seg", "v").createOrReplaceTempView("morm_delta")
    }
    spark.sql("""
      MERGE INTO graftrl.db.morm t USING morm_delta s ON t.k = s.k
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v + s.v
      WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.v)
      WHEN NOT MATCHED BY SOURCE AND t.v >= 50 THEN DELETE
    """)
    // k=2 deleted; k=11 updated (delete+insert); k=21 inserted;
    // k=12/k=13 retired by the by-source arm; k=1/k=3 untouched —
    // and not ONE original group was rewritten
    assert(dataFilesOnDisk(dir).intersect(dataBefore) == dataBefore,
      "MOR merge must not rewrite existing groups")
    // group A keeps survivors → one PARTIAL vector; group B lost every
    // row (11 rewritten, 12/13 retired) → whole-file vector drops it
    // from the manifest with NO sidecar
    assert(dir.toFile.listFiles().map(_.getName)
      .count(n => n.startsWith("dv-") && n.endsWith(".bin")) == 1,
      "expected one partial vector (the all-dead group drops outright)")
    import graft.sources.{GraftCatalogTestHook => Hook}
    assert(Hook.manifestFiles(dir, 3L).intersect(
      (dataFilesOnDisk(dir) -- dataBefore).toSeq).nonEmpty ||
      (dataFilesOnDisk(dir) -- dataBefore).nonEmpty,
      "rewritten/inserted rows should land as appended groups")
    assert(sqlRows("SELECT k, seg, v FROM graftrl.db.morm ORDER BY k") ==
      Seq(Seq(1L, "a", 10L), Seq(3L, "a", 30L), Seq(11L, "b", 45L),
        Seq(21L, "c", 99L)))
    // live-row accounting stays exact through the vectors + appends
    val cnt = spark.sql("SELECT count(*) AS n FROM graftrl.db.morm")
    assert(cnt.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"))
    assert(cnt.collect().head.getLong(0) == 4L)
    // pre-merge history intact
    assert(sqlRows("SELECT count(*) FROM graftrl.db.morm VERSION AS OF 2")
      .head.head == 6L)
    spark.catalog.dropTempView("morm_delta")
  }

  test("snapshot tags pin named versions against retention; " +
      "TIMESTAMP AS OF resolves commit publish times") {
    root
    import graft.sources.{GraftCatalogTestHook => Hook}
    spark.sql("CREATE TABLE graftrl.db.tg (k BIGINT, seg STRING, v BIGINT)")
    val dir = root.resolve("db").resolve("tg")
    // distinct publish instants so TIMESTAMP AS OF ties cannot flap
    ins1("graftrl.db.tg", "(1L,'a',10L),(2L,'a',20L)"); Thread.sleep(30)
    spark.sql("UPDATE graftrl.db.tg SET v = v * 2");     Thread.sleep(30)
    ins1("graftrl.db.tg", "(3L,'c',30L)")
    def rowsAt(ref: String): Seq[(Long, Long)] =
      sqlRows(s"SELECT k, v FROM graftrl.db.tg VERSION AS OF $ref " +
        "ORDER BY k").map(r =>
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    Hook.tagSnapshot(dir, "audit", 2L)
    assert(rowsAt("'audit'") == rowsAt("2"))
    // tags are immutable; unknown tags refuse with their own message
    intercept[java.util.ConcurrentModificationException] {
      Hook.tagSnapshot(dir, "audit", 3L)
    }
    val unknown = intercept[Exception] { rowsAt("'nope'") }
    assert(unknown.getMessage.contains("no snapshot tag"))
    intercept[Exception] { Hook.tagSnapshot(dir, "bad name", 2L) }
    intercept[Exception] { Hook.tagSnapshot(dir, "7", 2L) }
    // retention: retain-last-1 would retire v0..v2, but the tag PINS
    // v2 — only v0/v1 expire, and the tagged read stays bit-stable
    val pre = rowsAt("'audit'")
    val res = Hook.expireSnapshots(dir, retainLast = 1)
    assert(res.retainedVersions.contains(2L) &&
      res.expiredVersions == Seq(0L, 1L),
      s"tag should pin v2 against retention: $res")
    assert(rowsAt("'audit'") == pre)
    // TIMESTAMP AS OF: the instant of v2's publish sees v2; anything
    // before the earliest retained commit refuses loudly
    def tsLit(millis: Long): String = {
      val i = java.time.Instant.ofEpochMilli(millis)
      "TIMESTAMP '" + java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC).format(i) + "'"
    }
    // the RECORDED #ts commit header, not mtime — the resolution
    // source TIMESTAMP AS OF actually uses
    val at2 = Hook.commitTimeMillis(dir, 2L)
    assert(Hook.manifestMeta(dir, 2L).contains("ts"),
      "publish must stamp an explicit #ts commit header")
    assert(sqlRows("SELECT k, v FROM graftrl.db.tg TIMESTAMP AS OF " +
      s"${tsLit(at2)} ORDER BY k").map(r =>
      (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])) == pre)
    // the live present resolves to the newest version
    assert(sqlRows("SELECT count(*) FROM graftrl.db.tg TIMESTAMP AS OF " +
      s"${tsLit(System.currentTimeMillis() + 60000)}").head.head == 3L)
    val early = intercept[Exception] {
      sqlRows("SELECT * FROM graftrl.db.tg TIMESTAMP AS OF " +
        s"${tsLit(at2 - 3600 * 1000L)}")
    }
    assert(Iterator.iterate[Throwable](early)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("no snapshot at or before"))),
      s"got: $early")
  }

  test("pruned-size statistics: the planner sees post-pushdown " +
      "rows/bytes and a dimension-sized catalog table auto-broadcasts " +
      "without a hint") {
    root
    spark.sql("CREATE TABLE graftrl.db.dim (k BIGINT, seg STRING, v BIGINT)")
    ins1("graftrl.db.dim", "(1L,'a',10L),(2L,'b',20L)")
    ins1("graftrl.db.dim", "(41L,'c',30L),(42L,'d',40L)")
    ins1("graftrl.db.dim", "(81L,'e',50L),(82L,'f',60L)")
    def leafStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves()
        .find(_.getClass.getSimpleName.contains("DataSourceV2"))
        .map(_.stats).getOrElse(
          fail(s"no V2 leaf in ${df.queryExecution.optimizedPlan}"))
    val full = leafStats(spark.table("graftrl.db.dim"))
    // vs the no-stats DSv2 default (spark.sql.defaultSizeInBytes ≈
    // 8 EB, "never broadcast"): the manifest-fed size is real
    assert(full.sizeInBytes > 0 && full.sizeInBytes < 10L * 1024 * 1024,
      s"expected a dimension-sized estimate, got ${full.sizeInBytes}")
    assert(full.rowCount.isEmpty || full.rowCount.contains(BigInt(6)))
    // a pushed key predicate prunes groups → the estimate SHRINKS
    val pruned = leafStats(
      spark.table("graftrl.db.dim").where("k >= 81"))
    assert(pruned.sizeInBytes < full.sizeInBytes,
      s"pushed-filter stats did not shrink: $pruned vs $full")
    // planner effect: fact ⋈ dim broadcasts the catalog side with NO
    // hint under the default 10 MB threshold...
    val fact = spark.range(0, 50000)
      .selectExpr("(id % 100) + 1 AS k", "id AS w")
    val joined = fact.join(spark.table("graftrl.db.dim"), "k")
      .groupBy("seg").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"catalog dimension should auto-broadcast:\n$plan")
    // ...and the control with broadcast disabled keeps the shuffle
    // join, so the assert above is not vacuous
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val ctl = fact.join(spark.table("graftrl.db.dim"), "k")
        .groupBy("seg").count()
      ctl.collect()
      assert(!ctl.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("catalog hygiene: duplicate create refuses, drop removes, " +
      "unsupported types refused") {
    root
    spark.sql("CREATE TABLE graftrl.db.h (k BIGINT, s STRING, v DOUBLE)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graftrl.db.h (k BIGINT, s STRING, v DOUBLE)")
    }
    assert(sqlRows("SHOW TABLES IN graftrl.db").map(_(1)).contains("h"))
    spark.sql("DROP TABLE graftrl.db.h")
    assert(!sqlRows("SHOW TABLES IN graftrl.db").map(_(1)).contains("h"))
    intercept[Exception] {
      spark.sql("CREATE TABLE graftrl.db.bad (k BIGINT, arr ARRAY<INT>)")
    }
  }
}
