package graft

import java.nio.file.{Files, Path}

import graft.sources.{GraftCatalog, GraftCatalogTestHook => Hook}

/** Round-19 catalog tier: DISTRIBUTED OPTIMIZE (one Spark task per
  * compaction bin — the last driver-side serial maintenance loop,
  * fanned out), the DV READ-AMPLIFICATION GATE (dead-fraction
  * candidate selection plus the serial fold cap), STREAMING WRITES
  * into the catalog with exactly-once epoch replay, MERGE SCHEMA
  * EVOLUTION (auto-widen), explicit `#ts` commit headers, and the
  * tag-vs-retention retraction. */
class Round19Spec extends SparkSpec with SuiteScratch {

  private lazy val root = {
    val r = suiteScratch
    spark.conf.set("spark.sql.catalog.g19", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g19.root", r.toString)
    r
  }

  private def sqlRows(q: String): Seq[Seq[Any]] =
    spark.sql(q).collect().toSeq.map(_.toSeq)

  private def dir(t: String): Path = root.resolve("db").resolve(t)

  test("distributed OPTIMIZE: >=8 bins rewritten one-task-per-bin, " +
      "result equivalent to the serial path, DV folded in") {
    root
    // one fragmented table, then a byte-identical directory clone:
    // same file names → same deterministic packing plan, so the
    // serial and distributed paths must produce equivalent results
    spark.sql("CREATE TABLE g19.db.opts (k BIGINT, seg STRING, " +
      "v BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    for (i <- 0 until 16)
      spark.sql(s"INSERT INTO g19.db.opts SELECT id AS k, 'g$i' AS " +
        s"seg, id * 10 AS v FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    // one group picks up a deletion vector to fold away
    spark.sql("DELETE FROM g19.db.opts WHERE k = 3")
    scala.util.Using.resource(Files.walk(dir("opts"))) { s =>
      s.forEach { p =>
        val d = dir("optd").resolve(dir("opts").relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(d)
        else { Files.createDirectories(d.getParent); Files.copy(p, d) }
      }
    }
    // pairs of 10-row fragments at targetRows=20 → 8 bins
    val serial = Hook.optimizeTable(dir("opts"), targetRows = 20L)
    val (distributed, run) = QueryMetrics.measure(spark)(
      Hook.optimizeTableDistributed(spark, dir("optd"), targetRows = 20L))
    assert(run.tasks >= distributed.addedFiles.size,
      s"expected >= ${distributed.addedFiles.size} tasks (one per bin), saw ${run.tasks}")
    assert(serial.removedFiles.size == 16 &&
      serial.addedFiles.size == 8,
      s"expected 16 fragments into 8 bins: $serial")
    assert(distributed.removedFiles == serial.removedFiles,
      "identical inputs must pack identically")
    assert(distributed.addedFiles.size == 8,
      s"one packed file per bin: $distributed")
    // bit-equivalent packing: per-file (rows, statsToken) multisets
    // match (names are UUIDs, geometry and contents are the contract)
    def packSignature(t: String): Seq[(Long, String)] = {
      val d = dir(t)
      Hook.manifestStatsTokens(d, Hook.manifestVersions(d).max)
        .map(x => (x._2, x._3)).sorted
    }
    assert(packSignature("opts") == packSignature("optd"),
      "distributed packing must be bit-equivalent to serial")
    assert(sqlRows("SELECT k, seg, v FROM g19.db.opts ORDER BY k") ==
      sqlRows("SELECT k, seg, v FROM g19.db.optd ORDER BY k"))
    // the deletion vector was folded: no dv sidecar in the new manifest
    assert(sqlRows("SELECT count(*) FROM g19.db.optd").head.head == 159L)
  }

  test("DV read-amplification gate: heavy dead fraction folds even " +
      "in big groups; mostly-live big groups are left alone; the " +
      "serial path caps fold size, the distributed path does not") {
    root
    def mk(t: String, deadPct: Int): Path = {
      spark.sql(s"CREATE TABLE g19.db.$t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      spark.sql(s"INSERT INTO g19.db.$t SELECT id, id FROM " +
        "range(0, 100, 1, 1)")
      spark.sql(s"DELETE FROM g19.db.$t WHERE k % 100 < $deadPct")
      dir(t)
    }
    // 30% dead, liveRows=70 >= targetRows → selected by dead fraction
    val hot = mk("dvhot", 30)
    val hotRes = Hook.optimizeTable(hot, targetRows = 20L)
    assert(hotRes.removedFiles.size == 1 && hotRes.addedFiles.size == 1,
      s"30%-dead group must fold: $hotRes")
    assert(Hook.groupOccupancy(hot).forall { case (_, r, l) => r == l },
      "fold must leave no masked rows")
    assert(sqlRows("SELECT count(*) FROM g19.db.dvhot").head.head == 70L)
    // 5% dead, big and mostly live → rewriting it is churn, not
    // maintenance; left alone
    val cold = mk("dvcold", 5)
    val coldRes = Hook.optimizeTable(cold, targetRows = 20L)
    assert(coldRes.removedFiles.isEmpty && coldRes.addedFiles.isEmpty,
      s"5%-dead group must NOT fold: $coldRes")
    // serial cap: liveRows=70 > 4*targetRows=40 → the serial path
    // refuses the driver-side rewrite; the distributed path folds it
    val big = mk("dvbig", 30)
    val capped = Hook.optimizeTable(big, targetRows = 10L)
    assert(capped.removedFiles.isEmpty,
      s"serial path must cap oversized DV folds: $capped")
    val fanned = Hook.optimizeTableDistributed(spark, big,
      targetRows = 10L)
    assert(fanned.removedFiles.size == 1 && fanned.addedFiles.size == 1,
      s"distributed path must fold the oversized DV group: $fanned")
    assert(sqlRows("SELECT count(*) FROM g19.db.dvbig").head.head == 70L)
  }

  test("streaming write INTO the catalog: epochs append atomically, " +
      "a replayed epoch after a stale-checkpoint restart commits " +
      "nothing twice") {
    root
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE TABLE g19.db.ssrc (k BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE g19.db.ssink (k BIGINT, v BIGINT)")
    Scratch.scoped("graft_r19_ck") { ck =>
      def drain(fromCk: Path): Unit = {
        val q = spark.readStream.table("g19.db.ssrc")
          .writeStream.option("checkpointLocation", fromCk.toString)
          .trigger(Trigger.AvailableNow())
          .toTable("g19.db.ssink")
        try q.awaitTermination() finally q.stop()
      }
      spark.sql("INSERT INTO g19.db.ssrc SELECT id, id * 2 FROM range(0, 5)")
      drain(ck)
      assert(sqlRows("SELECT k, v FROM g19.db.ssink ORDER BY k") ==
        (0L until 5L).map(i => Seq(i, i * 2)))
      // the epoch marker rode the SAME manifest publish as the rows
      val sink = dir("ssink")
      val v1meta = Hook.manifestMeta(sink, Hook.manifestVersions(sink).max)
      assert(v1meta.contains("txn") && v1meta.contains("ts"),
        s"streaming commit must stamp txn+ts headers: $v1meta")
      // stale-checkpoint replay: copy the checkpoint BEFORE batch 2,
      // drain batch 2 through the live checkpoint, then restart from
      // the stale copy — Spark replans the same epoch with the same
      // data, and the txn marker must swallow the duplicate
      Scratch.scoped("graft_r19_ck_stale") { ckStale =>
        def copyTree(from: Path, to: Path): Unit =
          scala.util.Using.resource(Files.walk(from)) { s =>
            s.forEach { p =>
              val d = to.resolve(from.relativize(p).toString)
              if (Files.isDirectory(p)) Files.createDirectories(d)
              else { Files.createDirectories(d.getParent); Files.copy(p, d) }
            }
          }
        copyTree(ck, ckStale)
        spark.sql("INSERT INTO g19.db.ssrc SELECT id, id * 2 FROM range(5, 8)")
        drain(ck) // live: commits epoch 1 with rows 5..7
        assert(sqlRows("SELECT count(*) FROM g19.db.ssink").head.head == 8L)
        drain(ckStale) // replays epoch 1 → marker present → skipped
        assert(sqlRows("SELECT count(*) FROM g19.db.ssink").head.head == 8L,
          "replayed epoch must not double-append")
        assert(sqlRows("SELECT k, v FROM g19.db.ssink ORDER BY k") ==
          (0L until 8L).map(i => Seq(i, i * 2)),
          "sink must equal the one-shot batch content exactly once")
        // hygiene: the replay's re-staged files were deleted, every
        // data file on disk is manifest-bound
        val referenced = Hook.manifestVersions(sink)
          .flatMap(v => Hook.manifestFiles(sink, v)).toSet
        val onDisk = Option(sink.toFile.listFiles()).get
          .map(_.getName).filter(n => n.startsWith("data-")).toSet
        assert(onDisk == referenced,
          s"orphaned streaming files: ${onDisk -- referenced}")
      }
    }
  }

  test("MERGE schema evolution: widenForMerge appends missing source " +
      "columns atomically, old groups null-fill, the merge binds them") {
    root
    spark.sql("CREATE TABLE g19.db.ev (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO g19.db.ev VALUES (1, 10), (2, 20)")
    val preFiles = Hook.manifestFiles(dir("ev"),
      Hook.manifestVersions(dir("ev")).max).toSet
    locally {
      import spark.implicits._
      Seq((2L, 25L, "upd"), (3L, 30L, "new"))
        .toDF("k", "v", "note").createOrReplaceTempView("ev_src")
    }
    val added = GraftCatalog.widenForMerge(spark, "g19.db.ev",
      spark.table("ev_src").schema)
    assert(added == Seq("note"), s"expected to add note: $added")
    assert(Hook.schemaVersion(dir("ev")) == 1L,
      "widen must publish a new schema version")
    spark.sql("""
      MERGE INTO g19.db.ev t USING ev_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note
      WHEN NOT MATCHED THEN INSERT (k, v, note) VALUES (s.k, s.v, s.note)
    """)
    assert(sqlRows("SELECT k, v, note FROM g19.db.ev ORDER BY k") ==
      Seq(Seq(1L, 10L, null), Seq(2L, 25L, "upd"), Seq(3L, 30L, "new")))
    // the untouched pre-evolution group was NOT rewritten: old rows
    // null-fill by schema-on-read, not by rewrite... the merge DID
    // rewrite the group containing k=2 (COW), but k=1 shares it; so
    // instead pin: a fresh pre-widening group on another table stays
    // on disk byte-identical after widening alone
    spark.sql("CREATE TABLE g19.db.ev2 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO g19.db.ev2 VALUES (1, 10)")
    val d2 = dir("ev2")
    val f2 = Hook.manifestFiles(d2, 1L).head
    val bytesBefore = Files.readAllBytes(d2.resolve(f2)).toSeq
    GraftCatalog.widenForMerge(spark, "g19.db.ev2",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.DoubleType))))
    assert(Files.readAllBytes(d2.resolve(f2)).toSeq == bytesBefore,
      "widening must never rewrite existing groups")
    assert(sqlRows("SELECT k, v, extra FROM g19.db.ev2") ==
      Seq(Seq(1L, 10L, null)))
    // aligned schemas are a no-op; unsupported types refuse loudly
    assert(GraftCatalog.widenForMerge(spark, "g19.db.ev2",
      spark.table("g19.db.ev2").schema).isEmpty)
    val bad = intercept[IllegalArgumentException] {
      GraftCatalog.widenForMerge(spark, "g19.db.ev2",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.BooleanType))))
    }
    assert(bad.getMessage.contains("unsupported type"))
    assert(preFiles.nonEmpty) // silence unused warning
  }

  test("metadata-only DELETE rebases past a racing append: both " +
      "commits land, the proof re-runs on the winner's manifest") {
    root
    spark.sql("CREATE TABLE g19.db.md (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO g19.db.md SELECT id, id FROM range(0, 10, 1, 1)")
    spark.sql(
      "INSERT INTO g19.db.md SELECT id, id FROM range(100, 110, 1, 1)")
    // the aligned DELETE (provable all-match on the k<10 group,
    // none-match elsewhere) races a live INSERT; whichever loses the
    // manifest publish must rebase — the delete by re-proving its
    // per-file verdicts against the winner's manifest (the appended
    // group is provably none-match, so the fast path survives), the
    // insert by the append-commute rule. Final state is deterministic
    // in either interleaving.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fDel = pool.submit(new Runnable {
      override def run(): Unit =
        spark.sql("DELETE FROM g19.db.md WHERE k < 10")
    })
    val fIns = pool.submit(new Runnable {
      override def run(): Unit = spark.sql(
        "INSERT INTO g19.db.md SELECT id, id FROM range(300, 303, 1, 1)")
    })
    fDel.get(); fIns.get(); pool.shutdown()
    assert(sqlRows("SELECT count(*) FROM g19.db.md").head.head == 13L)
    assert(sqlRows("SELECT min(k) FROM g19.db.md").head.head == 100L)
    assert(sqlRows("SELECT count(*) FROM g19.db.md WHERE k >= 300")
      .head.head == 3L)
  }

  test("DESCRIBE HISTORY: per-version commit shape, explicit commit " +
      "times, txn markers — manifest-only, retention-aware") {
    root
    spark.sql("CREATE TABLE g19.db.hist (k BIGINT, v BIGINT)")
    val d = dir("hist")
    spark.sql(
      "INSERT INTO g19.db.hist SELECT id, id FROM range(0, 5, 1, 1)")
    spark.sql(
      "INSERT INTO g19.db.hist SELECT id, id FROM range(5, 10, 1, 1)")
    spark.sql("DELETE FROM g19.db.hist WHERE k < 5") // aligned: change
    val h = Hook.history(d)
    assert(h.map(e => (e.version, e.operation, e.filesAdded,
      e.filesRemoved)) == Seq(
      (0L, "create", 0, 0), (1L, "append", 1, 0), (2L, "append", 1, 0),
      (3L, "change", 0, 1)), s"history: $h")
    // commit times are the recorded #ts headers, monotone
    assert(h.map(_.commitTimeMillis) == h.map(_.commitTimeMillis).sorted)
    assert(h.forall(_.txn.isEmpty))
    // retention gap: a pinned version with an expired predecessor
    // reports as a baseline, not a fabricated delta
    Hook.tagSnapshot(d, "keep2", 2L)
    Hook.expireSnapshots(d, retainLast = 1)
    val h2 = Hook.history(d)
    assert(h2.map(e => (e.version, e.operation)) ==
      Seq((2L, "baseline"), (3L, "change")), s"post-expiry: $h2")
  }

  test("clustered OPTIMIZE: sort-keyed packing + in-file sort turn " +
      "interleaved fragments into range-disjoint files that prune") {
    root
    spark.sql("CREATE TABLE g19.db.cl (k BIGINT, v BIGINT)")
    val d = dir("cl")
    // four fragments, each spanning the WHOLE keyspace (the
    // sustained-ingest shape): a k-filter can prune nothing
    for (r <- 0 until 4)
      spark.sql(s"INSERT INTO g19.db.cl SELECT id * 4 + $r AS k, id " +
        s"AS v FROM range(0, 25, 1, 1)")
    def keptGroups(pred: String): Int = {
      val df = spark.sql(s"SELECT k, v FROM g19.db.cl WHERE $pred")
      df.rdd.getNumPartitions // one InputPartition per kept group
    }
    assert(keptGroups("k < 10") == 4,
      "interleaved fragments must defeat pruning (the fixture premise)")
    val pre = sqlRows("SELECT k, v FROM g19.db.cl ORDER BY k")
    // cluster on k: 100 rows into 50-row packed files
    val res = Hook.optimizeTableClustered(d, targetRows = 50L, "k")
    assert(res.removedFiles.size == 4 && res.addedFiles.size == 2,
      s"expected 4 fragments into 2 clustered files: $res")
    // contents bit-stable
    assert(sqlRows("SELECT k, v FROM g19.db.cl ORDER BY k") == pre)
    // the packed files now cover DISJOINT key ranges: stats prove it
    val toks = Hook.manifestStatsTokens(d, Hook.manifestVersions(d).max)
    val ranges = toks.map(_._3.split(",")(0)).map { t =>
      val p = t.split(":"); (p(1).toLong, p(2).toLong)
    }.sorted
    assert(ranges == Seq((0L, 49L), (50L, 99L)),
      s"clustered files must cover consecutive disjoint ranges: $ranges")
    // and the point query prunes to ONE file
    assert(keptGroups("k < 10") == 1,
      "clustering must restore static pruning power")
    // idempotent: nothing further to pack
    val again = Hook.optimizeTableClustered(d, targetRows = 50L, "k")
    assert(again.removedFiles.isEmpty && again.addedFiles.isEmpty)
    // distributed clustered run produces the same geometry
    spark.sql("CREATE TABLE g19.db.cld (k BIGINT, v BIGINT)")
    val dd = dir("cld")
    for (r <- 0 until 4)
      spark.sql(s"INSERT INTO g19.db.cld SELECT id * 4 + $r AS k, id " +
        s"AS v FROM range(0, 25, 1, 1)")
    val resD = Hook.optimizeTableDistributed(spark, dd,
      targetRows = 50L, sortCol = Some("k"))
    assert(resD.addedFiles.size == 2, s"distributed clustered: $resD")
    val rangesD = Hook.manifestStatsTokens(dd,
      Hook.manifestVersions(dd).max)
      .map(_._3.split(",")(0)).map { t =>
        val p = t.split(":"); (p(1).toLong, p(2).toLong)
      }.sorted
    assert(rangesD == Seq((0L, 49L), (50L, 99L)), s"$rangesD")
  }

  test("dynamic file pruning: a selective dim filter prunes fact " +
      "GROUPS at runtime through the typed stats — DPP without a " +
      "partition column") {
    root
    spark.sql("CREATE TABLE g19.db.dfp (k BIGINT, v BIGINT)")
    val d = dir("dfp")
    // four clustered (range-disjoint) fact groups of 2500 keys each
    for (r <- 0 until 4)
      spark.sql(s"INSERT INTO g19.db.dfp SELECT id AS k, id AS v " +
        s"FROM range(${r * 2500}, ${r * 2500 + 2500}, 1, 1)")
    // the dim must be a REAL scan (a local Seq folds to a
    // LocalRelation and the selective Filter DPP keys on disappears)
    Scratch.scoped("graft_r19_dfp_dim") { dimDir =>
      locally {
        import spark.implicits._
        (0L until 10000L).map(k => (k, if (k < 2500) "hot" else "cold"))
          .toDF("k", "tag").write.mode("overwrite")
          .parquet(dimDir.toString)
      }
      spark.read.parquet(dimDir.toString)
        .createOrReplaceTempView("dfp_dim")
      val saved = spark.conf.getOption(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
      try {
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        // the dim is the build side (DPP-via-broadcast-reuse, the
        // default mode); the fact scan is the probe getting pruned
        val q = spark.sql("""
          SELECT /*+ BROADCAST(d) */ count(*) AS n, sum(f.v) AS s
          FROM g19.db.dfp f JOIN dfp_dim d ON f.k = d.k
          WHERE d.tag = 'hot'""")
        val got = q.collect().head
        assert(got.getLong(0) == 2500L &&
          got.getLong(1) == (0L until 2500L).sum)
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("dynamicpruningexpression"),
          s"no runtime pruning subquery in plan:\n$plan")
        // the scan read ONE group's rows, not four: the other three
        // groups' k-ranges provably exclude every build-side key
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        def scanRows(p: SparkPlan): Seq[Long] = p match {
          case qs: QueryStageExec => scanRows(qs.plan)
          case b: BatchScanExec if b.toString.contains("graft-rl-table") =>
            Seq(b.metrics("numOutputRows").value)
          case _ => p.children.flatMap(scanRows)
        }
        val rows = scanRows(q.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        })
        assert(rows == Seq(2500L),
          s"runtime file pruning should leave one 2500-row group: $rows")
      } finally {
        saved.foreach(v => spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", v))
        spark.catalog.dropTempView("dfp_dim")
      }
    }
  }

  test("SQL stored procedures: CALL system.optimize / history / " +
      "tag_snapshot / expire_snapshots / dead_rows, named args, " +
      "unknown procedure refuses with the catalog's inventory") {
    root
    spark.sql("CREATE TABLE g19.db.proc (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    for (r <- 0 until 3)
      spark.sql(s"INSERT INTO g19.db.proc SELECT id, id FROM " +
        s"range(${r * 10}, ${r * 10 + 10}, 1, 1)")
    spark.sql("DELETE FROM g19.db.proc WHERE k = 5") // DV on group 1
    // dead_rows: the ledger shows the masked group
    val ledger = spark.sql("CALL g19.system.dead_rows('db.proc')")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ledger.map(_._1).sum == 30L && ledger.map(_._2).sum == 29L,
      s"ledger: ${ledger.toSeq}")
    // optimize via CALL, clustered via NAMED ARG — folds the DV and
    // re-cuts the fragments
    val opt = spark.sql(
      "CALL g19.system.optimize('db.proc', 100, sort_col => 'k')")
      .collect().head
    assert(opt.getLong(0) == 3L && opt.getLong(1) == 1L,
      s"optimize: $opt")
    assert(sqlRows("SELECT count(*) FROM g19.db.proc").head.head == 29L)
    // history via CALL: create, 3 appends, DV change, pack change
    val ops = spark.sql("CALL g19.system.history('db.proc')")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(ops == Seq((0L, "create"), (1L, "append"), (2L, "append"),
      (3L, "append"), (4L, "change"), (5L, "change")), s"$ops")
    // tag + expire via CALL: the tag pins v4 against retention
    spark.sql("CALL g19.system.tag_snapshot('db.proc', 'preopt', 4)")
    val exp = spark.sql(
      "CALL g19.system.expire_snapshots('db.proc', 1, grace_ms => 0)")
      .collect().head
    assert(exp.getLong(2) == 2L, s"tagged v4 + live v5 retained: $exp")
    assert(sqlRows("SELECT count(*) FROM g19.db.proc " +
      "VERSION AS OF 'preopt'").head.head == 29L)
    // unknown procedure refuses, naming the inventory
    val bad = intercept[Exception] {
      spark.sql("CALL g19.system.compact('db.proc')").collect()
    }
    assert(Iterator.iterate[Throwable](bad)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(m => m.contains("no such procedure") ||
          m.contains("compact"))), s"$bad")
  }

  test("metadata-only GROUP BY: grouped COUNT/MIN/MAX on a provably " +
      "single-valued column answer from the manifest, zero data I/O") {
    root
    spark.sql("CREATE TABLE g19.db.ga (p BIGINT, v BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO g19.db.ga SELECT id % 3 AS p, id AS v " +
      "FROM range(0, 30)")
    spark.sql("INSERT INTO g19.db.ga VALUES (CAST(NULL AS BIGINT), 99)")
    val q = spark.sql("SELECT p, count(*) AS n, min(v) AS lo, " +
      "max(v) AS hi FROM g19.db.ga GROUP BY p ORDER BY p NULLS FIRST")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"),
      s"grouped agg lost the metadata path:\n" +
        q.queryExecution.executedPlan)
    assert(q.collect().map(r => (if (r.isNullAt(0)) null
      else r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((null, 1L, 99L, 99L), (0L, 10L, 0L, 27L),
        (1L, 10L, 1L, 28L), (2L, 10L, 2L, 29L)))
    // clustered (non-partitioned) layout: each era file is
    // single-valued on its key → still metadata-only
    spark.sql("CREATE TABLE g19.db.gb (p BIGINT, v BIGINT)")
    for (pv <- 0 until 3)
      spark.sql(s"INSERT INTO g19.db.gb SELECT $pv AS p, id AS v " +
        s"FROM range(${pv * 10}, ${pv * 10 + 10}, 1, 1)")
    val q2 = spark.sql(
      "SELECT p, count(*) AS n FROM g19.db.gb GROUP BY p ORDER BY p")
    assert(q2.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"), "clustered group-by lost the path")
    assert(q2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    // a file spanning several group values makes the pushdown refuse
    // (scan path, same answer)
    spark.sql("INSERT INTO g19.db.gb SELECT id % 3, id FROM " +
      "range(100, 106, 1, 1)")
    val q3 = spark.sql(
      "SELECT p, count(*) AS n FROM g19.db.gb GROUP BY p ORDER BY p")
    assert(!q3.queryExecution.executedPlan.toString
      .contains("graft-rl-agg"),
      "multi-valued file must refuse the metadata group-by")
    assert(q3.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 12L), (1L, 12L), (2L, 12L)))
  }

  test("SHOW/DESCRIBE PROCEDURES list the system inventory; a " +
      "PARTITIONED streaming sink keeps the per-value group layout") {
    root
    val shown = spark.sql("SHOW PROCEDURES IN g19.system")
      .collect().map(_.getString(3)).toSet
    assert(shown == Set("optimize", "expire_snapshots",
      "evolve_partition", "create_branch", "publish_branch",
      "tag_snapshot", "history", "dead_rows"), s"$shown")
    val desc = spark.sql("DESCRIBE PROCEDURE g19.system.optimize")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("optimize") && desc.contains("bin-pack"), desc)
    // streaming into a PARTITIONED sink: the write's clustering
    // requirement (RequiresDistributionAndOrdering) applies to epochs
    // too — the per-value file-per-group layout survives the stream,
    // so SPJ and metadata group-by work on streamed-in data
    spark.sql("CREATE TABLE g19.db.pssrc (p BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE g19.db.pssink (p BIGINT, v BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO g19.db.pssrc SELECT id % 3, id FROM " +
      "range(0, 30)")
    Scratch.scoped("graft_r19_psck") { ck =>
      val q = spark.readStream.table("g19.db.pssrc")
        .writeStream.option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g19.db.pssink")
      try q.awaitTermination() finally q.stop()
      assert(sqlRows("SELECT p, count(*) AS n FROM g19.db.pssink " +
        "GROUP BY p ORDER BY p") ==
        Seq(Seq(0L, 10L), Seq(1L, 10L), Seq(2L, 10L)))
      // one group file per partition value → 3 scan partitions, and the
      // grouped rollup above stays metadata-only on streamed data
      assert(spark.sql("SELECT * FROM g19.db.pssink")
        .rdd.getNumPartitions == 3,
        "streamed partitioned layout must stay one group per value")
    }
  }

  test("tag-vs-retention race: a tag that wins publication but lost " +
      "its manifest to a concurrent expire is retracted loudly") {
    root
    spark.sql("CREATE TABLE g19.db.tr (k BIGINT)")
    spark.sql("INSERT INTO g19.db.tr VALUES (1)") // v1
    spark.sql("INSERT INTO g19.db.tr VALUES (2)") // v2
    val d = dir("tr")
    // the racing expireSnapshots had ALREADY listed tag versions
    // (before this tag existed) and deletes v1's manifest in the
    // window after the tag's publication — simulated by removing the
    // manifest directly, which is exactly what that expire does
    Hook.setAfterTagPublish(() => {
      Hook.clearPublishHooks()
      Files.delete(d.resolve("v00001.manifest"))
    })
    val ex = try intercept[IllegalStateException] {
      Hook.tagSnapshot(d, "audit", 1L)
    } finally Hook.clearPublishHooks()
    assert(ex.getMessage.contains("tag retracted"), ex.getMessage)
    assert(!Files.exists(d.resolve("tag-audit")),
      "dangling tag must be retracted, not left pointing at an " +
        "expired version")
    // tagging a live version afterwards works normally
    Hook.tagSnapshot(d, "audit", 2L)
    assert(sqlRows("SELECT count(*) FROM g19.db.tr " +
      "VERSION AS OF 'audit'").head.head == 2L)
  }
}
