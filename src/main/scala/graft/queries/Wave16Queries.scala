package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import graft.{Conf, QuerySpec, Scratch, Tables, Views}
import graft.sources.{GraftCatalog, Sources}

/** Round-16 engine wave: the Spark 4 surfaces a 100 TB deployment
  * leans on that the registry had not yet certified — watermarked
  * streaming dedup (`dropDuplicatesWithinWatermark`), the state-store
  * READER (debugging a live pipeline's checkpoint without stopping
  * it), dynamic partition pruning (the join-driven scan eliminator),
  * cost-based join reordering off ANALYZE stats, collation-aware
  * distincts (ICU), SQL-declared UDFs (the migration path for
  * warehouse UDF libraries), and the native approx_top_k sketch.
  * The second half of the round closes the remaining connector and
  * consumer surfaces: the Apps Script prompt assembly (q373),
  * optimizer-rule composition (q374), DSv2 reported ordering (q375),
  * the custom micro-batch streaming source and exactly-once sink
  * (q376/q377), metadata columns + column pruning (q378), the
  * zero-exchange zero-sort storage-layout SMJ capstone (q379), and
  * the snapshot drift gates (q380/q381).
  * Every query keeps the registry's no-flap conventions: exact
  * integer aggregates wherever possible, IEEE-pinned expressions
  * (sqrt is correctly rounded per IEEE 754, so both engines agree
  * bit-for-bit) otherwise, and ties broken by a total order.
  */
object Wave16Queries {

  /** q359 — STREAMING dedup with `dropDuplicatesWithinWatermark`:
    * the bounded-state dedup Spark 3.5 added for exactly the 100 TB
    * ingest case where q45's plain dropDuplicates would pin one key
    * forever. Input: every event plus a deterministic duplicate echo
    * (same event_id, ts shifted +30 min — a retry landing inside the
    * 2 h dedup horizon), staged as event-time-monotone micro-batches.
    * The operator must drop every echo (its original is always within
    * the watermark delay), so the drained per-type report equals the
    * duplicate-free batch aggregate. Outputs are chosen invariant to
    * WHICH copy survives a same-batch race: count of distinct
    * event_id and of distinct users per type, never ts-derived
    * columns. State at 100 TB: one (event_id) row per event inside
    * the 2 h horizon — bounded by arrival rate, not corpus size. */
  val q359 = QuerySpec("q359_stream_dedup_watermark",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val echoed = ev.union(
        ev.withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES")))
      Scratch.scoped("graft_q359_in") { inDir =>
        StreamingQueries.stageMonotoneBatches(echoed, inDir, 3,
          col("ts"), col("event_id"))
        val stream = s.readStream.schema(echoed.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir.toString)
        val deduped = stream
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"))
        graft.streaming.StreamingOps.drainToBatch(s,
          deduped, "stream_dedup_wm").orderBy("event_type")
      }
    },
    Some(raw"""
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
FROM events GROUP BY 1 ORDER BY event_type
"""),
    serial = true)

  /** q360 — STATE-STORE READER (`spark.read.format("statestore")`,
    * the Spark 4 state data source): run a watermarked 6 h windowed
    * count to its checkpoint, then read the operator's state store
    * back as a DataFrame and report it — the "inspect a live
    * pipeline's state without stopping it" capability that turns a
    * 100 TB streaming deploy from a black box into a queryable table
    * (skew in state, watermark stalls, poison keys are all found this
    * way). In complete mode nothing is evicted, so the final state
    * version must equal the batch 6 h bucket aggregate EXACTLY —
    * the oracle certifies the state contents, not just the sink. */
  val q360 = QuerySpec("q360_state_store_read",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      Scratch.scoped("graft_q360_ckpt") { ckpt =>
        val ev = graft.streaming.StreamingOps.eventsStream(s,
          s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))
        val agg = ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val q = agg.writeStream.format("memory")
          .queryName(s"q360_${System.nanoTime()}")
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val state = s.read.format("statestore").load(ckpt.toString)
          .select(
            date_format(col("key.window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("win_start"),
            col("key.event_type").as("event_type"),
            col("value.count").as("n"))
          .orderBy("win_start", "event_type")
        // detach from the checkpoint files before they are deleted
        val rows = state.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), state.schema)
      }
    },
    Some(raw"""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
    '%Y-%m-%d %H:%M:%S') AS win_start,
  event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
"""),
    serial = true)

  /** q361 — DYNAMIC PARTITION PRUNING: the fact corpus laid out by
    * `event_type` (the natural-key layout of q288), joined to a
    * parquet dim FILTERED at runtime — the selective predicate lives
    * on the dim, so no static partition filter exists, and the engine
    * must insert a `dynamicpruningexpression` (fed by the reused
    * broadcast of the dim) to skip 3 of 5 fact partitions AT RUN
    * TIME. This is THE scan eliminator for star-schema 100 TB
    * warehouses: without it this query reads every partition of the
    * fact; with it the scan I/O is proportional to the dim
    * selectivity. Plan-asserted, with the result identical either
    * way. */
  val q361 = QuerySpec("q361_dynamic_partition_pruning",
    (s, dir) => {
      Scratch.scoped("graft_q361") { tmp =>
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(s"$tmp/fact")
        // dim: one row per event_type with a weight; only w<2 kept at
        // run time → {purchase:0, signup:1} survive
        s.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row("purchase", 0L),
          org.apache.spark.sql.Row("signup", 1L),
          org.apache.spark.sql.Row("click", 2L),
          org.apache.spark.sql.Row("view", 3L),
          org.apache.spark.sql.Row("error", 4L)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("et",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.LongType, nullable = false))))
          .write.mode("overwrite").parquet(s"$tmp/dim")
        val fact = s.read.parquet(s"$tmp/fact")
        val dim = s.read.parquet(s"$tmp/dim").filter(col("w") < 2)
        val out = fact.join(dim, fact("event_type") === dim("et"))
          .groupBy("et")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("et")
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruningexpression"),
          "join-driven scan must carry a dynamic partition pruning filter")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY 1 ORDER BY et
"""))

  /** q362 — COST-BASED JOIN REORDER: catalog tables + `ANALYZE TABLE
    * … COMPUTE STATISTICS FOR ALL COLUMNS` + `spark.sql.cbo.*` — the
    * query text joins lineitem to the BIG dim (orders) first and the
    * tiny filtered dim (nation-sized supplier slice) last, exactly
    * the shape a view-expanding BI tool emits, and the optimizer must
    * use the column stats to reorder (the selective join first) —
    * at 100 TB the difference between shuffling the full fact TWICE
    * and once. Asserted structurally: with CBO on, the DEEPEST join
    * in the optimized plan is fact⋈supplier (the selective one),
    * where the stats-less plan keeps the authored fact⋈orders first;
    * and ANALYZE row counts are visible on the table plan. Catalog
    * tables are external (LOCATION), uniquely named, and dropped in a
    * finally. */
  val q362 = QuerySpec("q362_cbo_join_reorder",
    (s, dir) => {
      val tag = s"graft_cbo_${System.nanoTime()}"
      Scratch.scoped("graft_q362") { tmp =>
        try Conf.scoped(s)("spark.sql.cbo.enabled" -> "false",
            "spark.sql.cbo.joinReorder.enabled" -> "false") {
          Tables(s, dir, "lineitem")
            .select("l_orderkey", "l_suppkey", "l_quantity")
            .write.parquet(s"$tmp/li")
          Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority")
            .write.parquet(s"$tmp/ord")
          Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
            .write.parquet(s"$tmp/sup")
          s.sql(s"CREATE TABLE ${tag}_li USING parquet LOCATION '$tmp/li'")
          s.sql(s"CREATE TABLE ${tag}_ord USING parquet LOCATION '$tmp/ord'")
          s.sql(s"CREATE TABLE ${tag}_sup USING parquet LOCATION '$tmp/sup'")
          Seq(s"${tag}_li", s"${tag}_ord", s"${tag}_sup").foreach(t =>
            s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
          val sql =
            s"""SELECT o.o_orderpriority,
               |  CAST(count(*) AS BIGINT) AS n,
               |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
               |FROM ${tag}_li l
               |JOIN ${tag}_ord o ON l.l_orderkey = o.o_orderkey
               |JOIN ${tag}_sup p ON l.l_suppkey = p.s_suppkey
               |WHERE p.s_nationkey = 3
               |GROUP BY 1 ORDER BY 1""".stripMargin
          val before = s.sql(sql).queryExecution.optimizedPlan
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
          require(s.table(s"${tag}_li").queryExecution.optimizedPlan
            .stats.rowCount.isDefined,
            "ANALYZE row count must be visible on the table plan")
          val out = s.sql(sql)
          val after = out.queryExecution.optimizedPlan
          // deepest Join (collect is pre-order, so last = innermost)
          def deepest(p: org.apache.spark.sql.catalyst.plans.logical
              .LogicalPlan): String = p.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.last.toString
          require(deepest(before).contains(s"${tag}_ord"),
            "stats-less plan should keep the authored join order")
          require(deepest(after).contains(s"${tag}_sup"),
            "CBO must reorder the selective supplier join innermost")
          val rows = out.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
        } finally {
          Seq("li", "ord", "sup").foreach(t =>
            s.sql(s"DROP TABLE IF EXISTS ${tag}_$t"))
        }
      }
    },
    Some(raw"""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier p ON l.l_suppkey = p.s_suppkey
WHERE p.s_nationkey = 3
GROUP BY 1 ORDER BY 1
"""))

  /** q363 — COLLATION-AWARE DISTINCT (ICU, Spark 4 collations): the
    * corpus-hygiene question "how many customers per segment, and how
    * many once case noise is folded" answered by the ENGINE's
    * collation machinery (`collate(c, 'UTF8_LCASE')`) instead of a
    * per-row lower() rewrite — at 100 TB collation-aware grouping
    * pushes the fold into the hash of the aggregate (no second
    * string materialized) and is the correct tool for locale-aware
    * equality. Case noise is synthesized deterministically (even
    * custkeys upper-cased), so raw ≈ 2× folded. Oracle folds with
    * lower(), which UTF8_LCASE coincides with on this ASCII domain. */
  val q363 = QuerySpec("q363_collation_distinct",
    (s, dir) => {
      val noisy = Tables(s, dir, "customer")
        .withColumn("name_noisy",
          when(col("c_custkey") % 2 === 0, upper(col("c_name")))
            .otherwise(col("c_name")))
      noisy.groupBy("c_mktsegment")
        .agg(
          countDistinct(col("name_noisy")).as("n_raw"),
          countDistinct(expr("collate(name_noisy, 'UTF8_LCASE')"))
            .as("n_folded"))
        .orderBy("c_mktsegment")
    },
    Some(raw"""
WITH noisy AS (
  SELECT c_mktsegment,
    CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) ELSE c_name END
      AS name_noisy
  FROM customer
)
SELECT c_mktsegment, CAST(count(DISTINCT name_noisy) AS BIGINT) AS n_raw,
  CAST(count(DISTINCT lower(name_noisy)) AS BIGINT) AS n_folded
FROM noisy GROUP BY 1 ORDER BY c_mktsegment
"""))

  /** q364 — SQL-DECLARED UDFs (`CREATE TEMPORARY FUNCTION … RETURN`,
    * Spark 4 SQL UDFs): the reference's Graham-number and
    * margin-of-safety ladder re-declared as a SQL function library —
    * the exact migration path for a warehouse's existing UDF estate
    * (functions stay declarative, inline into the plan, and stay
    * inside whole-stage codegen — no JVM/Python round trip). The
    * numeric domain is synthesized from lineitem the same way both
    * sides: eps = quantity cents / 100, bvps = extendedprice / 1000.
    * sqrt is IEEE-correctly-rounded in both engines, and the operand
    * order is pinned, so the doubles match bit-for-bit. */
  val q364 = QuerySpec("q364_sql_udf_valuation",
    (s, dir) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_graham(
              |  eps DOUBLE, bvps DOUBLE) RETURNS DOUBLE
              |RETURN CASE WHEN eps > 0 AND bvps > 0
              |  THEN sqrt(22.5 * eps * bvps) END""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_mos(
              |  fair DOUBLE, price DOUBLE) RETURNS DOUBLE
              |RETURN CASE WHEN fair > 0 AND price > 0
              |  THEN (fair - price) / fair END""".stripMargin)
      Tables(s, dir, "lineitem")
        .createOrReplaceTempView("graft_q364_li")
      s.sql("""SELECT verdict, CAST(count(*) AS BIGINT) AS n
              |FROM (
              |  SELECT CASE
              |      WHEN graft_mos(
              |        graft_graham(CAST(l_quantity AS DOUBLE),
              |                     l_extendedprice / 1000.0),
              |        l_extendedprice / 100.0) > 0.25 THEN 'under'
              |      WHEN graft_mos(
              |        graft_graham(CAST(l_quantity AS DOUBLE),
              |                     l_extendedprice / 1000.0),
              |        l_extendedprice / 100.0) < 0.0 THEN 'over'
              |      ELSE 'fair' END AS verdict
              |  FROM graft_q364_li)
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },
    Some(raw"""
WITH v AS (
  SELECT CASE WHEN CAST(l_quantity AS DOUBLE) > 0
      AND l_extendedprice / 1000.0 > 0
    THEN sqrt(22.5 * CAST(l_quantity AS DOUBLE)
      * (l_extendedprice / 1000.0)) END AS fair,
    l_extendedprice / 100.0 AS price
  FROM lineitem
), m AS (
  SELECT CASE WHEN fair > 0 AND price > 0
    THEN (fair - price) / fair END AS mos FROM v
)
SELECT CASE WHEN mos > 0.25 THEN 'under'
  WHEN mos < 0.0 THEN 'over' ELSE 'fair' END AS verdict,
  CAST(count(*) AS BIGINT) AS n
FROM m GROUP BY 1 ORDER BY 1
"""))

  /** q365 — approx_top_k NATIVE SKETCH: Spark 4's built-in
    * frequent-items sketch, run with capacity ≥ the key domain so the
    * estimate is EXACT and oracle-checkable (the same
    * exactness-contract device as q257's HLL and q262's Misra–Gries).
    * At 100 TB the sketch is the point: one pass, fixed memory,
    * partial-merge-safe — the engine's answer to "top sources by
    * volume" without a full groupBy shuffle. Output exploded to rows
    * and re-sorted by (count desc, item) — a total order — so tie
    * placement inside the sketch never surfaces. */
  val q365 = QuerySpec("q365_approx_topk_sketch",
    (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_q365_ev")
      s.sql("""SELECT t.item AS event_type, t.count AS n
              |FROM (SELECT approx_top_k(event_type, 5, 64) AS tk
              |      FROM graft_q365_ev) LATERAL VIEW explode(tk) AS t
              |ORDER BY n DESC, event_type""".stripMargin)
    },
    Some(raw"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1 ORDER BY n DESC, event_type
"""))

  /** q366 — DSv2 TRANSACTIONAL WRITE round-trip: lineitem's
    * (returnflag, quantity) stream written through the graft-shard
    * connector's two-phase commit (per-task staged files named by
    * attempt, job commit publishes exactly the task-committed set —
    * the protocol that makes speculative execution and task retry
    * safe at 1000 executors), then read BACK through the same
    * connector with the aggregate pushdown engaged — the write and
    * read halves of the connector certified against each other, and
    * the oracle certifies both against the original table. */
  val q366 = QuerySpec("q366_dsv2_write_roundtrip",
    (s, dir) => {
      Scratch.scoped("graft_q366") { tmp =>
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"),
            col("l_quantity").cast("long").as("x"))
          .repartition(4)
          .write.format("graft-shard").option("path", s"$tmp/shards")
          .mode("append").save()
        val out = s.read.format("graft-shard").load(s"$tmp/shards")
          .groupBy("g")
          .agg(count(lit(1)).as("n"), min("x").as("min_x"),
            max("x").as("max_x"))
          .orderBy("g")
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("PushedAggregates"),
          "read-back must engage the connector's aggregate pushdown")
        require(new java.io.File(s"$tmp/shards").listFiles()
          .forall(f => !f.getName.startsWith(".staging")),
          "job commit must leave no staging residue")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_x,
  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_x
FROM lineitem GROUP BY 1 ORDER BY g
"""))

  /** q367 — OFFSET PUSHDOWN (paged export): orders exported as ONE
    * ordered shard, then page [100, 150) requested as
    * offset(100).limit(50) — the connector accepts the offset (legal
    * exactly because one reader serves the scan in storage order;
    * multi-shard scans decline it and the plan keeps the Offset
    * node), Spark pushes the limit as offset+limit, and the reader
    * ships ONLY the 50 page rows: a cursor-paged export reads
    * O(page), not O(corpus). Plan-asserted on PushedOffset. */
  val q367 = QuerySpec("q367_offset_pushdown",
    (s, dir) => {
      Scratch.scoped("graft_q367") { tmp =>
        Tables(s, dir, "orders")
          .select(col("o_orderpriority").as("g"),
            col("o_orderkey").cast("long").as("x"))
          .orderBy("x").coalesce(1)
          .write.format("graft-shard").option("path", s"$tmp/shard")
          .mode("append").save()
        val out = s.read.format("graft-shard").load(s"$tmp/shard")
          .offset(100).limit(50)
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("PushedOffset[100]") &&
          plan.contains("PushedLimit[150]"),
          s"paged read must push offset+limit into the scan")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
SELECT o_orderpriority AS g, CAST(o_orderkey AS BIGINT) AS x
FROM orders ORDER BY x LIMIT 50 OFFSET 100
"""))

  /** q368 — STATE-METADATA READER (`spark.read.format
    * ("state-metadata")`): the checkpoint's operator inventory —
    * which stateful operators exist, under which store names, across
    * how many shuffle partitions, spanning which batch range — read
    * back as a table. The ops question it answers at 100 TB: "can I
    * change shuffle partitions / swap the store backend on THIS
    * checkpoint, and which operator is the state hog" — asked of the
    * checkpoint directly, not of tribal memory. The stream runs on a
    * child session with shuffle partitions PINNED to 4 so every
    * metadata column is deterministic. */
  val q368 = QuerySpec("q368_state_metadata",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      Scratch.scoped("graft_q368_ckpt") { ckpt =>
        val s2 = s.newSession()
        s2.conf.set("spark.sql.shuffle.partitions", "4")
        val ev = graft.streaming.StreamingOps.eventsStream(s2,
          s"$dir/{events.parquet}",
          schemaProbePath = Some(s"$dir/events.parquet"))
        val agg = ev.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        Views.scoped(s2) {
          val q = agg.writeStream.format("memory")
            .queryName(s"q368_${System.nanoTime()}")
            .outputMode("complete")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow()).start()
          try q.awaitTermination() finally q.stop()
        }
        val md = s.read.format("state-metadata").load(ckpt.toString)
          .select(col("operatorId").cast("long").as("operator_id"),
            col("operatorName").as("operator_name"),
            col("stateStoreName").as("state_store_name"),
            col("numPartitions").cast("long").as("num_partitions"),
            col("minBatchId").cast("long").as("min_batch"),
            col("maxBatchId").cast("long").as("max_batch"))
          .orderBy("operator_id", "state_store_name")
        val rows = md.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), md.schema)
      }
    },
    Some(raw"""
SELECT CAST(0 AS BIGINT) AS operator_id,
  'stateStoreSave' AS operator_name, 'default' AS state_store_name,
  CAST(4 AS BIGINT) AS num_partitions, CAST(0 AS BIGINT) AS min_batch,
  CAST(0 AS BIGINT) AS max_batch
"""),
    serial = true)

  /** q369 — JOIN-STRATEGY HINT battery: the same lineitem⋈orders
    * aggregate executed under BROADCAST, MERGE, and SHUFFLE_HASH
    * hints, each asserted to plan its named exec (broadcast-hash,
    * sort-merge, shuffled-hash) and all three required to agree —
    * the hint surface is how a 100 TB operator overrides a wrong
    * size estimate (a broadcast that would OOM, a sort-merge where
    * the build side fits), so "hint is honored" and "hint never
    * changes the answer" are both contracts worth pinning. */
  val q369 = QuerySpec("q369_join_hint_battery",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val ord = Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
      def run(hint: String, exec: String) = {
        val out = li.join(ord.hint(hint),
            li("l_orderkey") === ord("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("qty"))
          .withColumn("strategy", lit(hint))
          .select("strategy", "o_orderpriority", "n", "qty")
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains(exec),
          s"hint $hint must plan $exec")
        (rows, out.schema)
      }
      val all = Seq(
        run("broadcast", "BroadcastHashJoin"),
        run("merge", "SortMergeJoin"),
        run("shuffle_hash", "ShuffledHashJoin"))
      val schema = all.head._2
      s.createDataFrame(
        java.util.Arrays.asList(all.flatMap(_._1): _*), schema)
        .orderBy("strategy", "o_orderpriority")
    },
    Some(raw"""
WITH agg AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT s.strategy, a.o_orderpriority, a.n, a.qty
FROM agg a CROSS JOIN (SELECT unnest(
  ['broadcast', 'merge', 'shuffle_hash']) AS strategy) s
ORDER BY s.strategy, a.o_orderpriority
"""))

  /** q370 — PARAMETERIZED SQL (named parameters, Spark 4): the same
    * revenue screen templated with `:minTotal` / `:prio` markers and
    * bound through `spark.sql(text, args)` — the injection-safe
    * templating surface every multi-tenant 100 TB SQL service needs
    * (parameters are BOUND as literals by the parser, never spliced
    * into text, so a hostile value cannot change the plan shape).
    * The oracle runs the equivalent literal query. */
  val q370 = QuerySpec("q370_parameterized_sql",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_q370_ord")
      s.sql(
        """SELECT o_orderpriority,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |    AS cents
          |FROM graft_q370_ord
          |WHERE o_totalprice > :minTotal
          |  AND o_orderpriority <> :excluded
          |GROUP BY 1 ORDER BY 1""".stripMargin,
        Map[String, Any]("minTotal" -> 1000.0, "excluded" -> "3-MEDIUM"))
    },
    Some(raw"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 1000.0 AND o_orderpriority <> '3-MEDIUM'
GROUP BY 1 ORDER BY 1
"""))

  /** q371 — AQE SKEW-JOIN SPLIT: a deliberately skewed fact (≈80% of
    * lineitem lands on one synthetic key) sort-merge-joined to its key
    * dim under tiny skew thresholds on a CHILD session — the runtime
    * must detect the hot partition and SPLIT it
    * (`OptimizeSkewedJoin`, `skew=true` in the final adaptive plan)
    * instead of letting one task carry 80% of the corpus. This is the
    * AUTOMATIC counterpart of the registry's manual mitigations
    * (q61 salted agg, q69 salted join): at 100 TB the first line of
    * defense is AQE splitting; salting remains for aggregates AQE
    * can't split. Plan-asserted on the final adaptive plan. */
  val q371 = QuerySpec("q371_aqe_skew_join",
    (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE's RUNTIME broadcast conversion must be off too, or the
      // tiny dim turns the SMJ into a broadcast join before the skew
      // optimizer ever sees it
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // the downstream re-aggregation (on a key derived from k) makes
      // AQE's "no extra shuffle" cost check veto the split — force it:
      // the extra exchange is exactly what we're buying balance with
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // thresholds scale with the input (~1/256 of the fact's on-disk
      // bytes, floored for the tiny SFs): at sf0.001 this is the 8 KB
      // floor, at 100× rows it is ~4 MB — fixed tiny thresholds would
      // shred the hot partition into thousands of advisory-sized
      // pieces at scale and pay more in task overhead than the skew
      // cost (measured 64× at 100× rows before this scaling)
      val factBytes = {
        val f = new java.io.File(s"$dir/lineitem.parquet")
        if (f.isFile) f.length
        else Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).map(_.length).sum
      }
      val thresholdB = math.max(8L << 10, factBytes / 256)
      s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        thresholdB.toString)
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (thresholdB / 2).toString)
      Scratch.scoped("graft_q371") { tmp =>
        // Two probe lessons baked in: (1) a skewed REDUCER partition
        // is split at MAP-OUTPUT granularity, so a single-file scan
        // (one map task) is UNSPLITTABLE — repartition(16) gives the
        // k-shuffle 16 map chunks to cut at; (2) the md5 payload makes
        // the hot partition incompressibly heavy, so the byte
        // thresholds hold at every SF the drivers run.
        val fact = Tables(s2, dir, "lineitem")
          .select(
            when(col("l_orderkey") % 10 < 8, 0L)
              .otherwise(col("l_orderkey") % 97).as("k"),
            col("l_quantity").cast("long").as("qty"),
            md5(concat(col("l_orderkey").cast("string"), lit("-"),
              col("l_linenumber").cast("string"))).as("payload"))
          .repartition(16)
        // the dim must be an INDEPENDENT scan: OptimizeSkewedJoin
        // pattern-matches SMJ(Sort(Stage), Sort(Stage)) — an agg
        // between sort and stage (e.g. fact.distinct) vetoes the rule
        s2.range(0, 97).select(col("id").as("k"),
          concat(lit("k"), col("id").cast("string")).as("label"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/dim")
        val dim = s2.read.parquet(s"$tmp/dim")
        val out = fact.join(dim, "k")
          .groupBy("label")
          .agg(count(lit(1)).as("n"), sum("qty").as("qty"),
            // numeric payload reduction: a string max would force a
            // sort-based aggregate over the full corpus (measured as
            // the dominant cost at 100x rows); the payload still
            // rides the join shuffle, which is what the skew is about
            sum(ascii(substring(col("payload"), 1, 1)))
              .cast("long").as("cert"))
          .orderBy(col("n").desc, col("label")).limit(5)
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("skew=true"),
          "the hot key's partition must be split by OptimizeSkewedJoin")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
    ELSE l_orderkey % 97 END AS k,
    CAST(l_quantity AS BIGINT) AS qty,
    md5(CAST(l_orderkey AS VARCHAR) || '-'
      || CAST(l_linenumber AS VARCHAR)) AS payload
  FROM lineitem
), dim AS (SELECT k, 'k' || CAST(k AS VARCHAR) AS label
  FROM (SELECT unnest(range(0, 97)) AS k))
SELECT label, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(qty) AS BIGINT) AS qty,
  CAST(sum(ascii(substring(payload, 1, 1))) AS BIGINT) AS cert
FROM fact JOIN dim USING (k)
GROUP BY 1 ORDER BY n DESC, label LIMIT 5
"""))

  /** q372 — ROCKSDB STATE BACKEND in the oracle-gated registry: the
    * 6 h windowed decimal aggregate drained through
    * `RocksDBStateStoreProvider` on a child session — the provider a
    * 100 TB streaming deployment actually runs (state >> heap: spill
    * to native storage, snapshot+changelog checkpointing) — and the
    * result must be bit-identical to the batch aggregate: the
    * backend changes WHERE state lives, never what it says. The
    * suite covers RocksDB under HLL (StateBackendSpec); this pins the
    * plain-aggregate path under the driver's DuckDB gate. */
  val q372 = QuerySpec("q372_rocksdb_state_backend",
    (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      val ev = graft.streaming.StreamingOps.eventsStream(s2,
        s"$dir/{events.parquet}",
        schemaProbePath = Some(s"$dir/events.parquet"))
      val agg = ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(28,10)")), 2)
            .cast("double").as("total_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n"), col("total_value"))
      graft.streaming.StreamingOps.drainToBatch(s2, agg,
        "rocksdb_backend")
        .orderBy("win_start", "event_type")
    },
    Some(raw"""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
    '%Y-%m-%d %H:%M:%S') AS win_start,
  event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(round(sum(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
    AS total_value
FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
"""),
    serial = true)

  /** q373 — the Apps Script consumer's PROMPT ASSEMBLY, end-to-end
    * hermetic (verdict r15 #6, the last §2-adjacent reference
    * behavior): `analyze_nasdaq100_valuations_with_geminiAI.gs`
    * composes (a) the latest-file argmax over dated filenames
    * (`.gs:10-35`, the q12 shape), (b) the full valuation table, and
    * (c) the prompt's numbered analysis sections — market sentiment
    * overview, top-3 margin-of-safety "hidden gems", top-3
    * PEG-nearest-1 "growth at fair price", most-overvalued "watch
    * out" (`.gs:85-95`) — then renders Markdown to email HTML
    * (`formatMarkdownToHtml`, `.gs:141-149`: bold→<b>, ##→<h3>,
    * "- "→"• "). This query IS that assembly minus the two external
    * effects (the Gemini POST and MailApp send): one row per prompt
    * line, `md` the Markdown line and `html` its rendered form, so a
    * user of the reference reproduces the exact prompt payload from
    * the engine alone. Numeric renders are floor-ppm/cents integers
    * (floor is identical cross-engine; double→string is not), ranks
    * break ties on ticker, and every section is a TakeOrdered or a
    * 1-row aggregate over the shared persisted valuation frame — at
    * 100 TB the corpus is read once and only top-3s and counts move.
    */
  val q373 = QuerySpec("q373_gemini_prompt_assembly",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val labeled = graft.CacheRegistry.persistTracked(
        graft.Pipeline.run(
          graft.Pipeline.syntheticFundamentals(s, dir), col("p_partkey")))
      val header = Tables(s, dir, "orders")
        .agg(max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("d"))
        .select(lit(0L).as("line_no"),
          concat(lit("## AI Market Insight — nasdaq100_valuations_"),
            col("d"), lit(".csv")).as("md"))
      val sentiment = labeled.agg(
          sum(when(col("valuation") === "undervalued", 1).otherwise(0))
            .as("u"),
          sum(when(col("valuation") === "overvalued", 1).otherwise(0))
            .as("o"),
          sum(when(col("valuation") === "fair", 1).otherwise(0)).as("f"),
          sum(when(col("valuation") === "unknown", 1).otherwise(0))
            .as("k"),
          count(lit(1)).as("n"))
      val sentimentLine = sentiment.select(lit(10L).as("line_no"),
        concat(lit("**Market Sentiment:** undervalued="), col("u"),
          lit(" overvalued="), col("o"), lit(" fair="), col("f"),
          lit(" unknown="), col("k"), lit(" of "), col("n")).as("md"))
      val gemsOrder = Seq(desc("margin_of_safety"), asc("ticker"))
      val gems = labeled.where(col("margin_of_safety").isNotNull)
        .orderBy(gemsOrder: _*).limit(3)
        .withColumn("rk", row_number().over(Window.orderBy(gemsOrder: _*)))
        .select((lit(20L) + col("rk")).as("line_no"),
          concat(lit("- **"), col("ticker"), lit("** mos_ppm="),
            expr("cast(floor(margin_of_safety * 1000000) as bigint)"),
            lit(" price_cents="),
            expr("cast(floor(price * 100) as bigint)")).as("md"))
      val pegOrder = Seq(asc("peg_dist"), asc("ticker"))
      val growth = labeled.where(col("peg_ratio") > 0)
        .withColumn("peg_dist", abs(col("peg_ratio") - 1.0))
        .orderBy(pegOrder: _*).limit(3)
        .withColumn("rk", row_number().over(Window.orderBy(pegOrder: _*)))
        .select((lit(30L) + col("rk")).as("line_no"),
          concat(lit("- **"), col("ticker"), lit("** peg_ppm="),
            expr("cast(floor(peg_ratio * 1000000) as bigint)")).as("md"))
      val overOrder = Seq(desc("pct_diff"), asc("ticker"))
      val watch = labeled.where(col("valuation") === "overvalued" &&
          col("pct_diff").isNotNull)
        .orderBy(overOrder: _*).limit(3)
        .withColumn("rk", row_number().over(Window.orderBy(overOrder: _*)))
        .select((lit(40L) + col("rk")).as("line_no"),
          concat(lit("- **"), col("ticker"), lit("** pct_diff_ppm="),
            expr("cast(floor(pct_diff * 1000000) as bigint)")).as("md"))
      val advice = sentiment.select(lit(50L).as("line_no"),
        concat(lit("**Summary:** "),
          when(col("u") > col("o"), "accumulate")
            .when(col("o") > col("u"), "defensive")
            .otherwise("hold")).as("md"))
      val headers = Seq(
        (20L, "**The Hidden Gems (top margin of safety):**"),
        (30L, "**Growth at a fair price (PEG nearest 1):**"),
        (40L, "**Watch out (most overvalued):**"))
        .toDF("line_no", "md")
      header.unionByName(sentimentLine).unionByName(headers)
        .unionByName(gems).unionByName(growth).unionByName(watch)
        .unionByName(advice)
        .select(col("line_no"), col("md"),
          regexp_replace(regexp_replace(regexp_replace(col("md"),
            lit("\\*\\*(.*?)\\*\\*"), lit("<b>$1</b>")),
            lit("^## (.*)$"), lit("<h3>$1</h3>")),
            lit("^- "), lit("• ")).as("html"))
        .orderBy("line_no")
    },
    Some(Parity.valuationCtes + raw""", hdr AS (
  SELECT CAST(0 AS BIGINT) AS line_no,
    '## AI Market Insight — nasdaq100_valuations_' ||
      max(strftime(o_orderdate, '%Y-%m-%d')) || '.csv' AS md
  FROM orders
), sent AS (
  SELECT CAST(sum(CASE WHEN valuation = 'undervalued' THEN 1 ELSE 0 END)
      AS BIGINT) AS u,
    CAST(sum(CASE WHEN valuation = 'overvalued' THEN 1 ELSE 0 END)
      AS BIGINT) AS o,
    CAST(sum(CASE WHEN valuation = 'fair' THEN 1 ELSE 0 END)
      AS BIGINT) AS f,
    CAST(sum(CASE WHEN valuation = 'unknown' THEN 1 ELSE 0 END)
      AS BIGINT) AS k,
    CAST(count(*) AS BIGINT) AS n
  FROM labeled
), lines AS (
  SELECT line_no, md FROM hdr
  UNION ALL
  SELECT CAST(10 AS BIGINT),
    '**Market Sentiment:** undervalued=' || CAST(u AS VARCHAR) ||
    ' overvalued=' || CAST(o AS VARCHAR) || ' fair=' || CAST(f AS VARCHAR) ||
    ' unknown=' || CAST(k AS VARCHAR) || ' of ' || CAST(n AS VARCHAR)
  FROM sent
  UNION ALL
  SELECT CAST(20 AS BIGINT), '**The Hidden Gems (top margin of safety):**'
  UNION ALL
  SELECT CAST(30 AS BIGINT), '**Growth at a fair price (PEG nearest 1):**'
  UNION ALL
  SELECT CAST(40 AS BIGINT), '**Watch out (most overvalued):**'
  UNION ALL
  SELECT CAST(20 + rn AS BIGINT),
    '- **' || ticker || '** mos_ppm=' ||
    CAST(CAST(floor(margin_of_safety * 1000000) AS BIGINT) AS VARCHAR) ||
    ' price_cents=' || CAST(CAST(floor(price * 100) AS BIGINT) AS VARCHAR)
  FROM (SELECT *, row_number() OVER
      (ORDER BY margin_of_safety DESC, ticker) AS rn
    FROM labeled WHERE margin_of_safety IS NOT NULL) WHERE rn <= 3
  UNION ALL
  SELECT CAST(30 + rn AS BIGINT),
    '- **' || ticker || '** peg_ppm=' ||
    CAST(CAST(floor(peg_ratio * 1000000) AS BIGINT) AS VARCHAR)
  FROM (SELECT *, row_number() OVER
      (ORDER BY abs(peg_ratio - 1.0), ticker) AS rn
    FROM labeled WHERE peg_ratio > 0) WHERE rn <= 3
  UNION ALL
  SELECT CAST(40 + rn AS BIGINT),
    '- **' || ticker || '** pct_diff_ppm=' ||
    CAST(CAST(floor(pct_diff * 1000000) AS BIGINT) AS VARCHAR)
  FROM (SELECT *, row_number() OVER (ORDER BY pct_diff DESC, ticker) AS rn
    FROM labeled
    WHERE valuation = 'overvalued' AND pct_diff IS NOT NULL) WHERE rn <= 3
  UNION ALL
  SELECT CAST(50 AS BIGINT),
    '**Summary:** ' || CASE WHEN u > o THEN 'accumulate'
      WHEN o > u THEN 'defensive' ELSE 'hold' END
  FROM sent
)
SELECT line_no, md,
  regexp_replace(regexp_replace(regexp_replace(md,
    '\*\*(.*?)\*\*', '<b>\1</b>', 'g'),
    '^## (.*)$$', '<h3>\1</h3>'),
    '^- ', '• ') AS html
FROM lines ORDER BY line_no
"""))

  /** q374 — OPTIMIZER-RULE COMPOSITION under one plan (verdict r15
    * #7): [[graft.plans.FkJoinElim]] and
    * [[graft.plans.DistinctToBitmap]] each carry solo plan asserts
    * (q339, q347); rule interaction is where Catalyst rewrites
    * regress, so this query REQUIRES both to fire together. The text
    * is the machine-generated BI shape — a per-flag supplier/part
    * distinct-count rollup over lineitem JOIN orders that consumes no
    * order column — and the optimized plan must show (a) NO Join
    * (the declared l_orderkey→o_orderkey RI proves it a no-op; the
    * corpus-wide dim exchange disappears) and (b) NO Expand with the
    * bitmap aggregate present (the multi-distinct's corpus multiplier
    * replaced by two container-sparse bitmaps per flag). Three
    * conf-off controls pin each rewrite's independent contribution:
    * bitmap-off keeps the Expand (join still eliminated), fk-off
    * keeps the Join (Expand still replaced), both-off keeps both —
    * so a regression in EITHER rule, or in their composition, fails
    * this query and not just a unit spec. The oracle runs the join
    * and the true count(DISTINCT)s — equal results certify both
    * rewrites' semantics end-to-end. */
  val q374 = QuerySpec("q374_rule_composition",
    (s, dir) => {
      import org.apache.spark.sql.catalyst.plans.logical.{Expand, Join}
      val factPath = s"$dir/lineitem.parquet"
      val dimPath = s"$dir/orders.parquet"
      val fkConf = Seq("spark.graft.fk.factPath" -> factPath,
        "spark.graft.fk.factCol" -> "l_orderkey",
        "spark.graft.fk.dimPath" -> dimPath,
        "spark.graft.fk.dimCol" -> "o_orderkey")
      val BitmapKey = "spark.graft.bitmapDistinct.enabled"
      // the fk rule reads an empty setting as off
      def setAll(fk: Boolean, bitmap: Boolean): Unit = {
        fkConf.foreach { case (k, v) => s.conf.set(k, if (fk) v else "") }
        s.conf.set(BitmapKey, bitmap.toString)
      }
      Conf.scoped(s)(fkConf :+ (BitmapKey -> "true"): _*) {
        def rollup(): org.apache.spark.sql.DataFrame = {
          val li = s.read.parquet(factPath)
          val ord = s.read.parquet(dimPath)
          li.join(ord, li("l_orderkey") === ord("o_orderkey"))
            .groupBy(li("l_returnflag"))
            .agg(
              countDistinct(expr("cast(l_suppkey as bigint)"))
                .as("n_supps"),
              countDistinct(expr("cast(l_partkey as bigint)"))
                .as("n_parts"),
              count(lit(1)).as("n_lines"),
              sum(expr("cast(l_quantity as bigint)")).as("sum_qty"))
            .orderBy("l_returnflag")
        }
        def shape(df: org.apache.spark.sql.DataFrame)
            : (Boolean, Boolean, Boolean) = {
          val opt = df.queryExecution.optimizedPlan
          (opt.exists(_.isInstanceOf[Join]),
            opt.exists(_.isInstanceOf[Expand]),
            opt.toString.contains("graft_bitmap_distinct"))
        }
        val out = rollup()
        require(shape(out) == ((false, false, true)),
          s"composed rewrite shape ${shape(out)}, " +
            "expected (noJoin, noExpand, bitmap)")
        setAll(fk = true, bitmap = false)
        require(shape(rollup()) == ((false, true, false)),
          "fk-only control: join must be eliminated, Expand must stay")
        setAll(fk = false, bitmap = true)
        require(shape(rollup()) == ((true, false, true)),
          "bitmap-only control: join must stay, Expand must be replaced")
        setAll(fk = false, bitmap = false)
        require(shape(rollup()) == ((true, true, false)),
          "both-off control: plain Catalyst plan expected")
        setAll(fk = true, bitmap = true)
        out
      }
    },
    Some(raw"""
SELECT l_returnflag,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""))

  /** q375 — DSv2 REPORTED ORDERING (`SupportsReportOrdering`, the
    * sort-elimination half of storage-partitioned execution and the
    * last read-path capability the graft-shard ladder lacked): orders
    * are staged per-priority with `x` PRE-SORTED inside each key
    * directory (`repartition(g) → sortWithinPartitions(g, x)`), the
    * scan declares per-partition ordering `[g ASC, x ASC]` under
    * `option("ordered", true)` — a claim the reader VERIFIES row by
    * row, throwing on the first inversion — and the exact rank-based
    * per-priority P90 (value at row_number ceil(0.9·n) over the
    * ordered frame) plans with NO SortExec AND NO Exchange anywhere:
    * the window's clustering requirement is met by the reported
    * KeyGroupedPartitioning, its ordering requirement by the reported
    * SortOrder. At 100 TB a corpus already laid out sorted (log
    * shards, time-series blocks, LSM runs) pays ZERO sort CPU and
    * ZERO shuffle for every window/merge-join keyed its way — the
    * read-path twin of q345/q346. Two controls: `ordered=false` must
    * re-plan the SortExec (same result), and the ordering claim
    * without v2 bucketing still kills the Sort while the Exchange
    * returns — the two halves are independent and independently
    * asserted. */
  val q375 = QuerySpec("q375_dsv2_reported_ordering",
    (s, dir) => {
      import java.nio.file.Files
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.expressions.Window
      val ConfKey = "spark.sql.sources.v2.bucketing.enabled"
      Conf.scoped(s)(ConfKey -> "true") {
        val tmp = graft.FixtureCache.staged(dir, "ord_prio_sorted_csv")(
          t => Tables(s, dir, "orders")
            .select(col("o_orderpriority").as("g"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
            .repartition(col("g"))
            .sortWithinPartitions("g", "x")
            .write.mode("overwrite").partitionBy("g").csv(t.toString))
        // NOTE: no presentation orderBy here — the frame under plan
        // assert must contain ONLY the windowed computation (the final
        // 5-row orderBy is appended on the returned copy below)
        def p90(ordered: Boolean): org.apache.spark.sql.DataFrame = {
          val w = Window.partitionBy("g").orderBy("x")
          s.read.format("graft-shard-keyed")
            .option("path", tmp.toString).option("ordered", ordered)
            .load()
            .withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
            .where(col("rn") === ceil(col("n") * 0.9).cast("long"))
            .select(col("g"), col("n"), col("x").as("p90_cents"))
        }
        def shape(df: org.apache.spark.sql.DataFrame): (Boolean, Boolean) = {
          df.collect() // finalize the adaptive plan
          val plan = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          def walk(p: SparkPlan)(f: SparkPlan => Boolean): Boolean =
            p match {
              case qs: QueryStageExec => walk(qs.plan)(f)
              case _ => f(p) || p.children.exists(walk(_)(f))
            }
          (walk(plan)(_.isInstanceOf[SortExec]),
            walk(plan)(_.isInstanceOf[ShuffleExchangeLike]))
        }
        val out = p90(ordered = true)
        require(shape(out) == ((false, false)),
          s"reported ordering+partitioning left ${shape(out)} " +
            "(hasSort, hasExchange) in the plan")
        // control 1: no ordering claim → the Sort must come back
        // (clustering still satisfied: no exchange)
        require(shape(p90(ordered = false)) == ((true, false)),
          "no Sort without the ordering claim — the assert proves nothing")
        // control 2: ordering claimed but v2 bucketing off → the
        // exchange returns AND destroys the scan order, so the sort
        // must come back too (ordering alone cannot survive a shuffle)
        s.conf.set(ConfKey, "false")
        require(shape(p90(ordered = true)) == ((true, true)),
          "expected shuffle+sort with v2 bucketing disabled")
        s.conf.set(ConfKey, "true")
        val sunk = out.orderBy("g").collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
WITH v AS (
  SELECT o_orderpriority AS g,
    CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
), r AS (
  SELECT g, x,
    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM v
)
SELECT g, CAST(n AS BIGINT) AS n, x AS p90_cents
FROM r WHERE rn = CAST(ceil(n * 0.9) AS BIGINT) ORDER BY g
"""))

  /** q376 — CUSTOM MICRO-BATCH STREAMING SOURCE
    * ([[graft.sources.ReplaySource]], `format("graft-replay")`): the
    * Kafka-shaped DSv2 read surface — file-index offsets serialized
    * through the checkpoint, `SupportsAdmissionControl` rate-limiting
    * each micro-batch to `maxFilesPerBatch`, and
    * `SupportsTriggerAvailableNow` pinning the drain end — which the
    * registry's streaming tier (all built-in file sources until now)
    * did not yet exercise. Events are staged as 4 event-time-ordered
    * CSV segments (quartile time slices, so batch boundaries are
    * real time progress), replayed one file per micro-batch into a
    * windowed per-type count+revenue aggregate in complete mode, and
    * the drain is REQUIRED to have processed ≥3 separate non-empty
    * micro-batches — proving the admission control actually split
    * the backlog rather than gulping it (the bounded-memory
    * catch-up contract a 100 TB landing zone needs: state
    * checkpoints between segments, a mid-drain crash resumes from
    * the offset instead of restarting). The batch oracle aggregates
    * the same events directly — equality certifies the replay
    * delivered every row exactly once across batch boundaries. */
  /** Stage the events table as 4 event-time-quartile CSV segments in
    * `tmp/replay` — the deterministic replay fixture shared by the
    * graft-replay queries (batch boundaries are real time progress,
    * so windows/watermarks advance across micro-batches). */
  /** Stage the events corpus as 4 time-sliced replay segments in
    * `target`. Cached per corpus by the caller ([[graft.FixtureCache]])
    * — q376 and q377 share one staged layout instead of each
    * re-deriving it per run. */
  private[queries] def stageEventSegments(s: SparkSession, dir: String,
      target: java.nio.file.Path): Unit = {
    val ev = Tables(s, dir, "events").select(
      expr("unix_micros(ts)").as("ts_us"),
      col("user_id"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val Array(lo, hi) = ev.agg(min("ts_us"), max("ts_us"))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val span = math.max(1L, (hi - lo) / 4 + 1)
    for (i <- 0 until 4)
      Sources.writeSinglePart(ev.where(col("ts_us") >= lo + i * span &&
          col("ts_us") < lo + (i + 1) * span)
        .select(concat_ws(",", col("ts_us"), col("user_id"),
          col("event_type"), col("cents")).as("line")),
        target.resolve(f"seg$i%02d.csv"))(_.text(_))
  }

  val q376 = QuerySpec("q376_custom_stream_source",
    (s, dir) => {
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.streaming.Trigger
      Conf.scoped(s)("spark.sql.shuffle.partitions" -> "8") {
        val replayDir = graft.FixtureCache.staged(dir, "events_replay4")(
          t => stageEventSegments(s, dir, t))
        val agg = s.readStream.format("graft-replay")
          .option("path", replayDir.toString)
          .option("maxFilesPerBatch", 1).load()
          .withColumn("ts", expr("timestamp_micros(ts_us)"))
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        val name = s"replay_agg_${System.nanoTime()}"
        Scratch.scoped("graft_q376_ckpt") { ckpt =>
          val q = agg.writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow()).start()
          try {
            q.awaitTermination()
            val fedBatches = q.recentProgress.count(_.numInputRows > 0)
            require(fedBatches >= 3,
              s"replay drained in $fedBatches micro-batches — admission " +
                "control did not split the backlog")
            val sunk = s.table(name)
              .select(
                date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                  .as("win_start"),
                col("event_type"), col("n"), col("sum_cents"))
              .orderBy("win_start", "event_type")
            s.createDataFrame(sunk.collectAsList(), sunk.schema)
          } finally { q.stop(); StateStore.stop() }
        }
      }
    },
    Some(raw"""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
    '%Y-%m-%d %H:%M:%S') AS win_start,
  event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
"""),
    serial = true)

  /** q377 — CUSTOM STREAMING SINK (`graft-replay` write half,
    * [[graft.sources.ReplaySource]]): the Kafka-producer-shaped DSv2
    * `StreamingWrite` the connector matrix still lacked — per-task
    * dot-prefixed staged files, commit messages carrying PATHS only
    * (no data bytes through the driver), and per-epoch publication by
    * pure atomic rename to deterministic `epoch<E>-p<P>.csv` names,
    * so a crashed-and-replayed epoch re-publishes the SAME names and
    * duplicates are structurally impossible (exactly-once by naming,
    * the epoch id as the transaction id). The query runs the full
    * landing-zone relay: events staged as 4 time segments → drained
    * through the graft-replay SOURCE one file per micro-batch → a
    * stateless high-value filter → re-landed through the graft-replay
    * SINK (append mode, one epoch per batch) — stream stages
    * composing, the 100 TB hop-to-hop shape. Asserts: ≥3 fed epochs,
    * ≥3 published segments, ZERO staged residue; then the published
    * layout is batch-read and aggregated, and the oracle replays the
    * same filter+rollup straight from `events` — equality certifies
    * every row crossed both hops exactly once. ReplayWriteSpec pins
    * the idempotence and abort contracts directly. */
  val q377 = QuerySpec("q377_custom_stream_sink",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      Scratch.scoped("graft_q377_relay") { tmp =>
        Conf.scoped(s)("spark.sql.shuffle.partitions" -> "8") {
          val replayDir = graft.FixtureCache.staged(dir, "events_replay4")(
            t => stageEventSegments(s, dir, t))
          val outDir = tmp.resolve("landed")
          Scratch.scoped("graft_q377_ckpt") { ckpt =>
            val q = s.readStream.format("graft-replay")
              .option("path", replayDir.toString)
              .option("maxFilesPerBatch", 1).load()
              .where(col("cents") >= 5000L)
              .writeStream.format("graft-replay")
              .option("path", outDir.toString)
              .outputMode("append")
              .option("checkpointLocation", ckpt.toString)
              .trigger(Trigger.AvailableNow()).start()
            try {
              q.awaitTermination()
              val fedBatches = q.recentProgress.count(_.numInputRows > 0)
              require(fedBatches >= 3,
                s"relay drained in $fedBatches micro-batches")
            } finally {
              q.stop()
              StateStore.stop()
            }
          }
          val published = Option(outDir.toFile.listFiles())
            .getOrElse(Array.empty).map(_.getName)
          require(published.count(_.matches("epoch\\d+-p\\d+\\.csv")) >= 3,
            s"expected >=3 published epoch segments, got " +
              published.mkString(","))
          require(!published.exists(_.startsWith(".stage-")),
            "staged residue left behind after commit")
          val sunk = s.read
            .schema(graft.sources.ReplaySource.rowSchema)
            .csv(outDir.toString)
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
            .orderBy("event_type")
          s.createDataFrame(sunk.collectAsList(), sunk.schema)
        }
      }
    },
    Some(raw"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(c) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
) WHERE c >= 5000 GROUP BY 1 ORDER BY 1
"""),
    serial = true)

  /** q378 — DSv2 METADATA COLUMNS + COLUMN PRUNING on the keyed
    * connector (`SupportsMetadataColumns` + `SupportsPushDownRequired
    * Columns`, the last two read-path capabilities the graft-shard
    * ladder lacked): `_shard_dir` exposes file provenance as a
    * metadata column — materialized ONLY when referenced (the
    * `SELECT *`-invisible `_metadata` mechanism), so per-row lineage
    * costs nothing unless asked for — and the pruned rollup's scan is
    * REQUIRED to read `columns=[x]` alone (decoding key strings for a
    * `sum(x)` is wasted I/O at any scale; the connector also degrades
    * its KeyGroupedPartitioning claim honestly to Unknown when the
    * clustering column itself is pruned away). Asserts: the
    * provenance scan carries `_shard_dir`, the rollup scan carries
    * only `x`, a bare `SELECT *` carries exactly `[g, x]` (metadata
    * stays hidden), and the pruned total equals the per-shard sum.
    * The oracle rebuilds `_shard_dir` from the staging rule
    * (`'g=' || priority` — keys chosen with no escapable characters),
    * certifying the provenance VALUES, not just the plumbing. */
  val q378 = QuerySpec("q378_dsv2_metadata_pruning",
    (s, dir) => {
      import java.nio.file.Files
      locally {
        val tmp = graft.FixtureCache.staged(dir, "ord_prio_keyed8_csv")(
          t => Tables(s, dir, "orders")
            .select(col("o_orderpriority").as("g"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
            .repartition(8)
            .write.mode("overwrite").partitionBy("g").csv(t.toString))
        def t = s.read.format("graft-shard-keyed")
          .option("path", tmp.toString).load()
        def scanDesc(df: org.apache.spark.sql.DataFrame): String = {
          df.collect()
          df.queryExecution.executedPlan.toString
            .linesIterator.find(_.contains("BatchScan graft-shard-keyed"))
            .getOrElse("")
        }
        val prov = t.select(col("_shard_dir"), col("x"))
          .groupBy("_shard_dir")
          .agg(count(lit(1)).as("n"), sum("x").as("sum_cents"))
          .orderBy("_shard_dir")
          .select(col("_shard_dir").as("shard_dir"), col("n"),
            col("sum_cents"))
        require(scanDesc(prov).contains("columns=[_shard_dir,x]") ||
          scanDesc(prov).contains("columns=[x,_shard_dir]"),
          s"metadata column not pushed into the scan: ${scanDesc(prov)}")
        val pruned = t.agg(sum("x").as("total_cents"))
        require(scanDesc(pruned).contains("columns=[x]"),
          s"column pruning did not reach the scan: ${scanDesc(pruned)}")
        // SELECT * must NOT carry the metadata column
        require(scanDesc(t.where(col("x") >= 0)).contains("columns=[g,x]"),
          "metadata column leaked into SELECT *")
        // value gate: the pruned total equals the per-shard sum
        val total = pruned.collect().head.getLong(0)
        val parts = prov.collect()
        require(parts.map(_.getLong(2)).sum == total,
          "pruned rollup disagrees with per-shard provenance sum")
        s.createDataFrame(java.util.Arrays.asList(parts: _*), prov.schema)
      }
    },
    Some(raw"""
SELECT 'g=' || o_orderpriority AS shard_dir,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM orders GROUP BY 1 ORDER BY 1
"""))

  /** q379 — ZERO-EXCHANGE, ZERO-SORT SORT-MERGE JOIN: the capstone
    * composing q345/q346's storage-partitioned execution with q375's
    * reported ordering. Two corpora (orders split at the key-range
    * midpoint into an early and a late era) are staged in the SAME
    * `g=`-keyed layout with `x` PRE-SORTED per key; both scans report
    * `KeyGroupedPartitioning(g)` AND `[g ASC, x ASC]`, and the
    * re-crawl duplicate reconciliation — an SMJ on `(g, x)` (clustering
    * on `g` co-locates every `(g, x)` pair; the reported order is
    * exactly the SMJ's required prefix) — executes with NO
    * ShuffleExchange and NO SortExec ANYWHERE: two scans, a merge
    * join, and the per-key rollup, all riding the layout. This is
    * the LSM/log-structured merge shape at 100 TB — reconciling two
    * sorted snapshot generations pays ZERO shuffle and ZERO sort
    * CPU, just one streaming merge pass. Controls: ordering claim
    * off → SortExec returns on both sides (still no exchange);
    * v2 bucketing off → exchanges return. Broadcast is disabled so
    * SMJ is the strategy under test, never a vacuous pass. */
  val q379 = QuerySpec("q379_zero_sort_merge_join",
    (s, dir) => {
      import java.nio.file.Files
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val BucketKey = "spark.sql.sources.v2.bucketing.enabled"
      val BcastKey = "spark.sql.autoBroadcastJoinThreshold"
      // AQE re-plans tiny shuffles into broadcast joins through its OWN
      // threshold even when the static one is -1 — at lint SF that
      // turns the bucketing-off control's ShuffleExchange into a
      // BroadcastExchange and the assert reads vacuously; pin both
      val AqeBcastKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
      // join keys (g, x) ⊃ partition keys (g): equal join tuples are
      // co-located under the subset clustering, but EnsureRequirements
      // demands ALL join keys in the children's partitioning unless
      // this knob says subset co-partitioning is acceptable
      val SubsetKey = "spark.sql.requireAllClusterKeysForCoPartition"
      Conf.scoped(s)(BucketKey -> "true", BcastKey -> "-1",
          AqeBcastKey -> "-1", SubsetKey -> "false") {
        // exact CENTS join keys with PLANTED cross-snapshot duplicates
        // (every 37th early order re-appears in the late era — the
        // re-crawled-record shape): cents are near-unique, so the
        // reconciliation output stays LINEAR in the corpus (a coarse
        // bucket key was measured at 3.3x10^8 joined pairs at sf10),
        // while the planted rows guarantee non-empty output at every
        // SF (an empty join lets AQE's empty-result propagation erase
        // the very stages under assert)
        // ~10³ partition keys (k000..k996), NOT the 5-value priority
        // domain the r17 fixture used: a 5-key layout caps the
        // zero-sort merge at 5-way parallelism, so its scale ratio
        // measured the ceiling, not the merge — 997 keys let the
        // SMJ fan out with the cluster while keeping per-key dirs
        // non-trivial at every SF
        val ord = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("concat('k', lpad(cast(o_custkey % 997 as string), " +
              "3, '0'))").as("g"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
        // era split point: the integer MIDPOINT of the key range
        // (max div 2), not a count median — Spark's approxQuantile
        // returns an actual element while DuckDB's median()
        // interpolates the two middle values on even counts, an
        // unpinned cross-engine tie convention; max-div-2 is the
        // same integer arithmetic in both engines at every SF
        val median = ord.agg(max("o_orderkey")).head
          .getAs[Number](0).longValue / 2
        def stage(name: String,
            frame: org.apache.spark.sql.DataFrame): String =
          graft.FixtureCache.staged(dir, s"ord_era997_${name}_csv")(
            t => frame.select(col("g"), col("x"))
              .repartition(col("g")).sortWithinPartitions("g", "x")
              .write.mode("overwrite").partitionBy("g").csv(t.toString))
            .toString
        val early = stage("early", ord.where(col("o_orderkey") <= median))
        val late = stage("late",
          ord.where(col("o_orderkey") > median).unionByName(
            ord.where(col("o_orderkey") <= median &&
              col("o_orderkey") % 37 === 0)))
        def reconcile(ordered: Boolean): org.apache.spark.sql.DataFrame = {
          def read(p: String) = s.read.format("graft-shard-keyed")
            .option("path", p).option("ordered", ordered).load()
          val e = read(early)
          val l = read(late)
          // re-crawl reconciliation: cents values seen in BOTH eras
          // of the same priority (the dedup-across-snapshots
          // probe), rolled up per priority
          e.join(l, e("g") === l("g") && e("x") === l("x"))
            .groupBy(e("g"))
            .agg(count(lit(1)).as("n_collisions"),
              min(l("x")).as("min_price"), max(l("x")).as("max_price"))
        }
        def walk(p: SparkPlan)(f: SparkPlan => Boolean): Boolean =
          p match {
            case qs: QueryStageExec => walk(qs.plan)(f)
            case _ => f(p) || p.children.exists(walk(_)(f))
          }
        // the fired claim asserts the EXECUTED adaptive plan (collisions
        // are guaranteed non-empty by the bucket width, so AQE cannot
        // erase the stages under assert via empty-result propagation)
        val out = reconcile(ordered = true)
        out.collect()
        val finalPlan = out.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        require(!walk(finalPlan)(_.isInstanceOf[SortExec]) &&
          !walk(finalPlan)(_.isInstanceOf[ShuffleExchangeLike]),
          "zero-sort zero-exchange SMJ not achieved in the final plan")
        // the CONTROLS assert the post-EnsureRequirements initial plan
        // WITHOUT executing (queryExecution.sparkPlan is pre-preparation
        // and never carries exchanges; the un-executed AdaptiveSparkPlan
        // renders exactly the initial physical plan) — the negative
        // shapes are a planning property, so no corpus re-run is paid
        def initialStr(df: org.apache.spark.sql.DataFrame): String =
          df.queryExecution.executedPlan.toString
        val ctl1 = initialStr(reconcile(ordered = false))
        require(ctl1.contains("Sort [") && !ctl1.contains("Exchange "),
          "expected sorts (and no exchange) without the ordering claim")
        s.conf.set(BucketKey, "false")
        require(initialStr(reconcile(ordered = true))
            .contains("Exchange hashpartitioning"),
          "expected exchanges with v2 bucketing disabled")
        s.conf.set(BucketKey, "true")
        val sunk = out.orderBy("g").collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
WITH v AS (
  SELECT o_orderkey,
    'k' || lpad(CAST(o_custkey % 997 AS VARCHAR), 3, '0') AS g,
    CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
), m AS (
  SELECT max(o_orderkey) // 2 AS med FROM v
), e AS (SELECT g, x FROM v, m WHERE o_orderkey <= med),
l AS (SELECT g, x FROM v, m WHERE o_orderkey > med
      UNION ALL
      SELECT g, x FROM v, m
      WHERE o_orderkey <= med AND o_orderkey % 37 = 0)
SELECT e.g, CAST(count(*) AS BIGINT) AS n_collisions,
  CAST(min(l.x) AS BIGINT) AS min_price,
  CAST(max(l.x) AS BIGINT) AS max_price
FROM e JOIN l ON e.g = l.g AND e.x = l.x
GROUP BY e.g ORDER BY e.g
"""))

  /** q380 — CORPUS SNAPSHOT DRIFT by Jensen–Shannon divergence: the
    * "did the token mixture shift between crawls" gate every
    * training-data refresh runs before swapping in a new snapshot
    * (a JSD spike means the new crawl changed register/language/spam
    * mix and the mixture weights need re-fitting). Documents split
    * into two deterministic snapshot halves (doc_id parity); unigram
    * distributions compared by JSD = ½Σ p·ln(p/m) + ½Σ q·ln(q/m)
    * (m the midpoint — zeros handled natively, no smoothing
    * constant), with the top-10 drift-CONTRIBUTING tokens reported
    * alongside the total (per-token terms are ≥ 0, so contributions
    * rank). Float discipline: each token's term is quantized to
    * parts-per-trillion (`floor(term·1e12)`) BEFORE summation — the
    * sum is then exact integer arithmetic, order-insensitive under
    * any partitioning, and both engines compute identical terms
    * (same divisions, same ln, the q106 contract). Plan: one token
    * explode → vocabulary-bounded histogram (never a doc×doc or
    * token-pair shuffle), a 1-row totals broadcast, and a
    * rank-filtered top-k (WindowGroupLimit) — O(corpus) scan,
    * O(vocab) everything after. */
  val q380 = QuerySpec("q380_snapshot_drift_jsd",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("a"),
          explode(split(trim(regexp_replace(lower(col("text")),
            "\\s+", " ")), " ")).as("tok"))
        .where(length(col("tok")) > 0)
      val counts = toks.groupBy("tok").agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("cb"))
      val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val contrib = counts.crossJoin(broadcast(tot))
        .withColumn("p", col("ca").cast("double") / col("na"))
        .withColumn("q", col("cb").cast("double") / col("nb"))
        .withColumn("m", (col("p") + col("q")) / 2.0)
        .withColumn("term",
          when(col("ca") > 0, col("p") * log(col("p") / col("m")))
            .otherwise(0.0) +
          when(col("cb") > 0, col("q") * log(col("q") / col("m")))
            .otherwise(0.0))
        .withColumn("contrib_ppt",
          expr("cast(floor(term * 1e12) as bigint)"))
      val top = contrib
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("contrib_ppt"), col("tok"))))
        .where(col("rk") <= 10)
        .select(col("rk").cast("long").as("rk"), col("tok"),
          col("contrib_ppt"), col("ca"), col("cb"))
      val total = contrib
        .agg(expr("sum(contrib_ppt) div 2").as("jsd_ppt"))
        .crossJoin(broadcast(tot))
        .select(lit(0L).as("rk"), lit("__TOTAL__").as("tok"),
          col("jsd_ppt").as("contrib_ppt"),
          col("na").as("ca"), col("nb").as("cb"))
      total.unionByName(top).orderBy("rk")
    },
    Some(raw"""
WITH toks AS (
  SELECT doc_id % 2 = 0 AS a,
    unnest(string_split_regex(
      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
  FROM documents
), counts AS (
  SELECT tok,
    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM toks WHERE length(tok) > 0 GROUP BY tok
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM counts
), terms AS (
  SELECT tok, ca, cb,
    CAST(floor((
      (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
        * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
          / (((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
            + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) / 2.0))
        ELSE 0.0 END)
      + (CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
          / (((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
            + (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) / 2.0))
        ELSE 0.0 END)) * 1e12) AS BIGINT) AS contrib_ppt
  FROM counts CROSS JOIN tot
)
SELECT CAST(0 AS BIGINT) AS rk, '__TOTAL__' AS tok,
  CAST(sum(contrib_ppt) // 2 AS BIGINT) AS contrib_ppt,
  (SELECT na FROM tot) AS ca, (SELECT nb FROM tot) AS cb
FROM terms
UNION ALL
SELECT CAST(rk AS BIGINT), tok, contrib_ppt, ca, cb FROM (
  SELECT tok, contrib_ppt, ca, cb,
    row_number() OVER (ORDER BY contrib_ppt DESC, tok) AS rk
  FROM terms
) WHERE rk <= 10
ORDER BY rk
"""))

  /** q381 — SOURCE-MIXTURE DRIFT between snapshots (q380's
    * distribution-level companion at the DOMAIN granularity): the
    * per-source document shares of the two snapshot halves, their
    * deltas, and the chi-square homogeneity statistic — the gate a
    * mixture-weighted training pipeline runs to decide whether
    * domain weights need re-fitting after a crawl refresh (a source
    * whose share moved is exactly where DSIR/mix-to-target weights
    * go stale). Shares are exact integer ppm (`count·10⁶ div total`);
    * chi-square cell terms (o−e)²/e are quantized to ppb BEFORE
    * summation, so the statistic is exact integer arithmetic under
    * any partitioning and both engines agree bit-for-bit. The frame
    * is source-domain-bounded after one corpus pass — nothing here
    * grows with rows at 100 TB. */
  val q381 = QuerySpec("q381_mixture_drift_chi2",
    (s, dir) => {
      val cells = Tables(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("a"), col("source"))
        .groupBy("source").agg(
          sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"))
      val tot = cells.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      val scored = cells.crossJoin(broadcast(tot))
        .withColumn("share_a_ppm", expr("n_a * 1000000 div ta"))
        .withColumn("share_b_ppm", expr("n_b * 1000000 div tb"))
        .withColumn("delta_ppm",
          col("share_a_ppm") - col("share_b_ppm"))
        .withColumn("ea", expr(
          "cast(n_a + n_b as double) * cast(ta as double)" +
            " / cast(ta + tb as double)"))
        .withColumn("eb", expr(
          "cast(n_a + n_b as double) * cast(tb as double)" +
            " / cast(ta + tb as double)"))
        .withColumn("chi_ppb", expr(
          "cast(floor(((cast(n_a as double) - ea) * " +
            "(cast(n_a as double) - ea) / ea + " +
            "(cast(n_b as double) - eb) * " +
            "(cast(n_b as double) - eb) / eb) * 1e9) as bigint)"))
      val perSource = scored.select(lit(1L).as("rk"), col("source"),
        col("n_a"), col("n_b"), col("share_a_ppm"), col("share_b_ppm"),
        col("delta_ppm"), col("chi_ppb"))
      val total = scored.agg(sum("n_a").as("n_a"), sum("n_b").as("n_b"),
          sum("chi_ppb").as("chi_ppb"))
        .select(lit(0L).as("rk"), lit("__TOTAL__").as("source"),
          col("n_a"), col("n_b"),
          lit(1000000L).as("share_a_ppm"), lit(1000000L).as("share_b_ppm"),
          lit(0L).as("delta_ppm"), col("chi_ppb"))
      total.unionByName(perSource).orderBy("rk", "source")
    },
    Some(raw"""
WITH cells AS (
  SELECT source,
    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_a,
    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
      AS n_b
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
  FROM cells
), scored AS (
  SELECT source, n_a, n_b,
    CAST(n_a * 1000000 // ta AS BIGINT) AS share_a_ppm,
    CAST(n_b * 1000000 // tb AS BIGINT) AS share_b_ppm,
    CAST(n_a * 1000000 // ta - n_b * 1000000 // tb AS BIGINT)
      AS delta_ppm,
    CAST(floor((
      (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
      * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
        * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
      / (CAST(n_a + n_b AS DOUBLE) * CAST(ta AS DOUBLE)
        / CAST(ta + tb AS DOUBLE))
      + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
      * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE)
        * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
      / (CAST(n_a + n_b AS DOUBLE) * CAST(tb AS DOUBLE)
        / CAST(ta + tb AS DOUBLE))) * 1e9) AS BIGINT) AS chi_ppb
  FROM cells CROSS JOIN tot
)
SELECT CAST(0 AS BIGINT) AS rk, '__TOTAL__' AS source,
  CAST(sum(n_a) AS BIGINT) AS n_a, CAST(sum(n_b) AS BIGINT) AS n_b,
  CAST(1000000 AS BIGINT) AS share_a_ppm,
  CAST(1000000 AS BIGINT) AS share_b_ppm,
  CAST(0 AS BIGINT) AS delta_ppm,
  CAST(sum(chi_ppb) AS BIGINT) AS chi_ppb
FROM scored
UNION ALL
SELECT CAST(1 AS BIGINT), source, n_a, n_b, share_a_ppm, share_b_ppm,
  delta_ppm, chi_ppb
FROM scored
ORDER BY rk, source
"""))

  /** q382 — CLASSIFIER AGREEMENT by Cohen's kappa: before a pipeline
    * trusts a cheap quality screen at 100 TB, it measures how far the
    * screen agrees with an independent one BEYOND CHANCE — raw
    * accuracy flatters any pair of screens that both say "keep" to
    * 90% of the corpus; kappa subtracts the agreement their margins
    * alone would produce. Two deterministic screens over documents
    * (A: length ≥ 200 chars; B: ≥ 30 whitespace tokens), exact
    * integer confusion counts in one corpus pass (never a doc×doc
    * anything), then κ = (p_o − p_e)/(1 − p_e) from those integers,
    * floored to ppm — both engines compute the identical doubles from
    * identical ints. One summary row. */
  val q382 = QuerySpec("q382_screen_agreement_kappa",
    (s, dir) => {
      val flags = Tables(s, dir, "documents").select(
        when(col("n_chars") >= 200, 1L).otherwise(0L).as("a"),
        when(size(split(trim(regexp_replace(lower(col("text")),
          "\\s+", " ")), " ")) >= 30, 1L).otherwise(0L).as("b"))
      flags.agg(
          count(lit(1)).as("n"),
          sum(expr("a * b")).as("n11"),
          sum(expr("a * (1 - b)")).as("n10"),
          sum(expr("(1 - a) * b")).as("n01"),
          sum(expr("(1 - a) * (1 - b)")).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("(n11 + n00) * 1000000 div n").as("po_ppm"),
          expr("cast(floor((cast((n11 + n10) as double) * " +
            "cast((n11 + n01) as double) + " +
            "cast((n01 + n00) as double) * " +
            "cast((n10 + n00) as double)) / " +
            "(cast(n as double) * cast(n as double)) * 1e6) as bigint)")
            .as("pe_ppm"),
          expr("cast(floor((" +
            "cast(n11 + n00 as double) / cast(n as double) - " +
            "(cast(n11 + n10 as double) * cast(n11 + n01 as double) + " +
            "cast(n01 + n00 as double) * cast(n10 + n00 as double)) / " +
            "(cast(n as double) * cast(n as double))) / " +
            "(1.0 - (cast(n11 + n10 as double) * " +
            "cast(n11 + n01 as double) + " +
            "cast(n01 + n00 as double) * cast(n10 + n00 as double)) / " +
            "(cast(n as double) * cast(n as double))) * 1e6) as bigint)")
            .as("kappa_ppm"))
    },
    Some(raw"""
WITH flags AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
    CASE WHEN len(string_split_regex(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) >= 30
      THEN 1 ELSE 0 END AS b
  FROM documents
), c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(a * b) AS BIGINT) AS n11,
    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM flags
)
SELECT n, n11, n10, n01, n00,
  CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
  CAST(floor((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
    AS pe_ppm,
  CAST(floor((
    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
    - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
    / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 1e6) AS BIGINT)
    AS kappa_ppm
FROM c
"""))

  /** q383 — PER-LANGUAGE TOKEN-BUDGET table (the context-window
    * planning sheet): per language, exact document/word/char totals,
    * chars-per-word, words-per-doc, and a subword FERTILITY proxy
    * (⌈len/4⌉ fixed-chunk subwords per word — the budget arithmetic a
    * tokenizer-agnostic planner runs before committing packing
    * lengths per language; the learned-BPE fertility lives with the
    * BPE queries, this is its closed-form screen). All ratios are
    * exact integer ppm (`·10⁶ div`), so the frame is bit-stable at
    * any partitioning; one corpus pass, language-domain-bounded
    * after. */
  val q383 = QuerySpec("q383_lang_token_budget",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(trim(regexp_replace(lower(col("text")),
            "\\s+", " ")), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .select(col("lang"), col("doc_id"),
          length(col("tok")).cast("long").as("chars"),
          expr("cast(ceil(length(tok) / 4.0) as bigint)").as("subwords"))
      toks.groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum("chars").as("n_chars"),
          sum("subwords").as("n_subwords"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_chars"), col("n_subwords"),
          expr("n_chars * 1000000 div n_words").as("chars_per_word_ppm"),
          expr("n_words * 1000000 div n_docs").as("words_per_doc_ppm"),
          expr("n_subwords * 1000000 div n_words").as("fertility_ppm"))
        .orderBy("lang")
    },
    Some(raw"""
WITH toks AS (
  SELECT lang, doc_id, tok FROM (
    SELECT lang, doc_id,
      unnest(string_split_regex(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents
  ) WHERE length(tok) > 0
), w AS (
  SELECT lang, doc_id,
    CAST(length(tok) AS BIGINT) AS chars,
    CAST(ceil(length(tok) / 4.0) AS BIGINT) AS subwords
  FROM toks
)
SELECT lang,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(chars) AS BIGINT) AS n_chars,
  CAST(sum(subwords) AS BIGINT) AS n_subwords,
  CAST(sum(chars) * 1000000 // count(*) AS BIGINT) AS chars_per_word_ppm,
  CAST(count(*) * 1000000 // count(DISTINCT doc_id) AS BIGINT)
    AS words_per_doc_ppm,
  CAST(sum(subwords) * 1000000 // count(*) AS BIGINT) AS fertility_ppm
FROM w GROUP BY lang ORDER BY lang
"""))

  /** q384 — the FULL SQL DML surface against the engine's own DSv2
    * TABLE CATALOG ([[graft.sources.GraftCatalog]],
    * `SupportsRowLevelOperations`): CREATE TABLE → INSERT INTO →
    * MERGE INTO (upsert: matched rows accumulate, unmatched insert) →
    * UPDATE (reclassify whales) → DELETE (purge dust) — the complete
    * warehouse-maintenance lifecycle a user of any table format runs,
    * executed through Catalyst's RewriteMergeIntoTable/Update/Delete
    * COPY-ON-WRITE plans: each row-level statement reads the affected
    * FILE-KEYED GROUPS through the operation's scan — narrowed by
    * static manifest min/max stats and by runtime `_file` group
    * filtering — and the commit publishes a manifest replacing
    * exactly those files (untouched groups are never rewritten; scans
    * plan one partition per group; racing commits are resolved by
    * optimistic atomic-exclusive manifest publish). Found while
    * building: Spark 4's group-based rewrite ships writer rows either
    * with a leading `__row_operation` marker or, once
    * ReplaceDataProjections are planned, with exactly the data
    * columns — the writer resolves the offset from the first row's
    * arity, which GraftCatalogSpec pins. The catalog name is per-run
    * (catalog
    * instances cache their root at first use), and the oracle replays
    * the whole lifecycle relationally: seed ⟕⟖ delta with summed
    * balances, whale reclassification, dust purge. */
  val q384 = QuerySpec("q384_sql_dml_battery",
    (s, dir) => {
      // per-run catalog name: a catalog instance pins its root conf at
      // first use and is cached by name for the session's lifetime
      val cat = s"graftrl${System.nanoTime()}"
      Scratch.scoped("graft_q384_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          s.sql(s"CREATE TABLE $cat.db.balances (k BIGINT, seg STRING, " +
            "v BIGINT)")
          s.sql(s"""
            INSERT INTO $cat.db.balances
            SELECT o_custkey % 500 AS k,
              CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
                   WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
                   ELSE 'inst' END AS seg,
              sum(cast(round(o_totalprice * 100) as bigint)) AS v
            FROM ord_$cat WHERE o_orderdate < DATE'1996-01-01'
            GROUP BY 1""")
          s.sql(s"CREATE TABLE $cat.db.delta (k BIGINT, seg STRING, " +
            "v BIGINT)")
          s.sql(s"""
            INSERT INTO $cat.db.delta
            SELECT o_custkey % 500 AS k,
              CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
                   WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
                   ELSE 'inst' END AS seg,
              sum(cast(round(o_totalprice * 100) as bigint)) AS v
            FROM ord_$cat WHERE o_orderdate >= DATE'1996-01-01'
            GROUP BY 1""")
          s.sql(s"""
            MERGE INTO $cat.db.balances t USING $cat.db.delta d ON t.k = d.k
            WHEN MATCHED THEN UPDATE SET v = t.v + d.v
            WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (d.k, d.seg, d.v)
          """)
          s.sql(s"UPDATE $cat.db.balances SET seg = 'whale' " +
            "WHERE v > 300000000")
          s.sql(s"DELETE FROM $cat.db.balances WHERE v < 50000000")
          val out = s.sql(
            s"SELECT k, seg, v FROM $cat.db.balances ORDER BY k")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 500 AS k,
    CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
         WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
         ELSE 'inst' END AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), delta AS (
  SELECT o_custkey % 500 AS k,
    CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
         WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
         ELSE 'inst' END AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
), merged AS (
  SELECT COALESCE(s.k, d.k) AS k,
    COALESCE(s.seg, d.seg) AS seg,
    COALESCE(s.v, 0) + COALESCE(d.v, 0) AS v
  FROM seed s FULL OUTER JOIN delta d ON s.k = d.k
), updated AS (
  SELECT k, CASE WHEN v > 300000000 THEN 'whale' ELSE seg END AS seg, v
  FROM merged
)
SELECT CAST(k AS BIGINT) AS k, seg, CAST(v AS BIGINT) AS v
FROM updated WHERE v >= 50000000 ORDER BY k
"""))

  /** q385 — TIME TRAVEL (`VERSION AS OF`) over the DML history:
    * every [[graft.sources.GraftCatalog]] commit retains its
    * published group as an immutable snapshot, so the ENTIRE audit
    * trail of q384's lifecycle is queryable — v1 the seeded balances,
    * v2 post-MERGE, v3 post-whale-reclassification, v4 post-purge —
    * and this query reconstructs all four states in one frame (the
    * "what did the table say when the report ran" question every
    * regulated pipeline answers with time travel). The oracle replays
    * each stage relationally from the base corpus; equality across
    * ALL versions certifies that copy-on-write snapshots are
    * bit-stable history, not best-effort caches. Per-version totals
    * keep the frame small (4 rows) while still pinning every row of
    * every snapshot through the sum/count/distinct-seg algebra. */
  val q385 = QuerySpec("q385_time_travel_audit",
    (s, dir) => {
      val cat = s"graftv${System.nanoTime()}"
      Scratch.scoped("graft_q385_cat") { root =>
        Conf.scoped(s)(GraftCatalog.conf(cat, root): _*) {
          Tables(s, dir, "orders").createOrReplaceTempView(s"ord_$cat")
          def seedSql(where: String): String = s"""
            SELECT o_custkey % 500 AS k,
              CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
                   WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
                   ELSE 'inst' END AS seg,
              sum(cast(round(o_totalprice * 100) as bigint)) AS v
            FROM ord_$cat WHERE $where GROUP BY 1"""
          s.sql(s"CREATE TABLE $cat.db.bal (k BIGINT, seg STRING, v BIGINT)")
          s.sql(s"INSERT INTO $cat.db.bal " +
            seedSql("o_orderdate < DATE'1996-01-01'"))
          s.sql(s"CREATE TABLE $cat.db.d (k BIGINT, seg STRING, v BIGINT)")
          s.sql(s"INSERT INTO $cat.db.d " +
            seedSql("o_orderdate >= DATE'1996-01-01'"))
          s.sql(s"""
            MERGE INTO $cat.db.bal t USING $cat.db.d d ON t.k = d.k
            WHEN MATCHED THEN UPDATE SET v = t.v + d.v
            WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (d.k, d.seg, d.v)
          """)
          s.sql(s"UPDATE $cat.db.bal SET seg = 'whale' WHERE v > 300000000")
          s.sql(s"DELETE FROM $cat.db.bal WHERE v < 50000000")
          val out = (1 to 4).map { v =>
            s.sql(s"SELECT CAST($v AS BIGINT) AS version, " +
              "count(*) AS n_keys, sum(v) AS total_cents, " +
              "count(DISTINCT seg) AS n_segs " +
              s"FROM $cat.db.bal VERSION AS OF $v")
          }.reduce(_ unionByName _).orderBy("version")
          val sunk = out.collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH seed AS (
  SELECT o_custkey % 500 AS k,
    CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
         WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
         ELSE 'inst' END AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), delta AS (
  SELECT o_custkey % 500 AS k,
    CASE WHEN (o_custkey % 500) % 3 = 0 THEN 'retail'
         WHEN (o_custkey % 500) % 3 = 1 THEN 'pro'
         ELSE 'inst' END AS seg,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
), merged AS (
  SELECT COALESCE(s.k, d.k) AS k, COALESCE(s.seg, d.seg) AS seg,
    COALESCE(s.v, 0) + COALESCE(d.v, 0) AS v
  FROM seed s FULL OUTER JOIN delta d ON s.k = d.k
), updated AS (
  SELECT k, CASE WHEN v > 300000000 THEN 'whale' ELSE seg END AS seg, v
  FROM merged
), purged AS (
  SELECT * FROM updated WHERE v >= 50000000
)
SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(v) AS BIGINT) AS total_cents,
  CAST(count(DISTINCT seg) AS BIGINT) AS n_segs FROM seed
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
  CAST(sum(v) AS BIGINT), CAST(count(DISTINCT seg) AS BIGINT) FROM merged
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
  CAST(sum(v) AS BIGINT), CAST(count(DISTINCT seg) AS BIGINT) FROM updated
UNION ALL
SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
  CAST(sum(v) AS BIGINT), CAST(count(DISTINCT seg) AS BIGINT) FROM purged
ORDER BY version
"""))

  def all: Seq[QuerySpec] =
    Seq(q359, q360, q361, q362, q363, q364, q365, q366, q367, q368,
      q369, q370, q371, q372, q373, q374, q375, q376, q377, q378, q379,
      q380, q381, q382, q383, q384, q385)
}
