package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftagg.HllAgg
import org.apache.spark.sql.graftgen.CharNgrams
import graft.{Conf, QuerySpec, Scratch, Tables}

/** Round-14 engine-surface queries: each exercises a custom-function
  * extension point END TO END from the registry (the q228 lesson — an
  * extension no real query runs is an extension that rots):
  *
  *  - q257 drives the native [[HllAgg]] TypedImperativeAggregate (the
  *    mergeable-sketch-as-first-class-aggregate path, partial
  *    aggregation shipping 256-byte registers) and pins it to the
  *    exact q230 register-table semantics through the DuckDB oracle;
  *  - q258 drives the [[CharNgrams]] Generator (lazy UDTF — no
  *    per-document n-gram array materialization) through a trigram
  *    corpus profile with a plain-SQL oracle.
  */
object EngineQueries {

  private def h60(c: String): String =
    s"cast(conv(substring(md5($c), 1, 15), 16, 10) as bigint)"
  private def sqlH60(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 1, 15)) AS BIGINT)"

  /** q257 — the native HLL aggregate against q230's ground truth: the
    * same distinct (returnflag, orderkey) frame and the same 60-bit
    * hash go through `graft_hll` — ONE aggregate whose partial state
    * is the 256-byte register array (map-side combine ships sketches,
    * not rows) — plus the ALL row from a second pass over the frame.
    * The oracle replays q230's register-table SQL, so a driver-green
    * row certifies the custom TypedImperativeAggregate is bit-parity
    * with the declarative formulation (same buckets, same ρ, same
    * exact-bigint harmonic sum, same pinned-IEEE estimator). Exact
    * counts and err_ppm ride along as in q230. */
  val q257 = QuerySpec("q257_hll_native_agg",
    (s, dir) => {
      val keyed = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_orderkey").as("k"))
          .distinct()
          .withColumn("h", expr(h60("concat('hll|', cast(k as string))"))))
      val perG = keyed.groupBy("g")
        .agg(HllAgg.graftHll(col("h")).as("est_n"))
      val allG = keyed.agg(HllAgg.graftHll(col("h")).as("est_n"))
        .select(lit("ALL").as("g"), col("est_n"))
      val exact = keyed.groupBy("g").agg(count(lit(1)).as("exact_n"))
        .unionByName(keyed.select("k").distinct()
          .agg(count(lit(1)).as("exact_n"))
          .select(lit("ALL").as("g"), col("exact_n")))
      perG.unionByName(allG).join(exact, "g")
        .withColumn("err_ppm",
          expr("((est_n - exact_n) * 1000000) div exact_n"))
        .select("g", "est_n", "exact_n", "err_ppm")
        .orderBy("g")
    },
    Some(raw"""
WITH st AS (
  SELECT DISTINCT l_returnflag AS g, l_orderkey AS k FROM lineitem
), h AS (
  SELECT g, k, ${sqlH60("concat('hll|', CAST(k AS VARCHAR))")} AS h FROM st
), b AS (
  SELECT g, h % 256 AS bucket, h // 256 AS v FROM h
), regs AS (
  SELECT g, bucket,
    max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS reg
  FROM b GROUP BY 1, 2
), allregs AS (
  SELECT 'ALL' AS g, bucket, max(reg) AS reg FROM regs GROUP BY 2
), unioned AS (
  SELECT * FROM regs UNION ALL SELECT * FROM allregs
), est AS (
  SELECT g,
    CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
      + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s_exact
  FROM unioned GROUP BY g
), ex AS (
  SELECT g, CAST(count(*) AS BIGINT) AS exact_n FROM st GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT k) AS BIGINT) FROM st
), final AS (
  SELECT e.g AS g,
    CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 *
      9007199254740992.0 / CAST(e.s_exact AS DOUBLE)) AS BIGINT) AS est_n,
    x.exact_n AS exact_n
  FROM est e JOIN ex x ON e.g = x.g
)
SELECT g, est_n, exact_n,
  ((est_n - exact_n) * 1000000) // exact_n AS err_ppm
FROM final ORDER BY g
"""))

  /** q258 — trigram corpus profile through the lazy n-gram Generator:
    * per language, total and distinct character trigrams plus the
    * modal trigram — the cheap language-fingerprint a curation
    * pipeline keeps per shard. The generate is [[CharNgrams]] (rows
    * stream out of GenerateExec; no per-document array allocation —
    * the explode formulation would materialize ~|text| 3-char strings
    * per row BEFORE generating); everything downstream is
    * map-side-combining aggregation, and the modal pick is a rank
    * window with an adjacent rank filter (WindowGroupLimit prunes it)
    * over the per-language trigram-count frame. */
  val q258 = QuerySpec("q258_ngram_generator",
    (s, dir) => {
      val grams = Tables(s, dir, "documents")
        .select(col("lang"),
          CharNgrams.charNgrams(col("text"), 3).as("ngram"))
      val hist = graft.CacheRegistry.persistTracked(
        grams.groupBy("lang", "ngram").agg(count(lit(1)).as("cnt")))
      val tops = hist
        .withColumn("rk", row_number().over(Window.partitionBy("lang")
          .orderBy(desc("cnt"), asc("ngram"))))
        .where(col("rk") === 1)
        .select(col("lang"), col("ngram").as("top_gram"),
          col("cnt").as("top_cnt"))
      hist.groupBy("lang")
        .agg(sum("cnt").as("n_grams"), count(lit(1)).as("n_distinct"))
        .join(tops, "lang")
        .select("lang", "n_grams", "n_distinct", "top_gram", "top_cnt")
        .orderBy("lang")
    },
    Some(raw"""
WITH grams AS (
  SELECT lang, substring(text, gs, 3) AS ngram
  FROM documents,
    unnest(generate_series(1, greatest(length(text) - 2, 0))) AS u(gs)
), hist AS (
  SELECT lang, ngram, CAST(count(*) AS BIGINT) AS cnt
  FROM grams GROUP BY 1, 2
), tops AS (
  SELECT lang, ngram AS top_gram, cnt AS top_cnt,
    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram)
      AS rk
  FROM hist
)
SELECT h.lang, CAST(sum(h.cnt) AS BIGINT) AS n_grams,
  CAST(count(*) AS BIGINT) AS n_distinct, t.top_gram, t.top_cnt
FROM hist h JOIN tops t ON h.lang = t.lang AND t.rk = 1
GROUP BY h.lang, t.top_gram, t.top_cnt
ORDER BY h.lang
"""))

  /** q259 — hierarchy (bill-of-materials) rollup through Spark's
    * RECURSIVE CTE support (4.x): the part key space forms a binary
    * tree (parent = key div 2 — the synthetic stand-in for a BOM edge
    * table), and one `WITH RECURSIVE` statement descends from roots
    * 4–7 and rolls up subtree lineitem revenue — the canonical
    * hierarchy workload (org charts, BOM explosion, account trees)
    * expressed in PURE SQL on BOTH engines with near-identical text.
    * The recursion is over a TREE from fixed roots, so UNION ALL
    * multiplicity is exactly 1 per (root, node) — no path explosion
    * ever (the reason q255's cyclic-graph BFS stays on the iterative
    * operator: Spark recursion is UNION ALL-only, and UNION ALL on a
    * cyclic graph enumerates walks). Depth is log₂(maxkey) ≈ 15
    * rounds of an equi-join on the parent key; the revenue frame is
    * one map-side-combining aggregate joined once at the end. */
  val q259 = QuerySpec("q259_recursive_cte",
    (s, dir) => {
      Tables(s, dir, "part").createOrReplaceTempView("part_v")
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey div 2 AS parent
  FROM part_v WHERE p_partkey >= 2
), des (root, node) AS (
  SELECT p_partkey, p_partkey FROM part_v
  WHERE p_partkey BETWEEN 4 AND 7
  UNION ALL
  SELECT d.root, e.child FROM des d JOIN edges e ON e.parent = d.node
), rev AS (
  SELECT l_partkey AS node,
    sum(cast(round(l_extendedprice * 100) as bigint)) AS cents,
    cast(count(*) as bigint) AS n_li
  FROM lineitem_v GROUP BY 1
)
SELECT d.root, cast(count(*) as bigint) AS n_nodes,
  cast(coalesce(sum(r.cents), 0) as bigint) AS subtree_cents,
  cast(coalesce(sum(r.n_li), 0) as bigint) AS n_lineitems
FROM des d LEFT JOIN rev r ON d.node = r.node
GROUP BY d.root ORDER BY d.root
""")
    },
    Some(raw"""
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 2 AS parent
  FROM part WHERE p_partkey >= 2
), des (root, node) AS (
  SELECT p_partkey, p_partkey FROM part
  WHERE p_partkey BETWEEN 4 AND 7
  UNION ALL
  SELECT d.root, e.child FROM des d JOIN edges e ON e.parent = d.node
), rev AS (
  SELECT l_partkey AS node,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS cents,
    CAST(count(*) AS BIGINT) AS n_li
  FROM lineitem GROUP BY 1
)
SELECT d.root, CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(coalesce(sum(r.cents), 0) AS BIGINT) AS subtree_cents,
  CAST(coalesce(sum(r.n_li), 0) AS BIGINT) AS n_lineitems
FROM des d LEFT JOIN rev r ON d.node = r.node
GROUP BY d.root ORDER BY d.root
"""))

  /** q261 — hopping-window distinct cardinality through the native
    * HLL aggregate: distinct users per 6-hour window hopping every
    * 3 hours (each event lands in exactly two windows — the q184
    * hopping idiom), estimated by `graft_hll` with the exact count
    * and err_ppm riding along — the sketch × window composition a
    * metrics store runs continuously (and the batch twin of the
    * streaming drift/quota monitors). The oracle replays the
    * register tables per window. Windows are calendar-bounded
    * (≤ 2·span/hop rows out); the corpus-scale work is the ONE
    * partial-aggregating pass whose shuffle carries 256-byte
    * sketches per window, not user rows. */
  val q261 = QuerySpec("q261_hopping_hll",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("cast(floor(cast(ts as long)) as bigint) div 10800")
            .as("w0"))
        .withColumn("h", expr(h60("concat('u|', cast(user_id as string))")))
      val both = ev.select(col("h"), col("user_id"),
          (col("w0") * 10800L).as("w_start"))
        .unionByName(ev.select(col("h"), col("user_id"),
          ((col("w0") - 1L) * 10800L).as("w_start")))
      val est = both.groupBy("w_start")
        .agg(HllAgg.graftHll(col("h")).as("est_n"))
      val exact = both.groupBy("w_start")
        .agg(countDistinct("user_id").as("exact_n"))
      est.join(exact, "w_start")
        .withColumn("err_ppm",
          expr("((est_n - exact_n) * 1000000) div exact_n"))
        .select("w_start", "est_n", "exact_n", "err_ppm")
        .orderBy("w_start")
    },
    Some(raw"""
WITH ev AS (
  SELECT user_id,
    ${sqlH60("concat('u|', CAST(user_id AS VARCHAR))")} AS h,
    (CAST(floor(epoch(ts)) AS BIGINT) // 10800) AS w0
  FROM events
), both_w AS (
  SELECT h, user_id, w0 * 10800 AS w_start FROM ev
  UNION ALL
  SELECT h, user_id, (w0 - 1) * 10800 AS w_start FROM ev
), b AS (
  SELECT w_start, h % 256 AS bucket, h // 256 AS v FROM both_w
), regs AS (
  SELECT w_start, bucket,
    max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS reg
  FROM b GROUP BY 1, 2
), est AS (
  SELECT w_start,
    CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
      + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s_exact
  FROM regs GROUP BY 1
), ex AS (
  SELECT w_start, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
  FROM both_w GROUP BY 1
), final AS (
  SELECT e.w_start,
    CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 *
      9007199254740992.0 / CAST(e.s_exact AS DOUBLE)) AS BIGINT)
      AS est_n,
    x.exact_n
  FROM est e JOIN ex x ON e.w_start = x.w_start
)
SELECT w_start, est_n, exact_n,
  ((est_n - exact_n) * 1000000) // exact_n AS err_ppm
FROM final ORDER BY w_start
"""))

  /** q262 — Misra–Gries frequent items through the second native
    * aggregate ([[org.apache.spark.sql.graftagg.MisraGriesAgg]],
    * k = 64): the item stream is a deterministic triangular-skew
    * derivation (isqrt of a uniform hash — density ∝ 2i+1, so ~20
    * items genuinely exceed the N/k bar). The summary's raw counters
    * are partition-order-dependent BY NATURE, so the query outputs
    * only the summary's deterministic GUARANTEES: every item with
    * exact count > N/k must be present (in_summary), and its
    * estimate must satisfy 0 ≤ exact − est ≤ N/k (bounds_ok) — the
    * DuckDB oracle states those facts as constants (1), so a driver
    * hash match IS a machine-checked proof the guarantees held on
    * this execution; any violation (absence or bound breach) flips a
    * flag to 0/−1 and goes red. Exact counts ride along from one
    * map-side-combining pass; the summary shuffle is ≤ k−1 pairs. */
  val q262 = QuerySpec("q262_mg_heavy_hitters",
    (s, dir) => {
      import org.apache.spark.sql.graftagg.MisraGriesAgg
      val items = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "events")
          .select(expr(
            "cast(floor(sqrt(cast(pmod(" +
              h60("concat('mg|', cast(event_id as string))") +
              ", 10000) as double))) as bigint)").as("item")))
      val summary = items.agg(MisraGriesAgg.graftMg(col("item"), 64)
        .as("s"))
      val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      val n = items.agg(count(lit(1)).as("n_total"))
      exact.crossJoin(broadcast(n))
        .where(col("cnt") * 64L > col("n_total"))
        .crossJoin(broadcast(summary))
        .withColumn("est", coalesce(expr(
          "cast(try_element_at(str_to_map(s, ',', ':'), " +
            "cast(item as string)) as bigint)"), lit(-1L)))
        .withColumn("in_summary", (col("est") >= 0L).cast("long"))
        .withColumn("bounds_ok", (col("est") <= col("cnt") &&
          (col("cnt") - col("est")) * 64L <= col("n_total"))
          .cast("long"))
        .select("item", "cnt", "in_summary", "bounds_ok")
        .orderBy("item")
    },
    Some(raw"""
WITH items AS (
  SELECT CAST(floor(sqrt(CAST(
    ${sqlH60("concat('mg|', CAST(event_id AS VARCHAR))")} % 10000
    AS DOUBLE))) AS BIGINT) AS item
  FROM events
), ex AS (
  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM items)
SELECT item, cnt, CAST(1 AS BIGINT) AS in_summary,
  CAST(1 AS BIGINT) AS bounds_ok
FROM ex CROSS JOIN n WHERE cnt * 64 > n_total ORDER BY item
"""))

  /** q278 — the Spark 4 VARIANT type end to end: a nested JSON
    * document (object + sub-object + array) is built from order
    * columns, parsed into a real `VariantType` column (`parse_json` —
    * the binary variant encoding, not string re-parsing), and shredded
    * back out with typed `variant_get` paths: top-level int, double
    * (decimal-string round trip through the variant numeric tower),
    * nested object field, 0-based array index, and a missing-path
    * `try_variant_get` (must be NULL, never an error). The oracle
    * computes every shredded value DIRECTLY from the base columns, so
    * a driver match certifies the whole JSON→variant→typed-extract
    * round trip is value-exact — including the
    * shortest-repr-double→decimal→double identity on price. */
  val q278 = QuerySpec("q278_variant_shred",
    (s, dir) => {
      val j = to_json(struct(
        col("o_orderkey").as("id"),
        col("o_totalprice").as("price"),
        struct(col("o_orderpriority").as("pri"),
          col("o_orderstatus").as("st")).as("meta"),
        array(col("o_custkey"), col("o_orderkey") % 7).as("arr")))
      // balanced: to_json + parse_json + four variant_get extractions
      // are per-row heavy and sat on the one-row-group scan
      graft.QueryUtil.balanced(Tables(s, dir, "orders"))
        .select(col("o_orderkey"), parse_json(j).as("v"))
        .select(col("o_orderkey"),
          expr("variant_get(v, '$.id', 'bigint')").as("vid"),
          expr("variant_get(v, '$.price', 'double')").as("vprice"),
          expr("variant_get(v, '$.meta.pri', 'string')").as("vpri"),
          expr("variant_get(v, '$.arr[1]', 'bigint')").as("varr1"),
          expr("try_variant_get(v, '$.meta.nope', 'bigint') is null")
            .as("missing_ok"))
        .orderBy("o_orderkey")
    },
    Some(raw"""
SELECT o_orderkey, o_orderkey AS vid, o_totalprice AS vprice,
  o_orderpriority AS vpri, o_orderkey % 7 AS varr1, TRUE AS missing_ok
FROM orders ORDER BY o_orderkey
"""))

  /** q279 — the native KLL quantile aggregate
    * ([[org.apache.spark.sql.graftagg.KllAgg]], the third
    * TypedImperativeAggregate) certified from the registry. Like q262
    * (Misra–Gries), the sketch's VALUES are partition-merge-order
    * facts, so the query emits the deterministic GUARANTEES: for each
    * φ over lineitem price-cents, (a) the true rank of the sketch's
    * answer — recomputed by one exact scan — is within the sketch's
    * self-certified worst-case bound of the target rank, (b) that
    * bound is ≤ 2 % of n (k = 2048 ⇒ ≈ 0.2 % here and 1.4 % even at
    * n = 10¹², growing only logarithmically), and (c) the answer is a
    * genuine data value. One sketch pass + one certification scan —
    * the shuffle ships k·log(n/k) longs, never the column. */
  val q279 = QuerySpec("q279_kll_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.graftagg.KllAgg
      val phis = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
      val ppms = phis.map(p => math.round(p * 1e6))
      val li = Tables(s, dir, "lineitem")
        .select(expr("cast(round(l_extendedprice * 100) as bigint)")
          .as("cents"))
      val m = li
        .agg(KllAgg.graftKll(col("cents"), 2048, phis).as("s"))
        .head().getString(0)
        .split(',').map { kv =>
          val Array(a, b) = kv.split('='); (a, b.toLong)
        }.toMap
      val (n, err) = (m("n"), m("err"))
      val rankCols = ppms.map { ppm =>
        sum(when(col("cents") <= m(s"q$ppm"), 1L).otherwise(0L))
          .as(s"r$ppm")
      } ++ ppms.map { ppm =>
        max(when(col("cents") === m(s"q$ppm"), 1L).otherwise(0L))
          .as(s"d$ppm")
      }
      val rr = li.agg(rankCols.head, rankCols.tail: _*).head()
      import s.implicits._
      phis.zipWithIndex.map { case (p, i) =>
        val target = math.max(1L, math.ceil(p * n).toLong)
        (ppms(i), n, math.abs(rr.getLong(i) - target) <= err,
          err <= n / 50, rr.getLong(phis.length + i) == 1L)
      }.toDF("phi_ppm", "n", "within_bound", "bound_le_2pct",
        "is_data_value")
        .orderBy("phi_ppm")
    },
    Some(raw"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
p AS (SELECT unnest([10000, 250000, 500000, 750000, 990000]) AS phi_ppm)
SELECT CAST(phi_ppm AS BIGINT) AS phi_ppm, n.n AS n,
  TRUE AS within_bound, TRUE AS bound_le_2pct, TRUE AS is_data_value
FROM p CROSS JOIN n ORDER BY phi_ppm
"""))

  /** q280 — the Spark 4 SQL PIPE syntax surface (`FROM … |> WHERE …
    * |> AGGREGATE … |> JOIN …`) end to end: a four-stage pipe program
    * (filter → per-order aggregate → dimension join → re-aggregate →
    * having-filter → order) must produce the IDENTICAL result to the
    * classic nested-SQL formulation the DuckDB oracle runs. Pipe
    * stages lower to the same Catalyst operators as the classic
    * syntax — this query pins that equivalence through the driver
    * hash, so the pipe surface is certified, not just parsed. */
  val q280 = QuerySpec("q280_sql_pipe",
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_pipe_v")
      Tables(s, dir, "orders").createOrReplaceTempView("ord_pipe_v")
      s.sql("""
        FROM li_pipe_v
        |> WHERE l_quantity >= 5
        |> AGGREGATE sum(cast(round(l_extendedprice * 100) as bigint)) AS cents,
                     count(*) AS n_items
           GROUP BY l_orderkey
        |> JOIN ord_pipe_v ON l_orderkey = o_orderkey
        |> AGGREGATE sum(cents) AS cents, sum(n_items) AS n_items,
                     count(*) AS n_orders
           GROUP BY o_orderpriority
        |> WHERE n_orders >= 10
        |> SELECT o_orderpriority, cents, n_items, n_orders
        |> ORDER BY o_orderpriority
      """)
    },
    Some(raw"""
WITH per_order AS (
  SELECT l_orderkey,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
    count(*) AS n_items
  FROM lineitem WHERE l_quantity >= 5 GROUP BY l_orderkey
)
SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS cents,
  CAST(sum(n_items) AS BIGINT) AS n_items,
  CAST(count(*) AS BIGINT) AS n_orders
FROM per_order JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority HAVING count(*) >= 10
ORDER BY o_orderpriority
"""))

  /** q282 — DSv2 AGGREGATE PUSHDOWN
    * ([[graft.sources.ShardStatsSource]], `graft-shard`) end to end:
    * lineitem is staged as CSV telemetry shards, read back through
    * the connector, and profiled with `GROUP BY g: count/min/max` —
    * the shape the scan rewrites itself for, so each shard ships one
    * row per local group instead of its rows (the plan is
    * REQUIRED to carry the connector's PushedAggregates marker — a
    * silent pushdown regression fails the query, not just a spec).
    * Spark's planner finishes with the partial-merge (SUM of counts,
    * MIN/MAX of extremes), which is what makes the answer exact under
    * any shard split. The oracle profiles the same frame from the
    * parquet directly. Result is collected to a LocalRelation (6
    * rows) so the shard staging can be deleted eagerly. */
  val q282 = QuerySpec("q282_agg_pushdown",
    (s, dir) => {
      Scratch.scoped("graft_q282_shards") { tmp =>
        Tables(s, dir, "lineitem")
          .select(concat(col("l_returnflag"), col("l_linestatus")).as("g"),
            expr("cast(round(l_extendedprice * 100) as bigint)").as("x"))
          .repartition(8)
          .write.mode("overwrite").csv(tmp.toString)
        val out = s.read.format("graft-shard")
          .option("path", tmp.toString).load()
          .groupBy("g")
          .agg(count(lit(1)).as("n"), min("x").as("min_cents"),
            max("x").as("max_cents"))
          .orderBy("g")
        require(out.queryExecution.executedPlan.toString
          .contains("PushedAggregates"),
          "graft-shard aggregate pushdown did not engage")
        val sunk = out.collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
SELECT l_returnflag || l_linestatus AS g, CAST(count(*) AS BIGINT) AS n,
  CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS min_cents,
  CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS max_cents
FROM lineitem GROUP BY 1 ORDER BY g
"""))

  /** q285 — correlated LATERAL subquery surface: top-2 nations by
    * exact revenue cents per region, written as `JOIN LATERAL
    * (… WHERE correlated … GROUP BY … ORDER BY … LIMIT 2)` — the
    * per-row-subquery SQL shape. Spark's analyzer decorrelates the
    * lateral into a joined aggregate + per-group limit (no
    * per-region re-execution), which is exactly what makes the shape
    * survive scale; the oracle runs the IDENTICAL lateral text in
    * DuckDB, so the decorrelation is certified against a native
    * lateral executor. Exact cents keep the top-2 ordering
    * float-free; (cents DESC, n_name) is a total order. */
  val q285 = QuerySpec("q285_lateral_topk",
    (s, dir) => {
      Seq("region", "nation", "customer", "orders").foreach(t =>
        Tables(s, dir, t).createOrReplaceTempView(s"${t}_lat_v"))
      s.sql("""
        SELECT r.r_name, l.n_name, l.cents
        FROM region_lat_v r
        JOIN LATERAL (
          SELECT n.n_name,
            sum(cast(round(o.o_totalprice * 100) as bigint)) AS cents
          FROM nation_lat_v n
          JOIN customer_lat_v c ON c.c_nationkey = n.n_nationkey
          JOIN orders_lat_v o ON o.o_custkey = c.c_custkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY cents DESC, n_name LIMIT 2
        ) l
        ORDER BY r_name, cents DESC, n_name
      """)
    },
    Some(raw"""
SELECT r.r_name, l.n_name, l.cents
FROM region r
JOIN LATERAL (
  SELECT n.n_name,
    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents
  FROM nation n
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY cents DESC, n_name LIMIT 2
) l ON TRUE
ORDER BY r_name, cents DESC, n_name
"""))

  /** q289 — correlated-subquery semantics battery, one SQL text on
    * both engines: per nation, a correlated SCALAR subquery
    * (customer count), an exact above-average count via integer
    * cross-multiplication (cents·n > sum — no float average, so no
    * tie drift), correlated EXISTS, correlated NOT EXISTS, and the
    * ANSI NOT-IN NULL TRAP — `x NOT IN (set containing NULL)` is
    * never true, so the last column must be 0 for every nation; an
    * engine that "fixes" the three-valued logic fails the driver
    * hash. Decorrelation is Spark's job (RewriteCorrelatedScalarSubquery
    * etc. turn these into joins); DuckDB runs its own flattening —
    * the match certifies both land on ANSI. */
  val q289 = QuerySpec("q289_subquery_semantics",
    (s, dir) => {
      Seq("nation", "customer", "supplier", "orders").foreach(t =>
        Tables(s, dir, t).createOrReplaceTempView(s"${t}_sq_v"))
      s.sql(sqBattery("nation_sq_v", "customer_sq_v", "supplier_sq_v",
        "orders_sq_v"))
    },
    Some(sqBattery("nation", "customer", "supplier", "orders")))

  private def sqBattery(nation: String, customer: String,
      supplier: String, orders: String): String = raw"""
WITH cb AS (
  SELECT c_custkey, c_nationkey,
    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM $customer
), agg AS (
  SELECT c_nationkey, count(*) AS nc, sum(cents) AS sc
  FROM cb GROUP BY c_nationkey
)
SELECT n.n_name,
  CAST(coalesce((SELECT agg.nc FROM agg
    WHERE agg.c_nationkey = n.n_nationkey), 0) AS BIGINT) AS n_cust,
  CAST((SELECT count(*) FROM cb JOIN agg
      ON agg.c_nationkey = cb.c_nationkey
    WHERE cb.c_nationkey = n.n_nationkey
      AND cb.cents * agg.nc > agg.sc) AS BIGINT) AS n_above_avg,
  EXISTS(SELECT 1 FROM $supplier s
    WHERE s.s_nationkey = n.n_nationkey) AS has_supplier,
  CAST((SELECT count(*) FROM cb
    WHERE cb.c_nationkey = n.n_nationkey
      AND NOT EXISTS (SELECT 1 FROM $orders o
        WHERE o.o_custkey = cb.c_custkey
          AND o.o_orderpriority = '1-URGENT')) AS BIGINT)
    AS n_no_urgent,
  CAST((SELECT count(*) FROM cb
    WHERE cb.c_nationkey = n.n_nationkey
      AND cb.c_custkey NOT IN (SELECT CASE
          WHEN o.o_orderpriority = '1-URGENT' THEN o.o_custkey END
        FROM $orders o)) AS BIGINT) AS n_notin_nullset
FROM $nation n ORDER BY n_name
"""

  /** q290 — BAG (multiset) set operations: INTERSECT ALL and
    * EXCEPT ALL keep multiplicities (min / truncated difference per
    * value), unlike the DISTINCT variants q50 covers. The returned
    * counts carry the multiset identity |A| = |A ∩all B| + |A ∖all B|
    * in-row — both engines must implement real bag semantics for the
    * five counts to agree. Spark plans these as aggregate+generate
    * (sum-of-min counts), never a row-pairing join, which is the
    * scale-safe shape. */
  val q290 = QuerySpec("q290_bag_set_ops",
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_bag_v")
      s.sql(bagSetOps("li_bag_v"))
    },
    Some(bagSetOps("lineitem")))

  private def bagSetOps(lineitem: String): String = raw"""
WITH a AS (SELECT l_partkey AS k FROM $lineitem WHERE l_returnflag = 'A'),
r AS (SELECT l_partkey AS k FROM $lineitem WHERE l_returnflag = 'R')
SELECT op, CAST(n AS BIGINT) AS n FROM (
  SELECT 'a_total' AS op, count(*) AS n FROM a
  UNION ALL SELECT 'intersect_all', count(*) FROM
    (SELECT k FROM a INTERSECT ALL SELECT k FROM r)
  UNION ALL SELECT 'except_all', count(*) FROM
    (SELECT k FROM a EXCEPT ALL SELECT k FROM r)
  UNION ALL SELECT 'intersect_distinct', count(*) FROM
    (SELECT k FROM a INTERSECT SELECT k FROM r)
  UNION ALL SELECT 'except_distinct', count(*) FROM
    (SELECT k FROM a EXCEPT SELECT k FROM r)
) t ORDER BY op
"""

  /** q307 — the native bounded-heap top-k aggregate
    * ([[org.apache.spark.sql.graftagg.TopKAgg]]) end to end: top-3
    * orders by value per priority WITHOUT any Window or corpus-wide
    * Sort in the plan — partial buffers keep ≤ 3 (cents, orderkey)
    * pairs, combine map-side, and ship 3 pairs per group through the
    * shuffle; the row_number-window idiom the oracle replays must
    * instead sort every order of every priority (and a hot group
    * funnels through one task when no rank filter sits adjacent to
    * the window). Top-k under (value DESC, id ASC) is a semilattice,
    * so unlike graft_mg (q262) the output is fully deterministic
    * under any partitioning and directly driver-hashable.
    * TopKAggSpec pins partition invariance, ties, SQL registration,
    * and the no-Window plan contract. */
  val q307 = QuerySpec("q307_topk_native_agg",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"),
          expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"),
          col("o_orderkey").as("ok"))
      o.groupBy("pri")
        .agg(org.apache.spark.sql.graftagg.TopKAgg
          .graftTopK(col("cents"), col("ok"), 3).as("top3"))
        .orderBy("pri")
    },
    Some(raw"""
WITH o AS (
  SELECT o_orderpriority AS pri,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
    o_orderkey AS ok
  FROM orders
), r AS (
  SELECT pri, cents, ok,
    row_number() OVER (PARTITION BY pri ORDER BY cents DESC, ok) AS rk
  FROM o
)
SELECT pri, string_agg(concat(CAST(ok AS VARCHAR), '@',
  CAST(cents AS VARCHAR)), ',' ORDER BY rk) AS top3
FROM r WHERE rk <= 3 GROUP BY 1 ORDER BY pri
"""))

  /** q308 — the same native top-k aggregate under the STREAMING state
    * store: 6-hour windowed top-3 events by value per type, drained
    * AvailableNow through watermarked micro-batches. Because top-k is
    * merge-order independent (q307), the streamed result must equal
    * the batch computation EXACTLY — which is what the batch oracle
    * asserts — making this the strongest streaming-equivalence claim
    * in the registry (HLL/q261 relies on identical merge trees; this
    * holds for ANY micro-batch split). State per (window, type) is ≤
    * 3 pairs, serialized through the state store between batches. */
  val q308 = QuerySpec("q308_stream_topk",
    (s, dir) => graft.streaming.StreamingOps.streamTopK(s, dir)
      .orderBy("win_start", "event_type"),
    Some(raw"""
WITH w AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start, event_type,
    CAST(floor(value * 100) AS BIGINT) AS cents, event_id
  FROM events
), r AS (
  SELECT win_start, event_type, cents, event_id,
    row_number() OVER (PARTITION BY win_start, event_type
      ORDER BY cents DESC, event_id) AS rk
  FROM w
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
  string_agg(concat(CAST(event_id AS VARCHAR), '@',
    CAST(cents AS VARCHAR)), ',' ORDER BY rk) AS top3
FROM r WHERE rk <= 3
GROUP BY 1, 2 ORDER BY win_start, event_type
"""))

  /** q313 — aggregate navigation through the
    * [[graft.plans.SummaryRewrite]] optimizer rule: the query is
    * written against the RAW lineitem fact table — filter, groupBy,
    * count/sum/min/max, nothing summary-aware in the query text — and
    * the ENGINE answers it from a materialized (flag, status,
    * shipdate)-grain summary built by [[graft.operators.Summary]],
    * because the query's granularity is a coarsening of the
    * summary's and its filter references a summary grouping column
    * only. The in-query `require` proves the optimized plan scans the
    * summary path and never the fact table (the q282 pattern:
    * plan-shape claims live in the query, value claims in the
    * oracle); the DuckDB oracle computes from the RAW table, so the
    * rewrite's answer is certified equal to the full-scan answer.
    * Runs in a child session (`newSession`) so the two summary confs
    * cannot leak into any other registry query's planning.
    *
    * Determinism: l_quantity is integral-valued double (sums exact in
    * <2^53 either grouping order), min/max are data values, count is
    * exact — re-aggregation through partials is bit-equal, not just
    * close. Scale: this is the 100 TB dashboard pattern — the summary
    * is ~|flag×status×day| rows, so every covered aggregate reads
    * kilobytes instead of rescanning the fact corpus; the rule, not
    * the query author, decides eligibility. */
  val q313 = QuerySpec("q313_summary_rewrite",
    (s, dir) => {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      Scratch.scoped("graft_q313_summary") { tmp =>
        val s2 = s.newSession()
        s2.conf.set("spark.sql.shuffle.partitions",
          s.conf.get("spark.sql.shuffle.partitions"))
        s2.conf.set("spark.sql.session.timeZone",
          s.conf.get("spark.sql.session.timeZone"))
        val base = s"$dir/lineitem.parquet"
        graft.operators.Summary.build(
            s2.read.parquet(base),
            groups = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
            measures = Seq("l_quantity", "l_extendedprice"))
          .write.mode("overwrite").parquet(tmp.toString)
        s2.conf.set("spark.graft.summary.base", base)
        s2.conf.set("spark.graft.summary.path", tmp.toString)
        val out = s2.read.parquet(base)
          .where(col("l_returnflag") =!= "N")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum("l_quantity").as("qty"),
            min("l_extendedprice").as("minp"),
            max("l_extendedprice").as("maxp"))
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            col("qty").cast("long").as("sum_qty"),
            expr("cast(round(minp * 100) as bigint)").as("min_cents"),
            expr("cast(round(maxp * 100) as bigint)").as("max_cents"))
          .orderBy("l_returnflag", "l_linestatus")
        val scanned = out.queryExecution.optimizedPlan.collect {
          case l: LogicalRelation => l.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.toUri.getPath).mkString(",")
            case _ => ""
          }
        }
        require(scanned.nonEmpty &&
          scanned.forall(_.contains(tmp.getFileName.toString)),
          s"summary rewrite did not engage (scans: $scanned)")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
  CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS min_cents,
  CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS max_cents
FROM lineitem
WHERE l_returnflag <> 'N'
GROUP BY 1, 2 ORDER BY 1, 2
"""))

  /** q317 — runtime BLOOM-FILTER semi-join reduction: the selective
    * dimension predicate (p_size ≤ 3, ~6% of parts) is turned by the
    * engine into a bloom filter EVALUATED INSIDE THE FACT SCAN, so
    * non-qualifying lineitem rows die at the scan instead of riding
    * the shuffle to the join — at 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~6%
    * that can possibly match. Broadcast is disabled in the child
    * session to model the cluster case where the dimension is too
    * large to broadcast but its FILTERED key set still fits a sketch
    * — exactly the regime runtime filtering exists for. The in-query
    * `require` proves the optimized plan carries the injected
    * bloom_filter/might_contain pair (plan-shape claim in the query,
    * value claim in the oracle, the q282/q313 pattern). */
  val q317 = QuerySpec("q317_runtime_bloom_join",
    (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      s2.conf.set("spark.sql.session.timeZone",
        s.conf.get("spark.sql.session.timeZone"))
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
        "true")
      // local fixtures are far below the 10 GiB production default;
      // the threshold is a tuning knob, not a semantics switch
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      val li = Tables(s2, dir, "lineitem")
        .select(col("l_partkey"),
          expr("cast(round(l_extendedprice * 100) as bigint)")
            .as("cents"))
      val pt = Tables(s2, dir, "part").where(col("p_size") <= 3)
        .select(col("p_partkey"), col("p_size"))
      val out = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy("p_size")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("p_size")
      val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
      require(plan.contains("might_contain") ||
        plan.contains("bloomfilter"),
        "runtime bloom filter was not injected")
      out
    },
    Some(raw"""
SELECT p_size, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 3
GROUP BY 1 ORDER BY 1
"""))

  /** q321 — DSv2 LIMIT and TOP-N PUSHDOWN
    * ([[graft.sources.ShardStatsSource]] grew `SupportsPushDownLimit`
    * + `SupportsPushDownTopN` this round): orders staged as CSV
    * shards, then (a) `ORDER BY x DESC LIMIT 5` — each shard ships
    * only its local top-5 through a bounded heap (|files|·5 rows
    * cross the source boundary instead of the corpus; Spark's
    * retained global TopK finishes, so the answer is exact under any
    * shard split — partial pushdown, the q282 contract), and (b)
    * `LIMIT 1000` — each shard stops READING after 1000 lines (the
    * remainder is never parsed), certified by counting the limited
    * read. x is made UNIQUE (cents·2³⁰ + orderkey) so the top-5 row
    * SET is deterministic and oracle-comparable; both pushdowns are
    * plan-asserted via the scan's PushedTopN/PushedLimit markers. */
  val q321 = QuerySpec("q321_limit_topn_pushdown",
    (s, dir) => {
      Scratch.scoped("graft_q321_shards") { tmp =>
        Tables(s, dir, "orders")
          .select(col("o_orderpriority").as("g"),
            (expr("cast(round(o_totalprice * 100) as bigint)") *
              lit(1073741824L) + col("o_orderkey")).as("x"))
          // 32 shards: the staging write AND the per-shard readers
          // parallelize across the full local[32] (8 shards left 3/4
          // of the box idle — measured 39.5 s -> staging-bound at sf10)
          .repartition(32)
          .write.mode("overwrite").csv(tmp.toString)
        val shard = s.read.format("graft-shard")
          .option("path", tmp.toString).load()
        val top = shard.orderBy(desc("x")).limit(5)
          .select(lit("top").as("kind"), col("g"), col("x"))
        require(top.queryExecution.executedPlan.toString
          .contains("PushedTopN"),
          "graft-shard top-n pushdown did not engage")
        val limited = shard.limit(1000)
          .agg(count(lit(1)).as("c"))
          .select(lit("limit_count").as("kind"), lit("").as("g"),
            col("c").as("x"))
        require(limited.queryExecution.executedPlan.toString
          .contains("PushedLimit"),
          "graft-shard limit pushdown did not engage")
        val sunk = top.unionByName(limited).orderBy("kind", "x").collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), top.schema)
      }
    },
    Some(raw"""
WITH o AS (
  SELECT o_orderpriority AS g,
    CAST(round(o_totalprice * 100) AS BIGINT) * 1073741824 + o_orderkey
      AS x
  FROM orders
)
SELECT * FROM (
  SELECT 'top' AS kind, g, x FROM o ORDER BY x DESC LIMIT 5
)
UNION ALL
SELECT 'limit_count', '',
  (SELECT count(*) FROM (SELECT * FROM o LIMIT 1000) t)
ORDER BY kind, x
"""))

  /** q322 — uniqueness-aware DISTINCT ELIMINATION through the
    * [[graft.plans.UniqueKeyDistinctElim]] optimizer rule: the query
    * text is a plain `SELECT DISTINCT o_orderkey, … FROM orders WHERE
    * …` — nothing constraint-aware in it — and the ENGINE, told via
    * session conf that o_orderkey is a unique key of the orders path,
    * proves the DISTINCT a no-op and deletes it: the optimized plan
    * is REQUIRED to contain no Aggregate, so the corpus-wide Exchange
    * + two-phase HashAggregate a DISTINCT costs on a 10⁹-row fact
    * table never happens. The oracle runs the DISTINCT for real —
    * equal results certify the functional-dependency reasoning, not
    * just the plan shape. */
  val q322 = QuerySpec("q322_distinct_elim",
    (s, dir) => {
      val base = s"$dir/orders.parquet"
      Conf.scoped(s)("spark.graft.unique.path" -> base,
          "spark.graft.unique.cols" -> "o_orderkey") {
        val out = s.read.parquet(base)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_custkey"))
          .distinct()
          .orderBy("o_orderkey")
        val optimized = out.queryExecution.optimizedPlan
        require(!optimized.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst
            .plans.logical.Aggregate]),
          "unique-key distinct elimination did not engage")
        // negative control: without the key column in the projection
        // the rule must NOT fire (duplicates are possible)
        val control = s.read.parquet(base)
          .select(col("o_orderpriority")).distinct()
        require(control.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst
            .plans.logical.Aggregate]),
          "distinct elimination fired without the unique key — unsound")
        out
      }
    },
    Some(raw"""
SELECT DISTINCT o_orderkey, o_orderpriority, o_custkey
FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY o_orderkey
"""))

  /** q328 — DSv2 FILTER + COLUMN-PRUNING pushdown (the remaining two
    * read-path capabilities of [[graft.sources.ShardStatsSource]],
    * added this round): (a) a filtered single-column scan — the g
    * equality and x range predicates are evaluated AT PARSE TIME
    * inside the readers (rejected lines never become rows), and
    * because pushed V2 filters are trusted, Spark prunes the read
    * schema to the one projected column; the plan is REQUIRED to
    * carry both the PushedFilters and the ReadSchema[x] markers.
    * (b) the same filters COMPOSED with aggregate pushdown — each
    * shard ships one filtered row per local group. The oracle replays
    * both parts from the base parquet. */
  val q328 = QuerySpec("q328_filter_prune_pushdown",
    (s, dir) => {
      Scratch.scoped("graft_q328_shards") { tmp =>
        Tables(s, dir, "orders")
          .select(col("o_orderpriority").as("g"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
          .repartition(32)
          .write.mode("overwrite").csv(tmp.toString)
        val shard = s.read.format("graft-shard")
          .option("path", tmp.toString).load()
        // (a) filtered, pruned row scan (sum declines agg pushdown,
        // so the scan serves rows — filtered and single-column)
        val rows = shard
          .where(col("g") === "1-URGENT" && col("x") > 15000000L)
          .agg(count(lit(1)).as("n"), sum("x").as("sum_x"))
          .select(lit("rows_urgent_gt").as("part"), lit("").as("g"),
            col("n"), col("sum_x"))
        val rowsPlan = rows.queryExecution.executedPlan.toString
        require(rowsPlan.contains("PushedFilters"),
          "graft-shard filter pushdown did not engage")
        require(rowsPlan.contains("ReadSchema[x]"),
          "graft-shard column pruning did not engage")
        // (b) filters composed under aggregate pushdown
        val agg = shard.where(col("x") <= 10000000L)
          .groupBy("g").agg(count(lit(1)).as("n"))
          .select(lit("agg_le").as("part"), col("g"), col("n"),
            lit(null).cast("long").as("sum_x"))
        val aggPlan = agg.queryExecution.executedPlan.toString
        require(aggPlan.contains("PushedAggregates") &&
          aggPlan.contains("PushedFilters"),
          "filtered aggregate pushdown did not engage")
        val sunk = rows.unionByName(agg).orderBy("part", "g").collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), rows.schema)
      }
    },
    Some(raw"""
WITH o AS (
  SELECT o_orderpriority AS g,
    CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
)
SELECT 'rows_urgent_gt' AS part, '' AS g,
  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sum_x
FROM o WHERE g = '1-URGENT' AND x > 15000000
UNION ALL
SELECT 'agg_le', g, CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM o WHERE x <= 10000000 GROUP BY g
ORDER BY part, g
"""))

  /** q332 — DSv2 RUNTIME FILTERING (`SupportsRuntimeFiltering` — the
    * dynamic-partition-pruning analog for connector scans): orders
    * staged as shards keyed by priority, joined to the FILE-BACKED
    * nation-sized dimension of qualifying priorities (urgent+high).
    * Spark executes the dim side first and hands the OBSERVED join
    * keys back into the scan as In('g', …) — fact lines outside the
    * key set die at parse time, before the probe side materializes a
    * single Spark row. The plan is REQUIRED to carry the
    * DynamicPruning subquery (a filtered LocalRelation dim would
    * constant-fold and never trigger the rule — the dim is staged as
    * parquet for exactly that reason). The oracle replays the join
    * from the base table. */
  val q332 = QuerySpec("q332_runtime_filtering",
    (s, dir) => {
      Scratch.scoped("graft_q332_shards") { tmp =>
        Scratch.scoped("graft_q332_dim") { dimTmp =>
          val orders = Tables(s, dir, "orders")
          orders.select(col("o_orderpriority").as("g"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
            .repartition(32)
            .write.mode("overwrite").csv(tmp.toString)
          // dim: one row per priority with a rank column to filter on
          orders.select(col("o_orderpriority").as("g")).distinct()
            .withColumn("rank",
              expr("cast(substring(g, 1, 1) as int)"))
            .write.mode("overwrite").parquet(dimTmp.toString)
          val fact = s.read.format("graft-shard")
            .option("path", tmp.toString).load()
          val dim = s.read.parquet(dimTmp.toString)
            .where(col("rank") <= 2) // 1-URGENT, 2-HIGH
          val out = fact.join(dim.select("g"), "g")
            .groupBy("g")
            .agg(count(lit(1)).as("n"), sum("x").as("sum_cents"))
            .orderBy("g")
          val sunk = out.collect()
          require(out.queryExecution.executedPlan.toString.toLowerCase
            .contains("dynamicpruning"),
            "runtime filter was not planned into the v2 scan")
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH o AS (
  SELECT o_orderpriority AS g,
    CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
), dim AS (
  SELECT DISTINCT o_orderpriority AS g FROM orders
  WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2
)
SELECT o.g, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(o.x) AS BIGINT) AS sum_cents
FROM o JOIN dim ON o.g = dim.g
GROUP BY o.g ORDER BY o.g
"""))

  /** q333 — HLL SET ALGEBRA: the audience-overlap computation every
    * sketch warehouse runs — |A|, |B|, |A∪B| from three native
    * [[HllAgg]] aggregates (union is the sketch's own merge: the
    * A∪B estimate aggregates the concatenated key stream, which ORs
    * registers), |A∩B| by inclusion–exclusion of the three estimates
    * (pure integer arithmetic on already-pinned longs), and the
    * Jaccard estimate against the EXACT values with signed err ppm.
    * A = users who viewed, B = users who purchased. The oracle
    * replays the q230/q257 register-table math for all three sets —
    * a green row certifies the sketch algebra end to end, not just
    * single-set estimation. */
  val q333 = QuerySpec("q333_hll_set_algebra",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"))
      def keyed(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id").as("k")).distinct()
        .withColumn("h", expr(h60("concat('hll|', cast(k as string))")))
      val a = graft.CacheRegistry.persistTracked(keyed("view"))
      val b = graft.CacheRegistry.persistTracked(keyed("purchase"))
      val u = a.unionByName(b).distinct()
      def est(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(HllAgg.graftHll(col("h")).as(s"est_$name"))
      def exact(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as(s"ex_$name"))
      val one = est(a, "a").crossJoin(est(b, "b")).crossJoin(est(u, "u"))
        .crossJoin(exact(a, "a")).crossJoin(exact(b, "b"))
        .crossJoin(exact(u, "u"))
        .withColumn("est_i", col("est_a") + col("est_b") - col("est_u"))
        .withColumn("ex_i", col("ex_a") + col("ex_b") - col("ex_u"))
      def row(m: String, estC: String, exC: String) =
        one.select(lit(m).as("measure"), col(estC).as("est"),
          col(exC).as("exact"),
          expr(s"(($estC - $exC) * 1000000) div $exC").as("err_ppm"))
      row("a_view_users", "est_a", "ex_a")
        .unionByName(row("b_purchase_users", "est_b", "ex_b"))
        .unionByName(row("union", "est_u", "ex_u"))
        .unionByName(row("intersection", "est_i", "ex_i"))
        .unionByName(one.select(lit("jaccard_ppm").as("measure"),
          expr("est_i * 1000000 div est_u").as("est"),
          expr("ex_i * 1000000 div ex_u").as("exact"),
          expr("(est_i * 1000000 div est_u)" +
            " - (ex_i * 1000000 div ex_u)").as("err_ppm")))
        .orderBy("measure")
    },
    Some(raw"""
WITH av AS (
  SELECT DISTINCT user_id AS k FROM events WHERE event_type = 'view'
), bv AS (
  SELECT DISTINCT user_id AS k FROM events WHERE event_type = 'purchase'
), uv AS (SELECT k FROM av UNION SELECT k FROM bv),
ah AS (SELECT k, ${sqlH60("concat('hll|', CAST(k AS VARCHAR))")} AS h FROM av),
bh AS (SELECT k, ${sqlH60("concat('hll|', CAST(k AS VARCHAR))")} AS h FROM bv),
uh AS (SELECT k, ${sqlH60("concat('hll|', CAST(k AS VARCHAR))")} AS h FROM uv),
regs AS (
  SELECT 'a' AS s, h % 256 AS bucket,
    max(CASE WHEN h // 256 = 0 THEN 53
      ELSE 53 - length(bin(h // 256)) END) AS reg
  FROM ah GROUP BY 2
  UNION ALL
  SELECT 'b', h % 256,
    max(CASE WHEN h // 256 = 0 THEN 53
      ELSE 53 - length(bin(h // 256)) END)
  FROM bh GROUP BY 2
  UNION ALL
  SELECT 'u', h % 256,
    max(CASE WHEN h // 256 = 0 THEN 53
      ELSE 53 - length(bin(h // 256)) END)
  FROM uh GROUP BY 2
), est AS (
  SELECT s,
    CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 *
      9007199254740992.0 / CAST(
        CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
        + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992
      AS DOUBLE)) AS BIGINT) AS est_n
  FROM regs GROUP BY s
), w AS (
  SELECT
    (SELECT est_n FROM est WHERE s = 'a') AS est_a,
    (SELECT est_n FROM est WHERE s = 'b') AS est_b,
    (SELECT est_n FROM est WHERE s = 'u') AS est_u,
    (SELECT CAST(count(*) AS BIGINT) FROM av) AS ex_a,
    (SELECT CAST(count(*) AS BIGINT) FROM bv) AS ex_b,
    (SELECT CAST(count(*) AS BIGINT) FROM uv) AS ex_u
), d AS (
  SELECT *, est_a + est_b - est_u AS est_i, ex_a + ex_b - ex_u AS ex_i
  FROM w
)
SELECT * FROM (
  SELECT 'a_view_users' AS measure, est_a AS est, ex_a AS exact,
    CAST((est_a - ex_a) * 1000000 // ex_a AS BIGINT) AS err_ppm FROM d
  UNION ALL
  SELECT 'b_purchase_users', est_b, ex_b,
    CAST((est_b - ex_b) * 1000000 // ex_b AS BIGINT) FROM d
  UNION ALL
  SELECT 'union', est_u, ex_u,
    CAST((est_u - ex_u) * 1000000 // ex_u AS BIGINT) FROM d
  UNION ALL
  SELECT 'intersection', est_i, ex_i,
    CAST((est_i - ex_i) * 1000000 // ex_i AS BIGINT) FROM d
  UNION ALL
  SELECT 'jaccard_ppm', CAST(est_i * 1000000 // est_u AS BIGINT),
    CAST(ex_i * 1000000 // ex_u AS BIGINT),
    CAST(est_i * 1000000 // est_u - ex_i * 1000000 // ex_u AS BIGINT)
  FROM d
) ORDER BY measure
"""))

  /** q334 — the native EXACT-DISTINCT BITMAP aggregate
    * ([[org.apache.spark.sql.graftagg.BitmapDistinctAgg]], new this
    * round) from the registry: distinct users per event type and the
    * ALL row, each ONE aggregate whose partial state is a trimmed
    * dense bitset (set-bit / OR / popcount — commutative, associative,
    * idempotent, so the result is exact and identical under any
    * partitioning). Versus `count(distinct)`: no Expand when mixed
    * with plain counts (the q62 lesson), and partials ship ~1 bit per
    * member instead of a 64-bit row per distinct key. The oracle is
    * plain COUNT(DISTINCT …) — equality certifies exactness, not an
    * error band. */
  val q334 = QuerySpec("q334_bitmap_distinct",
    (s, dir) => {
      import org.apache.spark.sql.graftagg.BitmapDistinctAgg.graftBitmapDistinct
      val ev = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "events").select(col("event_type"), col("user_id")))
      val per = ev.groupBy("event_type")
        .agg(graftBitmapDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
      val all = ev.agg(graftBitmapDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(lit("ALL").as("event_type"), col("n_users"),
          col("n_events"))
      per.unionByName(all).orderBy("event_type")
    },
    Some(raw"""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT),
  CAST(count(*) AS BIGINT)
FROM events
ORDER BY event_type
"""))

  /** q335 — the exact-distinct bitmap aggregate under the STREAMING
    * state store: 6-hour windowed distinct users per type, drained
    * AvailableNow through watermarked micro-batches. Because the
    * bitmap algebra is a SEMILATTICE (OR is commutative, associative,
    * idempotent), the streamed result equals the batch count(distinct)
    * EXACTLY under ANY micro-batch split — a strictly stronger claim
    * than the streaming-HLL equivalence (identical merge trees) and
    * the exact-cardinality twin of q308's top-k contract. State per
    * (window, type) is the trimmed chunk set, serialized through the
    * state store between batches. */
  val q335 = QuerySpec("q335_stream_bitmap_distinct",
    (s, dir) => graft.streaming.StreamingOps.streamBitmapDistinct(s, dir)
      .orderBy("win_start", "event_type"),
    Some(raw"""
SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
    '%Y-%m-%d %H:%M:%S') AS win_start,
  event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
"""))

  /** q339 — referential-integrity JOIN ELIMINATION through the
    * [[graft.plans.FkJoinElim]] optimizer rule: the query text joins
    * lineitem to orders and consumes ONLY lineitem columns (plus the
    * dim key itself, which the rule rebinds to the fact's fk — the
    * alias-substitution path) — the machine-generated shape every
    * view-expanding BI layer emits — and the ENGINE, told via session
    * conf that l_orderkey REFERENCES o_orderkey, proves the join a
    * no-op and deletes it: the optimized plan is REQUIRED to contain
    * no Join at all, so the corpus-wide exchange (or dim broadcast +
    * probe) a 10⁹-row fact join costs never happens; what remains is
    * `WHERE l_orderkey IS NOT NULL`, which the parquet scan absorbs.
    * The oracle runs the join for real — equal results certify the
    * RI reasoning, not just the plan shape. A negative control
    * (consuming o_orderdate) must keep its Join: eliminating a join
    * whose dim columns are used would be unsound. */
  val q339 = QuerySpec("q339_fk_join_elim",
    (s, dir) => {
      val factPath = s"$dir/lineitem.parquet"
      val dimPath = s"$dir/orders.parquet"
      Conf.scoped(s)("spark.graft.fk.factPath" -> factPath,
          "spark.graft.fk.factCol" -> "l_orderkey",
          "spark.graft.fk.dimPath" -> dimPath,
          "spark.graft.fk.dimCol" -> "o_orderkey") {
        val li = s.read.parquet(factPath)
        val ord = s.read.parquet(dimPath)
        val out = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .where(col("l_quantity") >= 49)
          .select(li("l_orderkey"), col("l_linenumber"),
            expr("cast(l_quantity as bigint)").as("qty"),
            ord("o_orderkey"))
          .orderBy("l_orderkey", "l_linenumber")
        require(!out.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst
            .plans.logical.Join]),
          "fk join elimination did not engage")
        // negative control: a consumed dim column vetoes elimination
        val control = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(li("l_orderkey"), ord("o_orderdate"))
        require(control.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst
            .plans.logical.Join]),
          "join elimination fired with a consumed dim column — unsound")
        out
      }
    },
    Some(raw"""
SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
  o_orderkey
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity >= 49
ORDER BY l_orderkey, l_linenumber
"""))

  /** q340 — EAGER AGGREGATION through the
    * [[graft.plans.EagerAggregation]] optimizer rule (Yan–Larson
    * group-by/join reordering, unique-dim-key case): the query text
    * is a plain revenue-by-brand rollup joining lineitem to part, and
    * the ENGINE — told p_partkey is unique and the rewrite is enabled
    * — pushes SUM/COUNT/MIN/MAX partials below the join, grouped by
    * l_partkey: the optimized plan is REQUIRED to carry an Aggregate
    * UNDER the Join, so the join's shuffled input shrinks from one
    * row per lineitem to one row per PART — a 30× reduction at this
    * schema's ~30 lines/part, map-side-combined besides. (The fk
    * cardinality is the rewrite's whole economics: against orders at
    * ~4 lines/order the pre-aggregate barely pays — which is exactly
    * why the rule is opt-in rather than always-on.) The oracle
    * aggregates after the join as written — equal results certify the
    * partial algebra (SUM→SUM, COUNT→SUM, MIN/MIN, MAX/MAX), exact
    * here because every measure is integral. A negative control with
    * the rewrite disabled must keep the fact corpus below the join
    * un-aggregated. */
  val q340 = QuerySpec("q340_eager_agg",
    (s, dir) => {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
      val dimPath = s"$dir/part.parquet"
      Conf.scoped(s)("spark.graft.eagerAgg.enabled" -> "true",
          "spark.graft.unique.path" -> dimPath,
          "spark.graft.unique.cols" -> "p_partkey") {
        def rollup(): org.apache.spark.sql.DataFrame = {
          val li = Tables(s, dir, "lineitem")
          val part = s.read.parquet(dimPath)
          li.join(part, li("l_partkey") === part("p_partkey"))
            .groupBy(part("p_brand"))
            .agg(
              sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
                .as("rev_cents"),
              count(lit(1)).as("n_lines"),
              min(expr("cast(l_quantity as bigint)")).as("min_qty"),
              max(expr("cast(l_quantity as bigint)")).as("max_qty"))
            .orderBy("p_brand")
        }
        val out = rollup()
        def aggBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
          df.queryExecution.optimizedPlan.exists {
            case Join(jl, jr, _, _, _) =>
              jl.exists(_.isInstanceOf[Aggregate]) ||
                jr.exists(_.isInstanceOf[Aggregate])
            case _ => false
          }
        require(aggBelowJoin(out),
          "eager aggregation did not push partials below the join")
        s.conf.set("spark.graft.eagerAgg.enabled", "false")
        require(!aggBelowJoin(rollup()),
          "partial aggregate below join with the rewrite disabled")
        s.conf.set("spark.graft.eagerAgg.enabled", "true")
        out
      }
    },
    Some(raw"""
SELECT p_brand,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS rev_cents,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""))

  /** q341 — native COUNT–MIN SKETCH aggregate
    * ([[org.apache.spark.sql.graftagg.CountMinAgg]], SQL `graft_cms`):
    * one corpus pass folds every event into a 4×256 counter table
    * (8 KB per partial, merge = elementwise add — bit-identical under
    * ANY partitioning), then the 8 heaviest users are probed against
    * it with plain `least(element_at(...))` expressions: estimate =
    * min of the key's 4 counters, ≥ exact by construction, ≤ exact +
    * εN w.h.p. The oracle REBUILDS the full counter table in SQL from
    * the pinned Carter–Wegman seeds (each cell is a count of keys
    * hashing there — the sketch's defining identity) and probes it the
    * same way, so the hash family, the table layout, AND the estimate
    * algebra are all certified cross-engine, not just "close". The
    * overcount column makes the sketch's error CONTENT, not a flap:
    * both engines compute the identical table, so est−exact matches
    * exactly. */
  val q341 = QuerySpec("q341_count_min_sketch",
    (s, dir) => {
      import org.apache.spark.sql.graftagg.CountMinAgg
      val ev = Tables(s, dir, "events").select(col("user_id"))
      val sk = ev.agg(CountMinAgg.graftCms(col("user_id")).as("sk"),
        count(lit(1)).as("n_total"))
      val probes = ev.groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("user_id")).limit(8)
      val estExpr = (0 until CountMinAgg.D)
        .map(i => s"element_at(sk, ${CountMinAgg.cellExpr(i, "user_id")})")
        .mkString("least(", ", ", ")")
      probes.crossJoin(sk)
        .withColumn("cms_est", expr(estExpr))
        .select(col("user_id"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"),
          col("n_total"))
        .orderBy(desc("exact_cnt"), col("user_id"))
    },
    Some(raw"""
WITH seeds(i, a, b) AS (
  VALUES (0, 1103, 7), (1, 12289, 101), (2, 524287, 3571),
    (3, 8191, 65537)
), cells AS (
  SELECT s.i,
    CAST(s.i * 256 + ((s.a * (user_id % 2147483647) + s.b)
      % 2147483647) % 256 + 1 AS INT) AS pos,
    CAST(count(*) AS BIGINT) AS c
  FROM events CROSS JOIN seeds s GROUP BY 1, 2
), probes AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 8
), est AS (
  SELECT p.user_id, p.exact_cnt, MIN(c.c) AS cms_est
  FROM probes p CROSS JOIN seeds s
  JOIN cells c ON c.i = s.i
    AND c.pos = CAST(s.i * 256 + ((s.a * (p.user_id % 2147483647)
      + s.b) % 2147483647) % 256 + 1 AS INT)
  GROUP BY 1, 2
)
SELECT user_id, exact_cnt, cms_est, cms_est - exact_cnt AS overcount,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total
FROM est ORDER BY exact_cnt DESC, user_id
"""))

  /** q343 — the count-min sketch through the STREAMING state store:
    * windowed per-event-type CMS tables over the event stream. The
    * sketch's merge is elementwise addition — a commutative monoid —
    * so the streamed result is EXACT under ANY micro-batch split (the
    * q335 class), certified three ways per (window, type) group: the
    * table total (= d·N), a position-weighted FINGERPRINT Σ c·pos
    * that pins every one of the 1024 counters (any single-counter
    * drift moves it), and a live probe — the window's heaviest user
    * (exact argmax, min-user tie-break) estimated from the streamed
    * table with the same least/element_at algebra as q341. The oracle
    * rebuilds each window's counter table from the pinned seeds in
    * SQL and replays all three. State per group between batches is
    * one 8 KB array through the state store — bounded by the
    * watermark, constant in corpus size. */
  val q343 = QuerySpec("q343_stream_cms",
    (s, dir) => {
      import org.apache.spark.sql.graftagg.CountMinAgg
      import org.apache.spark.sql.expressions.Window
      Conf.scoped(s)("spark.sql.shuffle.partitions" -> "8") {
        val agg = graft.streaming.StreamingOps
          .eventsStream(s, s"$dir/{events.parquet}",
            schemaProbePath = Some(s"$dir/events.parquet"))
          .withWatermark("ts", "1 hour")
          .select(col("ts"), col("event_type"), col("user_id"))
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(CountMinAgg.graftCms(col("user_id")).as("sk"))
        val sk = graft.streaming.StreamingOps
          .drainToBatch(s, agg, "stream_cms")
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"), col("event_type"), col("sk"))
        val ev = Tables(s, dir, "events")
          .select(date_format(window(col("ts"), "6 hours")("start"),
            "yyyy-MM-dd HH:mm:ss").as("win_start"),
            col("event_type"), col("user_id"))
        val top = ev.groupBy("win_start", "event_type", "user_id")
          .agg(count(lit(1)).as("exact_cnt"))
          .withColumn("rn", row_number().over(Window
            .partitionBy("win_start", "event_type")
            .orderBy(desc("exact_cnt"), col("user_id"))))
          .where(col("rn") === 1)
          .select(col("win_start"), col("event_type"),
            col("user_id").as("top_user"), col("exact_cnt"))
        val estExpr = (0 until CountMinAgg.D)
          .map(i => s"element_at(sk, ${CountMinAgg.cellExpr(i, "top_user")})")
          .mkString("least(", ", ", ")")
        top.join(sk, Seq("win_start", "event_type"))
          .withColumn("cms_est", expr(estExpr))
          .withColumn("tbl_sum",
            expr("aggregate(sk, 0L, (acc, x) -> acc + x)"))
          .withColumn("tbl_fp",
            expr("aggregate(zip_with(sk, sequence(1L, 1024L), " +
              "(c, p) -> c * p), 0L, (acc, x) -> acc + x)"))
          .select(col("win_start"), col("event_type"), col("top_user"),
            col("exact_cnt"), col("cms_est"), col("tbl_sum"),
            col("tbl_fp"))
          .orderBy("win_start", "event_type")
      }
    },
    Some(raw"""
WITH ev AS (
  SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
      '%Y-%m-%d %H:%M:%S') AS win_start,
    event_type, user_id
  FROM events
), seeds(i, a, b) AS (
  VALUES (0, 1103, 7), (1, 12289, 101), (2, 524287, 3571),
    (3, 8191, 65537)
), cells AS (
  SELECT win_start, event_type, s.i,
    CAST(s.i * 256 + ((s.a * (user_id % 2147483647) + s.b)
      % 2147483647) % 256 + 1 AS INT) AS pos,
    CAST(count(*) AS BIGINT) AS c
  FROM ev CROSS JOIN seeds s GROUP BY 1, 2, 3, 4
), tbl AS (
  SELECT win_start, event_type, CAST(sum(c) AS BIGINT) AS tbl_sum,
    CAST(sum(c * pos) AS BIGINT) AS tbl_fp
  FROM cells GROUP BY 1, 2
), top AS (
  SELECT win_start, event_type, user_id AS top_user, cnt AS exact_cnt
  FROM (
    SELECT win_start, event_type, user_id,
      CAST(count(*) AS BIGINT) AS cnt,
      row_number() OVER (PARTITION BY win_start, event_type
        ORDER BY count(*) DESC, user_id) AS rn
    FROM ev GROUP BY 1, 2, 3
  ) WHERE rn = 1
), est AS (
  SELECT t.win_start, t.event_type, t.top_user, t.exact_cnt,
    MIN(c.c) AS cms_est
  FROM top t CROSS JOIN seeds s
  JOIN cells c ON c.win_start = t.win_start
    AND c.event_type = t.event_type AND c.i = s.i
    AND c.pos = CAST(s.i * 256 + ((s.a * (t.top_user % 2147483647)
      + s.b) % 2147483647) % 256 + 1 AS INT)
  GROUP BY 1, 2, 3, 4
)
SELECT e.win_start, e.event_type, e.top_user, e.exact_cnt, e.cms_est,
  t.tbl_sum, t.tbl_fp
FROM est e JOIN tbl t ON e.win_start = t.win_start
  AND e.event_type = t.event_type
ORDER BY e.win_start, e.event_type
"""))

  /** q344 — SQL SCRIPTING (the Spark 4 procedural surface: BEGIN/
    * DECLARE/WHILE/SET, SQL/PSM semantics) driving an ADAPTIVE
    * THRESHOLD SEARCH: find the smallest power-of-two price cutoff
    * capturing at least half of all orders by DOUBLING — a scripted
    * loop of ~log₂(maxPrice) cheap filtered counts instead of a
    * corpus-wide sort/quantile, the probing pattern ops scripts use
    * against tables too big to rank (each probe is a pushed-down
    * predicate scan; no shuffle anywhere). Control flow runs on the
    * driver, every probe is a full Catalyst query — this is the
    * surface where "query" and "program" meet, and the registry runs
    * it as a first-class query like any other. The oracle has no
    * scripting, which is the point: it certifies the LOOP's result
    * from a closed form (a 41-row powers table joined against the
    * corpus, minimal qualifying power) — the procedural and
    * declarative answers must agree exactly. */
  val q344 = QuerySpec("q344_scripted_search",
    (s, dir) => {
      // AQE off for the scripted loop only (scoped): every
      // probe is a global count over the cached 1-column frame — one
      // trivial partial-count exchange AQE can neither coalesce nor
      // re-plan usefully at any scale — and AQE's stage-as-a-job
      // materialization multiplied the loop's driver latency (~41
      // statements x 4 jobs -> x1; measured 161 jobs -> ~45,
      // warm solo 6.7 -> 5.8 s at 32 cores). Scale-safe: a count's
      // reduce side is #partitions rows regardless of corpus size.
      Conf.scoped(s)("spark.sql.scripting.enabled" -> "true",
          "spark.sql.adaptive.enabled" -> "false") {
        // materialize the 1-column probe frame once (tracked cache,
        // released with the query): the scripted WHILE loop issues
        // ~log2(maxPrice) sequential filtered counts, and without
        // this every probe re-runs the parquet scan + projection —
        // with it each probe is an in-memory columnar scan (guide
        // §5 caching: reused many times, expensive to recompute
        // relative to its size). Same rows, same loop, same result.
        graft.CacheRegistry.persistTracked(
          Tables(s, dir, "orders")
            .select(expr("cast(round(o_totalprice * 100) as bigint)")
              .as("cents")))
          .createOrReplaceTempView("q344_ord_v")
        s.sql("""BEGIN
          |  DECLARE t BIGINT = 1;
          |  DECLARE it INT = 0;
          |  DECLARE n BIGINT;
          |  DECLARE cnt BIGINT;
          |  SET n = (SELECT count(*) FROM q344_ord_v);
          |  SET cnt = (SELECT count(*) FROM q344_ord_v WHERE cents <= t);
          |  WHILE cnt * 2 < n DO
          |    SET t = t * 2;
          |    SET it = it + 1;
          |    SET cnt = (SELECT count(*) FROM q344_ord_v WHERE cents <= t);
          |  END WHILE;
          |  SELECT t AS threshold_cents, CAST(it AS BIGINT) AS doublings,
          |    cnt AS n_below, n AS n_total;
          |END""".stripMargin)
      }
    },
    Some(raw"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
pows AS (
  SELECT e, (1::BIGINT << e) AS t FROM generate_series(0, 40) g(e)
), cnts AS (
  SELECT p.e, p.t,
    CAST(count(*) FILTER (WHERE o.cents <= p.t) AS BIGINT) AS cnt
  FROM pows p CROSS JOIN o GROUP BY 1, 2
)
SELECT t AS threshold_cents, CAST(e AS BIGINT) AS doublings,
  cnt AS n_below, (SELECT n FROM tot) AS n_total
FROM cnts CROSS JOIN tot WHERE cnt * 2 >= n ORDER BY t LIMIT 1
"""))

  /** q345 — STORAGE-PARTITIONED EXECUTION through
    * [[graft.sources.KeyedShardSource]] (`SupportsReportPartitioning`,
    * the SPARK-37377 contract and the one read-path DSv2 capability
    * the graft-shard ladder didn't yet cover): orders are staged in
    * the `partitionBy("g")` layout, the connector reports
    * `KeyGroupedPartitioning(g)` with one `HasPartitionKey` input
    * partition per key directory, and under
    * `spark.sql.sources.v2.bucketing.enabled` the per-priority profile
    * aggregate plans with NO Exchange anywhere under the aggregate —
    * the group-by's clustering requirement is satisfied BY THE LAYOUT.
    * At 100 TB over a tenant/date-keyed corpus this is the single
    * largest avoidable shuffle in the plan. Both the fired shape and
    * the control (same query, conf off ⇒ the exchange reappears) are
    * asserted on the FINAL adaptive plan; the oracle replays the
    * profile from the base parquet, certifying the reported
    * partitioning told the truth (a wrong claim silently corrupts
    * every group). */
  val q345 = QuerySpec("q345_storage_partitioned_agg",
    (s, dir) => {
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val ConfKey = "spark.sql.sources.v2.bucketing.enabled"
      Scratch.scoped("graft_q345_keyed") { tmp =>
        Conf.scoped(s)(ConfKey -> "true") {
          Tables(s, dir, "orders")
            .select(col("o_orderpriority").as("g"),
              expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
            .repartition(8)
            .write.mode("overwrite").partitionBy("g").csv(tmp.toString)
          def profile(): org.apache.spark.sql.DataFrame =
            s.read.format("graft-shard-keyed")
              .option("path", tmp.toString).load()
              .groupBy("g").agg(count(lit(1)).as("n"),
                sum("x").as("sum_cents"), min("x").as("min_cents"),
                max("x").as("max_cents"))
          def shuffleBelowAgg(df: org.apache.spark.sql.DataFrame): Boolean = {
            import org.apache.spark.sql.execution.SparkPlan
            import org.apache.spark.sql.execution.adaptive.QueryStageExec
            df.collect() // force execution so the adaptive plan is final
            val plan = df.queryExecution.executedPlan match {
              case a: AdaptiveSparkPlanExec => a.executedPlan
              case p => p
            }
            // an executed AQE plan nests materialized stages as LEAVES
            // (Result/ShuffleQueryStageExec: children = Nil, real tree
            // on .plan) — ordinary TreeNode traversal never sees inside,
            // so both walks descend through query-stage boundaries
            def hasShuffle(p: SparkPlan): Boolean = p match {
              case _: ShuffleExchangeLike => true
              case qs: QueryStageExec => hasShuffle(qs.plan)
              case _ => p.children.exists(hasShuffle)
            }
            def aggs(p: SparkPlan): Seq[BaseAggregateExec] = p match {
              case a: BaseAggregateExec => a +: a.children.flatMap(aggs)
              case qs: QueryStageExec => aggs(qs.plan)
              case _ => p.children.flatMap(aggs)
            }
            aggs(plan).exists(_.children.exists(hasShuffle))
          }
          val out = profile()
          require(!shuffleBelowAgg(out),
            "source-reported partitioning did not eliminate the exchange")
          // control: without v2 bucketing the same plan must shuffle
          s.conf.set(ConfKey, "false")
          require(shuffleBelowAgg(profile()),
            "no exchange even without the reported partitioning — " +
              "the assert proves nothing")
          s.conf.set(ConfKey, "true")
          val sunk = out.orderBy("g").collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS sum_cents,
  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS min_cents,
  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS max_cents
FROM orders GROUP BY 1 ORDER BY g
"""))

  /** q346 — STORAGE-PARTITIONED JOIN (the join leg of SPARK-37377,
    * composing with q345's aggregation leg): two corpora staged in
    * the same `g=`-keyed layout (orders split at the median orderkey
    * into an "early" and a "late" era — the everyday reconcile-two-
    * snapshots shape), each profiled per key, then JOINED on the key
    * — and because both [[graft.sources.KeyedShardSource]] scans
    * report the same `KeyGroupedPartitioning(g)`, the ENTIRE plan
    * (two scans, two aggregates, one join) executes with ZERO
    * exchanges: clustering is satisfied by the layout on both sides,
    * through the aggregates, into the join (broadcast disabled so the
    * assert can't be satisfied vacuously). At 100 TB this is the
    * co-partitioned-tables story bucketing tells (q287) — minus the
    * bucketing metadata, carried instead by the connector's declared
    * partitioning. The control re-plans with v2 bucketing off and
    * must shuffle; the oracle reconciles the eras from base parquet. */
  val q346 = QuerySpec("q346_storage_partitioned_join",
    (s, dir) => {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val BucketKey = "spark.sql.sources.v2.bucketing.enabled"
      val BcastKey = "spark.sql.autoBroadcastJoinThreshold"
      Scratch.scoped("graft_q346_spj") { tmp =>
        Conf.scoped(s)(BucketKey -> "true", BcastKey -> "-1") {
          val ord = Tables(s, dir, "orders")
          // exact integer key-range midpoint: identical in both engines
          // (an approximate median would split differently per engine)
          val mid = ord.agg(
            expr("(min(o_orderkey) + max(o_orderkey)) div 2").as("m"))
            .head().getLong(0)
          def side(name: String, cond: org.apache.spark.sql.Column): Unit =
            ord.where(cond)
              .select(col("o_orderpriority").as("g"),
                expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
              .repartition(8)
              .write.mode("overwrite").partitionBy("g").csv(s"$tmp/$name")
          side("early", col("o_orderkey") <= mid)
          side("late", col("o_orderkey") > mid)
          def profile(name: String, tag: String) =
            s.read.format("graft-shard-keyed")
              .option("path", s"$tmp/$name").load()
              .groupBy("g").agg(count(lit(1)).as(s"n_$tag"),
                sum("x").as(s"cents_$tag"))
          def reconcile() = profile("early", "early")
            .join(profile("late", "late"), "g")
            .select(col("g"), col("n_early"), col("n_late"),
              col("cents_early"), col("cents_late"),
              (col("cents_late") - col("cents_early")).as("cents_shift"))
          def anyShuffle(df: org.apache.spark.sql.DataFrame): Boolean = {
            df.collect()
            def walk(p: SparkPlan): Boolean = p match {
              case _: ShuffleExchangeLike => true
              case qs: QueryStageExec => walk(qs.plan)
              case _ => p.children.exists(walk)
            }
            df.queryExecution.executedPlan match {
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
              case p => walk(p)
            }
          }
          val out = reconcile()
          require(!anyShuffle(out),
            "storage-partitioned join did not run exchange-free")
          s.conf.set(BucketKey, "false")
          require(anyShuffle(reconcile()),
            "no exchange without the reported partitioning — " +
              "the assert proves nothing")
          s.conf.set(BucketKey, "true")
          val sunk = out.orderBy("g").collect()
          s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
        }
      }
    },
    Some(raw"""
WITH mid AS (
  SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS m FROM orders
), early AS (
  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n_early,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents_early
  FROM orders, mid WHERE o_orderkey <= m GROUP BY 1
), late AS (
  SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS n_late,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS cents_late
  FROM orders, mid WHERE o_orderkey > m GROUP BY 1
)
SELECT g, n_early, n_late, cents_early, cents_late,
  cents_late - cents_early AS cents_shift
FROM early JOIN late USING (g) ORDER BY g
"""))

  /** q347 — COUNT(DISTINCT) → BITMAP rewrite through the
    * [[graft.plans.DistinctToBitmap]] optimizer rule: the query text
    * is the everyday per-type profile that mixes TWO distinct counts
    * (distinct users AND distinct price points) with plain aggregates
    * — exactly the shape Spark executes by planting an EXPAND (a
    * corpus multiplier: one duplicated input row per distinct-column
    * group) plus per-distinct-key exchanges — and the ENGINE, opted
    * in via conf, substitutes the native exact bitmap aggregate for
    * both: the optimized plan is REQUIRED to contain no Expand and to
    * carry `graft_bitmap_distinct`; the conf-off control must
    * re-plant the Expand. (One lesson is pinned in the asserts: a
    * SINGLE distinct aggregate never plants Expand — Spark plans it
    * with the two-exchange distinct path — so the multi-distinct mix
    * is the shape where the rewrite pays most.) The oracle runs the
    * real count(DISTINCT)s: the rewrite trades PLAN, not answers —
    * exact equality is the contract (q334's semilattice), certified
    * here through the rewrite path rather than the explicit API. */
  val q347 = QuerySpec("q347_distinct_bitmap_rewrite",
    (s, dir) => {
      import org.apache.spark.sql.catalyst.plans.logical.Expand
      val ConfKey = "spark.graft.bitmapDistinct.enabled"
      Conf.scoped(s)(ConfKey -> "true") {
        def profile(): org.apache.spark.sql.DataFrame =
          Tables(s, dir, "events")
            .select(col("event_type"), col("user_id"),
              expr("cast(round(value * 100) as bigint)").as("cents"))
            .groupBy("event_type")
            .agg(countDistinct(col("user_id")).as("n_users"),
              countDistinct(col("cents")).as("n_prices"),
              count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
            .orderBy("event_type")
        val out = profile()
        val opt = out.queryExecution.optimizedPlan
        require(!opt.exists(_.isInstanceOf[Expand]) &&
          opt.toString.contains("graft_bitmap_distinct"),
          "distinct->bitmap rewrite did not engage")
        s.conf.set(ConfKey, "false")
        require(profile().queryExecution.optimizedPlan
          .exists(_.isInstanceOf[Expand]),
          "no Expand without the rewrite — the assert proves nothing")
        s.conf.set(ConfKey, "true")
        out
      }
    },
    Some(raw"""
SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(count(DISTINCT CAST(round(value * 100) AS BIGINT)) AS BIGINT)
    AS n_prices,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1 ORDER BY 1
"""))

  /** q348 — ORC ROUND-TRIP with scan-level pushdown: the engine's
    * format matrix (parquet, CSV, JSONL, XML, the DSv2 connectors)
    * gains the other first-class columnar format. lineitem is written
    * wide to ORC, read back under a selective filter + narrow
    * projection, and the ORC scan is REQUIRED to carry the pushed
    * predicates (PushedFilters — qty/flag evaluated inside the
    * reader against ORC's stripe/row-group statistics, the zone-map
    * behavior) and a pruned ReadSchema (unprojected columns never
    * decoded — columnar I/O's whole point). The oracle replays filter
    * + rollup from the base parquet: byte-exact value preservation
    * across the format boundary is the round-trip claim. */
  val q348 = QuerySpec("q348_orc_roundtrip",
    (s, dir) => {
      Scratch.scoped("graft_q348_orc") { tmp =>
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("cast(l_quantity as bigint)").as("qty"),
            expr("cast(round(l_extendedprice * 100) as bigint)")
              .as("cents"),
            col("l_returnflag"), col("l_shipdate"))
          .write.mode("overwrite").orc(tmp.toString)
        val out = s.read.orc(tmp.toString)
          .where(col("qty") >= 45 && col("l_returnflag") === "R")
          .groupBy("l_linenumber")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("qty").as("min_qty"))
          .orderBy("l_linenumber")
        val planStr = out.queryExecution.executedPlan.toString
        require(planStr.contains("PushedFilters: [") &&
          planStr.contains("GreaterThanOrEqual(qty,45)") &&
          planStr.contains("EqualTo(l_returnflag,R)"),
          "orc filter pushdown did not engage")
        val readSchema = planStr.split("ReadSchema: ").last
        require(!readSchema.contains("l_orderkey") &&
          !readSchema.contains("l_shipdate"),
          "orc column pruning did not engage")
        // materialize before the staged ORC files are deleted (the
        // caller writes the returned frame lazily)
        val sunk = out.collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS sum_cents,
  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty
FROM lineitem
WHERE CAST(l_quantity AS BIGINT) >= 45 AND l_returnflag = 'R'
GROUP BY 1 ORDER BY 1
"""))

  /** q349 — AQE RUNTIME JOIN-STRATEGY SWITCH: a fact⋈dim join whose
    * dim side is a selective non-pushable filter over orders — the
    * STATIC size estimate is the full file (megabytes, over the
    * broadcast threshold ⇒ sort-merge), but the RUNTIME materialized
    * size is a handful of rows, so adaptive execution re-plans the
    * join to a broadcast-hash mid-query from the finished stage's
    * actual statistics. This is THE 100 TB insurance policy: filter
    * selectivities are unknowable at plan time, and the engine that
    * can only trust static estimates either broadcasts something
    * huge (OOM) or shuffles something tiny (latency). Asserted both
    * ways — the final adaptive plan must carry a BroadcastHashJoin,
    * and the same query with AQE off must carry a SortMergeJoin (the
    * static decision, proving the switch was AQE's doing). The
    * oracle replays the join; the strategy must not move the
    * numbers. */
  val q349 = QuerySpec("q349_aqe_join_switch",
    (s, dir) => {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      val Thresh = "spark.sql.autoBroadcastJoinThreshold"
      val Aqe = "spark.sql.adaptive.enabled"
      // DemoteBroadcastHashJoin skips the SMJ→BHJ rewrite when the
      // build side's non-empty post-shuffle partition ratio is under
      // 0.2 — at sf0.001 the 997-filter leaves 2 rows in 32 shuffle
      // partitions (ratio 0.06) and the switch this query EXISTS to
      // exercise silently never fires (reproduced: 8 partitions
      // convert, 32 don't). Zero the guard inside the query so the
      // assert is scale- and core-count-robust; results unchanged.
      val Ratio = "spark.sql.adaptive.nonEmptyPartitionRatioForBroadcastJoin"
      // the threshold must sit BETWEEN the static estimate (the file
      // size scaled by column pruning's width ratio — the filter is
      // non-pushable, so planning sees every row) and the runtime
      // size (~1/997 of rows) at EVERY sf — a SIXTEENTH of the file
      // clears the pruning ratio from above and the 997× row cut from
      // below, where any fixed constant fails at some scale (at
      // sf0.001 the whole file is under 32 KB)
      def sizeOf(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).getOrElse(Array.empty).map(sizeOf).sum
      val dimBytes = sizeOf(new java.io.File(s"$dir/orders.parquet"))
      Conf.scoped(s)(Thresh -> math.max(4096L, dimBytes / 16).toString,
          Ratio -> "0.0", Aqe -> "true") {
        def q(): org.apache.spark.sql.DataFrame = {
          val li = Tables(s, dir, "lineitem")
          val ord = Tables(s, dir, "orders")
            // non-pushable predicate: static size stays the full file
            .where(expr("pmod(o_orderkey, 997) = 0"))
            .select(col("o_orderkey"), col("o_orderpriority"))
          li.join(ord, li("l_orderkey") === ord("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_lines"),
              sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
                .as("rev_cents"))
            .orderBy("o_orderpriority")
        }
        def joins(df: org.apache.spark.sql.DataFrame,
            run: Boolean): Seq[SparkPlan] = {
          if (run) df.collect()
          def walk(p: SparkPlan): Seq[SparkPlan] = p match {
            case qs: QueryStageExec => walk(qs.plan)
            case j @ (_: BroadcastHashJoinExec | _: SortMergeJoinExec) =>
              j +: j.children.flatMap(walk)
            case _ => p.children.flatMap(walk)
          }
          df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case p => walk(p)
          }
        }
        val out = q()
        require(joins(out, run = true)
          .exists(_.isInstanceOf[BroadcastHashJoinExec]),
          "AQE did not re-plan the join to broadcast at runtime")
        s.conf.set(Aqe, "false")
        require(joins(q(), run = false)
          .exists(_.isInstanceOf[SortMergeJoinExec]),
          "static plan already broadcasts — the runtime switch is " +
            "not being exercised")
        s.conf.set(Aqe, "true")
        out
      }
    },
    Some(raw"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS rev_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey % 997 = 0
GROUP BY 1 ORDER BY 1
"""))

  /** q350 — EXCHANGE REUSE: the daily-share-of-total report computes
    * the daily aggregate ONCE and feeds both the per-day rows AND the
    * global total from the same shuffle — the planner's ReuseExchange
    * rule recognizes the two aggregate subtrees as canonically
    * identical and replaces the second with a ReusedExchange
    * reference, so the corpus is scanned and exchanged one time, not
    * two. The plan is REQUIRED to carry the ReusedExchangeExec (AQE
    * disabled for the query so the classic operator is visible rather
    * than AQE's stage-cache equivalent). At 100 TB every
    * self-referencing dashboard query (share-of-total, DoD, WoW) is
    * this shape, and exchange reuse is the difference between 1× and
    * 2× the corpus scan. Shape note: the total rides on a crossJoin
    * of the SAME frame, not a key-transformed self-join — an
    * inner-join variant infers different IsNotNull constraints into
    * the two subtrees and canonical equality (hence reuse) is lost.
    * The oracle computes the same shares from a window total. */
  val q350 = QuerySpec("q350_exchange_reuse",
    (s, dir) => {
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      Conf.scoped(s)("spark.sql.adaptive.enabled" -> "false") {
        val daily = Tables(s, dir, "events")
          .select(expr("cast(floor(cast(ts as long) / 86400) as bigint)")
            .as("day_idx"))
          .groupBy("day_idx").agg(count(lit(1)).as("n"))
        val total = daily.agg(sum("n").as("total"))
        val out = daily.crossJoin(total)
          .select(col("day_idx"), col("n"), col("total"),
            expr("n * 1000000 div total").as("share_ppm"))
          .orderBy("day_idx")
        require(out.queryExecution.executedPlan
          .exists(_.isInstanceOf[ReusedExchangeExec]),
          "the daily aggregate's exchange was not reused")
        out
      }
    },
    Some(raw"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
)
SELECT day_idx, n, CAST(sum(n) OVER () AS BIGINT) AS total,
  CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
FROM daily ORDER BY day_idx
"""))

  /** q355 — PARQUET FOOTER-STATS AGGREGATE PUSHDOWN
    * (`spark.sql.parquet.aggregatePushdown`, V2 parquet scan): the
    * corpus profile COUNT/MIN/MAX is answered from row-group METADATA
    * — the footers every parquet writer already maintains — without
    * decoding a single data page. The scan is REQUIRED to carry the
    * PushedAggregation marker; the conf-off control must plan a real
    * scan. At 100 TB this is the difference between a metadata
    * listing and a full corpus read for the profile queries every
    * catalog/BI layer fires constantly — the same zone-map economics
    * as q212 and the graft-shard aggregate pushdown (q282), here on
    * Spark's own first-class format. (Parquet rides the V1 path by
    * default; the query scopes the V2 switch + restore, which is
    * itself the surface being exercised.) */
  val q355 = QuerySpec("q355_parquet_footer_stats",
    (s, dir) => {
      val V1List = "spark.sql.sources.useV1SourceList"
      val AggPd = "spark.sql.parquet.aggregatePushdown"
      // route parquet through DSv2 (drop it from the V1 list), enable
      // the footer-stats pushdown
      Conf.scoped(s)(V1List -> s.conf.get(V1List).split(",").map(_.trim)
          .filter(_.toLowerCase != "parquet").mkString(","),
          AggPd -> "true") {
        def stats(): org.apache.spark.sql.DataFrame =
          s.read.parquet(s"$dir/orders.parquet")
            .agg(expr("count(*)").as("n"),
              min("o_orderkey").as("min_key"),
              max("o_orderkey").as("max_key"))
        val out = stats()
        require(out.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT(*)"),
          "parquet footer-stats aggregate pushdown did not engage")
        s.conf.set(AggPd, "false")
        require(!stats().queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT(*)"),
          "pushdown marker present with the conf off — assert is vacuous")
        s.conf.set(AggPd, "true")
        out
      }
    },
    Some(raw"""
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(min(o_orderkey) AS BIGINT) AS min_key,
  CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
"""))

  /** q357 — TOP-K PLAN BATTERY: the two plan shapes that keep "give
    * me the k best" from ever materializing a corpus-wide sort. (a)
    * global ORDER BY + LIMIT is REQUIRED to plan as
    * TakeOrderedAndProject — per-partition bounded heaps merged once,
    * k rows crossing the exchange instead of the corpus (no Sort
    * node anywhere); (b) per-group rank() ≤ k carries
    * WindowGroupLimit AND is computed as the TWO-PHASE SALTED top-k:
    * rank within (group, x mod 32) first — a member of any group's
    * true top-3 is by definition within its own salt cell's top-3, so
    * phase 2 ranks ≤ groups·32·3 survivors and the answer is EXACT.
    * The salt is what makes the shape survive LOW-CARDINALITY groups:
    * a direct partitionBy over the 3 flags sorts a third of the
    * corpus per task (measured 158 s at 100× rows); the salted
    * exchange balances across every core. Both window passes are
    * plan-asserted to carry WindowGroupLimit; the oracle computes the
    * per-group top-3 directly. (Output columns are exactly the sort
    * keys, so boundary ties — identical x — cannot flap the compared
    * rows.) */
  val q357 = QuerySpec("q357_topk_plan_battery",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          (expr("cast(round(l_extendedprice * 100) as bigint)") *
            lit(16384L) + col("l_orderkey") * lit(8L) +
            col("l_linenumber")).as("x"))
      val globalTop = li.orderBy(desc("x")).limit(7)
        .select(lit("global").as("kind"), lit(0L).as("rk"), col("x"))
      // string asserts: pre-execution the AQE wrapper is a traversal
      // LEAF (children = Nil), so isInstanceOf walks see nothing —
      // toString prints through it (the q345 lesson's flip side)
      val gplan = globalTop.queryExecution.executedPlan.toString
      require(gplan.contains("TakeOrderedAndProject") &&
        !gplan.contains("+- Sort"),
        "global top-k did not plan as TakeOrderedAndProject")
      val salted = li.withColumn("srk", row_number().over(
          Window.partitionBy(col("flag"), pmod(col("x"), lit(32L)))
            .orderBy(desc("x"))))
        .where(col("srk") <= 3)
      val grouped = salted.withColumn("rk", row_number().over(
          Window.partitionBy("flag").orderBy(desc("x"))))
        .where(col("rk") <= 3)
        .select(concat(lit("per_"), col("flag")).as("kind"),
          col("rk").cast("long").as("rk"), col("x"))
      require(grouped.queryExecution.executedPlan.toString
        .contains("WindowGroupLimit"),
        "per-group top-k did not carry WindowGroupLimit")
      globalTop.unionByName(grouped).orderBy("kind", "rk", "x")
    },
    Some(raw"""
WITH li AS (
  SELECT l_returnflag AS flag,
    CAST(round(l_extendedprice * 100) AS BIGINT) * 16384
      + l_orderkey * 8 + l_linenumber AS x
  FROM lineitem
)
SELECT * FROM (
  SELECT 'global' AS kind, CAST(0 AS BIGINT) AS rk, x
  FROM li ORDER BY x DESC LIMIT 7
)
UNION ALL
SELECT concat('per_', flag) AS kind, CAST(rk AS BIGINT) AS rk, x
FROM (
  SELECT flag, x,
    row_number() OVER (PARTITION BY flag ORDER BY x DESC) AS rk
  FROM li
) WHERE rk <= 3
ORDER BY kind, rk, x
"""))

  def all: Seq[QuerySpec] =
    Seq(q257, q258, q259, q261, q262, q278, q279, q280, q282, q285,
      q289, q290, q307, q313, q317, q321, q322, q328, q332,
      q333, q334, q339, q340, q341, q344, q345, q346,
      q347, q348, q349, q350, q355, q357) ++
      // the three stream-running queries in this file → serial (one
      // live stream per JVM; see QuerySpec.serial)
      Seq(q308, q335, q343).map(_.copy(serial = true))
}
