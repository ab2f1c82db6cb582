package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Conf, QuerySpec, Scratch, Tables}
import graft.functions.{Text => T}

/** Round-13 warehouse-maintenance tier: the operators that keep a
  * 100 TB store CURRENT rather than merely queryable — market-basket
  * association rules (the 2-itemset a-priori core over real order
  * baskets), HyperLogLog register sketches whose roll-up is a pure
  * register-max (the no-rescan merge KMV can't do), changelog
  * application with last-writer-wins + tombstone semantics (the MERGE
  * INTO core), and partial-aggregate incremental view maintenance with
  * an in-query consistency proof against the full rescan.
  *
  * Determinism rules as everywhere in the registry: integer or
  * bit-pinned arithmetic only — association statistics are exact ppm
  * two-step floor divisions sequenced identically in both engines
  * (and overflow-aware: no intermediate exceeds ~10¹⁵ at any corpus
  * size), HLL's harmonic sum is an EXACT bigint (2^(51−reg) register
  * terms; the one float op is a single constant-folded
  * multiply/divide on the 1-row result), changelog op codes come from
  * the engine-standard 60-bit md5 hash, and every aggregate output is
  * CAST to BIGINT on the oracle side (the r12 HUGEINT lesson).
  */
object WarehouseQueries {

  private def h60(c: String): String =
    s"cast(conv(substring(md5($c), 1, 15), 16, 10) as bigint)"
  private def sqlH60(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 1, 15)) AS BIGINT)"

  /** q229 — market-basket association rules (the 2-itemset a-priori
    * core): which parts co-occur in orders beyond chance, scored by
    * support / confidence / lift — the affinity analysis every
    * retailer-scale warehouse runs, and a distinct operator family
    * from q204's TEMPORAL sequence mining (baskets are unordered
    * sets; the statistics are set-co-occurrence, not succession).
    *
    * Scale shape: baskets come from one distinct projection; the pair
    * expansion is the within-order self-join — quadratic in BASKET
    * size (bounded by order line counts, ~single digits, a data
    * constant) and linear in orders, the canonical market-basket
    * plan. Pair/item counts are map-side-combining aggregates; the
    * support floor (max(2, 0.01% of orders) — see the inline note)
    * cuts the pair frame before the two joins that attach item
    * counts; top-25 by lift is a rank window WindowGroupLimit prunes.
    *
    * Arithmetic: all ppm figures are exact integer two-step floor
    * divisions, OVERFLOW-AWARE by construction — lift is
    * `((pair·10⁶ div cnt_a) · n_orders) div cnt_b` rather than the
    * textbook `pair·n·10⁶/(cnt_a·cnt_b)` whose numerator exceeds
    * long range (and silently becomes HUGEINT in DuckDB but an
    * overflow error in Spark) once orders reach ~10⁷. The two-step
    * form stays under 10¹⁵ at any scale and both engines replay the
    * identical truncation sequence. */
  val q229 = QuerySpec("q229_market_basket",
    (s, dir) => {
      val baskets = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("oid"), col("l_partkey").as("part"))
          .distinct())
      val nOrders = baskets.select("oid").distinct()
        .agg(count(lit(1)).as("n_orders"))
      val itemCnt = baskets.groupBy("part").agg(count(lit(1)).as("cnt"))
      val pairs = baskets.as("x").join(baskets.as("y"), Seq("oid"))
        .where(col("x.part") < col("y.part"))
        .groupBy(col("x.part").as("part_a"), col("y.part").as("part_b"))
        .agg(count(lit(1)).as("pair_cnt"))
      pairs.crossJoin(broadcast(nOrders))
        // support floor: 0.01% of orders, but never below 2 — the
        // relative term governs at warehouse scale (it is what keeps
        // the scored frame sub-linear in the pair expansion); the
        // absolute term keeps the uniform synthetic fixture (whose
        // pair counts are Poisson-thin by design) non-degenerate
        .where(col("pair_cnt") >=
          greatest(lit(2L), expr("n_orders div 10000")))
        .join(itemCnt.select(col("part").as("part_a"),
          col("cnt").as("cnt_a")), "part_a")
        .join(itemCnt.select(col("part").as("part_b"),
          col("cnt").as("cnt_b")), "part_b")
        .withColumn("support_ppm",
          expr("(pair_cnt * 1000000) div n_orders"))
        .withColumn("conf_ppm", expr("(pair_cnt * 1000000) div cnt_a"))
        .withColumn("lift_ppm",
          expr("(((pair_cnt * 1000000) div cnt_a) * n_orders) div cnt_b"))
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("lift_ppm"), asc("part_a"), asc("part_b"))))
        .where(col("rk") <= 25)
        .select(col("rk").cast("long").as("rk"), col("part_a"),
          col("part_b"), col("pair_cnt"), col("support_ppm"),
          col("conf_ppm"), col("lift_ppm"))
        .orderBy("rk")
    },
    Some(raw"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, l_partkey AS part FROM lineitem
), n AS (
  SELECT CAST(count(DISTINCT oid) AS BIGINT) AS n_orders FROM baskets
), ic AS (
  SELECT part, CAST(count(*) AS BIGINT) AS cnt FROM baskets GROUP BY 1
), pairs AS (
  SELECT x.part AS part_a, y.part AS part_b,
    CAST(count(*) AS BIGINT) AS pair_cnt
  FROM baskets x JOIN baskets y
    ON x.oid = y.oid AND x.part < y.part
  GROUP BY 1, 2
), scored AS (
  SELECT p.part_a, p.part_b, p.pair_cnt,
    (p.pair_cnt * 1000000) // n.n_orders AS support_ppm,
    (p.pair_cnt * 1000000) // a.cnt AS conf_ppm,
    (((p.pair_cnt * 1000000) // a.cnt) * n.n_orders) // b.cnt AS lift_ppm
  FROM pairs p
  CROSS JOIN n
  JOIN ic a ON p.part_a = a.part
  JOIN ic b ON p.part_b = b.part
  WHERE p.pair_cnt >= greatest(2, n.n_orders // 10000)
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, part_a, part_b)
    AS rk
  FROM scored
)
SELECT CAST(rk AS BIGINT) AS rk, part_a, part_b, pair_cnt,
  CAST(support_ppm AS BIGINT) AS support_ppm,
  CAST(conf_ppm AS BIGINT) AS conf_ppm,
  CAST(lift_ppm AS BIGINT) AS lift_ppm
FROM ranked WHERE rk <= 25 ORDER BY rk
"""))

  /** q230 — HyperLogLog register sketch (m=256) over per-returnflag
    * order-key cardinalities, with the merge story KMV (q199) cannot
    * offer: the ALL row is computed from the per-flag REGISTERS by a
    * pure register-wise max — no rescan of the data, the exact
    * roll-up a 100 TB store runs nightly over per-shard sketches.
    * Register: bucket = h₆₀ mod 256, rho = leading-zero count of the
    * remaining 52 bits + 1, computed via `length(bin(v))` on the
    * integer (the q216 rule: never a live log2). The harmonic
    * denominator is an EXACT bigint — Σ 2^(53−reg), absent buckets
    * contributing 2^53 — so the only float arithmetic is one
    * constant·constant/bigint expression on the final 1-row-per-group
    * frame, identical IEEE in both engines (same literals, same
    * parenthesization). Raw HLL estimate — no small-range (linear
    * counting) correction, which would need a live ln(): m=256 is
    * sized so every group sits in the estimator's flat regime at
    * every fixture SF (measured ≤ 8.4% error at sf0.001/0.01/0.1,
    * inside the 1.04/√256 = 6.5%·2σ envelope). Exact distinct count
    * and signed error ppm ride along as the verification columns
    * you'd drop at scale. */
  val q230 = QuerySpec("q230_hll_sketch",
    (s, dir) => {
      val keyed = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_orderkey").as("k"))
          .distinct()
          .withColumn("h", expr(h60("concat('hll|', cast(k as string))"))))
      val regs = graft.CacheRegistry.persistTracked(
        keyed
          .withColumn("bucket", expr("pmod(h, 256)"))
          .withColumn("v", expr("h div 256"))
          .withColumn("rho", expr(
            "case when v = 0 then 53 else 53 - length(bin(v)) end"))
          .groupBy("g", "bucket").agg(max("rho").as("reg")))
      // merged ALL sketch: register-wise max over the per-group
      // sketches — the no-rescan roll-up contract
      val allRegs = regs.groupBy("bucket")
        .agg(max("reg").as("reg"))
        .select(lit("ALL").as("g"), col("bucket"), col("reg"))
      val est = regs.unionByName(allRegs)
        .groupBy("g")
        .agg(count(lit(1)).as("n_set"),
          sum(expr("shiftleft(cast(1 as bigint), cast(53 - reg as int))"))
            .as("sp"))
        .withColumn("s_exact",
          col("sp") + (lit(256L) - col("n_set")) *
            lit(9007199254740992L)) // 2^53 per empty bucket
        .withColumn("est_n", expr(
          "cast(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * " +
            "256.0 * 9007199254740992.0 / cast(s_exact as double)) " +
            "as bigint)"))
      val exact = keyed.groupBy("g").agg(count(lit(1)).as("exact_n"))
        .unionByName(keyed.select("k").distinct()
          .agg(count(lit(1)).as("exact_n"))
          .select(lit("ALL").as("g"), col("exact_n")))
      est.join(exact, "g")
        .withColumn("err_ppm",
          expr("((est_n - exact_n) * 1000000) div exact_n"))
        .select("g", "n_set", "est_n", "exact_n", "err_ppm")
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
  SELECT g, CAST(count(*) AS BIGINT) AS n_set,
    CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
      + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s_exact
  FROM unioned GROUP BY g
), ex AS (
  SELECT g, CAST(count(*) AS BIGINT) AS exact_n FROM st GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT k) AS BIGINT) FROM st
), final AS (
  SELECT e.g AS g, e.n_set AS n_set,
    CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 *
      9007199254740992.0 / CAST(e.s_exact AS DOUBLE)) AS BIGINT) AS est_n,
    x.exact_n AS exact_n
  FROM est e JOIN ex x ON e.g = x.g
)
SELECT g, n_set, est_n, exact_n,
  ((est_n - exact_n) * 1000000) // exact_n AS err_ppm
FROM final ORDER BY g
"""))

  /** q231 — changelog (CDC) application: last-writer-wins upserts +
    * tombstone deletes over a keyed stream — the batch core of MERGE
    * INTO and of every lakehouse table format's compaction. The
    * changelog derives deterministically from events (key = user_id,
    * sequence = event_id, 1-in-10 ops are deletes by the standard
    * 60-bit hash); applying it is ONE map-side-combining aggregate —
    * `max_by(op, seq)` / `max_by(cents, seq)` per key (the q209
    * argmax shape; seq is unique so ties are impossible), then
    * tombstones drop. No window, no sort, no per-key state that
    * outlives the aggregate buffer: the shape that survives a 10⁹-key
    * changelog. Output is the per-bucket reconciliation report (8 hash
    * buckets of the key space): applied/live/deleted counts and the
    * surviving payload sum — the numbers a CDC pipeline alerts on. */
  val q231 = QuerySpec("q231_cdc_apply",
    (s, dir) => {
      val log = Tables(s, dir, "events")
        .select(col("user_id").as("k"), col("event_id").as("seq"),
          expr(s"case when pmod(${h60("concat('cdc|', event_id)")}, 10) " +
            "= 0 then 'D' else 'U' end").as("op"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val fin = log.groupBy("k")
        .agg(count(lit(1)).as("n_ops"),
          expr("max_by(op, seq)").as("last_op"),
          expr("max_by(cents, seq)").as("last_cents"),
          max("seq").as("last_seq"))
      fin.groupBy(expr("pmod(k, 8)").as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum("n_ops").as("n_ops"),
          sum(when(col("last_op") === "U", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("last_op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("last_op") === "U", col("last_cents"))
            .otherwise(0L)).as("live_cents"),
          max("last_seq").as("max_seq"))
        .orderBy("bucket")
    },
    Some(raw"""
WITH log AS (
  SELECT user_id AS k, event_id AS seq,
    CASE WHEN ${sqlH60("concat('cdc|', event_id)")} % 10 = 0
      THEN 'D' ELSE 'U' END AS op,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), fin AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_ops,
    arg_max(op, seq) AS last_op,
    arg_max(cents, seq) AS last_cents,
    max(seq) AS last_seq
  FROM log GROUP BY k
)
SELECT k % 8 AS bucket,
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(n_ops) AS BIGINT) AS n_ops,
  CAST(count(*) FILTER (WHERE last_op = 'U') AS BIGINT) AS n_live,
  CAST(count(*) FILTER (WHERE last_op = 'D') AS BIGINT) AS n_deleted,
  CAST(coalesce(sum(CASE WHEN last_op = 'U' THEN last_cents END), 0)
    AS BIGINT) AS live_cents,
  max(last_seq) AS max_seq
FROM fin GROUP BY 1 ORDER BY bucket
"""))

  /** q232 — incremental view maintenance by partial-aggregate merge,
    * with the consistency proof in-query: the corpus splits at its
    * midpoint day into BASE and DELTA (the refresh boundary), each
    * side folds to per-type partial aggregates (count / cents sum /
    * min / max — all mergeable), and the view refresh is a merge of
    * the two partial frames (sum of counts and sums, min of mins, max
    * of maxes) — never a rescan of base. The `consistent` column
    * compares every merged figure against the full-rescan aggregate
    * computed side by side: the algebraic contract (the same one
    * q230's register-max roll-up and q206's sketch merges rely on)
    * becomes a driver-checked output instead of a comment. Scale
    * shape: two map-side-combining aggregates + a 2·|types|-row
    * merge; the midpoint derives from a broadcast 1-row min/max
    * frame. */
  val q232 = QuerySpec("q232_incremental_rollup",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("cast(floor(cast(ts as long) / 86400) as bigint)")
            .as("day_idx"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val bounds = ev.agg(min("day_idx").as("lo"), max("day_idx").as("hi"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("part",
          when(col("day_idx") < expr("(lo + hi + 1) div 2"), "base")
            .otherwise("delta"))
      val partials = tagged.groupBy("event_type", "part")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"),
          min("cents").as("mn"), max("cents").as("mx"))
      val merged = partials.groupBy("event_type")
        .agg(sum("n").as("n"), sum("s").as("sum_cents"),
          min("mn").as("min_cents"), max("mx").as("max_cents"))
      val full = ev.groupBy("event_type")
        .agg(count(lit(1)).as("fn"), sum("cents").as("fs"),
          min("cents").as("fmn"), max("cents").as("fmx"))
      merged.join(full, "event_type")
        .select(col("event_type"), col("n"), col("sum_cents"),
          col("min_cents"), col("max_cents"),
          (col("n") === col("fn") && col("sum_cents") === col("fs") &&
            col("min_cents") === col("fmn") &&
            col("max_cents") === col("fmx")).as("consistent"))
        .orderBy("event_type")
    },
    Some(raw"""
WITH ev AS (
  SELECT event_type,
    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), b AS (
  SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM ev
), tagged AS (
  SELECT ev.*, CASE WHEN ev.day_idx < (b.lo + b.hi + 1) // 2
    THEN 'base' ELSE 'delta' END AS part
  FROM ev, b
), partials AS (
  SELECT event_type, part, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS s,
    min(cents) AS mn, max(cents) AS mx
  FROM tagged GROUP BY 1, 2
), merged AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(s) AS BIGINT) AS sum_cents,
    min(mn) AS min_cents, max(mx) AS max_cents
  FROM partials GROUP BY 1
), f AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS fn,
    CAST(sum(cents) AS BIGINT) AS fs,
    min(cents) AS fmn, max(cents) AS fmx
  FROM ev GROUP BY 1
)
SELECT m.event_type, m.n, m.sum_cents, m.min_cents, m.max_cents,
  (m.n = f.fn AND m.sum_cents = f.fs AND m.min_cents = f.fmn
    AND m.max_cents = f.fmx) AS consistent
FROM merged m JOIN f ON m.event_type = f.event_type
ORDER BY m.event_type
"""))

  /** q246 — theta-sketch SET ALGEBRA over per-source KMV sketches:
    * pairwise vocabulary intersection/union/Jaccard ESTIMATED from
    * the k=64 smallest 60-bit hashes alone — the Theta-sketch
    * framework (the industrial standard for distinct-count set
    * operations) that answers "how much do these corpora overlap"
    * from kilobyte sketches, no rescan, where q214 computes the same
    * thing exactly by re-reading the data. For a pair: θ = min of the
    * two k-th-smallest retained hashes (a source below k retains all
    * — θ = 2⁶⁰), the common retained hashes below θ estimate the
    * intersection as c·2⁶⁰/θ (the one float expression — a single
    * multiply/divide over exact integers, identical IEEE both
    * engines), and union/Jaccard follow from the same counts. Exact
    * intersections ride along via inclusion-exclusion as the
    * verification columns you'd drop at scale. Sketch rows come from
    * one rank window WindowGroupLimit prunes; pair joins touch only
    * sketch rows (≤ k per source, broadcastable at any corpus
    * size). */
  val q246 = QuerySpec("q246_theta_sketch_ops",
    (s, dir) => {
      val k = 64
      val theta0 = 1152921504606846976L // 2^60
      val hashed = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "documents")
          .select(col("source"), explode(
            graft.functions.Text.tokens(col("text"))).as("tok"))
          .distinct()
          .withColumn("h", expr(h60("tok"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("h", "tok")
      val sk = graft.CacheRegistry.persistTracked(
        hashed.withColumn("rn", row_number().over(w))
          .where(col("rn") <= k)
          .select("source", "h", "rn"))
      val thetas = sk.groupBy("source")
        .agg(coalesce(max(when(col("rn") === k, col("h"))),
          lit(theta0)).as("hk"))
      val pairs = sk.select(col("source").as("src_a"), col("h"))
        .join(sk.select(col("source").as("src_b"), col("h")), Seq("h"))
        .where(col("src_a") < col("src_b"))
        .join(broadcast(thetas.select(col("source").as("src_a"),
          col("hk").as("hk_a"))), Seq("src_a"))
        .join(broadcast(thetas.select(col("source").as("src_b"),
          col("hk").as("hk_b"))), Seq("src_b"))
        .withColumn("theta", least(col("hk_a"), col("hk_b")))
        // conditional count, NOT a pre-filter: a pair whose common
        // hashes all sit above θ must still emit a c_inter = 0 row
        // (the oracle's FILTER aggregate does)
        .groupBy("src_a", "src_b", "theta")
        .agg(sum(when(col("h") < col("theta"), 1L).otherwise(0L))
          .as("c_inter"))
      val exact = hashed.groupBy("source").agg(count(lit(1)).as("n_ex"))
      val exInter = hashed.select(col("source").as("src_a"), col("tok"))
        .join(hashed.select(col("source").as("src_b"), col("tok")),
          Seq("tok"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("exact_inter"))
      pairs
        .join(broadcast(exact.select(col("source").as("src_a"),
          col("n_ex").as("n_a"))), Seq("src_a"))
        .join(broadcast(exact.select(col("source").as("src_b"),
          col("n_ex").as("n_b"))), Seq("src_b"))
        .join(exInter, Seq("src_a", "src_b"))
        .withColumn("est_inter", expr(
          "cast(floor(cast(c_inter as double) * 1152921504606846976.0" +
            " / cast(theta as double)) as bigint)"))
        .withColumn("exact_union",
          col("n_a") + col("n_b") - col("exact_inter"))
        .withColumn("est_err_ppm", expr(
          "((est_inter - exact_inter) * 1000000) div " +
            "greatest(1, exact_inter)"))
        .select("src_a", "src_b", "c_inter", "est_inter", "exact_inter",
          "exact_union", "est_err_ppm")
        .orderBy("src_a", "src_b")
    },
    Some(raw"""
WITH st AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, unnest(${TextQueries.sqlToks}) AS tok FROM documents)
), h AS (
  SELECT source, tok, ${sqlH60("tok")} AS h FROM st
), sk AS (
  SELECT source, h, rn FROM (
    SELECT source, h,
      row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn
    FROM h
  ) WHERE rn <= 64
), thetas AS (
  SELECT source,
    coalesce(max(CASE WHEN rn = 64 THEN h END), 1152921504606846976)
      AS hk
  FROM sk GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
    least(ta.hk, tb.hk) AS theta,
    CAST(count(*) FILTER (WHERE a.h < least(ta.hk, tb.hk)) AS BIGINT)
      AS c_inter
  FROM sk a
  JOIN sk b ON a.h = b.h AND a.source < b.source
  JOIN thetas ta ON ta.source = a.source
  JOIN thetas tb ON tb.source = b.source
  GROUP BY 1, 2, 3
), ex AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_ex FROM st GROUP BY 1
), exi AS (
  SELECT a.source AS src_a, b.source AS src_b,
    CAST(count(*) AS BIGINT) AS exact_inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.c_inter,
  CAST(floor(CAST(p.c_inter AS DOUBLE) * 1152921504606846976.0
    / CAST(p.theta AS DOUBLE)) AS BIGINT) AS est_inter,
  i.exact_inter,
  xa.n_ex + xb.n_ex - i.exact_inter AS exact_union,
  ((CAST(floor(CAST(p.c_inter AS DOUBLE) * 1152921504606846976.0
      / CAST(p.theta AS DOUBLE)) AS BIGINT) - i.exact_inter) * 1000000)
    // greatest(1, i.exact_inter) AS est_err_ppm
FROM pairs p
JOIN ex xa ON xa.source = p.src_a
JOIN ex xb ON xb.source = p.src_b
JOIN exi i ON i.src_a = p.src_a AND i.src_b = p.src_b
ORDER BY p.src_a, p.src_b
"""))

  /** q260 — Merkle-style replica reconciliation (anti-entropy): two
    * replicas of the orders table — B carries a deterministic
    * divergence injection (1‰ of keys get a one-cent payload drift,
    * another 1‰ are missing) — are compared WITHOUT row exchange:
    * each side reduces to 4096 leaf digests (order-independent sums
    * of per-row 40-bit hashes + row counts, keyed by a hashed bucket
    * of the primary key), the leaf frames join, and divergence
    * localizes to the exact leaves; level-1 (÷64) and root digests
    * ride along, certifying the drill-down path a real anti-entropy
    * protocol would walk (compare 1 root → 64 nodes → only the
    * diverging leaves' rows). The expected injection counts per leaf
    * (n_plus/n_drop) are computed independently from the tamper
    * classes, so the driver hash certifies the localization is
    * EXACTLY the injected set. Row hashes fold payload AND key; sums
    * stay under long at 10⁹ rows/leaf (2⁴⁰·rows). Output: the ≤20
    * lowest diverging leaves plus ride-along root/level-1 divergence
    * tallies on every row. */
  val q260 = QuerySpec("q260_merkle_reconcile",
    (s, dir) => {
      val base = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
            col("o_orderstatus").as("st"))
          .withColumn("c", expr(
            s"pmod(${h60("concat('tamper|', cast(k as string))")}, 1000)"))
          .withColumn("leaf", expr(
            s"pmod(${h60("concat('bucket|', cast(k as string))")}, 4096)")))
      def digest(centsExpr: String) = expr(
        s"${h60(s"concat_ws('|', 'row', cast(k as string), cast($centsExpr as string), st)")} % 1099511627776")
      val leafA = base
        .withColumn("h", digest("cents"))
        .groupBy("leaf").agg(sum("h").as("s_a"), count(lit(1)).as("n_a"))
      val leafB = base.where(col("c") =!= 1L)
        .withColumn("h", digest("cents + (case when c = 0 then 1 else 0 end)"))
        .groupBy("leaf").agg(sum("h").as("s_b"), count(lit(1)).as("n_b"))
      val leaves = graft.CacheRegistry.persistTracked(
        leafA.join(leafB, Seq("leaf"), "full_outer")
          .select(col("leaf"),
            coalesce(col("s_a"), lit(0L)).as("s_a"),
            coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("s_b"), lit(0L)).as("s_b"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
          .withColumn("div", (col("s_a") =!= col("s_b") ||
            col("n_a") =!= col("n_b")).cast("long")))
      val tallies = leaves
        .withColumn("l1", expr("leaf div 64"))
        .groupBy("l1")
        .agg(sum("s_a").as("l1a"), sum("s_b").as("l1b"),
          sum("div").as("nd"))
        .agg(sum(when(col("l1a") =!= col("l1b"), 1L).otherwise(0L))
            .as("n_l1_div"),
          sum("nd").as("n_leaf_div"),
          when(sum("l1a") === sum("l1b"), 1L).otherwise(0L)
            .as("root_match"))
      val expected = base.groupBy("leaf")
        .agg(sum(when(col("c") === 0L, 1L).otherwise(0L)).as("n_plus"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_drop"))
      leaves.where(col("div") === 1L)
        .join(expected, "leaf")
        .crossJoin(broadcast(tallies))
        .orderBy("leaf").limit(20)
        .select("leaf", "n_a", "n_b", "n_plus", "n_drop",
          "n_leaf_div", "n_l1_div", "root_match")
        .orderBy("leaf")
    },
    Some(raw"""
WITH base AS (
  SELECT o_orderkey AS k,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    o_orderstatus AS st,
    ${sqlH60("concat('tamper|', CAST(o_orderkey AS VARCHAR))")} % 1000
      AS c,
    ${sqlH60("concat('bucket|', CAST(o_orderkey AS VARCHAR))")} % 4096
      AS leaf
  FROM orders
), la AS (
  SELECT leaf,
    CAST(sum(${sqlH60("concat_ws('|', 'row', CAST(k AS VARCHAR), CAST(cents AS VARCHAR), st)")} % 1099511627776) AS BIGINT) AS s_a,
    CAST(count(*) AS BIGINT) AS n_a
  FROM base GROUP BY 1
), lb AS (
  SELECT leaf,
    CAST(sum(${sqlH60("concat_ws('|', 'row', CAST(k AS VARCHAR), CAST(cents + (CASE WHEN c = 0 THEN 1 ELSE 0 END) AS VARCHAR), st)")} % 1099511627776) AS BIGINT) AS s_b,
    CAST(count(*) AS BIGINT) AS n_b
  FROM base WHERE c <> 1 GROUP BY 1
), leaves AS (
  SELECT coalesce(la.leaf, lb.leaf) AS leaf,
    coalesce(la.s_a, 0) AS s_a, coalesce(la.n_a, 0) AS n_a,
    coalesce(lb.s_b, 0) AS s_b, coalesce(lb.n_b, 0) AS n_b,
    CASE WHEN coalesce(la.s_a, 0) <> coalesce(lb.s_b, 0)
      OR coalesce(la.n_a, 0) <> coalesce(lb.n_b, 0)
      THEN 1 ELSE 0 END AS dv
  FROM la FULL OUTER JOIN lb ON la.leaf = lb.leaf
), l1 AS (
  SELECT leaf // 64 AS l1, sum(s_a) AS l1a, sum(s_b) AS l1b,
    sum(dv) AS nd
  FROM leaves GROUP BY 1
), tallies AS (
  SELECT CAST(sum(CASE WHEN l1a <> l1b THEN 1 ELSE 0 END) AS BIGINT)
      AS n_l1_div,
    CAST(sum(nd) AS BIGINT) AS n_leaf_div,
    CAST(CASE WHEN sum(l1a) = sum(l1b) THEN 1 ELSE 0 END AS BIGINT)
      AS root_match
  FROM l1
), expected AS (
  SELECT leaf,
    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop
  FROM base GROUP BY 1
)
SELECT lv.leaf, lv.n_a, lv.n_b, e.n_plus, e.n_drop,
  t.n_leaf_div, t.n_l1_div, t.root_match
FROM leaves lv JOIN expected e ON lv.leaf = e.leaf
CROSS JOIN tallies t
WHERE lv.dv = 1
ORDER BY lv.leaf LIMIT 20
"""))

  /** q263 — time-travel (snapshot) reads over the q231 changelog: the
    * lakehouse "AS OF" contract — reconstruct table state at three
    * sequence cutoffs (25% / 50% / 100% of max seq) from the same
    * last-writer-wins + tombstone log, reporting per-snapshot live
    * keys, tombstones, live payload, and the churn since the previous
    * snapshot (keys whose state CHANGED between cutoffs — what an
    * incremental consumer would re-read). One pass: each log row
    * fans out to the snapshots it is visible in (≤ |snapshots|, a
    * constant), then ONE max_by aggregate per (snapshot, key) — the
    * q231/q209 argmax shape, no windows; snapshot totals and the
    * adjacent-snapshot diff both fold from that frame. */
  val q263 = QuerySpec("q263_time_travel",
    (s, dir) => {
      val log = Tables(s, dir, "events")
        .select(col("user_id").as("k"), col("event_id").as("seq"),
          expr(s"case when pmod(${h60("concat('cdc|', event_id)")}, 10) " +
            "= 0 then 'D' else 'U' end").as("op"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
      val mx = log.agg(max("seq").as("mseq"))
      val snaps = mx.select(explode(array(lit(1L), lit(2L), lit(4L)))
          .as("snap"), col("mseq"))
        .withColumn("cutoff", expr("(mseq * snap) div 4"))
        .select("snap", "cutoff")
      val visible = log.crossJoin(broadcast(snaps))
        .where(col("seq") <= col("cutoff"))
      val state = graft.CacheRegistry.persistTracked(
        visible.groupBy("snap", "cutoff", "k")
          .agg(expr("max_by(op, seq)").as("op"),
            expr("max_by(cents, seq)").as("cents"),
            max("seq").as("at_seq")))
      val totals = state.groupBy("snap", "cutoff")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("op") === "U", col("cents")).otherwise(0L))
            .as("live_cents"))
      // churn between adjacent snapshots: keys whose last-visible seq
      // differs (includes first-appearing keys; snap 1 diffs vs empty)
      val churn = state.select(col("snap"), col("k"), col("at_seq"))
        .join(state.select((col("snap") * 2L).as("snap"),
          col("k"), col("at_seq").as("prev_seq")), Seq("snap", "k"),
          "left_outer")
        .groupBy("snap")
        .agg(sum(when(col("prev_seq").isNull ||
          col("prev_seq") =!= col("at_seq"), 1L).otherwise(0L))
          .as("n_changed"))
      totals.join(churn, "snap")
        .select("snap", "cutoff", "n_keys", "n_live", "n_deleted",
          "live_cents", "n_changed")
        .orderBy("snap")
    },
    Some(raw"""
WITH log AS (
  SELECT user_id AS k, event_id AS seq,
    CASE WHEN ${sqlH60("concat('cdc|', event_id)")} % 10 = 0
      THEN 'D' ELSE 'U' END AS op,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), mx AS (SELECT max(seq) AS mseq FROM log),
snaps AS (
  SELECT snap, (mseq * snap) // 4 AS cutoff
  FROM mx CROSS JOIN (VALUES (1), (2), (4)) t(snap)
), state AS (
  SELECT s.snap, s.cutoff, l.k, arg_max(l.op, l.seq) AS op,
    arg_max(l.cents, l.seq) AS cents, max(l.seq) AS at_seq
  FROM log l CROSS JOIN snaps s WHERE l.seq <= s.cutoff
  GROUP BY 1, 2, 3
), totals AS (
  SELECT snap, CAST(cutoff AS BIGINT) AS cutoff,
    CAST(count(*) AS BIGINT) AS n_keys,
    CAST(count(*) FILTER (WHERE op = 'U') AS BIGINT) AS n_live,
    CAST(count(*) FILTER (WHERE op = 'D') AS BIGINT) AS n_deleted,
    CAST(coalesce(sum(CASE WHEN op = 'U' THEN cents END), 0)
      AS BIGINT) AS live_cents
  FROM state GROUP BY 1, 2
), churn AS (
  SELECT a.snap,
    CAST(sum(CASE WHEN b.at_seq IS NULL OR b.at_seq <> a.at_seq
      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
  FROM state a LEFT JOIN state b
    ON a.snap = b.snap * 2 AND a.k = b.k
  GROUP BY 1
)
SELECT CAST(t.snap AS BIGINT) AS snap, t.cutoff, t.n_keys, t.n_live,
  t.n_deleted, t.live_cents, c.n_changed
FROM totals t JOIN churn c ON t.snap = c.snap
ORDER BY snap
"""))

  /** q287 — CO-BUCKETED ZERO-SHUFFLE JOIN from the registry (the
    * BucketingSpec capability promoted to an oracle-checked query —
    * the q228 lesson): orders and customer are written as bucketed
    * tables on the join key (8 buckets, sorted), and the revenue
    * rollup joins them with broadcast disabled — the REQUIRED plan is
    * bucketed scans feeding a SortMergeJoin with NO exchange on
    * either join key (the only shuffle left is the 5-row segment
    * rollup's). At 100 TB this is the difference between paying the
    * orders⋈customer shuffle every run and paying it once at layout
    * time. Exact cents make the result float-free; the oracle joins
    * the base parquet. */
  val q287 = QuerySpec("q287_bucketed_join",
    (s, dir) => {
      Scratch.scoped("graft_q287_wh") { wh =>
        // broadcast off so the join must use the bucketed layout
        try Conf.scoped(s)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          Tables(s, dir, "orders")
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", s"$wh/orders_b287").saveAsTable("orders_b287")
          Tables(s, dir, "customer")
            .write.mode("overwrite")
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .option("path", s"$wh/customer_b287").saveAsTable("customer_b287")
          val j = s.table("orders_b287")
            .join(s.table("customer_b287"),
              col("o_custkey") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_orders"),
              sum(expr("cast(round(o_totalprice * 100) as bigint)"))
                .as("cents"))
            .orderBy("c_mktsegment")
          val rows = j.collect()
          val plan = j.queryExecution.executedPlan.toString
          require(plan.contains("Bucketed: true") &&
            !plan.contains("Exchange hashpartitioning(o_custkey") &&
            !plan.contains("Exchange hashpartitioning(c_custkey"),
            "bucketed join unexpectedly shuffled its join keys")
          s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
        } finally {
          s.sql("DROP TABLE IF EXISTS orders_b287")
          s.sql("DROP TABLE IF EXISTS customer_b287")
        }
      }
    },
    Some(raw"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1
"""))

  /** q288 — HIVE-STYLE PARTITION PRUNING from the registry: events
    * re-laid out as a directory tree partitioned by event_type, then
    * a two-type report over the partitioned store — the scan is
    * REQUIRED to carry partition filters (the plan's PartitionFilters
    * entry), so only the two matching directories are listed and
    * read; the other partitions are never opened. The 100 TB point:
    * partition pruning is METADATA-time elimination — unlike
    * row-group skipping (q212) it removes whole files from the scan
    * plan before any I/O is scheduled. Value totals use the
    * engine-standard decimal-sum pin; oracle reads the base
    * parquet. */
  val q288 = QuerySpec("q288_partition_pruning",
    (s, dir) => {
      Scratch.scoped("graft_q288_part") { tmp =>
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(tmp.toString)
        val out = s.read.parquet(tmp.toString)
          .where(col("event_type").isin("purchase", "signup"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast("decimal(28,10)")), 2)
              .cast("double").as("total_value"))
          .orderBy("event_type")
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        require("PartitionFilters: \\[[^\\]]*event_type".r
          .findFirstIn(plan).isDefined,
          "partitioned scan did not prune on event_type")
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      }
    },
    Some(raw"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(round(sum(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
    AS total_value
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY 1 ORDER BY 1
"""))

  /** q320 — BITEMPORAL point query (SQL:2011 temporal): "as KNOWN at
    * transaction day T*, what was each order's amount VALID at
    * business day V*" — the two-axis lookup that q263 (transaction
    * time only) and q168 (valid time only) each cover half of, and
    * the shape every audited warehouse must answer exactly (what did
    * we believe on date X about state on date Y). The version history
    * is synthesized deterministically from order arithmetic: order k
    * carries k mod 3 + 1 amendments, amendment v becoming KNOWN at
    * od + 7v and claiming VALIDITY from od + 3v, amount = cents +
    * 500v.
    *
    * Plan shape: explode the bounded amendment fan-out (≤ 3 — a
    * constant), filter BOTH time axes, then the q263 argmax device —
    * per-order `max_by` over the packed (valid_from, txn) total order
    * (vf·10⁵ + txn, exact and collision-free at these day
    * magnitudes), ONE map-side-combining aggregate, no windows — and
    * a final rollup by priority. At 100 TB both aggregates are plain
    * combinable shuffles on their natural keys. */
  val q320 = QuerySpec("q320_bitemporal_asof",
    (s, dir) => {
      val tStar = 10227L // 1998-01-01, transaction-time cut
      val vStar = 10217L // valid-time point, 10 days earlier
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("cast(datediff(cast(o_orderdate as date), " +
            "date'1970-01-01') as bigint)").as("od"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents0"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("od"),
          col("cents0"),
          explode(expr("sequence(0L, o_orderkey % 3)")).as("ver"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("ver"),
          (col("od") + col("ver") * 3L).as("vf"),
          (col("od") + col("ver") * 7L).as("txn"),
          (col("cents0") + col("ver") * 500L).as("cents"))
        .where(col("txn") <= tStar && col("vf") <= vStar)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(expr("max_by(ver, vf * 100000 + txn)").as("ver"),
          expr("max_by(cents, vf * 100000 + txn)").as("cents"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"),
          min("ver").as("min_ver"), max("ver").as("max_ver"))
        .orderBy("o_orderpriority")
    },
    Some(raw"""
WITH v AS (
  SELECT o_orderkey, o_orderpriority,
    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS od,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents0,
    unnest(range(o_orderkey % 3 + 1)) AS ver
  FROM orders
), el AS (
  SELECT o_orderkey, o_orderpriority, ver,
    od + ver * 3 AS vf, od + ver * 7 AS txn,
    cents0 + ver * 500 AS cents
  FROM v
  WHERE od + ver * 7 <= 10227 AND od + ver * 3 <= 10217
), pick AS (
  SELECT o_orderkey, o_orderpriority,
    arg_max(ver, vf * 100000 + txn) AS ver,
    arg_max(cents, vf * 100000 + txn) AS cents
  FROM el GROUP BY 1, 2
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(cents) AS BIGINT) AS sum_cents,
  CAST(min(ver) AS BIGINT) AS min_ver,
  CAST(max(ver) AS BIGINT) AS max_ver
FROM pick GROUP BY 1 ORDER BY 1
"""))

  /** q358 — TABLE PROFILING SNAPSHOT (the ANALYZE-statistics /
    * data-catalog column profile): every column of orders collapsed
    * to (rows, nulls, EXACT distinct count, lexicographic min/max of
    * a pinned string representation, milli-average representation
    * length) — the statistics a cost-based optimizer, a data catalog,
    * and a drift monitor all consume. Shape: one PRUNED SINGLE-COLUMN
    * pass per column with NDV on the column's NATIVE type — measured
    * 4× cheaper at 100× rows than the tempting stack-then-group
    * formulation, whose (name, stringified-value) generator shuffles
    * |columns|× the corpus AS STRINGS for the distinct; per-column
    * passes read one parquet column each and distinct-hash longs
    * where longs suffice. Representations are pinned cross-engine
    * (bigints via CAST, price as exact cents, the timestamp through
    * one ISO format) — profiling floats or raw timestamps directly
    * would compare two engines' formatters, the flap class the
    * registry bans. This is what ANALYZE costs, run as a query
    * instead of a DDL side effect. */
  val q358 = QuerySpec("q358_table_profile",
    (s, dir) => {
      val ord = Tables(s, dir, "orders")
      // NDV runs as its OWN aggregate: mixing count(DISTINCT) with
      // plain aggregates plants an Expand (2× the corpus through the
      // aggregate — measured 2× the column's profile cost); two
      // single-row aggregates crossJoined cost the two passes and
      // nothing else
      def prof(name: String, native: org.apache.spark.sql.Column,
          repr: org.apache.spark.sql.Column) = {
        val base = ord.select(native.as("v"), repr.as("r"))
        val ndv = base.agg(countDistinct(col("v")).as("n_distinct"))
        base.agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count("v")).as("n_null"),
            min("r").as("min_repr"), max("r").as("max_repr"),
            expr("sum(length(r)) * 1000 div count(r)")
              .as("avg_len_milli"))
          .crossJoin(ndv)
          .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_repr"), col("max_repr"),
            col("avg_len_milli"))
      }
      val cents = expr("cast(round(o_totalprice * 100) as bigint)")
      val iso = expr("date_format(o_orderdate, 'yyyy-MM-dd')")
      val profiles = Seq(
        prof("o_orderkey", col("o_orderkey"),
          col("o_orderkey").cast("string")),
        prof("o_custkey", col("o_custkey"),
          col("o_custkey").cast("string")),
        prof("o_orderstatus", col("o_orderstatus"), col("o_orderstatus")),
        prof("o_orderpriority", col("o_orderpriority"),
          col("o_orderpriority")),
        prof("price_cents", cents, cents.cast("string")),
        prof("order_date", iso, iso))
      // materialize each 1-row profile EAGERLY and assemble locally:
      // a lazy 6-way union of these crossJoined aggregates measured
      // ~6× the sum of its parts (203 s vs 35 s at 100× rows) —
      // per-column actions keep each pass at its own cost, and the
      // collect is 6 rows by construction
      val sunk = profiles.flatMap(_.collect())
      s.createDataFrame(java.util.Arrays.asList(sunk: _*),
          profiles.head.schema)
        .orderBy("col_name")
    },
    Some(raw"""
WITH repr AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS c1,
    CAST(o_custkey AS VARCHAR) AS c2,
    o_orderstatus AS c3, o_orderpriority AS c4,
    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS c5,
    strftime(o_orderdate, '%Y-%m-%d') AS c6
  FROM orders
), stacked AS (
  SELECT 'o_orderkey' AS col_name, c1 AS val FROM repr
  UNION ALL SELECT 'o_custkey', c2 FROM repr
  UNION ALL SELECT 'o_orderstatus', c3 FROM repr
  UNION ALL SELECT 'o_orderpriority', c4 FROM repr
  UNION ALL SELECT 'price_cents', c5 FROM repr
  UNION ALL SELECT 'order_date', c6 FROM repr
)
SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count(val) AS BIGINT) AS n_null,
  CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
  min(val) AS min_repr, max(val) AS max_repr,
  CAST(sum(length(val)) * 1000 // count(val) AS BIGINT)
    AS avg_len_milli
FROM stacked GROUP BY 1 ORDER BY 1
"""))

  def all: Seq[QuerySpec] = Seq(q229, q230, q231, q232, q246, q260,
    q263, q287, q288, q320, q358)
}
