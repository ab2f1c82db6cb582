package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** Round-15 distributed-ML tier: the model-fitting primitives a
  * training-data platform runs ON the warehouse before anything ever
  * reaches a GPU — Lloyd k-means over the embedding corpus, a
  * multivariate OLS fit by normal equations + Cramer solve, the
  * Mann–Whitney U rank test, and a quantized additive naive-Bayes
  * language classifier with its confusion matrix.
  *
  * Determinism rules as everywhere in the registry: embeddings are
  * quantized to an integer grid (floor(x·1000)) so every centroid,
  * distance, and assignment is exact integer arithmetic — no float
  * summation-order hazard anywhere in the iterative path. The one
  * intrinsically-float output (q293's betas, q294's z) follows the
  * pinned-float pattern (q249/q272): exact integer sums feed ONE
  * double expression shared as identical text with the oracle, then
  * floor-to-ppm.
  *
  * Scale shapes: q292's per-iteration work is one broadcast-k
  * crossJoin scan + a (k·dim)-row centroid aggregate — linear in N
  * with k and dim constants; q293 reduces the corpus to a single
  * 9-sum row before the closed-form solve; q294 ranks through the
  * bounded distinct-cents domain (the q266 histogram-rank shape),
  * never a window over raw events; q295's model frame is
  * vocab×|langs| joined on token — the corpus-scale work is the
  * token explode, everything after is model-sized.
  */
object MlQueries {

  private val kDim = 64
  private val kK = 8

  /** Integer-grid quantization both engines replay exactly:
    * floor(double(x)·1000) per dimension. */
  private val qArrSpark =
    "transform(embedding, x -> floor(cast(x as double) * 1000.0))"
  private val qArrSql =
    s"[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) FOR i IN range(1, ${kDim + 1})]"

  /** Squared-L2 between a quantized vector column `q` and a centroid
    * array column `c` — exact bigint. */
  private val distSpark =
    "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
  private val distSql =
    s"CAST(list_sum([(u.q[i] - c.c[i]) * (u.q[i] - c.c[i]) FOR i IN range(1, ${kDim + 1})]) AS BIGINT)"

  /** One Lloyd round: assign every vector to its nearest live centroid
    * (tie → lowest cid, encoded arithmetically as min(dist·8 + cid) so
    * both engines share one total order), then recompute centroids as
    * the per-dimension floored integer mean. `cents` is (cid, c:
    * array<bigint>) — k rows, broadcast into the scan. */
  private def assign(ve: DataFrame, cents: DataFrame): DataFrame =
    ve.crossJoin(broadcast(cents))
      .withColumn("dist", expr(distSpark))
      .groupBy("vec_id")
      .agg(min(col("dist") * lit(kK.toLong) + col("cid")).as("akey"))
      .select(col("vec_id"), (col("akey") % kK).as("cid"),
        expr(s"akey div $kK").as("dist"))

  private def update(asg: DataFrame, ve: DataFrame): DataFrame =
    asg.join(ve, "vec_id")
      .select(col("cid"), posexplode(col("q")))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("sum(col) div count(1)").as("cv"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
        .as("sc"))
      .select(col("cid"), expr("transform(sc, s -> s.cv)").as("c"))

  /** q292 — distributed Lloyd k-means over the 64-dim embedding
    * corpus: k = 8 centroids seeded from vec_id 0–7, two full
    * assign→update rounds on the integer grid, then a final
    * assignment and per-cluster report (size, within-cluster sum of
    * squares, majority ground-truth label and its purity) — the
    * "does the embedding space even cluster" audit run before
    * semantic dedup thresholds (q93) are trusted.
    *
    * Scale: each round is one broadcast-8 crossJoin scan of the
    * corpus (narrow, codegen'd zip_with/aggregate — no shuffle on
    * the wide arrays) plus a (k·64)-row map-side-combining centroid
    * aggregate; rounds are a constant (2), so the plan is O(N·k·dim)
    * work and O(k·dim) shuffle bytes per round at any corpus size.
    * Assignment ties and empty clusters (a cid that loses all
    * members simply drops out of the centroid frame) replay
    * identically in both engines. */
  val q292 = QuerySpec("q292_kmeans_lloyd",
    (s, dir) => {
      val ve = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr(qArrSpark).as("q")))
      val c0 = ve.where(col("vec_id") < kK)
        .select(col("vec_id").as("cid"), col("q").as("c"))
      val c1 = graft.CacheRegistry.persistTracked(update(assign(ve, c0), ve))
      val c2 = graft.CacheRegistry.persistTracked(update(assign(ve, c1), ve))
      val fin = assign(ve, c2).join(ve, "vec_id")
      val byLabel = fin.groupBy(col("cid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val stats = fin.groupBy("cid")
        .agg(count(lit(1)).as("n"), sum("dist").as("wcss"))
      stats.join(byLabel, "cid")
        .groupBy(col("cid"), col("n"), col("wcss"))
        .agg(max(col("cnt") * lit(1024L) + lit(1023L) - col("label"))
          .as("tkey"))
        .select(col("cid"), col("n"), col("wcss"),
          (lit(1023L) - col("tkey") % 1024L).as("top_label"),
          expr("((tkey div 1024) * 1000000) div n").as("purity_ppm"))
        .orderBy("cid")
    },
    Some(raw"""
WITH un AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, $qArrSql AS q
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, q AS c FROM un WHERE vec_id < $kK
), a1 AS (
  SELECT u.vec_id,
    CAST(min($distSql * $kK + c.cid) AS BIGINT) AS akey
  FROM un u CROSS JOIN c0 c GROUP BY 1
), c1 AS (
  SELECT cid, list(cv ORDER BY i) AS c FROM (
    SELECT a.akey % $kK AS cid, t.i,
      CAST(sum(u.q[t.i]) // count(*) AS BIGINT) AS cv
    FROM a1 a JOIN un u ON a.vec_id = u.vec_id
    CROSS JOIN (SELECT unnest(range(1, ${kDim + 1})) AS i) t
    GROUP BY 1, 2) GROUP BY 1
), a2 AS (
  SELECT u.vec_id,
    CAST(min($distSql * $kK + c.cid) AS BIGINT) AS akey
  FROM un u CROSS JOIN c1 c GROUP BY 1
), c2 AS (
  SELECT cid, list(cv ORDER BY i) AS c FROM (
    SELECT a.akey % $kK AS cid, t.i,
      CAST(sum(u.q[t.i]) // count(*) AS BIGINT) AS cv
    FROM a2 a JOIN un u ON a.vec_id = u.vec_id
    CROSS JOIN (SELECT unnest(range(1, ${kDim + 1})) AS i) t
    GROUP BY 1, 2) GROUP BY 1
), fin AS (
  SELECT u.vec_id, u.label,
    CAST(min($distSql * $kK + c.cid) AS BIGINT) % $kK AS cid,
    CAST(min($distSql * $kK + c.cid) AS BIGINT) // $kK AS dist
  FROM un u CROSS JOIN c2 c GROUP BY 1, 2
), by_label AS (
  SELECT cid, label, CAST(count(*) AS BIGINT) AS cnt
  FROM fin GROUP BY 1, 2
), stats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(dist) AS BIGINT) AS wcss
  FROM fin GROUP BY 1
)
SELECT s.cid, s.n, s.wcss,
  CAST(1023 - max(b.cnt * 1024 + 1023 - b.label) % 1024 AS BIGINT)
    AS top_label,
  CAST(((max(b.cnt * 1024 + 1023 - b.label) // 1024) * 1000000) // s.n
    AS BIGINT) AS purity_ppm
FROM stats s JOIN by_label b ON s.cid = b.cid
GROUP BY s.cid, s.n, s.wcss
ORDER BY s.cid
"""))

  /** Shared pinned-double Cramer solve for q293: the determinant
    * expansions are written ONCE here and spliced into both engines
    * verbatim, so the IEEE op sequence is identical by construction
    * (the q249 pattern). Inputs are the exact integer sums cast to
    * double (dn, d1, d2, d11, d12, d22, dy, d1y, d2y). */
  private[graft] val detExpr =
    "dn * (d11 * d22 - d12 * d12) - d1 * (d1 * d22 - d12 * d2) + d2 * (d1 * d12 - d11 * d2)"
  private[graft] val det0Expr =
    "dy * (d11 * d22 - d12 * d12) - d1 * (d1y * d22 - d12 * d2y) + d2 * (d1y * d12 - d11 * d2y)"
  private[graft] val det1Expr =
    "dn * (d1y * d22 - d12 * d2y) - dy * (d1 * d22 - d12 * d2) + d2 * (d1 * d2y - d1y * d2)"
  private[graft] val det2Expr =
    "dn * (d11 * d2y - d1y * d12) - d1 * (d1 * d2y - d1y * d2) + dy * (d1 * d12 - d11 * d2)"

  /** q293 — multivariate OLS by normal equations: fit
    * price_cents ~ β₀ + β₁·quantity + β₂·discount_pct over lineitem
    * in closed form — one exact-integer aggregate collapses the
    * corpus to the nine normal-equation sums (n, Σx₁, Σx₂, Σx₁²,
    * Σx₁x₂, Σx₂², Σy, Σx₁y, Σx₂y), then a 3×3 Cramer solve produces
    * the coefficients. This is THE scale shape for linear model
    * fitting on a warehouse: the only corpus-scale work is one
    * map-side-combining aggregate; the solve is O(1) on a single
    * row. Betas are pinned-float ppm (floor(detᵢ/det·10⁶) on the
    * shared expansion text above); the sums themselves stay exact
    * bigint (Σx₁y ≈ 5·10¹⁴ at sf0.01 — inside long through sf100).
    * MlFitSpec recovers planted coefficients on a synthetic exact-fit
    * frame, independent of DuckDB. */
  val q293 = QuerySpec("q293_ols_normal_eq",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          expr("cast(l_quantity as bigint)").as("x1"),
          expr("cast(floor(l_discount * 100) as bigint)").as("x2"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("y"))
        .agg(count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
          sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
          sum(expr("x2 * x2")).as("s22"), sum("y").as("sy"),
          sum(expr("x1 * y")).as("s1y"), sum(expr("x2 * y")).as("s2y"))
        .select(col("n"),
          expr("cast(n as double)").as("dn"),
          expr("cast(s1 as double)").as("d1"),
          expr("cast(s2 as double)").as("d2"),
          expr("cast(s11 as double)").as("d11"),
          expr("cast(s12 as double)").as("d12"),
          expr("cast(s22 as double)").as("d22"),
          expr("cast(sy as double)").as("dy"),
          expr("cast(s1y as double)").as("d1y"),
          expr("cast(s2y as double)").as("d2y"))
        .select(col("n"),
          expr(s"cast(floor(($det0Expr) / ($detExpr) * 1000000.0) as bigint)")
            .as("beta0_ppm"),
          expr(s"cast(floor(($det1Expr) / ($detExpr) * 1000000.0) as bigint)")
            .as("beta1_ppm"),
          expr(s"cast(floor(($det2Expr) / ($detExpr) * 1000000.0) as bigint)")
            .as("beta2_ppm"))
    },
    Some(raw"""
WITH obs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
    CAST(sum(x1 * x1) AS BIGINT) AS s11,
    CAST(sum(x1 * x2) AS BIGINT) AS s12,
    CAST(sum(x2 * x2) AS BIGINT) AS s22,
    CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x1 * y) AS BIGINT) AS s1y,
    CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM obs
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
    CAST(s2 AS DOUBLE) AS d2, CAST(s11 AS DOUBLE) AS d11,
    CAST(s12 AS DOUBLE) AS d12, CAST(s22 AS DOUBLE) AS d22,
    CAST(sy AS DOUBLE) AS dy, CAST(s1y AS DOUBLE) AS d1y,
    CAST(s2y AS DOUBLE) AS d2y
  FROM sums
)
SELECT n,
  CAST(floor(($det0Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS beta0_ppm,
  CAST(floor(($det1Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS beta1_ppm,
  CAST(floor(($det2Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS beta2_ppm
FROM d
"""))

  /** q294 — Mann–Whitney U: does the `value` distribution of `click`
    * events differ from `view` events? The nonparametric two-sample
    * location test that needs no normality assumption (the KS test
    * q239 compares whole CDFs; U targets stochastic dominance).
    * Ranking runs on the bounded distinct-cents domain — one
    * groupBy(cents) histogram then a prefix sum over distinct values
    * (the q266 histogram-rank shape), never a window over raw
    * events, so a billion-event day still ranks through a
    * domain-sized frame. Tied ranks use the standard midrank,
    * doubled (rank2 = 2·cum_before + t + 1) so everything stays
    * integer; U is reported doubled (u2 = 2·U) for the same reason.
    * z carries the tie-corrected variance via the pinned-float
    * pattern. */
  val q294 = QuerySpec("q294_mann_whitney",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .where(col("event_type").isin("click", "view"))
        .select(expr("cast(floor(value * 100) as bigint)").as("cents"),
          col("event_type"))
      val hist = ev.groupBy("cents")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("na"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("nb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = hist
        .withColumn("cumb", coalesce(sum(col("na") + col("nb")).over(w),
          lit(0L)))
        .withColumn("rank2",
          lit(2L) * col("cumb") + col("na") + col("nb") + lit(1L))
        .withColumn("t", col("na") + col("nb"))
      ranked.agg(
        sum("na").as("n_a"), sum("nb").as("n_b"),
        sum(expr("na * rank2")).as("r2a"),
        sum(expr("nb * rank2")).as("r2b"),
        sum(expr("t * t * t - t")).as("ties"))
        .select(col("n_a"), col("n_b"),
          expr("r2a - n_a * (n_a + 1)").as("u2_a"),
          expr("r2b - n_b * (n_b + 1)").as("u2_b"),
          expr("cast(floor((cast(r2a - n_a * (n_a + 1) as double) / 2.0 - cast(n_a as double) * cast(n_b as double) / 2.0) / sqrt(cast(n_a as double) * cast(n_b as double) / 12.0 * (cast(n_a + n_b + 1 as double) - cast(ties as double) / (cast(n_a + n_b as double) * cast(n_a + n_b - 1 as double)))) * 1000000.0) as bigint)")
            .as("z_ppm"))
    },
    Some(raw"""
WITH ev AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS cents, event_type
  FROM events WHERE event_type IN ('click', 'view')
), hist AS (
  SELECT cents,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM ev GROUP BY 1
), ranked AS (
  SELECT na, nb, na + nb AS t,
    2 * COALESCE(sum(na + nb) OVER (ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + na + nb + 1 AS rank2
  FROM hist
), s AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
    CAST(sum(na * rank2) AS BIGINT) AS r2a,
    CAST(sum(nb * rank2) AS BIGINT) AS r2b,
    CAST(sum(t * t * t - t) AS BIGINT) AS ties
  FROM ranked
)
SELECT n_a, n_b,
  CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
  CAST(r2b - n_b * (n_b + 1) AS BIGINT) AS u2_b,
  CAST(floor((CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * (CAST(n_a + n_b + 1 AS DOUBLE) - CAST(ties AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)))) * 1000000.0) AS BIGINT) AS z_ppm
FROM s
"""))

  /** q295 — quantized naive-Bayes language classifier with confusion
    * matrix: train token→lang evidence weights on the 80% of
    * `documents` with doc_id % 5 ≠ 0 (add-1 smoothing over the train
    * vocabulary, weights quantized to ppm of the per-lang token mass
    * so scoring is exact integer addition — the registry's log-free
    * surrogate for the multinomial NB decision rule), score the held
    * -out 20%, and report the actual×predicted confusion matrix.
    * Unseen test tokens get the per-lang smoothing floor
    * (10⁶ div (tot_l + V)) via the coalesce on the left join, and a
    * per-doc prior term mirrors the class frequencies. Argmax with
    * lowest-lang tie-break is the arithmetic key score·8 + (8 − lid)
    * — one total order both engines share.
    *
    * Scale: the corpus-scale work is the token explode + one
    * (token, lang) count aggregate; the model frame is vocab×|langs|
    * and joins the test explode on token (AQE-broadcastable when the
    * vocab is dictionary-sized); scoring is a per-doc sum. */
  val q295 = QuerySpec("q295_naive_bayes",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = graft.CacheRegistry.persistTracked(
        docs.select(col("doc_id"), col("lang"),
          explode(expr("filter(split(lower(text), '[^a-z]+'), t -> t <> '')"))
            .as("tok")))
      val train = toks.where(col("doc_id") % 5 =!= 0)
      val vocab = train.select("tok").distinct().agg(count(lit(1)).as("v"))
      val langs = graft.CacheRegistry.persistTracked(
        train.groupBy("lang").agg(count(lit(1)).as("tot"))
          .crossJoin(vocab)
          .withColumn("lid", row_number().over(Window.orderBy("lang"))
            .cast("long")))
      val ndocs = docs.where(col("doc_id") % 5 =!= 0)
        .groupBy("lang").agg(count(lit(1)).as("nd"))
      val prior = langs.join(ndocs, "lang")
        .crossJoin(broadcast(
          docs.where(col("doc_id") % 5 =!= 0).agg(count(lit(1)).as("ndt"))))
        .select(col("lang"), col("lid"), col("tot"), col("v"),
          expr("(nd * 1000000) div ndt").as("prior"))
      val weights = train.groupBy(col("tok"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .join(langs.select("lang", "tot", "v"), "lang")
        .select(col("tok"), col("lang"),
          expr("((c + 1) * 1000000) div (tot + v)").as("w"))
      val test = toks.where(col("doc_id") % 5 === 0)
      val perDocLang = test
        .crossJoin(broadcast(prior.select(col("lang").as("cand"),
          col("lid"), col("tot"), col("v"), col("prior"))))
        .join(weights.select(col("tok").as("wtok"),
          col("lang").as("cand2"), col("w")),
          col("tok") === col("wtok") && col("cand") === col("cand2"),
          "left_outer")
        .select(col("doc_id"), col("lang"), col("cand"), col("lid"),
          col("prior"),
          coalesce(col("w"), expr("1000000 div (tot + v)")).as("wv"))
        .groupBy(col("doc_id"), col("lang"), col("cand"), col("lid"),
          col("prior"))
        .agg(sum("wv").as("ev"))
        .select(col("doc_id"), col("lang"),
          (col("prior") + col("ev")).as("score"), col("lid"))
      val pred = perDocLang.groupBy(col("doc_id"), col("lang"))
        .agg(max(col("score") * lit(8L) + (lit(8L) - col("lid")))
          .as("akey"))
        .select(col("doc_id"), col("lang"),
          (lit(8L) - col("akey") % 8L).as("plid"))
        .join(langs.select(col("lid").as("plid"), col("lang").as("pred")),
          "plid")
      pred.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
    Some(raw"""
WITH toks AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang,
      unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
    FROM documents)
  WHERE tok <> ''
), train AS (
  SELECT * FROM toks WHERE doc_id % 5 <> 0
), vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM train
), langs AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS tot,
    CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS lid
  FROM train GROUP BY lang
), prior AS (
  SELECT l.lang, l.lid, l.tot, vocab.v,
    (CAST(nd.nd AS BIGINT) * 1000000) // nd.ndt AS prior
  FROM langs l
  JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS nd,
      CAST((SELECT count(*) FROM documents WHERE doc_id % 5 <> 0) AS BIGINT) AS ndt
    FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang) nd
    ON l.lang = nd.lang
  CROSS JOIN vocab
), weights AS (
  SELECT t.tok, t.lang,
    ((CAST(count(*) AS BIGINT) + 1) * 1000000) // (l.tot + v.v) AS w
  FROM train t JOIN langs l ON t.lang = l.lang CROSS JOIN vocab v
  GROUP BY t.tok, t.lang, l.tot, v.v
), test AS (
  SELECT * FROM toks WHERE doc_id % 5 = 0
), scored AS (
  SELECT te.doc_id, te.lang, p.lang AS cand, p.lid,
    p.prior + CAST(sum(COALESCE(w.w, 1000000 // (p.tot + p.v))) AS BIGINT) AS score
  FROM test te
  CROSS JOIN prior p
  LEFT JOIN weights w ON te.tok = w.tok AND p.lang = w.lang
  GROUP BY te.doc_id, te.lang, p.lang, p.lid, p.prior
), pred AS (
  SELECT s.doc_id, s.lang,
    8 - max(s.score * 8 + (8 - s.lid)) % 8 AS plid
  FROM scored s GROUP BY s.doc_id, s.lang
)
SELECT p.lang, l.lang AS pred, CAST(count(*) AS BIGINT) AS n
FROM pred p JOIN langs l ON p.plid = l.lid
GROUP BY 1, 2 ORDER BY 1, 2
"""))

  /** q301 — PCA top component by integer power iteration: center the
    * quantized embedding grid, build the exact 64×64 integer
    * covariance-numerator matrix C = Σ d·dᵀ (one corpus-scale pass: a
    * per-partition 64×64 long accumulator, merged as 4096 longs per
    * partition — the distributed-covariance shape), then run
    * three power-iteration steps v ← C·v with ppm renormalization —
    * every step exact integer arithmetic (the matvec accumulates in
    * decimal(38,0)/HUGEINT, then rescales to max |v| = 10⁶ by
    * integral division), so there is no float summation anywhere and
    * both engines replay the identical trajectory, sign and all
    * (v₀ = +10⁶ pins the eigenvector sign). Output: the 64 ppm
    * components plus the Rayleigh quotient λ = (vᵀCv) div (vᵀv) as
    * the dominant-eigenvalue estimate.
    *
    * Scale: C is the only corpus-scale pass (N·64² products, the
    * standard distributed-covariance shape); iteration runs on the
    * 4096-row C frame joined to a 64-row vector — constants at any
    * corpus size. */
  val q301 = QuerySpec("q301_pca_power",
    (s, dir) => {
      val ve = graft.CacheRegistry.persistTracked(
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), expr(qArrSpark).as("q")))
      val marr = ve.select(posexplode(col("q")))
        .groupBy("pos").agg(expr("sum(col) div count(1)").as("m"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("sm"))
        .select(expr("transform(sm, s -> s.m)").as("marr"))
      val dev = ve.crossJoin(broadcast(marr))
        .select(col("vec_id"),
          expr("zip_with(q, marr, (a, b) -> a - b)").as("d"))
      // per-partition 64x64 long accumulation (exact integer sums,
      // identical to an outer-product groupBy but with 4096 longs per
      // partition on the wire instead of N·4096 aggregate rows — the
      // explode formulation shuffled 2G structs and ran 60 s at sf10)
      val parts = dev.select(col("d")).rdd.mapPartitions { rows =>
        val acc = Array.ofDim[Long](kDim * kDim)
        rows.foreach { r =>
          val a = r.getSeq[Long](0).toArray
          var i = 0
          while (i < kDim) {
            val ai = a(i)
            val base = i * kDim
            var j = 0
            while (j < kDim) { acc(base + j) += ai * a(j); j += 1 }
            i += 1
          }
        }
        Iterator.single(acc)
      }
      // bounded driver merge: 4096 longs per partition (the broadcast
      // -codebook pattern — model-sized, not corpus-sized)
      val covArr = parts.fold(Array.ofDim[Long](kDim * kDim)) { (x, y) =>
        var t = 0
        while (t < x.length) { x(t) += y(t); t += 1 }
        x
      }
      val covRows = for (i <- 0 until kDim; j <- 0 until kDim)
        yield (i.toLong, j.toLong, covArr(i * kDim + j))
      import s.implicits._
      val cov = graft.CacheRegistry.persistTracked(
        covRows.toDF("i", "j", "c"))
      var v = s.range(0, kDim.toLong)
        .select(col("id").as("j"), lit(1000000L).as("vj"))
      // every round's checkpoint is tracked: each one truncates the
      // lineage to the one before it, so the last alone would not
      // reach them
      for (_ <- 1 to 3) {
        val u = cov.join(v, "j")
          .groupBy("i")
          .agg(sum(col("c").cast("decimal(38,0)") *
            col("vj").cast("decimal(38,0)")).as("u"))
        val mx = u.agg(max(abs(col("u"))).as("mx"))
        v = graft.CacheRegistry.trackCheckpoint(u.crossJoin(broadcast(mx))
          .select(col("i").as("j"),
            expr("(u * 1000000) div mx").as("vj"))
          .localCheckpoint(true))
      }
      val vc = v
      val ray = cov
        .join(vc.select(col("j").as("i"), col("vj").as("vi")), "i")
        .join(vc, "j")
        .agg(sum(col("c").cast("decimal(38,0)") *
          col("vi").cast("decimal(38,0)") * col("vj").cast("decimal(38,0)"))
          .as("num"))
        .crossJoin(broadcast(
          vc.agg(sum(expr("vj * vj")).cast("decimal(38,0)").as("den"))))
        .select(expr("num div den").as("lambda"))
      vc.crossJoin(broadcast(ray))
        .select((col("j") + 1L).as("dim"), col("vj").as("v_ppm"),
          col("lambda"))
        .orderBy("dim")
    },
    Some(raw"""
WITH un AS (
  SELECT vec_id, $qArrSql AS q FROM embeddings
), mean AS (
  SELECT i, CAST(sum(q[i]) // count(*) AS BIGINT) AS m
  FROM un CROSS JOIN (SELECT unnest(range(1, ${kDim + 1})) AS i) t
  GROUP BY 1
), dev AS (
  SELECT u.vec_id, m.i, u.q[m.i] - m.m AS d
  FROM un u CROSS JOIN mean m
), cov AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.d * b.d) AS HUGEINT) AS c
  FROM dev a JOIN dev b USING (vec_id) GROUP BY 1, 2
), v0 AS (
  SELECT CAST(i AS BIGINT) AS j, CAST(1000000 AS HUGEINT) AS vj
  FROM (SELECT unnest(range(1, ${kDim + 1})) AS i)
), u1 AS (
  SELECT c.i, sum(c.c * v.vj) AS u FROM cov c JOIN v0 v ON c.j = v.j
  GROUP BY 1
), v1 AS (
  SELECT i AS j, (u * 1000000) // (SELECT max(abs(u)) FROM u1) AS vj
  FROM u1
), u2 AS (
  SELECT c.i, sum(c.c * v.vj) AS u FROM cov c JOIN v1 v ON c.j = v.j
  GROUP BY 1
), v2 AS (
  SELECT i AS j, (u * 1000000) // (SELECT max(abs(u)) FROM u2) AS vj
  FROM u2
), u3 AS (
  SELECT c.i, sum(c.c * v.vj) AS u FROM cov c JOIN v2 v ON c.j = v.j
  GROUP BY 1
), v3 AS (
  SELECT i AS j, (u * 1000000) // (SELECT max(abs(u)) FROM u3) AS vj
  FROM u3
), ray AS (
  SELECT CAST(
    (SELECT sum(c.c * va.vj * vb.vj) FROM cov c
      JOIN v3 va ON c.i = va.j JOIN v3 vb ON c.j = vb.j)
    // (SELECT sum(vj * vj) FROM v3) AS BIGINT) AS lambda
)
SELECT CAST(v.j AS BIGINT) AS dim, CAST(v.vj AS BIGINT) AS v_ppm,
  r.lambda
FROM v3 v CROSS JOIN ray r
ORDER BY dim
"""))

  /** Shared q337 expressions, spliced verbatim into both engines.
    * Validation SSE stays EXACT INTEGER by scoring with the ppm-
    * floored coefficients: with e_i = 10⁶·y_i − b0 − b1·x1_i − b2·x2_i
    * (all integers), Σe_i² expands over the per-fold moment sums —
    * 10¹²·Σy² + b0²n + b1²S11 + b2²S22 − 2·10⁶(b0Sy + b1S1y + b2S2y)
    * + 2(b0b1S1 + b0b2S2 + b1b2S12) — so the only floats anywhere are
    * the Cramer solve (the q293 pinned sequence) and one final
    * correctly-rounded sqrt for RMSE. */
  private def sse12Expr(big: String => String): String = {
    def b(s: String) = big(s)
    s"${b("1000000000000")} * tyy" +
      s" + ${b("b0")} * b0 * tn + ${b("b1")} * b1 * t11" +
      s" + ${b("b2")} * b2 * t22" +
      s" - 2 * ${b("1000000")} * b0 * ty" +
      s" - 2 * ${b("1000000")} * b1 * t1y" +
      s" - 2 * ${b("1000000")} * b2 * t2y" +
      s" + 2 * ${b("b0")} * b1 * t1 + 2 * ${b("b0")} * b2 * t2" +
      s" + 2 * ${b("b1")} * b2 * t12"
  }
  private val sse12Spark = sse12Expr(s => s"cast($s as decimal(38,0))")
  private val sse12Duck = sse12Expr(s => s"CAST($s AS HUGEINT)")
  private val rmseSpark = s"cast(floor(sqrt(cast(($sse12Spark) as double)" +
    " / (1000000000000.0 * cast(tn as double)))) as bigint)"
  private val rmseDuck = s"CAST(floor(sqrt(CAST(($sse12Duck) AS DOUBLE)" +
    " / (1000000000000.0 * CAST(tn AS DOUBLE)))) AS BIGINT)"

  /** q337 — 5-fold CROSS-VALIDATION of the q293 linear model in ONE
    * corpus pass: fold = 60-bit-md5(row) mod 5 (the reproducible
    * "random" split — a function of row values, so both engines and
    * any re-run agree), per-fold moment sums from a single
    * groupBy(fold) aggregate, TRAIN sums for fold f by SUBTRACTION
    * (total − fold — no second scan, no 5× train passes: the moments
    * are additive, which is the whole point of the normal-equation
    * formulation at scale), β per fold via the q293 pinned Cramer
    * solve, and held-out SSE/RMSE from the SAME fold sums via the
    * exact-integer expansion above. The entire 5-fold CV costs one
    * aggregate of 10 sums plus arithmetic on a 5-row frame. */
  val q337 = QuerySpec("q337_cross_validation",
    (s, dir) => {
      val fold = "pmod(cast(conv(substring(md5(concat('cv|', " +
        "cast(l_orderkey as string), '|', cast(l_linenumber as string), " +
        "'|', cast(x1 as string), '|', cast(x2 as string), '|', " +
        "cast(y as string))), 1, 15), 16, 10) as bigint), 5)"
      val obs = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("cast(l_quantity as bigint)").as("x1"),
          expr("cast(floor(l_discount * 100) as bigint)").as("x2"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("y"))
        .withColumn("fold", expr(fold))
      // Σy² via the q342 split-sum core: three exact int64 cross sums
      // per fold, one decimal recombination on the 5-row frame (the
      // per-row decimal(38) multiply was a measured 15× slowdown of
      // the whole pass at 100× rows)
      val perFold = obs.groupBy("fold").agg(
        count(lit(1)).as("tn"), sum("x1").as("t1"), sum("x2").as("t2"),
        sum(expr("x1 * x1")).as("t11"), sum(expr("x1 * x2")).as("t12"),
        sum(expr("x2 * x2")).as("t22"), sum("y").as("ty"),
        sum(expr("x1 * y")).as("t1y"), sum(expr("x2 * y")).as("t2y"),
        sum(expr("(y div 10000) * (y div 10000)")).as("tyy_a"),
        sum(expr("(y div 10000) * (y % 10000)")).as("tyy_ab"),
        sum(expr("(y % 10000) * (y % 10000)")).as("tyy_b"))
        .withColumn("tyy", expr(
          "cast(tyy_a as decimal(38,0)) * 100000000 + " +
            "2 * cast(tyy_ab as decimal(38,0)) * 10000 + " +
            "cast(tyy_b as decimal(38,0))"))
      val w = Window.partitionBy(lit(1))
      // totals ride along as window sums over the 5-row fold frame
      val staged = perFold
        .withColumn("gn", sum("tn").over(w))
        .withColumn("g1", sum("t1").over(w))
        .withColumn("g2", sum("t2").over(w))
        .withColumn("g11", sum("t11").over(w))
        .withColumn("g12", sum("t12").over(w))
        .withColumn("g22", sum("t22").over(w))
        .withColumn("gy", sum("ty").over(w))
        .withColumn("g1y", sum("t1y").over(w))
        .withColumn("g2y", sum("t2y").over(w))
        .withColumn("dn", expr("cast(gn - tn as double)"))
        .withColumn("d1", expr("cast(g1 - t1 as double)"))
        .withColumn("d2", expr("cast(g2 - t2 as double)"))
        .withColumn("d11", expr("cast(g11 - t11 as double)"))
        .withColumn("d12", expr("cast(g12 - t12 as double)"))
        .withColumn("d22", expr("cast(g22 - t22 as double)"))
        .withColumn("dy", expr("cast(gy - ty as double)"))
        .withColumn("d1y", expr("cast(g1y - t1y as double)"))
        .withColumn("d2y", expr("cast(g2y - t2y as double)"))
        .withColumn("b0",
          expr(s"cast(floor(($det0Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b1",
          expr(s"cast(floor(($det1Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b2",
          expr(s"cast(floor(($det2Expr) / ($detExpr) * 1000000.0) as bigint)"))
      staged.select(col("fold"),
          expr("gn - tn").as("n_train"), col("tn").as("n_test"),
          col("b0").as("beta0_ppm"), col("b1").as("beta1_ppm"),
          col("b2").as("beta2_ppm"),
          expr(rmseSpark).as("rmse_cents"))
        .orderBy("fold")
    },
    Some(raw"""
WITH obs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
    CAST(concat('0x', substr(md5(concat('cv|',
      CAST(l_orderkey AS VARCHAR), '|', CAST(l_linenumber AS VARCHAR),
      '|', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), '|',
      CAST(CAST(floor(l_discount * 100) AS BIGINT) AS VARCHAR), '|',
      CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS VARCHAR))),
      1, 15)) AS BIGINT) % 5 AS fold
  FROM lineitem
), per_fold AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS tn,
    CAST(sum(x1) AS BIGINT) AS t1, CAST(sum(x2) AS BIGINT) AS t2,
    CAST(sum(x1 * x1) AS BIGINT) AS t11,
    CAST(sum(x1 * x2) AS BIGINT) AS t12,
    CAST(sum(x2 * x2) AS BIGINT) AS t22,
    CAST(sum(y) AS BIGINT) AS ty,
    CAST(sum(x1 * y) AS BIGINT) AS t1y,
    CAST(sum(x2 * y) AS BIGINT) AS t2y,
    CAST(sum((y // 10000) * (y // 10000)) AS HUGEINT) * 100000000
      + 2 * CAST(sum((y // 10000) * (y % 10000)) AS HUGEINT) * 10000
      + CAST(sum((y % 10000) * (y % 10000)) AS HUGEINT) AS tyy
  FROM obs GROUP BY 1
), staged AS (
  SELECT *,
    CAST(sum(tn) OVER () - tn AS DOUBLE) AS dn,
    CAST(sum(t1) OVER () - t1 AS DOUBLE) AS d1,
    CAST(sum(t2) OVER () - t2 AS DOUBLE) AS d2,
    CAST(sum(t11) OVER () - t11 AS DOUBLE) AS d11,
    CAST(sum(t12) OVER () - t12 AS DOUBLE) AS d12,
    CAST(sum(t22) OVER () - t22 AS DOUBLE) AS d22,
    CAST(sum(ty) OVER () - ty AS DOUBLE) AS dy,
    CAST(sum(t1y) OVER () - t1y AS DOUBLE) AS d1y,
    CAST(sum(t2y) OVER () - t2y AS DOUBLE) AS d2y,
    CAST(sum(tn) OVER () - tn AS BIGINT) AS n_train
  FROM per_fold
), betas AS (
  SELECT *,
    CAST(floor(($det0Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b0,
    CAST(floor(($det1Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b1,
    CAST(floor(($det2Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b2
  FROM staged
)
SELECT fold, n_train, tn AS n_test,
  b0 AS beta0_ppm, b1 AS beta1_ppm, b2 AS beta2_ppm,
  $rmseDuck AS rmse_cents
FROM betas ORDER BY fold
"""))

  /** q338 — LEARNING CURVE (the scaling-law audit a training-data
    * engine exists to answer: how does model quality move as the
    * training set grows?): rows hash into 20 buckets; bucket 0 is the
    * FIXED held-out test set, and nested training subsets are buckets
    * 1..s for s ∈ {2, 5, 10, 19} (~10/25/50/95% of the corpus —
    * nested by construction, so the curve is monotone-comparable).
    * Same one-pass shape as q337: a single groupBy(bucket) moment
    * aggregate; each subset's moments are a SUM over its bucket rows
    * (a ≤ 4×19-row theta join, additivity again); β per size via the
    * pinned Cramer solve; held-out RMSE via the exact-integer SSE
    * expansion against bucket 0's moments. Output: rmse_cents vs
    * n_train — the curve itself. */
  val q338 = QuerySpec("q338_learning_curve",
    (s, dir) => {
      val bucket = "pmod(cast(conv(substring(md5(concat('lc|', " +
        "cast(l_orderkey as string), '|', cast(l_linenumber as string), " +
        "'|', cast(x1 as string), '|', cast(x2 as string), '|', " +
        "cast(y as string))), 1, 15), 16, 10) as bigint), 20)"
      val obs = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("cast(l_quantity as bigint)").as("x1"),
          expr("cast(floor(l_discount * 100) as bigint)").as("x2"),
          expr("cast(floor(l_extendedprice * 100) as bigint)").as("y"))
        .withColumn("b", expr(bucket))
      // same split-sum Σy² core as q337/q342 (per-row decimal ban)
      val perB = graft.CacheRegistry.persistTracked(
        obs.groupBy("b").agg(
          count(lit(1)).as("tn"), sum("x1").as("t1"), sum("x2").as("t2"),
          sum(expr("x1 * x1")).as("t11"), sum(expr("x1 * x2")).as("t12"),
          sum(expr("x2 * x2")).as("t22"), sum("y").as("ty"),
          sum(expr("x1 * y")).as("t1y"), sum(expr("x2 * y")).as("t2y"),
          sum(expr("(y div 10000) * (y div 10000)")).as("tyy_a"),
          sum(expr("(y div 10000) * (y % 10000)")).as("tyy_ab"),
          sum(expr("(y % 10000) * (y % 10000)")).as("tyy_b"))
        .withColumn("tyy", expr(
          "cast(tyy_a as decimal(38,0)) * 100000000 + " +
            "2 * cast(tyy_ab as decimal(38,0)) * 10000 + " +
            "cast(tyy_b as decimal(38,0))")))
      val test = perB.where(col("b") === 0L) // aliases match sse12Spark
      import s.implicits._
      val sizes = Seq(2L, 5L, 10L, 19L).toDF("s")
      val train = sizes.crossJoin(perB)
        .where(col("b") >= 1L && col("b") <= col("s"))
        .groupBy("s").agg(
          expr("cast(sum(tn) as double)").as("dn"),
          expr("cast(sum(t1) as double)").as("d1"),
          expr("cast(sum(t2) as double)").as("d2"),
          expr("cast(sum(t11) as double)").as("d11"),
          expr("cast(sum(t12) as double)").as("d12"),
          expr("cast(sum(t22) as double)").as("d22"),
          expr("cast(sum(ty) as double)").as("dy"),
          expr("cast(sum(t1y) as double)").as("d1y"),
          expr("cast(sum(t2y) as double)").as("d2y"),
          sum("tn").as("n_train"))
        .withColumn("b0",
          expr(s"cast(floor(($det0Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b1",
          expr(s"cast(floor(($det1Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b2",
          expr(s"cast(floor(($det2Expr) / ($detExpr) * 1000000.0) as bigint)"))
      train.crossJoin(broadcast(test))
        .select(col("s").as("n_buckets"), col("n_train"),
          col("tn").as("n_test"),
          col("b0").as("beta0_ppm"), col("b1").as("beta1_ppm"),
          col("b2").as("beta2_ppm"),
          expr(rmseSpark).as("rmse_cents"))
        .orderBy("n_buckets")
    },
    Some(raw"""
WITH obs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
    CAST(concat('0x', substr(md5(concat('lc|',
      CAST(l_orderkey AS VARCHAR), '|', CAST(l_linenumber AS VARCHAR),
      '|', CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), '|',
      CAST(CAST(floor(l_discount * 100) AS BIGINT) AS VARCHAR), '|',
      CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS VARCHAR))),
      1, 15)) AS BIGINT) % 20 AS b
  FROM lineitem
), per_b AS (
  SELECT b, CAST(count(*) AS BIGINT) AS tn,
    CAST(sum(x1) AS BIGINT) AS t1, CAST(sum(x2) AS BIGINT) AS t2,
    CAST(sum(x1 * x1) AS BIGINT) AS t11,
    CAST(sum(x1 * x2) AS BIGINT) AS t12,
    CAST(sum(x2 * x2) AS BIGINT) AS t22,
    CAST(sum(y) AS BIGINT) AS ty,
    CAST(sum(x1 * y) AS BIGINT) AS t1y,
    CAST(sum(x2 * y) AS BIGINT) AS t2y,
    CAST(sum((y // 10000) * (y // 10000)) AS HUGEINT) * 100000000
      + 2 * CAST(sum((y // 10000) * (y % 10000)) AS HUGEINT) * 10000
      + CAST(sum((y % 10000) * (y % 10000)) AS HUGEINT) AS tyy
  FROM obs GROUP BY 1
), sizes AS (SELECT unnest([2, 5, 10, 19]) AS s),
train AS (
  SELECT s,
    CAST(sum(tn) AS DOUBLE) AS dn, CAST(sum(t1) AS DOUBLE) AS d1,
    CAST(sum(t2) AS DOUBLE) AS d2, CAST(sum(t11) AS DOUBLE) AS d11,
    CAST(sum(t12) AS DOUBLE) AS d12, CAST(sum(t22) AS DOUBLE) AS d22,
    CAST(sum(ty) AS DOUBLE) AS dy, CAST(sum(t1y) AS DOUBLE) AS d1y,
    CAST(sum(t2y) AS DOUBLE) AS d2y,
    CAST(sum(tn) AS BIGINT) AS n_train
  FROM sizes JOIN per_b ON b >= 1 AND b <= s
  GROUP BY s
), betas AS (
  SELECT *,
    CAST(floor(($det0Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b0,
    CAST(floor(($det1Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b1,
    CAST(floor(($det2Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b2
  FROM train
)
SELECT CAST(s AS BIGINT) AS n_buckets, n_train, t.tn AS n_test,
  b0 AS beta0_ppm, b1 AS beta1_ppm, b2 AS beta2_ppm,
  $rmseDuck AS rmse_cents
FROM betas CROSS JOIN (SELECT * FROM per_b WHERE b = 0) t
ORDER BY n_buckets
"""))

  /** q342 — RIDGE REGULARIZATION PATH (Hoerl–Kennard 1970) from ONE
    * corpus pass: the whole λ-sweep reuses the q293 normal-equation
    * moments — ridge with an unpenalized intercept only perturbs the
    * Gram matrix diagonal (S11+λ, S22+λ), so four λ values are four
    * 3×3 Cramer solves on a 4-row literal frame crossed with the
    * single global moment row. This is THE scale shape for
    * hyperparameter sweeps: a naive implementation refits per λ (k
    * corpus passes); moment additivity makes the sweep O(1) extra
    * work after one aggregate, at 100 TB exactly as at 60k rows.
    * λ=0 reproduces the q293 OLS fit bit-for-bit (same pinned det
    * expressions); as λ grows the slopes shrink toward 0, the
    * intercept toward mean(y), and train RMSE (exact-integer SSE
    * expansion, q337's) rises monotonically — the output IS the
    * shrinkage curve. Every irrational step is the registry-standard
    * pinned sequence: identical double det text in both engines, ppm
    * floor, one correctly-rounded sqrt. */
  val q342 = QuerySpec("q342_ridge_path",
    (s, dir) => {
      val obs = Tables(s, dir, "lineitem").select(
        expr("cast(l_quantity as bigint)").as("x1"),
        expr("cast(floor(l_discount * 100) as bigint)").as("x2"),
        expr("cast(floor(l_extendedprice * 100) as bigint)").as("y"))
      // Σy² exceeds int64 (y ≤ 10⁷ cents, 10⁸+ rows at scale), but a
      // per-row decimal(38) multiply is a BigDecimal per row — a
      // measured 15× slowdown of the whole pass at 100× rows. Split
      // y = a·10⁴ + b: the three cross sums stay exact IN INT64
      // (Σa² ≤ n·10⁶, Σab ≤ n·10⁷, Σb² ≤ n·10⁸), and the single
      // decimal recombination happens on the 1-row frame.
      val tot = obs.agg(
        count(lit(1)).as("tn"), sum("x1").as("t1"), sum("x2").as("t2"),
        sum(expr("x1 * x1")).as("t11"), sum(expr("x1 * x2")).as("t12"),
        sum(expr("x2 * x2")).as("t22"), sum("y").as("ty"),
        sum(expr("x1 * y")).as("t1y"), sum(expr("x2 * y")).as("t2y"),
        sum(expr("(y div 10000) * (y div 10000)")).as("tyy_a"),
        sum(expr("(y div 10000) * (y % 10000)")).as("tyy_ab"),
        sum(expr("(y % 10000) * (y % 10000)")).as("tyy_b"))
        .withColumn("tyy", expr(
          "cast(tyy_a as decimal(38,0)) * 100000000 + " +
            "2 * cast(tyy_ab as decimal(38,0)) * 10000 + " +
            "cast(tyy_b as decimal(38,0))"))
      import s.implicits._
      val lams = Seq(0L, 10000L, 1000000L, 100000000L).toDF("lambda")
      lams.crossJoin(broadcast(tot))
        .withColumn("dn", expr("cast(tn as double)"))
        .withColumn("d1", expr("cast(t1 as double)"))
        .withColumn("d2", expr("cast(t2 as double)"))
        .withColumn("d11", expr("cast(t11 + lambda as double)"))
        .withColumn("d12", expr("cast(t12 as double)"))
        .withColumn("d22", expr("cast(t22 + lambda as double)"))
        .withColumn("dy", expr("cast(ty as double)"))
        .withColumn("d1y", expr("cast(t1y as double)"))
        .withColumn("d2y", expr("cast(t2y as double)"))
        .withColumn("b0",
          expr(s"cast(floor(($det0Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b1",
          expr(s"cast(floor(($det1Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b2",
          expr(s"cast(floor(($det2Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .select(col("lambda"), col("tn").as("n"),
          col("b0").as("beta0_ppm"), col("b1").as("beta1_ppm"),
          col("b2").as("beta2_ppm"),
          expr(rmseSpark).as("rmse_cents"))
        .orderBy("lambda")
    },
    Some(raw"""
WITH obs AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS tn,
    CAST(sum(x1) AS BIGINT) AS t1, CAST(sum(x2) AS BIGINT) AS t2,
    CAST(sum(x1 * x1) AS BIGINT) AS t11,
    CAST(sum(x1 * x2) AS BIGINT) AS t12,
    CAST(sum(x2 * x2) AS BIGINT) AS t22,
    CAST(sum(y) AS BIGINT) AS ty,
    CAST(sum(x1 * y) AS BIGINT) AS t1y,
    CAST(sum(x2 * y) AS BIGINT) AS t2y,
    CAST(sum((y // 10000) * (y // 10000)) AS HUGEINT) * 100000000
      + 2 * CAST(sum((y // 10000) * (y % 10000)) AS HUGEINT) * 10000
      + CAST(sum((y % 10000) * (y % 10000)) AS HUGEINT) AS tyy
  FROM obs
), lams AS (SELECT unnest([0, 10000, 1000000, 100000000]) AS lambda),
g AS (
  SELECT CAST(lambda AS BIGINT) AS lambda, tot.*,
    CAST(tn AS DOUBLE) AS dn, CAST(t1 AS DOUBLE) AS d1,
    CAST(t2 AS DOUBLE) AS d2,
    CAST(t11 + lambda AS DOUBLE) AS d11,
    CAST(t12 AS DOUBLE) AS d12,
    CAST(t22 + lambda AS DOUBLE) AS d22,
    CAST(ty AS DOUBLE) AS dy, CAST(t1y AS DOUBLE) AS d1y,
    CAST(t2y AS DOUBLE) AS d2y
  FROM lams CROSS JOIN tot
), betas AS (
  SELECT *,
    CAST(floor(($det0Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b0,
    CAST(floor(($det1Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b1,
    CAST(floor(($det2Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b2
  FROM g
)
SELECT lambda, tn AS n,
  b0 AS beta0_ppm, b1 AS beta1_ppm, b2 AS beta2_ppm,
  $rmseDuck AS rmse_cents
FROM betas ORDER BY lambda
"""))

  /** Shared pinned R² text (spliced verbatim into both engines): the
    * ppm-floored coefficient of determination from the exact-integer
    * pieces — SSE via [[sse12Expr]] (already 10¹²-scaled by the ppm
    * betas), SST·n = n·Σy² − (Σy)² kept exact in 38-digit integers,
    * and ONE double division with the 10¹² rescale folded into the
    * denominator text (multiplying it into the integer would overflow
    * 38 digits). */
  private def r2Expr(sse: String, big: String => String): String =
    s"cast(floor(1000000.0 * (1.0 - cast(($sse) as double) / " +
      s"(cast((${big("tn")} * tyy - ${big("ty")} * ty) as double) * " +
      "1000000000000.0))) as bigint)"
  private val r2Spark =
    r2Expr(sse12Spark, s => s"cast($s as decimal(38,0))")
  private val r2Duck = s"CAST(floor(1000000.0 * (1.0 - " +
    s"CAST(($sse12Duck) AS DOUBLE) / (CAST((CAST(tn AS HUGEINT) * tyy " +
    "- CAST(ty AS HUGEINT) * ty) AS DOUBLE) * 1000000000000.0))) " +
    "AS BIGINT)"

  /** q353 — GROUPED OLS ("many models in one pass", the per-tenant /
    * per-segment regression pattern): one model per l_returnflag,
    * price_cents ~ quantity + discount, fitted in closed form from a
    * single groupBy(flag) moment aggregate — the q293 machinery with
    * the group key carried through, plus per-model quality
    * diagnostics (train RMSE via the exact-integer SSE expansion, R²
    * via the pinned text above). THE scale claim of the
    * normal-equation formulation: a million tenant models cost
    * exactly one corpus pass plus a million 3×3 solves on the
    * aggregated frame — no per-model scans, no iteration, no
    * cross-model interference. Σy² rides the q342 split-sum core
    * (int64 cross sums, one decimal recombination per GROUP, never
    * per row). */
  val q353 = QuerySpec("q353_grouped_ols",
    (s, dir) => {
      val obs = Tables(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        expr("cast(l_quantity as bigint)").as("x1"),
        expr("cast(floor(l_discount * 100) as bigint)").as("x2"),
        expr("cast(floor(l_extendedprice * 100) as bigint)").as("y"))
      obs.groupBy("flag").agg(
        count(lit(1)).as("tn"), sum("x1").as("t1"), sum("x2").as("t2"),
        sum(expr("x1 * x1")).as("t11"), sum(expr("x1 * x2")).as("t12"),
        sum(expr("x2 * x2")).as("t22"), sum("y").as("ty"),
        sum(expr("x1 * y")).as("t1y"), sum(expr("x2 * y")).as("t2y"),
        sum(expr("(y div 10000) * (y div 10000)")).as("tyy_a"),
        sum(expr("(y div 10000) * (y % 10000)")).as("tyy_ab"),
        sum(expr("(y % 10000) * (y % 10000)")).as("tyy_b"))
        .withColumn("tyy", expr(
          "cast(tyy_a as decimal(38,0)) * 100000000 + " +
            "2 * cast(tyy_ab as decimal(38,0)) * 10000 + " +
            "cast(tyy_b as decimal(38,0))"))
        .withColumn("dn", expr("cast(tn as double)"))
        .withColumn("d1", expr("cast(t1 as double)"))
        .withColumn("d2", expr("cast(t2 as double)"))
        .withColumn("d11", expr("cast(t11 as double)"))
        .withColumn("d12", expr("cast(t12 as double)"))
        .withColumn("d22", expr("cast(t22 as double)"))
        .withColumn("dy", expr("cast(ty as double)"))
        .withColumn("d1y", expr("cast(t1y as double)"))
        .withColumn("d2y", expr("cast(t2y as double)"))
        .withColumn("b0",
          expr(s"cast(floor(($det0Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b1",
          expr(s"cast(floor(($det1Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .withColumn("b2",
          expr(s"cast(floor(($det2Expr) / ($detExpr) * 1000000.0) as bigint)"))
        .select(col("flag"), col("tn").as("n"),
          col("b0").as("beta0_ppm"), col("b1").as("beta1_ppm"),
          col("b2").as("beta2_ppm"),
          expr(rmseSpark).as("rmse_cents"),
          expr(r2Spark).as("r2_ppm"))
        .orderBy("flag")
    },
    Some(raw"""
WITH obs AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x1,
    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), per_g AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS tn,
    CAST(sum(x1) AS BIGINT) AS t1, CAST(sum(x2) AS BIGINT) AS t2,
    CAST(sum(x1 * x1) AS BIGINT) AS t11,
    CAST(sum(x1 * x2) AS BIGINT) AS t12,
    CAST(sum(x2 * x2) AS BIGINT) AS t22,
    CAST(sum(y) AS BIGINT) AS ty,
    CAST(sum(x1 * y) AS BIGINT) AS t1y,
    CAST(sum(x2 * y) AS BIGINT) AS t2y,
    CAST(sum((y // 10000) * (y // 10000)) AS HUGEINT) * 100000000
      + 2 * CAST(sum((y // 10000) * (y % 10000)) AS HUGEINT) * 10000
      + CAST(sum((y % 10000) * (y % 10000)) AS HUGEINT) AS tyy
  FROM obs GROUP BY 1
), staged AS (
  SELECT *,
    CAST(tn AS DOUBLE) AS dn, CAST(t1 AS DOUBLE) AS d1,
    CAST(t2 AS DOUBLE) AS d2, CAST(t11 AS DOUBLE) AS d11,
    CAST(t12 AS DOUBLE) AS d12, CAST(t22 AS DOUBLE) AS d22,
    CAST(ty AS DOUBLE) AS dy, CAST(t1y AS DOUBLE) AS d1y,
    CAST(t2y AS DOUBLE) AS d2y
  FROM per_g
), betas AS (
  SELECT *,
    CAST(floor(($det0Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b0,
    CAST(floor(($det1Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b1,
    CAST(floor(($det2Expr) / ($detExpr) * 1000000.0) AS BIGINT) AS b2
  FROM staged
)
SELECT flag, tn AS n,
  b0 AS beta0_ppm, b1 AS beta1_ppm, b2 AS beta2_ppm,
  $rmseDuck AS rmse_cents,
  $r2Duck AS r2_ppm
FROM betas ORDER BY flag
"""))

  val all: Seq[QuerySpec] =
    Seq(q292, q293, q294, q295, q301, q337, q338, q342, q353)
}
