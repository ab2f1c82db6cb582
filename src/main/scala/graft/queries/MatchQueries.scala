package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}
import graft.functions.{Text => T}
import graft.operators.MultiPattern

/** Round-15 matching tier: winnowed document fingerprints (the MOSS
  * local fingerprinting scheme — Schleimer, Wilkerson & Aiken,
  * SIGMOD'03), Aho–Corasick multi-pattern scanning (one pass over the
  * corpus for ALL patterns), and a windowed complex-event pattern
  * (view → first purchase within 30 min with no error between)
  * expressed entirely in per-user window functions — no per-group
  * collect anywhere.
  *
  * Shared determinism machinery: the winnowing argmin uses the
  * registry's arithmetic-key trick (h·2²⁰ + (2²⁰ − pos), min ⇒
  * smallest hash, rightmost position on ties — the canonical robust
  * winnowing tie rule); hashes are the engine-standard
  * first-8-hex-chars-of-md5 integers both engines compute from the
  * same normalized text.
  */
object MatchQueries {

  // winnowing constants: k-gram length and window size
  private val wK = 12
  private val wW = 4

  /** q296 — winnowed fingerprint near-dup pairs: per document, hash
    * every 12-char gram of the normalized text, slide a 4-gram window
    * and keep each window's minimum hash (rightmost on ties), then
    * report document pairs sharing ≥ 3 distinct selected hashes.
    * Winnowing guarantees any shared substring of length ≥ k+w−1 = 15
    * yields a shared fingerprint, at ~2/(w+1) the density of full
    * k-gram shingling — the standard local fingerprinting scheme for
    * plagiarism/near-dup detection at corpus scale. (k = 12 spans
    * 2–3 tokens of this corpus's short-word vocabulary — an 8-char
    * gram matched on single shared WORDS and paired 35% of all docs;
    * measured before pinning these constants.)
    *
    * Scale: the gram explode is the corpus-scale work (narrow);
    * selection is a per-document ordered window (parallel across
    * docs, frame of 4); the pair join runs on the winnowed
    * fingerprint set (≈ 2/(w+1) of gram volume) with a hot-hash
    * guard (df ≤ 16) bounding any boilerplate hash's fan-out — the
    * q31 banded-candidates shape. */
  val q296 = QuerySpec("q296_winnow_fingerprints",
    (s, dir) => {
      // balanced: normalize + gram explode + md5 above a 1-row-group
      // dev scan otherwise run on one core (guide §2.6 idle capacity)
      val norm = graft.QueryUtil.balanced(
          Tables(s, dir, "documents").select("doc_id", "text"))
        .select(col("doc_id"), T.normalizeText(col("text")).as("t"))
        .where(length(col("t")) >= wK + wW - 1)
      // slice positions inside ONE per-doc array projection, then
      // explode bare (i, gram) pairs — exploding positions first and
      // hashing after makes every generated row carry the full text
      // string (measured: GCLocker 256 MB-allocation stalls at sf10;
      // 145M rows x 300-byte strings of transient UnsafeRow copies).
      // The md5 itself runs AFTER the explode as a top-level
      // whole-stage-codegen expression: higher-order-function lambdas
      // are interpreted per element (the bandBuckets lesson, ~10×),
      // so the lambda only slices the 12-char gram and the hash runs
      // compiled over the exploded narrow rows (guide §1.2 per-task
      // work / §4 prefer codegen built-ins).
      val grams = norm
        .select(col("doc_id"),
          (length(col("t")) - lit(wK - 1)).as("maxi"),
          explode(expr(
            s"transform(sequence(1, length(t) - ${wK - 1}), i -> " +
              s"named_struct('i', i, 's', substring(t, i, $wK)))"))
            .as("g"))
        .select(col("doc_id"), col("g.i").as("i"), col("maxi"),
          expr("cast(conv(substring(md5(g.s), 1, 8), 16, 10) as bigint)")
            .as("h"))
      val w = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.currentRow, wW - 1)
      // persist: fps feeds both the df aggregate and the pair join,
      // and capped is both sides of the self-join — without these the
      // md5-gram pipeline recomputes up to 4x (the q255 double-branch
      // lesson; measured 2x wall at sf10)
      val fps = graft.CacheRegistry.persistTracked(grams
        .withColumn("sel", min(col("h") * lit(1048576L) +
          (lit(1048576L) - col("i"))).over(w))
        .where(col("i") <= col("maxi") - lit(wW - 1))
        .select(col("doc_id"), expr("sel div 1048576").as("h"))
        .distinct())
      val capped = graft.CacheRegistry.persistTracked(fps.join(
        fps.groupBy("h").agg(count(lit(1)).as("df"))
          .where(col("df") <= 16L), "h"))
      capped.as("x").join(capped.as("y"), Seq("h"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3L)
        .orderBy("a", "b")
    },
    Some(raw"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
), grams AS (
  SELECT doc_id, i, length(t) - ${wK - 1} AS maxi,
    CAST(concat('0x', substr(md5(substr(t, i, $wK)), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, t,
      unnest(range(1, length(t) - ${wK - 2})) AS i
    FROM norm WHERE length(t) >= ${wK + wW - 1})
), sel AS (
  SELECT doc_id,
    min(h * 1048576 + (1048576 - i)) OVER (PARTITION BY doc_id
      ORDER BY i ROWS BETWEEN CURRENT ROW AND ${wW - 1} FOLLOWING)
      AS sk,
    i, maxi
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, sk // 1048576 AS h
  FROM sel WHERE i <= maxi - ${wW - 1}
), capped AS (
  SELECT f.doc_id, f.h FROM fps f
  JOIN (SELECT h FROM fps GROUP BY h HAVING count(*) <= 16) ok
    ON f.h = ok.h
)
SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
FROM capped x JOIN capped y ON x.h = y.h AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
ORDER BY a, b
"""))

  private val acPatterns = Seq("a", "art", "scan", "ta", "table", "value")

  /** q297 — Aho–Corasick multi-pattern scan over `documents`: all six
    * patterns counted in ONE pass per text by the broadcast automaton
    * ([[graft.operators.MultiPattern]]) — including patterns nested
    * in others ("ta" inside "table", "a" inside both: the output-link
    * chain) and overlapping occurrences, since matches are counted at
    * every end position. The oracle replays end-position counts with
    * a per-pattern sliding substr compare — P corpus scans, which is
    * exactly the cost shape the automaton exists to avoid at 100 TB.
    * MultiPatternSpec fuzzes the automaton against the naive counter
    * on random small-alphabet strings. */
  val q297 = QuerySpec("q297_aho_corasick",
    (s, dir) => {
      val norm = Tables(s, dir, "documents")
        .select(col("doc_id"), T.normalizeText(col("text")).as("t"))
      MultiPattern.matchCounts(s, norm, "doc_id", "t", acPatterns)
        .groupBy("pattern")
        .agg(count(lit(1)).as("n_docs"), sum("cnt").as("hits"))
        .orderBy("pattern")
    },
    Some(raw"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
), pats AS (
  SELECT * FROM (VALUES ('a'), ('art'), ('scan'), ('ta'), ('table'),
    ('value')) p(pat)
), cnts AS (
  SELECT n.doc_id, p.pat,
    COALESCE(list_sum([CASE WHEN substr(n.t, i, length(p.pat)) = p.pat
        THEN 1 ELSE 0 END
      FOR i IN range(1, length(n.t) - length(p.pat) + 2)]), 0) AS cnt
  FROM norm n CROSS JOIN pats p
)
SELECT pat AS pattern, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(cnt) AS BIGINT) AS hits
FROM cnts WHERE cnt > 0
GROUP BY 1 ORDER BY 1
"""))

  /** q298 — complex-event pattern via pure window algebra: per user,
    * "a `view` followed by the FIRST subsequent `purchase` within 30
    * minutes, with no `error` strictly between them". The classic CEP
    * triple (A → B within t, no C between) without any per-group
    * collect: a per-user row_number gives the sequence position, a
    * running error count gives O(1) "errors between" via subtraction,
    * and min-over-following-frame finds the first purchase — three
    * windows and one self-join keyed by (user, seq), every piece
    * partitioned by user so a billion users parallelize and no task
    * ever holds more than one user's ordered slice.
    *
    * Matches per view are 0/1 (first purchase only); latency is
    * exact µs. Output: per-user match count and minimum latency. */
  /** Valid (view → first purchase) candidate pairs shared by q298 and
    * q306: (user_id, v_seq, p_seq, lat_us). */
  private[graft] def cepCandidates(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("tsu"), col("event_id"))
    val ev = Tables(s, dir, "events")
      .where(col("event_type").isin("view", "purchase", "error"))
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"), col("event_type"))
      .withColumn("seq", row_number().over(wSeq).cast("long"))
      .withColumn("ec", sum(when(col("event_type") === "error", 1L)
        .otherwise(0L)).over(wSeq))
    val cached = graft.CacheRegistry.persistTracked(ev)
    val wNext = Window.partitionBy("user_id")
      .orderBy(col("seq"))
      .rowsBetween(1, Window.unboundedFollowing)
    val views = cached
      .withColumn("p_seq",
        min(when(col("event_type") === "purchase", col("seq"))).over(wNext))
      .where(col("event_type") === "view" && col("p_seq").isNotNull)
      .select(col("user_id"), col("seq").as("v_seq"),
        col("tsu").as("v_tsu"), col("ec").as("v_ec"), col("p_seq"))
    val purchases = cached.where(col("event_type") === "purchase")
      .select(col("user_id"), col("seq").as("p_seq"),
        col("tsu").as("p_tsu"), col("ec").as("p_ec"))
    views.join(purchases, Seq("user_id", "p_seq"))
      .where(col("p_tsu") - col("v_tsu") <= lit(1800000000L) &&
        col("p_ec") === col("v_ec"))
      .select(col("user_id"), col("v_seq"), col("p_seq"),
        (col("p_tsu") - col("v_tsu")).as("lat_us"))
  }

  /** SQL mirror of [[cepCandidates]] — CTE chain ending in `cand`. */
  private[graft] val cepCandSql = raw"""ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
    CAST(row_number() OVER (PARTITION BY user_id
      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS seq,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ec
  FROM events WHERE event_type IN ('view', 'purchase', 'error')
), vw AS (
  SELECT user_id, seq AS v_seq, tsu AS v_tsu, ec AS v_ec, p_seq FROM (
    SELECT user_id, seq, tsu, ec, event_type,
      min(CASE WHEN event_type = 'purchase' THEN seq END)
        OVER (PARTITION BY user_id ORDER BY seq
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS p_seq
    FROM ev)
  WHERE event_type = 'view' AND p_seq IS NOT NULL
), pu AS (
  SELECT user_id, seq AS p_seq, tsu AS p_tsu, ec AS p_ec
  FROM ev WHERE event_type = 'purchase'
), cand AS (
  SELECT v.user_id, v.v_seq, v.p_seq, p.p_tsu - v.v_tsu AS lat_us
  FROM vw v JOIN pu p
    ON v.user_id = p.user_id AND v.p_seq = p.p_seq
  WHERE p.p_tsu - v.v_tsu <= 1800000000 AND p.p_ec = v.v_ec
)"""

  val q298 = QuerySpec("q298_cep_pattern",
    (s, dir) => cepCandidates(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("lat_us")).as("min_lat_us"))
      .orderBy("user_id"),
    Some(raw"""
WITH $cepCandSql
SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
  CAST(min(lat_us) AS BIGINT) AS min_lat_us
FROM cand GROUP BY 1 ORDER BY 1
"""))

  private val greedyRounds = 8

  /** q306 — GREEDY NON-OVERLAPPING pattern matching, the q298
    * semantics a streaming CEP engine actually runs: after a (view →
    * purchase) match completes, the scan resumes AFTER the consumed
    * purchase — a later view cannot re-use it. Overlap-free match
    * counts are inherently sequential per user (each match's start
    * depends on the previous match's end), so the chain is followed
    * iteratively: each round advances every user's cursor to the
    * first candidate view past it (argmin via the arithmetic key
    * v_seq·2³¹ + p_seq, both sequence positions being per-user
    * row_numbers < 2³¹) and bumps the match count. Rounds are a
    * FIXED constant (8) on both sides — users with more matches
    * report the cap, deterministically (the q299 bounded-schedule
    * rule: no fixpoint detection crosses the engine boundary).
    *
    * Scale: candidates come from the q298 window algebra (no
    * per-group collect); each round is one equi-join on user (plus
    * the cursor range predicate) into a map-side-combining min — the
    * iterative-join shape of q89/q255/q299, with the state frame one
    * row per user. */
  val q306 = QuerySpec("q306_cep_greedy",
    (s, dir) => {
      val cand = graft.CacheRegistry.persistTracked(
        cepCandidates(s, dir)
          .select(col("user_id"),
            (col("v_seq") * lit(2147483648L) + col("p_seq")).as("akey"),
            col("v_seq")))
      // every round's checkpoint is tracked: each one truncates the
      // lineage to the one before it, so the last alone would not
      // reach them
      var st = graft.CacheRegistry.trackCheckpoint(cand.groupBy("user_id")
        .agg(lit(-1L).as("cursor"), lit(0L).as("n"))
        .localCheckpoint(true))
      for (_ <- 1 to greedyRounds) {
        val nx = st.join(cand, Seq("user_id"))
          .where(col("v_seq") > col("cursor"))
          .groupBy("user_id").agg(min(col("akey")).as("nkey"))
        st = graft.CacheRegistry.trackCheckpoint(
          st.join(nx, Seq("user_id"), "left_outer")
            .select(col("user_id"),
              coalesce(col("nkey") % 2147483648L, col("cursor"))
                .as("cursor"),
              (col("n") + when(col("nkey").isNotNull, 1L).otherwise(0L))
                .as("n"))
            .localCheckpoint(true))
      }
      st.select(col("user_id"), col("n").as("n_matches"))
        .where(col("n_matches") >= 1L)
        .orderBy("user_id")
    },
    Some {
      val sb = new StringBuilder
      sb ++= s"WITH $cepCandSql, ck AS (\n"
      sb ++= "  SELECT user_id, v_seq * 2147483648 + p_seq AS akey, v_seq\n"
      sb ++= "  FROM cand\n), s0 AS (\n"
      sb ++= "  SELECT user_id, CAST(-1 AS BIGINT) AS cursor, " +
        "CAST(0 AS BIGINT) AS n FROM ck GROUP BY 1\n)"
      for (r <- 1 to greedyRounds) sb ++= s""", nx$r AS (
  SELECT s.user_id, min(c.akey) AS nkey
  FROM s${r - 1} s JOIN ck c
    ON c.user_id = s.user_id AND c.v_seq > s.cursor
  GROUP BY 1
), s$r AS (
  SELECT s.user_id,
    COALESCE(n.nkey % 2147483648, s.cursor) AS cursor,
    s.n + CASE WHEN n.nkey IS NULL THEN 0 ELSE 1 END AS n
  FROM s${r - 1} s LEFT JOIN nx$r n ON s.user_id = n.user_id
)"""
      sb ++= s"""
SELECT user_id, CAST(n AS BIGINT) AS n_matches
FROM s$greedyRounds WHERE n >= 1 ORDER BY user_id"""
      sb.toString
    })

  val all: Seq[QuerySpec] = Seq(q296, q297, q298, q306)
}
