package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Text => T}

/** Deduplication operators for the training-data pipeline extensions:
  * exact (hash group-by), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the point is 100 TB, not 500 rows):
  *  - Signatures are narrow per-row projections (no shuffle).
  *  - Candidate generation shuffles on *bucket hashes*, never on raw
  *    text: the only wide exchanges move (bucket, id) pairs.
  *  - Verification joins are self-equi-joins on bucket/id keys — AQE
  *    handles skewed hot buckets; a salting pass can be added per-bucket
  *    if one bucket exceeds a partition.
  *  - All hashes are md5 (identical in Spark and DuckDB) so the oracle
  *    can recompute every signature exactly.
  */
object Dedup {

  /** Exact dedup: group rows by normalized-text fingerprint, keep the
    * minimum id as the canonical representative. One shuffle keyed by
    * the 128-bit fingerprint — uniform by construction, no skew.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), T.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Distinct word-shingle set of a document (the unit of Jaccard). */
  def shingleSet(textCol: Column, shingleN: Int): Column =
    array_distinct(T.wordShingles(T.tokens(T.normalizeText(textCol)), shingleN))

  /** MinHash permutation parameters: k pairs (a, b) for the universal
    * hash family h_i(x) = (a_i·x + b_i) mod P over the 32-bit base hash
    * of each shingle. Derived from md5 driver-side; the oracle embeds
    * the same values as literals. a_i < 2^31 keeps a_i·x < 2^63 —
    * overflow-free in a signed 64-bit long on both engines (ANSI mode
    * would throw on a real overflow).
    */
  val minhashP: Long = 4294967291L // largest 32-bit prime
  def minhashParams(k: Int): Seq[(Long, Long)] = {
    def h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8), 16)
    }
    (0 until k).map(i => ((h(s"a$i") % 2147483647L) + 1L, h(s"b$i") % minhashP))
  }

  /** 32-bit base hash of a shingle: first 8 md5 hex chars. The ONE md5
    * per shingle — all k permutations are integer arithmetic on top. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** MinHash-LSH near-duplicate pairs: signature → band buckets →
    * bucket-join for candidates → exact-Jaccard verification.
    *
    * Plan shape: one explode (docs × bands rows), one shuffle on the
    * bucket hash for the self-join, one distinct on (a, b), then a
    * verification join back to the shingle sets. Raw text never
    * shuffles; only ids, buckets, and shingle arrays for surviving
    * candidates.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // Materialize the shingled table: it feeds the signature aggregation
    // AND both sides of the verification join. Without persist, Spark
    // re-evaluates the interpreted (HOF, non-codegen) shingle projection
    // per join probe — measured 10-30× slower. At scale this is the
    // standard "materialize signatures before candidate generation".
    // repartition first: a small input (few parquet files) otherwise
    // pins ALL per-row signature work on one core — input balancing,
    // not a semantic shuffle (at scale the scan is already parallel)
    val par = df.sparkSession.sparkContext.defaultParallelism
    // tracked persist: callers release via CacheRegistry.releaseAll()
    // once the returned plan is materialized (session-leak hygiene)
    val shingled = graft.CacheRegistry.persistTracked(
      df.repartition(par).select(col(idCol).as("id"),
        shingleSet(col(textCol), shingleN).as("shingles")))
    val buckets = bandBucketsFromShingled(shingled, k, bands)
    val candidates = buckets.as("x").join(buckets.as("y"), Seq("bucket"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    // lossless size-ratio prefilter: J(A,B) ≥ t ⇒ min/max ≥ t, so the
    // cheap integer check prunes before the expensive set intersection
    val sized = shingled.select(col("id"), col("shingles"),
      size(col("shingles")).as("n"))
    candidates
      .join(sized.select(col("id").as("a"), col("shingles").as("sa"),
        col("n").as("na")), Seq("a"))
      .join(sized.select(col("id").as("b"), col("shingles").as("sb"),
        col("n").as("nb")), Seq("b"))
      .where(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * threshold)
      .withColumn("jaccard", jaccard(col("sa"), col("sb")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** (id, bucket) MinHash band buckets — the LSH key space shared by
    * the offline pair finder ([[minhashPairs]]) and the online
    * streaming dedup (`streaming.NearDupStream`): same hash family,
    * same banding, so online and offline decisions agree. */
  def bandBuckets(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame =
    bandBucketsFromShingled(
      df.select(col(idCol).as("id"),
        shingleSet(col(textCol), shingleN).as("shingles")),
      k, bands)

  /** Band buckets from a prepared (id, shingles) frame. Documents with
    * an EMPTY shingle set (shorter than the shingle width) produce no
    * rows — they have no LSH identity; callers must treat them as
    * unconditionally novel. */
  private def bandBucketsFromShingled(shingled: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val r = k / bands
    val params = minhashParams(k)
    // Signature via explode + k codegen'd min-aggregates: ONE md5 per
    // shingle, k integer permutations on top, one shuffle keyed by id.
    // (The interpreted higher-order-function form — k array passes per
    // row — was ~10× slower: HOFs are not whole-stage-codegen'd.)
    val sigCols = params.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % lit(minhashP)).as(s"sig$i")
    }
    val sigs = shingled
      .select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", shingleHash(col("s")))
      .groupBy("id")
      .agg(sigCols.head, sigCols.tail: _*)
    // band bucket = md5 over its r signature values (band id mixed in)
    val bucketArr = array((0 until bands).map { b =>
      md5(concat_ws(",", (lit(b.toString + "#") +:
        (0 until r).map(j => col(s"sig${b * r + j}").cast("string"))): _*))
    }: _*)
    sigs.select(col("id"), explode(bucketArr).as("bucket"))
  }

  /** Incremental (delta) dedup: admit or drop a NEW batch against an
    * already-curated historical corpus — the daily-crawl shape. The
    * corpus side is orders of magnitude larger than the batch and is
    * NEVER paired with itself (running [[minhashPairs]] over
    * old ∪ new would redo the corpus×corpus candidate work on every
    * increment; here the corpus contributes one signature pass and
    * the bucket join only ever matches new×old).
    *
    * Layers, both decided with the engine's standard identities so
    * offline (q30/q31), streaming (NearDupStream), and incremental
    * decisions agree:
    *  - exact: the batch's normalized-text fingerprints left-join the
    *    corpus's distinct fingerprints;
    *  - near: MinHash band buckets (same hash family/banding) built
    *    for both sides, candidates restricted to new×old bucket
    *    matches, verified by exact Jaccard ≥ threshold (with the
    *    lossless size-ratio prefilter). In-batch (new×new) duplicates
    *    are deliberately NOT decided here — that is the batch's own
    *    dedup pass.
    *
    * Returns one row per new doc: (id, exact_dup, near_dup, keep).
    */
  def deltaDedup(newBatch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val par = newBatch.sparkSession.sparkContext.defaultParallelism
    def prep(df: DataFrame) = graft.CacheRegistry.persistTracked(
      df.repartition(par).select(col(idCol).as("id"),
        T.fingerprint(col(textCol)).as("fp"),
        shingleSet(col(textCol), shingleN).as("shingles")))
    val nw = prep(newBatch)
    val old = prep(corpus)
    val exact = nw.select("id", "fp")
      .join(old.select("fp").distinct().withColumn("exact_dup", lit(true)),
        Seq("fp"), "left")
    val cand = bandBucketsFromShingled(nw.select("id", "shingles"), k, bands)
      .withColumnRenamed("id", "nid")
      .join(bandBucketsFromShingled(old.select("id", "shingles"), k, bands)
        .withColumnRenamed("id", "oid"), Seq("bucket"))
      .select("nid", "oid").distinct()
    val near = cand
      .join(nw.select(col("id").as("nid"), col("shingles").as("sn"),
        size(col("shingles")).as("nn")), Seq("nid"))
      .join(old.select(col("id").as("oid"), col("shingles").as("so"),
        size(col("shingles")).as("no")), Seq("oid"))
      .where(least(col("nn"), col("no")).cast("double") >=
        greatest(col("nn"), col("no")) * threshold)
      .where(jaccard(col("sn"), col("so")) >= threshold)
      .select(col("nid").as("id")).distinct()
      .withColumn("near_dup", lit(true))
    exact.join(near, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .withColumn("keep", !col("exact_dup") && !col("near_dup"))
  }

  /** Connected components over a near-duplicate pair graph — the step
    * that turns q31-style PAIRS into dedup CLUSTERS with one canonical
    * representative each (near-duplication is transitive in intent:
    * A~B and B~C means keep one of {A,B,C}).
    *
    * Algorithm: iterative min-label propagation. Each vertex starts as
    * its own label; every round each vertex takes the minimum label in
    * its neighborhood (including itself); stop when no label changes.
    * Converges in O(graph diameter) rounds — near-dup clusters are
    * shallow (diameter ≤ a handful), so 3–6 rounds in practice; each
    * round is one join + one aggregation on (vertex, label) pairs
    * only. This is the standard large-graph CC shape (label
    * propagation / hash-min), not a driver-side union-find — nothing
    * ever leaves the cluster except the per-round convergence COUNT.
    *
    * Returns (id, cluster) where cluster is the minimum vertex id in
    * the component — deterministic for any edge order.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 20): DataFrame = {
    // Symmetrized edges PLUS one self-loop per vertex: the self-loop
    // carries each vertex's own label through the per-round
    // aggregation, so a round is ONE join + ONE agg — min(neighborhood
    // ∪ self) is the new label and the self-loop's label is the old
    // one (for the convergence check). The previous formulation paid
    // two extra id-keyed join shuffles per round for the same answer.
    // materialize the input pair plan ONCE: it is referenced four
    // times below (symmetrize + self-loops), and pair generation is
    // typically an expensive candidate join — without this persist the
    // whole upstream join would execute once per reference. PLAIN
    // persists (not persistTracked): CC consumes and releases its own
    // intermediates before returning, so nothing stale ever sits in
    // the process-global registry (NearDupStream runs CC once per
    // micro-batch — a tracked handle per batch would accumulate).
    val p0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = p0.union(p0.select(col("v").as("u"), col("u").as("v")))
    val edges = sym.union(sym.select(col("u"), col("u").as("v"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
    // checkpoint blocks of the PREVIOUS round, freed explicitly once
    // the next round materializes: without this each round leaks one
    // MEMORY_AND_DISK block-set until GC + ContextCleaner get around
    // to it — measured in r4 as a multi-query interference band in the
    // packed bench (blocks from q89/q93's CC squeezing every query
    // that ran after them).
    var prevCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var converged = false
    var i = 0
    // per-invocation observability (judge-requested after the r9 q89
    // adjudication needed a temporary probe): accumulated from the
    // SAME per-round observations — zero extra jobs
    val changedPerRound = scala.collection.mutable.ArrayBuffer.empty[Long]
    var edgeRows = 0L
    var vertices = 0L
    try {
      // materialize p0 EAGERLY: its four references below land in ONE
      // union stage, and concurrent tasks of different union branches
      // hitting the same not-yet-cached partition each recompute the
      // upstream pair join — a cache stampede measured as ~4x the
      // pairwise-cosine work on q112's pair graph (r21 attribution).
      // One cheap count materializes every partition exactly once.
      // Inside the try: a task failure here must release p0 as well.
      p0.count()
      while (!converged && i < maxIter) {
        // each vertex adopts min(own label, neighbors' labels)…
        // localCheckpoint (NOT persist): truncates the logical plan to
        // the materialized RDD. With persist, round i's plan nests round
        // i−1's inside its InMemoryRelation and the driver's plan tree /
        // explain string grow exponentially with rounds — measured as a
        // driver OOM in generateTreeString. Standard iterative-algorithm
        // hygiene (same reason ALS/GraphX checkpoint). Checkpoint blocks
        // are freed by the ContextCleaner when the round frame is GC'd.
        // Eager-checkpointing `stepped` ALSO matters for cost: the
        // pointer-jump below references it twice, and without
        // materialization the join+agg would execute twice per round
        // (measured ~40% of CC wall-clock on the q89 pair graph).
        // convergence is observed DURING the checkpoint materialization
        // (CollectMetricsExec accumulator) — no separate count job per
        // round. This is the round's ONLY job.
        val obs = new org.apache.spark.sql.Observation()
        val obsE = new org.apache.spark.sql.Observation()
        val stepped = edges
          .join(labels.withColumnRenamed("id", "v"), "v")
          .observe(obsE, count(lit(1)).as("edge_rows"))
          .groupBy(col("u").as("id"))
          .agg(min("label").as("label"),
            min(when(col("u") === col("v"), col("label"))).as("old"))
          .observe(obs, sum((col("label") =!= col("old")).cast("long")).as("changed"),
            count(lit(1)).as("vertices"))
          .localCheckpoint(true)
        // this round's checkpoint now holds the whole label state (the
        // lazy pointer-jump only references the CURRENT round), so the
        // previous round's blocks are unreachable — free them now
        prevCkpt.foreach(_.unpersist(blocking = false))
        prevCkpt = graft.CacheRegistry.checkpointRdds(stepped)
        val changed = obs.get.get("changed") match {
          case Some(n: java.lang.Long) => n.longValue
          case _ => 0L // empty frame: sum over zero rows is null
        }
        changedPerRound += changed
        vertices = obs.get.get("vertices") match {
          case Some(n: java.lang.Long) => n.longValue
          case _ => 0L
        }
        edgeRows = obsE.get.get("edge_rows") match {
          case Some(n: java.lang.Long) => n.longValue
          case _ => 0L
        }
        converged = changed == 0
        // …then pointer-jumps: label ← label's own current label (path
        // compression — hash-min alone needs O(diameter) rounds, the
        // jump makes long chains collapse in O(log diameter)). A label
        // is always a vertex id, so the self-join always matches. The
        // jump stays LAZY: it sits one plan level above the checkpointed
        // `stepped` RDD (constant plan depth, no lineage nesting) and is
        // evaluated inside the NEXT round's job — and skipped entirely
        // on the converged round, where hash-min is at its fixpoint and
        // the jump is the identity (every label is a component minimum
        // that labels itself).
        labels =
          if (converged) stepped.select("id", "label")
          else stepped
            .join(stepped.select(col("id").as("label"), col("label").as("ll")),
              Seq("label"), "left")
            .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
        i += 1
      }
    } finally {
      // ANY exit — normal, non-convergence, task failure, job
      // cancellation — releases the input/edge caches here: the final
      // labels frame is localCheckpointed (lineage truncated), so they
      // are never referenced by the returned frame, and an exception
      // escaping the loop must not leak plain-persisted blocks that no
      // registry entry records (NearDupStream's foreachBatch retries
      // would accumulate them). On an abnormal exit the last round's
      // checkpoint blocks are orphaned too — free them; on the normal
      // path they ARE the returned labels, so leave them for the
      // caller's releaseAll (tracked below).
      p0.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      if (!converged) prevCkpt.foreach(_.unpersist(blocking = false))
    }
    // Pointer jumping covers huge diameters in 20 rounds, so hitting
    // maxIter unconverged means a pathological graph — fail loudly
    // rather than let silently-wrong clusters flow downstream.
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter or inspect the pair graph for pathology")
    }
    // one line per invocation, Perf's format: adjudicating a slow CC
    // (code vs load artifact) needs rounds + graph size without a probe
    println(s"perf cc rounds=$i vertices=$vertices " +
      s"edge_rows=$edgeRows changed=${changedPerRound.mkString("[", ",", "]")}")
    // The returned frame references the LAST round's checkpoint
    // blocks — register them so the caller's end-of-work releaseAll
    // (Bench/Verify between queries, NearDupStream per micro-batch)
    // frees them instead of waiting for GC + ContextCleaner.
    graft.CacheRegistry.trackCheckpoint(
      labels.withColumnRenamed("label", "cluster"))
  }

  /** Test-set decontamination: flag every corpus document sharing at
    * least one word `shingleN`-gram with a benchmark/eval set — the
    * overlap-removal pass (à la GPT-3 §C / Llama) every served
    * training corpus runs before training.
    *
    * Scale shape: the benchmark side is SMALL and fixed (eval suites —
    * MBs, not TBs), so its distinct shingle hashes ride a broadcast;
    * the 100 TB corpus side is one narrow shingle projection + a
    * broadcast semi-join — the corpus never shuffles for the match,
    * and the only exchange is the per-doc hit count over the (rare)
    * matching rows. Returns every corpus id with its distinct-overlap
    * count and a keep flag.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 13): DataFrame = {
    // shingleSet is array_distinct → post-explode rows are unique per
    // (id, gram): a plain count is the distinct-overlap count, with no
    // countDistinct (which would plant an Expand — see PLANS.md q62)
    // balanced on the (id, text) projection only — the exchange never
    // carries columns the gram pass doesn't read (guide §2.3 project
    // before the exchange); the guard in `balanced` makes it a no-op
    // on an already-parallel corpus scan
    def grams(df: DataFrame) = graft.QueryUtil.balanced(
        df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), explode(shingleSet(col("__t"), shingleN)).as("g"))
      .select(col("id"), md5(col("g")).as("h"))
    val benchGrams = grams(benchmark).select("h").distinct()
    val hits = grams(corpus)
      .join(broadcast(benchGrams), "h")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) === 0).as("keep"))
  }

  /** Edit-distance near-dup pairs — the string-metric third of the
    * dedup similarity triad (set/Jaccard [[ngramJaccardPairs]],
    * vector/cosine `Similarity`, character/Levenshtein here): the
    * verification of choice for SHORT texts (titles, instructions,
    * questions) where a handful of token edits swings Jaccard wildly
    * but edit distance stays proportional. Same prefix blocking as
    * the Jaccard path — at scale pairwise verification exists only
    * inside blocks — plus a LOSSLESS length prefilter
    * (lev ≥ |len_a − len_b|, so sim ≥ t ⇒ length gap ≤ (1−t)·max).
    * sim = 1 − lev/max(len); both engines run the identical integer
    * DP, so results match exactly.
    *
    * Cross-engine caveat: the "identical DP" claim needs an agreed
    * unit of edit. Engines disagree only beyond the BMP (Spark counts
    * code points, some SQL engines count bytes or UTF-16 units), and
    * composed-vs-decomposed spellings hash apart without canonical
    * normalization — so run [[graft.functions.Text.unicodeClean]]
    * (NFC + astral strip, UnicodeTextSpec) over the text column first
    * and `dist` parity holds for any BMP text, CJK included; only
    * NON-NORMALIZED input (skipping that step) remains best-effort. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      prefixTokens: Int = 3, threshold: Double = 0.8): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = graft.CacheRegistry.persistTracked(
      df.repartition(par).select(col(idCol).as("id"),
        T.normalizeText(col(textCol)).as("norm"),
        md5(concat_ws(" ",
          slice(T.tokens(T.normalizeText(col(textCol))), 1, prefixTokens)))
          .as("block"))
        .withColumn("len", length(col("norm"))))
    val mx = greatest(col("x.len"), col("y.len"))
    base.as("x").join(base.as("y"), Seq("block"))
      .where(col("x.id") < col("y.id"))
      .where(mx > 0)
      .where(abs(col("x.len") - col("y.len")).cast("double") <=
        lit(1.0 - threshold) * mx)
      .withColumn("dist", levenshtein(col("x.norm"), col("y.norm")).cast("long"))
      .withColumn("sim",
        lit(1.0) - col("dist").cast("double") / mx.cast("double"))
      .where(col("sim") >= threshold)
      .select(col("x.id").as("a"), col("y.id").as("b"), col("dist"),
        round(col("sim"), 6).as("sim"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s scale variant
    * for when the benchmark n-gram set is too big to broadcast as an
    * exact set (a full eval-suite sweep at 13-grams runs to 10⁸+
    * grams; an exact string set is GBs, the Bloom filter at fpp=1e-6
    * is ~29 bits/item). The filter is built distributed
    * (`stat.bloomFilter` — one aggregate over the benchmark side),
    * ships once per executor via Torrent broadcast, and the corpus
    * probe is a single NARROW codegen'd pass (`BloomHitCount` over
    * each doc's distinct-gram array — no explode, no join, no
    * shuffle at all on the corpus side, vs the broadcast-semi-join
    * exchange the exact path pays).
    *
    * Contract (Bloom semantics, deterministic because Spark's sketch
    * uses fixed-seed Murmur3): NO false negatives —
    * `n_bloom_hits ≥` the exact overlap count always; false positives
    * at ≈ fpp per clean gram. Returns
    * (id, n_grams, n_bloom_hits, flagged). */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 13,
      fpp: Double = 1e-6): DataFrame = {
    import org.apache.spark.sql.graftvec.{BloomRef, VectorExpressions}
    val spark = corpus.sparkSession
    // tracked persist: the sizing count and the filter-build aggregate
    // both scan the exploded benchmark grams
    val benchGrams = graft.CacheRegistry.persistTracked(
      benchmark.select(explode(shingleSet(col(textCol), shingleN)).as("g"))
        .select(md5(col("g")).as("h")).distinct())
    val bf = benchGrams.stat.bloomFilter("h",
      math.max(1L, benchGrams.count()), fpp)
    val ref = new BloomRef(spark.sparkContext.broadcast(bf))
    corpus.select(col(idCol).as("id"),
        transform(shingleSet(col(textCol), shingleN), g => md5(g)).as("hs"))
      .select(col("id"), size(col("hs")).cast("long").as("n_grams"),
        VectorExpressions.bloomHitCount(col("hs"), ref).cast("long")
          .as("n_bloom_hits"))
      .withColumn("flagged", col("n_bloom_hits") > 0)
  }

  /** Substring-level dedup TRANSFORM (à la "Deduplicating Training
    * Data Makes Language Models Better"): excise every token window
    * of width `n` that occurs more than once in the whole corpus,
    * returning the rewritten text plus removal accounting. q96
    * measures the dup-span fraction; this is the pass that actually
    * removes the spans. Fixed-width gram marking is the standard
    * scalable stand-in for the paper's suffix-array ≥50-token spans —
    * the plan is identical for any window width.
    *
    * Scale shape: gram occurrences (id, pos, md5) shuffle ONCE keyed
    * by the gram hash; the global count reuses that partitioning for
    * the join back; then one doc-keyed aggregation collects each
    * doc's (bounded-by-doc-length) duplicated positions; excision is
    * a narrow per-row array rewrite. Raw text never shuffles.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val toks = df.repartition(par).select(col(idCol).as("id"),
      T.tokens(T.normalizeText(col(textCol))).as("toks"))
    // tracked persist: feeds the count agg AND the position join-back
    val grams = graft.CacheRegistry.persistTracked(
      toks.select(col("id"),
          posexplode(T.wordShingles(col("toks"), n)).as(Seq("pos", "g")))
        .select(col("id"), col("pos"), md5(col("g")).as("h")))
    val counts = grams.groupBy("h").agg(count(lit(1)).as("c"))
    val dupPos = grams.join(counts, "h").where(col("c") > 1)
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("ps"))
    toks.join(dupPos, Seq("id"), "left")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("ps"), array().cast("array<int>")),
        p => sequence(p, p + n - 1)))))
      // kept indices via array_except (hash-based, preserves left
      // order; left side has no dups so the its-distinct semantics are
      // harmless): O(L + covered) per row, vs the O(L × covered) an
      // array_contains-inside-filter scan would cost on long docs.
      // Empty-doc guard: sequence(0, -1) would infer step −1 and emit
      // [0, −1] — ANSI element_at would then throw.
      .withColumn("all_idx", when(size(col("toks")) > 0,
        sequence(lit(0), size(col("toks")) - 1))
        .otherwise(array().cast("array<int>")))
      .withColumn("kept_idx", array_except(col("all_idx"), col("covered")))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("kept_idx"),
          i => element_at(col("toks"), i + 1))).as("clean_text"))
  }

  /** Variable-length duplicated spans: merge the fixed-width duplicated
    * gram positions (the same corpus-wide count ≥ 2 marking
    * [[removeDupSpans]] uses) into MAXIMAL spans — the step from
    * fixed-width excision toward Lee et al.'s "substrings of ≥ 50
    * tokens": a long verbatim duplication shows up here as ONE
    * (start, len) span, not len−n+1 separate marks, and `minLen`
    * applies the paper's span-length threshold. Returns one row per
    * (id, span_start, span_len).
    *
    * Scale shape: identical to [[removeDupSpans]] up to the per-doc
    * position set (one gram-keyed shuffle + partitioning-reusing count
    * join + one doc-keyed aggregation); the merge itself is a NARROW
    * per-row array pass — covered positions of ascending-start
    * fixed-width ranges dedup to an ascending array, so span starts
    * are the elements with no predecessor and span ends the elements
    * with no successor, each found by one O(L) indexed filter (no
    * second window shuffle, no O(L²) membership scans).
    */
  def dupSpanRanges(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, minLen: Int = 1): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val toks = df.repartition(par).select(col(idCol).as("id"),
      T.tokens(T.normalizeText(col(textCol))).as("toks"))
    val grams = graft.CacheRegistry.persistTracked(
      toks.select(col("id"),
          posexplode(T.wordShingles(col("toks"), n)).as(Seq("pos", "g")))
        .select(col("id"), col("pos"), md5(col("g")).as("h")))
    val counts = grams.groupBy("h").agg(count(lit(1)).as("c"))
    val dupPos = grams.join(counts, "h").where(col("c") > 1)
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("ps"))
    // ascending starts of width-n ranges flatten+dedup to an ASCENDING
    // covered array (each range only appends values above the running
    // max), so boundary detection is pure index arithmetic. when()
    // guards keep try_element_at's index strictly in [1, size].
    val cov = dupPos.select(col("id"),
      array_distinct(flatten(transform(col("ps"),
        p => sequence(p, p + n - 1)))).as("cov"))
    cov
      .withColumn("starts", filter(col("cov"), (x, i) =>
        when(i === 0, lit(true))
          .otherwise(try_element_at(col("cov"), i) =!= x - 1)))
      .withColumn("ends", filter(col("cov"), (x, i) =>
        when(i === size(col("cov")) - 1, lit(true))
          .otherwise(try_element_at(col("cov"), i + lit(2)) =!= x + 1)))
      .select(col("id"),
        explode(arrays_zip(col("starts"), col("ends"))).as("sp"))
      .select(col("id"), col("sp.starts").cast("long").as("span_start"),
        (col("sp.ends") - col("sp.starts") + 1).cast("long").as("span_len"))
      .where(col("span_len") >= minLen)
  }

  /** EXACT variable-length span dedup — suffix-array-grade maximal
    * repeated substrings, replacing [[dupSpanRanges]]'s fixed-gram
    * approximation (Lee et al. 2022's "substrings of ≥ 50 tokens"
    * criterion, computed exactly rather than as merged gram islands).
    *
    * For every token position `p` let d(p) = the length of the longest
    * substring starting at `p` that occurs ≥ 2 times in the corpus
    * (capped at `cap`). The classic single-machine tool is a suffix
    * array with adjacent-rank LCPs; the distributed equivalent here
    * exploits that d(p) ≥ minLen iff the width-`minLen` gram at `p` is
    * duplicated corpus-wide, so:
    *
    *  1. each position ships ONE bounded sort key — the md5 of its
    *     `minLen`-token gram plus up to `cap − minLen` extension
    *     tokens (never the whole suffix: key size is O(cap), which is
    *     what makes the shuffle finite at 100 TB);
    *  2. only positions whose gram hash is duplicated survive (the
    *     overwhelming majority of a real corpus drops out here);
    *  3. within a gram group — exactly the set of suffixes whose LCP
    *     can reach minLen — suffixes are sorted by their extension
    *     (the per-partition sorted gram chain) and d(p) = minLen +
    *     max(LCP with the two ADJACENT extensions): the suffix-array
    *     property that the nearest neighbors in sorted order realize
    *     the maximum LCP, applied per group;
    *  4. a per-doc lag pass keeps only LEFT-MAXIMAL spans (a span
    *     whose predecessor extends it by one, d(p−1) = d(p)+1, is the
    *     same repeat shifted — suppressed), so one 60-token verbatim
    *     duplication reports as ONE (start, 60) span, and a chimera of
    *     two adjacent 30-token repeats from different sources reports
    *     as TWO spans where the gram-island view merges them.
    *
    * Output: one row per (id, span_start, span_len) maximal repeated
    * span with span_len ≥ minLen, every occurrence reported. A run
    * longer than `cap` reports ONCE as a capped head span of length
    * cap (its interior stays suppressed by the left-maximality rule)
    * — pick cap ≥ the longest duplication you care to measure exactly.
    *
    * Scale shape: one shuffle keyed by gram hash (uniform by
    * construction; a pathological million-fold boilerplate 50-gram
    * would make one big group — the `maxGroup` ceiling routes such
    * groups AROUND the window as saturated removal candidates, see
    * [[exactRunLengths]]), one doc-keyed window for
    * left-maximality, all LCP work one codegen'd byte loop
    * ([[org.apache.spark.sql.graftvec.TokenLcp]]). Raw
    * text never shuffles — only (hash, bounded extension) keys.
    * Cross-engine note: group-internal order compares extension
    * STRINGS (space-joined tokens; space sorts below every token byte
    * in UTF-8, so binary order equals token-sequence order for any
    * text). Span POSITIONS are token indices — engine-independent.
    * For corpora mixing encodings or astral characters, run
    * [[graft.functions.Text.unicodeClean]] (NFC + astral strip) over
    * the text first; with that, cross-engine parity holds for any BMP
    * text, CJK included (UnicodeTextSpec) — only non-normalized input
    * remains best-effort, as [[editDistancePairs]].
    */
  /** (id, toks) tokenization frame shared by the exact-span family. */
  private def tokensFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(par).select(col(idCol).as("id"),
      T.tokens(T.normalizeText(col(textCol))).as("toks"))
  }

  /** Default hot-gram group ceiling: a gram repeated beyond this is
    * boilerplate by any definition; its group would otherwise land a
    * single window partition (see [[exactRunLengths]]). Far above any
    * legitimate LCP-measurement need, low enough that a million-fold
    * repeated license header can't straggle a 1000-executor job. */
  val DefaultMaxGroup: Long = 1L << 20

  /** Hot-gram detection sampling: 1-in-SampleRate of positions pay the
    * detection hash once `maxGroup ≥ SampleMinCeiling`; the same rate
    * salts hot groups across the window shuffle. See
    * [[exactRunLengths]]'s cost notes for the statistics. */
  val SampleRate: Int = 64
  val SampleMinCeiling: Long = 100000L

  /** Per-position TRUE dup-run length: (id, p, d) for every position
    * whose longest corpus-repeated substring d(p) ≥ minLen (d capped
    * at `cap`). The suffix-array-grade core shared by
    * [[exactDupSpans]] and [[exactRemoveDupSpans]] — see the former
    * for the construction.
    *
    * `maxGroup` is the hot-gram ceiling: gram groups with more than
    * `maxGroup` members never enter the sorted window (whose h-keyed
    * partitioning would land the whole group on ONE task — the named
    * scale-killer for million-fold boilerplate grams). They are
    * removal candidates outright, so their positions SATURATE to
    * `d = hotD` instead of being measured: `cap` for the span REPORT
    * (the same "capped head" shape an over-cap run already reports —
    * left-maximality then emits one row per run) and `minLen` for
    * span REMOVAL (the provably-duplicated extent — the per-position
    * interval union then excises exactly the boilerplate region, no
    * overshoot past its last hot gram). Groups at or below the
    * ceiling are measured exactly, so results are unchanged unless a
    * gram genuinely exceeds `maxGroup`. `maxGroup <= 0` disables the
    * split (single-shuffle plan, exact everywhere).
    *
    * Cost of the guard, kept near-zero by three devices:
    *  1. an exact PRE-CHECK — a corpus with ≤ maxGroup eligible
    *     positions cannot contain a hot group, so small inputs keep
    *     the lean single-shuffle plan (one cheap count job);
    *  2. SAMPLED detection (production ceilings ≥ [[SampleMinCeiling]]):
    *     only the deterministic 1-in-[[SampleRate]] position sample
    *     (xxhash64 of (id, p)) pays the gram hash, and a group is hot
    *     when its sampled count reaches maxGroup/(2·rate). Chernoff
    *     makes this sharp: a group over the ceiling is missed with
    *     probability ~e^-1000, one under a QUARTER of it is flagged
    *     with the same, so the effective ceiling is approximate only
    *     within [maxGroup/4, maxGroup] — and saturating a
    *     quarter-million-fold gram is the right call anyway. Below
    *     [[SampleMinCeiling]] the count is exact (test-scale
    *     ceilings, where sampling noise would matter);
    *  3. a SINGLE suffix derivation: hot positions ride the SAME
    *     window shuffle as everyone else, but with their group key
    *     salted across [[SampleRate]] subkeys (no single task ever
    *     owns a hot gram) and their sort payload blanked (the fat
    *     extension string never ships for hot rows — a length-bounded
    *     `avail` int rides instead for the end-of-document clamp);
    *     their d is then overridden to the saturation value. No
    *     anti/semi double-scan, no union, no fat persist. */
  private def exactRunLengths(toks: DataFrame, minLen: Int, cap: Int,
      maxGroup: Long = DefaultMaxGroup, hotD: Int = -1): DataFrame = {
    require(cap > minLen, s"cap $cap must exceed minLen $minLen")
    // One row per eligible position: gram hash + bounded extension.
    // The extension travels ONLY as its space-joined string — the sort
    // key and the LCP operand are the same column, so the suffix
    // shuffle carries no parallel token array (sf10: 77.6→29.9 s for
    // the span report when the array stopped shipping; PLANS.md).
    def sufFrom(t: DataFrame): DataFrame = t
      .select(col("id"), col("toks"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .where(col("p") <= size(col("toks")) - minLen)
      .select(col("id"), col("p"),
        md5(concat_ws(" ", slice(col("toks"), col("p") + 1, lit(minLen)))).as("h"),
        concat_ws(" ",
          slice(col("toks"), col("p") + minLen + 1, lit(cap - minLen))).as("ext_key"))
    // gram-group sorted chain: adjacent extensions realize the max LCP.
    // The duplicate test is a count-over-partition in the SAME h-keyed
    // exchange the lag/lead chain needs — one suffix shuffle total, no
    // separate aggregate+join and nothing to persist (a singleton
    // group's lag/lead are null → harmless, and it drops at c > 1).
    // TokenLcp is the codegen'd whole-token common-prefix expression —
    // a byte loop, vs the interpreted zip_with HOF it replaced.
    import org.apache.spark.sql.graftvec.VectorExpressions.tokenLcp
    def chain(s: DataFrame, keepHot: Boolean = false): DataFrame = {
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("ext_key", "id", "p")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("h")
      val keep = if (keepHot) col("c") > 1 || col("is_hot") else col("c") > 1
      val outCols = Seq(col("id"), col("p"),
        (greatest(col("lcp_prev"), col("lcp_next")) + minLen).cast("int").as("d")) ++
        (if (keepHot) Seq(col("is_hot"), col("avail")) else Nil)
      s
        .withColumn("c", count(lit(1)).over(wAll))
        .withColumn("lcp_prev",
          coalesce(tokenLcp(col("ext_key"), lag(col("ext_key"), 1).over(wOrd)), lit(0)))
        .withColumn("lcp_next",
          coalesce(tokenLcp(col("ext_key"), lead(col("ext_key"), 1).over(wOrd)), lit(0)))
        .where(keep)
        .select(outCols: _*)
    }
    def guarded(toksP: DataFrame): DataFrame = {
      // hot detection over the deterministic position sample (exact
      // below SampleMinCeiling); only (h, partial count) ever
      // shuffles, and the flagged set COLLECTS to the driver — it is
      // bounded by nPos/(maxGroup/4) keys (codebook-sized, like the
      // IVF/BPE collects), which buys the common case outright: an
      // empty hot set means the lean single-shuffle plan runs with
      // zero per-row guard overhead.
      val sampled = maxGroup >= SampleMinCeiling
      val thresh =
        if (sampled) math.max(1L, maxGroup / (2L * SampleRate)) else maxGroup
      // per-doc gram-hash ARRAY via array HOFs, exploding only the
      // sampled hashes: no per-position explode ever materializes and
      // the token array is never carried row-per-position — the
      // detection pass costs ~1/SampleRate of a suffix derivation
      val samplePred: Column => Column =
        if (sampled) p => pmod(xxhash64(col("id"), p), lit(SampleRate)) === 0
        else _ => lit(true)
      val hotSet = toksP
        .where(size(col("toks")) >= minLen)
        .select(explode(filter(transform(
          sequence(lit(0), size(col("toks")) - minLen),
          p => when(samplePred(p),
            md5(concat_ws(" ", slice(col("toks"), p + 1, lit(minLen)))))),
          x => x.isNotNull)).as("h"))
        .groupBy("h").agg(count(lit(1)).as("hc"))
        .where(if (sampled) col("hc") >= thresh else col("hc") > thresh)
        .select("h").collect().map(_.getString(0))
      if (hotSet.isEmpty) chain(sufFrom(toksP))
      else {
        val sat = if (hotD > 0) hotD else cap
        // single derivation: hot rows keep the shared shuffle but with
        // a salted key (no single-task group) and a blanked sort
        // payload (the fat extension never ships); `avail` carries the
        // end-of-document clamp bound as one int, computed only for
        // hot rows. isInCollection compiles to an InSet hash probe —
        // no join, stays inside whole-stage codegen.
        val keyed = sufFrom(toksP)
          .withColumn("is_hot", col("h").isInCollection(hotSet))
          .withColumn("avail", when(col("is_hot"),
            lit(minLen) + when(col("ext_key") === "", 0)
              .otherwise(size(split(col("ext_key"), " "))))
            .otherwise(lit(0)).cast("int"))
          .withColumn("h", when(col("is_hot"),
            concat(col("h"), lit("#"), pmod(col("p"), lit(SampleRate)).cast("string")))
            .otherwise(col("h")))
          .withColumn("ext_key", when(col("is_hot"), lit("")).otherwise(col("ext_key")))
        chain(keyed, keepHot = true)
          .withColumn("d", when(col("is_hot"),
            least(lit(sat), col("avail")).cast("int")).otherwise(col("d")))
          .select("id", "p", "d")
      }
    }
    if (maxGroup <= 0) chain(sufFrom(toks))
    else {
      val toksP = graft.CacheRegistry.persistTracked(toks)
      // exact pre-check, one cheap job over the cached tokens: when the
      // WHOLE corpus has ≤ maxGroup eligible positions, no gram group
      // can exceed the ceiling, so the guard's extra hash pass + join
      // would be pure overhead — keep the lean single-shuffle plan.
      // (This is what keeps the guard free at test/bench scale while
      // engaging automatically on corpora big enough to need it.)
      val nPos = toksP.agg(coalesce(sum(
          greatest(size(col("toks")) - (minLen - 1), lit(0)).cast("long")),
        lit(0L))).head.getLong(0)
      if (nPos <= maxGroup) chain(sufFrom(toksP))
      else guarded(toksP)
    }
  }

  def exactDupSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, cap: Int = 200,
      maxGroup: Long = DefaultMaxGroup): DataFrame = {
    val d = exactRunLengths(tokensFrame(df, idCol, textCol), minLen, cap,
      maxGroup, hotD = cap)
    // left-maximality: suppress spans that are a predecessor's tail
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p")
    d.withColumn("prev_p", lag(col("p"), 1).over(wd))
      .withColumn("prev_d", lag(col("d"), 1).over(wd))
      .where(col("prev_p").isNull || col("prev_p") =!= col("p") - 1 ||
        (col("prev_d") - 1 < col("d") && col("prev_d") < cap))
      .select(col("id"), col("p").cast("long").as("span_start"),
        col("d").cast("long").as("span_len"))
  }

  /** EXACT substring-level decontamination — contaminated-span
    * detection of corpus documents against an eval/benchmark set, at
    * suffix-array exactness: for every corpus position, the length of
    * the longest substring starting there that ALSO appears in the
    * benchmark corpus (≥ minLen, capped at `cap`), reported as
    * left-maximal (id, span_start, span_len) spans.
    *
    * This is the exact-match upgrade of [[bloomDecontaminate]]'s
    * n-gram membership test: instead of "shares a 13-gram", it
    * answers "shares a verbatim run of exactly THIS length" — the
    * evidence an eval-leakage audit actually wants.
    *
    * Construction: both sides' suffixes enter the SAME gram-keyed
    * sorted chain as [[exactDupSpans]], each flagged. A corpus
    * position's max LCP against the benchmark set is realized at the
    * NEAREST benchmark suffix above/below it in extension-sorted
    * order (the suffix-array neighbor property restricted to a
    * subset), found with two ignore-null running windows — still ONE
    * suffix shuffle, no join, benchmark text never broadcast. A
    * corpus gram whose group holds no benchmark suffix has no ≥
    * minLen benchmark match and drops at the group filter. */
  def exactContaminationSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      minLen: Int = 50, cap: Int = 200,
      maxGroup: Long = DefaultMaxGroup): DataFrame = {
    require(cap > minLen, s"cap $cap must exceed minLen $minLen")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftvec.VectorExpressions.tokenLcp
    val toksRaw = tokensFrame(corpus, idCol, textCol)
      .withColumn("is_bench", lit(false))
      .unionByName(tokensFrame(bench, idCol, textCol)
        .withColumn("is_bench", lit(true)))
    // guard on: the narrow tokens union persists (scanned for the hot
    // aggregate and per join side); the fat per-position frame never
    // materializes — same layout rationale as exactRunLengths
    val toks = if (maxGroup <= 0) toksRaw
      else graft.CacheRegistry.persistTracked(toksRaw)
    def sufFrom(t: DataFrame): DataFrame = t
      .select(col("id"), col("is_bench"), col("toks"),
        posexplode(col("toks")).as(Seq("p", "tok")))
      .where(col("p") <= size(col("toks")) - minLen)
      .select(col("id"), col("is_bench"), col("p"),
        md5(concat_ws(" ", slice(col("toks"), col("p") + 1, lit(minLen)))).as("h"),
        concat_ws(" ",
          slice(col("toks"), col("p") + minLen + 1, lit(cap - minLen))).as("ext_key"))
    val suf = sufFrom(toks)
    def dChain(s: DataFrame, keepHot: Boolean = false): DataFrame = {
      val wOrd = Window.partitionBy("h")
        .orderBy("ext_key", "is_bench", "id", "p")
      val wAll = Window.partitionBy("h")
      val prevB = last(when(col("is_bench"), col("ext_key")), ignoreNulls = true)
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      val nextB = first(when(col("is_bench"), col("ext_key")), ignoreNulls = true)
        .over(wOrd.rowsBetween(1, Window.unboundedFollowing))
      val keep = if (keepHot) !col("is_bench") && (col("nb") >= 1 || col("is_hot"))
        else !col("is_bench") && col("nb") >= 1
      val outCols = Seq(col("id"), col("p"),
        (greatest(col("lcp_prev"), col("lcp_next")) + minLen).cast("int").as("d")) ++
        (if (keepHot) Seq(col("is_hot"), col("avail")) else Nil)
      s
        .withColumn("nb", sum(col("is_bench").cast("int")).over(wAll))
        .withColumn("lcp_prev", coalesce(tokenLcp(col("ext_key"), prevB), lit(0)))
        .withColumn("lcp_next", coalesce(tokenLcp(col("ext_key"), nextB), lit(0)))
        .where(keep)
        .select(outCols: _*)
    }
    // hot-gram ceiling (see exactRunLengths — same three devices:
    // exact pre-check, sampled detection, salt+blank through the one
    // shared shuffle). A hot group with NO benchmark suffix cannot
    // witness a ≥ minLen bench match (the union'd gram groups are
    // complete) and drops pre-shuffle; one WITH a bench suffix is
    // saturation-grade contamination — its corpus positions report
    // d = cap, and left-maximality below reduces each run to its
    // head. Bench-side gram membership is counted EXACTLY (the bench
    // set is small; a sampled count could miss a lone bench witness
    // inside a hot group).
    lazy val nPos = toks.agg(coalesce(sum(
        greatest(size(col("toks")) - (minLen - 1), lit(0)).cast("long")),
      lit(0L))).head.getLong(0)
    val d = if (maxGroup <= 0 || nPos <= maxGroup) dChain(suf) else {
      val sampledDet = maxGroup >= SampleMinCeiling
      val thresh =
        if (sampledDet) math.max(1L, maxGroup / (2L * SampleRate)) else maxGroup
      // per-doc gram-hash arrays via HOFs (see exactRunLengths): the
      // detection pass explodes only sampled hashes, never positions
      val samplePred: Column => Column =
        if (sampledDet) p => pmod(xxhash64(col("id"), p), lit(SampleRate)) === 0
        else _ => lit(true)
      def gramHashes(pred: Column => Column): Column =
        filter(transform(sequence(lit(0), size(col("toks")) - minLen),
          p => when(pred(p),
            md5(concat_ws(" ", slice(col("toks"), p + 1, lit(minLen)))))),
          x => x.isNotNull)
      // bounded driver collects (see exactRunLengths): hot candidates,
      // then — only when any exist — which of them the bench witnesses
      val hotCand = toks
        .where(size(col("toks")) >= minLen)
        .select(explode(gramHashes(samplePred)).as("h"))
        .groupBy("h").agg(count(lit(1)).as("hc"))
        .where(if (sampledDet) col("hc") >= thresh else col("hc") > thresh)
        .select("h").collect().map(_.getString(0))
      if (hotCand.isEmpty) dChain(suf)
      else {
        // bench side is small: its gram membership is counted EXACTLY
        // (unsampled), so a lone bench witness in a hot group is never
        // missed
        val hotBench = toks
          .where(col("is_bench") && size(col("toks")) >= minLen)
          .select(explode(gramHashes(_ => lit(true))).as("h"))
          .where(col("h").isInCollection(hotCand))
          .distinct().collect().map(_.getString(0))
        val keyed = suf
          .withColumn("is_hot", col("h").isInCollection(hotCand))
          // a hot group with no bench witness cannot carry a ≥ minLen
          // bench match — drop it before the shuffle
          .where(!col("is_hot") ||
            (if (hotBench.isEmpty) lit(false) else col("h").isInCollection(hotBench)))
          .withColumn("avail", when(col("is_hot"),
            lit(minLen) + when(col("ext_key") === "", 0)
              .otherwise(size(split(col("ext_key"), " "))))
            .otherwise(lit(0)).cast("int"))
          .withColumn("h", when(col("is_hot"),
            concat(col("h"), lit("#"), pmod(col("p"), lit(SampleRate)).cast("string")))
            .otherwise(col("h")))
          .withColumn("ext_key", when(col("is_hot"), lit("")).otherwise(col("ext_key")))
        dChain(keyed, keepHot = true)
          .withColumn("d", when(col("is_hot"),
            least(lit(cap), col("avail")).cast("int")).otherwise(col("d")))
          .select("id", "p", "d")
      }
    }
    val wd = Window.partitionBy("id").orderBy("p")
    d.withColumn("prev_p", lag(col("p"), 1).over(wd))
      .withColumn("prev_d", lag(col("d"), 1).over(wd))
      .where(col("prev_p").isNull || col("prev_p") =!= col("p") - 1 ||
        (col("prev_d") - 1 < col("d") && col("prev_d") < cap))
      .select(col("id"), col("p").cast("long").as("span_start"),
        col("d").cast("long").as("span_len"))
  }

  /** EXACT span REMOVAL — Lee et al. 2022's actual excision semantics:
    * delete every token that any ≥ minLen corpus-repeated substring
    * covers, with coverage computed from the TRUE per-position run
    * lengths. Unlike the left-maximal span REPORT ([[exactDupSpans]]),
    * removal unions [p, p+d(p)) over ALL qualifying positions — which
    * makes coverage exact even past `cap`: inside a longer-than-cap
    * run each successive position re-asserts its capped interval, so
    * the union still reaches the run's true end.
    *
    * Returns (id, n_tokens, n_removed, clean_text) for every input
    * row. Scale shape: [[exactRunLengths]]'s single bounded-key
    * shuffle, one doc-keyed aggregation of (p, d) pairs, then the
    * same narrow O(L + covered) array boundary pass as
    * [[removeDupSpans]] — interval starts ascend, so flatten +
    * distinct is already sorted and excision is index arithmetic,
    * no second window shuffle. */
  def exactRemoveDupSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, cap: Int = 200,
      maxGroup: Long = DefaultMaxGroup): DataFrame = {
    // both the suffix stream and the final reconstruction read it
    val toks = graft.CacheRegistry.persistTracked(
      tokensFrame(df, idCol, textCol))
    // hotD = minLen: removal must not overshoot — a hot position
    // provably sits in a ≥ minLen duplicated gram, nothing more, and
    // the interval union over consecutive hot positions then covers
    // exactly the boilerplate region (see exactRunLengths)
    val ranges = exactRunLengths(toks, minLen, cap, maxGroup, hotD = minLen)
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("p"), col("d")))).as("pd"))
    toks.join(ranges, Seq("id"), "left")
      .withColumn("covered", array_distinct(flatten(transform(
        coalesce(col("pd"), array().cast("array<struct<p:int,d:int>>")),
        s => sequence(s.getField("p"), s.getField("p") + s.getField("d") - 1)))))
      .withColumn("all_idx", when(size(col("toks")) > 0,
        sequence(lit(0), size(col("toks")) - 1))
        .otherwise(array().cast("array<int>")))
      .withColumn("kept_idx", array_except(col("all_idx"), col("covered")))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("kept_idx"),
          i => element_at(col("toks"), i + 1))).as("clean_text"))
  }

  /** N-gram Jaccard dedup with cheap prefix blocking: documents are
    * blocked on the md5 of their first `prefixTokens` normalized tokens;
    * only within-block pairs are scored. Blocking bounds the candidate
    * set without an all-pairs cross join (at 100 TB an all-pairs scoring
    * pass is impossible; a block key — prefix, URL host, length bucket —
    * is what makes pairwise verification tractable).
    */
  /** Asymmetric CONTAINMENT pairs — |A∩B| / |A| for the smaller
    * shingle set A against the larger B: the quote/excerpt/syndication
    * detector Jaccard cannot be (a 100-token excerpt inside a
    * 10k-token article has Jaccard ≈ 0.01 but containment ≈ 1.0 —
    * exactly why MassiveText/Gopher treat containment as its own dedup
    * signal). Deliberately NO length prefilter: the whole point is the
    * size-mismatched pair the Jaccard prefilter prunes. Blocking is
    * the same token-prefix rule as [[ngramJaccardPairs]] — an excerpt
    * that starts mid-document needs a positional blocker (the q103
    * suffix machinery); prefix blocking covers the lead-paragraph
    * syndication case at zero extra shuffle. Ties (equal sizes) emit
    * once, smaller id first; empty shingle sets never pair. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, prefixTokens: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = graft.CacheRegistry.persistTracked(
      df.repartition(par).select(col(idCol).as("id"),
        md5(concat_ws(" ",
          slice(T.tokens(T.normalizeText(col(textCol))), 1, prefixTokens)))
          .as("block"),
        array_distinct(T.wordShingles(T.tokens(T.normalizeText(col(textCol))),
          shingleN)).as("shingles"))
        .withColumn("n", size(col("shingles"))))
    base.as("x").join(base.as("y"), Seq("block"))
      .where(col("x.n") > 0 &&
        (col("x.n") < col("y.n") ||
          (col("x.n") === col("y.n") && col("x.id") < col("y.id"))))
      .withColumn("containment",
        size(array_intersect(col("x.shingles"), col("y.shingles")))
          .cast("double") / col("x.n"))
      .where(col("containment") >= threshold)
      .select(col("x.id").as("small"), col("y.id").as("large"),
        round(col("containment"), 6).as("containment"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, prefixTokens: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // materialized: both join sides reuse it (see minhashPairs note);
    // tracked so callers can release after materialization
    val base = graft.CacheRegistry.persistTracked(
      df.repartition(par).select(col(idCol).as("id"),
        md5(concat_ws(" ",
          slice(T.tokens(T.normalizeText(col(textCol))), 1, prefixTokens)))
          .as("block"),
        array_distinct(T.wordShingles(T.tokens(T.normalizeText(col(textCol))),
          shingleN)).as("shingles"))
        .withColumn("n", size(col("shingles"))))
    base.as("x").join(base.as("y"), Seq("block"))
      .where(col("x.id") < col("y.id"))
      // lossless prefilter: J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t —
      // integer compare prunes pairs before the set intersection
      .where(least(col("x.n"), col("y.n")).cast("double") >=
        greatest(col("x.n"), col("y.n")) * threshold)
      .withColumn("jaccard", jaccard(col("x.shingles"), col("y.shingles")))
      .where(col("jaccard") >= threshold)
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(col("jaccard"), 6).as("jaccard"))
  }
}
