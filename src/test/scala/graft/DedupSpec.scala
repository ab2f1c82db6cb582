package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dedup operator family: exact keep-min, MinHash-LSH recall on known
  * near-dups, Jaccard arithmetic, blocking behavior.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "THE  quick   Brown fox jumps over the lazy dog today"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the lazy cat today"),    // near dup (1 word)
    (4L, "completely different content about spark engines here now"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
    assert(got.count() == 4) // 1&2 merge
    val merged = got.filter(col("n_copies") === 2).collect()
    assert(merged.length == 1 && merged(0).getAs[Long]("keeper") == 1L)
  }

  test("minhash LSH finds exact duplicates, never emits sub-threshold pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    // identical after normalize → identical signature → every band
    // collides → guaranteed candidate, jaccard exactly 1.0
    assert(keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    // verification is exact: nothing below the threshold ever survives,
    // whatever the LSH recall (doc 1 vs 3 has J = 5/11 < 0.5)
    assert(pairs.forall(_._3 >= 0.5))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard: intersection over union on distinct sets; empty → 0") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq.empty[String]))
      .toDF("x", "y").select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(col1(df, "j") == Seq(0.5, 0.0))
  }

  test("ngram jaccard blocking only pairs docs sharing the 3-token prefix") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, prefixTokens = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1,2,3 share prefix "the quick brown"; 4 and 5 are singletons
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("removeDupSpans excises exactly the corpus-duplicated windows") {
    try {
      // docs 1 and 2 share the 4-gram "x1 x2 x3 x4" (doc 1 pos 2,
      // doc 2 pos 0); doc 3 repeats a gram WITHIN itself; doc 4 is
      // clean; doc 5 is shorter than the window and passes whole
      val d = Seq(
        (1L, "a1 a2 x1 x2 x3 x4 a3"),
        (2L, "x1 x2 x3 x4 b1 b2"),
        (3L, "r1 r2 r3 r4 r1 r2 r3 r4"),
        (4L, "c1 c2 c3 c4 c5"),
        (5L, "d1 d2"),
        (6L, "  ")).toDF("doc_id", "text")
      val got = Dedup.removeDupSpans(d, "doc_id", "text", n = 4)
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
            r.getAs[String]("clean_text")))).toMap
      assert(got(1L) == ((7L, 4L, "a1 a2 a3")))
      assert(got(2L) == ((6L, 4L, "b1 b2")))
      // doc 3: gram "r1 r2 r3 r4" occurs at pos 0 and 4 → both
      // windows excised; overlapping windows pos 1..3 are singletons
      assert(got(3L) == ((8L, 8L, "")))
      assert(got(4L) == ((5L, 0L, "c1 c2 c3 c4 c5")))
      assert(got(5L) == ((2L, 0L, "d1 d2")))
      assert(got(6L) == ((0L, 0L, ""))) // blank doc: ANSI-safe empty index path
    } finally CacheRegistry.releaseAll()
  }

  test("dupSpanRanges merges adjacent duplicated grams into maximal spans") {
    try {
      // docs 1/2 share one 4-gram → one width-4 span each; doc 3's
      // whole text duplicates doc 4's → every gram dup'd, ONE maximal
      // span covering the doc (not 5 width-4 marks); doc 5 has TWO
      // disjoint duplicated regions → two spans with a gap between
      val d = Seq(
        (1L, "a1 a2 x1 x2 x3 x4 a3"),
        (2L, "x1 x2 x3 x4 b1 b2"),
        (3L, "s1 s2 s3 s4 s5 s6 s7 s8"),
        (4L, "s1 s2 s3 s4 s5 s6 s7 s8"),
        (5L, "x1 x2 x3 x4 q1 q2 q3 q4 q5 s1 s2 s3 s4 s5 s6 s7 s8"),
        (6L, "clean doc nothing shared here")).toDF("doc_id", "text")
      val got = Dedup.dupSpanRanges(d, "doc_id", "text", n = 4)
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_len"))).toSet
      assert(got == Set(
        (1L, 2L, 4L), (2L, 0L, 4L),
        (3L, 0L, 8L), (4L, 0L, 8L),
        (5L, 0L, 4L), (5L, 9L, 8L)))
      // the paper's ≥-threshold view: only long spans survive minLen
      val long = Dedup.dupSpanRanges(d, "doc_id", "text", n = 4, minLen = 5)
        .collect().map(r => r.getAs[Long]("id")).toSet
      assert(long == Set(3L, 4L, 5L))
    } finally CacheRegistry.releaseAll()
  }

  test("editDistancePairs: lev-verified pairs inside prefix blocks") {
    try {
      val d = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy cat"), // 3 edits of 1
        (3L, "the quick brown wolf sits under a palm tree entirely"), // same block, far
        (4L, "unrelated block entirely different text here")).toDF("doc_id", "text")
      val got = Dedup.editDistancePairs(d, "doc_id", "text",
          prefixTokens = 3, threshold = 0.8)
        .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          r.getAs[Long]("dist"))).toSet
      assert(got == Set((1L, 2L, 3L))) // "dog"→"cat" = 3 substitutions
      // doc 3 shares the block but fails the similarity floor; doc 4
      // never pairs at all (different block — no verification cost)
    } finally CacheRegistry.releaseAll()
  }

  test("deltaDedup: exact/near vs corpus only; in-batch dups untouched") {
    try {
      val corpus = Seq(
        (10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "completely different historical content here now")).toDF("doc_id", "text")
      val batch = Seq(
        (1L, "The  quick BROWN fox jumps over the lazy dog"), // exact (normalized)
        (2L, "the quick brown fox jumps over the lazy cat"),  // near of 10
        (3L, "entirely novel text with no overlap at all ok"),
        (4L, "entirely novel text with no overlap at all ok")) // in-batch dup of 3
        .toDF("doc_id", "text")
      val got = Dedup.deltaDedup(batch, corpus, "doc_id", "text",
          k = 16, bands = 4, shingleN = 3, threshold = 0.5)
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"),
            r.getAs[Boolean]("keep")))).toMap
      assert(got(1L)._1 && !got(1L)._3)            // exact drop
      assert(!got(2L)._1 && got(2L)._2 && !got(2L)._3) // near drop
      assert(got(3L) == ((false, false, true)))
      // 4 duplicates 3 WITHIN the batch: delta pass must not decide it
      assert(got(4L) == ((false, false, true)))
    } finally CacheRegistry.releaseAll()
  }

  test("bloomDecontaminate: superset of exact hits, zero-shuffle probe") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),          // shares "w1 w2 w3 w4" with bench
      (2L, "n1 n2 n3 n4 n5 n6"),       // clean
      (3L, "w2 w3 w4 w5 extra"),       // shares "w2 w3 w4 w5"
      (100L, "w1 w2 w3 w4 w5 bench")).toDF("doc_id", "text")
    val corpus = docs.where(org.apache.spark.sql.functions.col("doc_id") < 100)
    val bench = docs.where(org.apache.spark.sql.functions.col("doc_id") === 100)
    val got = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text",
      shingleN = 4, fpp = 1e-6)
    // plan shape asserted on a range leaf (a LocalRelation fixture
    // constant-folds the whole probe away)
    import org.apache.spark.sql.functions.{col => c, concat_ws, lit}
    val rangeDocs = spark.range(8).select(c("id").as("doc_id"),
      concat_ws(" ", lit("t1 t2 t3 t4"), c("id").cast("string")).as("text"))
    val plan = Dedup.bloomDecontaminate(rangeDocs, bench, "doc_id", "text",
      shingleN = 4, fpp = 1e-6).queryExecution.executedPlan.toString
    assert(plan.contains("bloom_hit_count") && !plan.contains("Exchange"),
      "probe must be one narrow pass")
    val rows = got.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_bloom_hits"),
        r.getAs[Boolean]("flagged")))).toMap
    // exact overlaps: doc1 has 2 bench grams, doc3 has 1, doc2 zero;
    // bloom may only ADD hits (at fpp=1e-6 on ≤3 grams: none expected)
    assert(rows(1L)._2 >= 2 && rows(1L)._3)
    assert(rows(3L)._2 >= 1 && rows(3L)._3)
    assert(rows(2L)._1 == 3L && rows(2L)._2 <= 3L)
    CacheRegistry.releaseAll()
  }

  test("connected components leaves ZERO persistent blocks after release") {
    // the r4 packed-bench interference band: CC's per-round
    // localCheckpoint blocks (MEMORY_AND_DISK) outlived the query and
    // squeezed every query that ran after it. Contract now: rounds
    // free their predecessor eagerly, intermediates are self-managed,
    // and the final labels frame's blocks are registered for the
    // caller's end-of-work releaseAll — so after materialize+release
    // the JVM holds no persistent RDDs at all.
    val pairs = Seq((2L, 3L), (3L, 4L), (4L, 5L), (1L, 2L), (10L, 11L))
      .toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs)
    assert(labels.count() == 7) // materialize (5-chain + pair)
    CacheRegistry.releaseAll()
    assert(CacheRegistry.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connected components leaks nothing when an exception escapes the loop") {
    // Abnormal-exit hygiene: a task failure (here a raise_error firing
    // inside the pair plan's first materialization) must not orphan
    // the plain-persisted p0/edges blocks or the current round's
    // checkpoint — the try/finally releases them with no registry
    // record needed. Matters on the long-lived NearDupStream path
    // where foreachBatch retries would otherwise accumulate blocks.
    val poisoned = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
      .withColumn("a",
        when(col("b") === 3L, raise_error(lit("boom")).cast("long"))
          .otherwise(col("a")))
    intercept[Exception] {
      Dedup.connectedComponents(poisoned).count()
    }
    assert(CacheRegistry.trackedCount == 0,
      "no registry record should exist after an abnormal CC exit")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("connected components releases its input cache when the eager " +
      "pair count fails on a non-local input") {
    // spark.range is not a local relation, so raise_error fires inside
    // a task of CC's first job (the eager materialization of the pair
    // cache), not while the plan is optimized.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val trackedBefore = CacheRegistry.trackedCount
    val poisoned = spark.range(0, 100, 1, 4)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .withColumn("a",
        when(col("a") === 57L, raise_error(lit("boom")).cast("long"))
          .otherwise(col("a")))
    val e = intercept[Exception] {
      Dedup.connectedComponents(poisoned).count()
    }
    // the injected task failure, not a planning error, ended the call
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("boom")), s"got: $e")
    assert(CacheRegistry.trackedCount == trackedBefore)
    val leaked = persistedSince(before)
    assert(leaked.isEmpty, s"leaked blocks: ${leaked.mkString(", ")}")
  }

  test("persisting releases its cache when the body throws over a " +
      "non-local input") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      CacheRegistry.persisting(spark.range(0, 100, 1, 4)) { p =>
        assert(p.count() == 100)
        assert(persistedSince(before).nonEmpty, "the body's cache is live")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    val leaked = persistedSince(before)
    assert(leaked.isEmpty, s"leaked blocks: ${leaked.mkString(", ")}")
  }

  test("packed SimHash votes fail loudly at 2^21 tokens, not corrupt silently") {
    // The 3×21-bit packed counters are carry-free only below 2^21
    // tokens per document; the guard converts the documented assumption
    // into an error instead of wrong signatures. Drive the helper with
    // synthetic token hashes (2M rows) rather than a 2M-token text doc.
    val ok = spark.range(100)
      .select(lit(1L).as("doc_id"), col("id").as("h"))
    assert(queries.DedupQueries.simhashFromHashes(ok).collect().length == 1)
    val huge = spark.range(1L << 21)
      .select(lit(7L).as("doc_id"), lit(1L).as("h"))
    val e = intercept[Exception] {
      // collect, not count: column pruning under count() would drop the
      // signature projection (and with it the guard) from the plan
      queries.DedupQueries.simhashFromHashes(huge).collect()
    }
    assert(e.toString.contains("overflow") ||
      Option(e.getCause).exists(_.toString.contains("overflow")),
      s"expected the overflow guard to fire, got: $e")
  }

  test("connected components: transitive chains collapse to min-id label") {
    // a 5-vertex path (diameter 4 → several propagation rounds), one
    // disjoint pair, and a triangle reachable only through chaining
    val pairs = Seq((2L, 3L), (3L, 4L), (4L, 5L), (1L, 2L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    try {
      val got = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    } finally CacheRegistry.releaseAll()
  }

  test("canonical selection keeps the BEST-quality cluster member, not the min id") {
    // doc 2 is a near-dup of doc 1 (superset shingles, jaccard > 0.5)
    // but strictly higher quality (longer, stopword-rich tail) — the
    // production keep-rule must keep 2 and cut 1, exactly where
    // keep-min-id would choose wrong. Doc 50 is an unrelated singleton.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val low = base
    val high = base + " the a of and is the a of and is the a of and is"
    val dir = java.nio.file.Files.createTempDirectory("graft_q130")
    try {
      Seq((1L, low), (2L, high), (50L, "solo unrelated document text here"))
        .toDF("doc_id", "text")
        .write.mode("overwrite")
        .parquet(dir.resolve("documents.parquet").toString)
      val got = graft.queries.DedupQueries.q130.fn(spark, dir.toString)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("cluster"), r.getAs[Boolean]("keep"))).toMap
      assert(got(1L)._1 == 1L && got(2L)._1 == 1L,
        s"docs 1 and 2 must share a cluster: $got")
      assert(!got(1L)._2 && got(2L)._2,
        s"higher-quality doc 2 must be kept over min-id doc 1: $got")
      assert(got(50L) == (50L, true), "singletons always keep")
    } finally {
      CacheRegistry.releaseAll()
      graft.streaming.StreamingResidue.deleteRecursively(dir)
    }
  }
}
