package graft

import java.nio.file.Files
import graft.streaming.{DedupStream, NearDupStream}
import graft.streaming.DedupStream.Doc
import graft.operators.Dedup

/** Online approximate dedup: a doc that is merely SIMILAR (one token
  * appended — different fingerprint, so the exact layer would admit
  * it) to a doc admitted in an EARLIER micro-batch is dropped, via the
  * same MinHash band buckets the offline q31 pair finder uses.
  */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val M = 60L * 1000000L
  private val base =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu"
  private val nearDup = base + " omega" // one appended token
  private val distinctDoc =
    "entirely different content about weather patterns over the " +
      "southern ocean measured daily by autonomous buoy networks"

  test("fixture sanity: near-dup pair shares a band bucket, distinct doesn't") {
    val df = Seq((1L, base), (2L, nearDup), (3L, distinctDoc))
      .toDF("doc_id", "text")
    val buckets = Dedup.bandBuckets(df, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("bucket")))
    def of(id: Long) = buckets.filter(_._1 == id).map(_._2).toSet
    assert(of(1).intersect(of(2)).nonEmpty,
      "near-dup pair must collide in at least one band")
    assert(of(1).intersect(of(3)).isEmpty && of(2).intersect(of(3)).isEmpty)
  }

  test("near-duplicate arriving in a later micro-batch is dropped") {
    val dir = Files.createTempDirectory("graft_neardup_in")
    val stateDir = Files.createTempDirectory("graft_neardup_state")
    val outDir = Files.createTempDirectory("graft_neardup_out")
    // batch 1: base doc + a distinct doc + an in-batch near-dup pair
    // member (id 5 < 9 → 5 is the deterministic representative)
    writeChunk(Seq(
      Doc(5, 1000 * M, base),
      Doc(9, 1001 * M, base + " extra"),
      Doc(6, 1002 * M, distinctDoc)).toDS().toDF(), dir, 0)
    // batch 2: near-dup of the admitted base doc (NOT byte-identical:
    // exact fingerprints differ) + a short un-shingleable doc + fresh
    writeChunk(Seq(
      Doc(7, 1010 * M, nearDup),
      Doc(8, 1011 * M, "hi"),
      Doc(10, 1012 * M, "fresh report on volcanic seismic activity " +
        "compiled weekly from island observatory stations")).toDS().toDF(), dir, 1)

    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString).as[Doc]
    NearDupStream.drain(spark, docs, stateDir, outDir)

    val kept = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 5 admitted (min id of the in-batch pair {5, 9}); 9 dropped;
    // 7 dropped across batches though not byte-identical; 8 passes
    // through (no LSH identity); 6 and 10 are genuinely new
    assert(kept == Set(5L, 6L, 8L, 10L), s"got $kept")

    // exact-dedup layer would NOT have caught the near-dup: different
    // normalized fingerprints
    val fps = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    assert(Dedup.exact(fps, "doc_id", "text").count() == 2)
  }

  test("chain-shaped in-batch cluster resolves to ONE representative") {
    // Build a chain A~B, B~C with A≁C: A rewrites base's tail, C its
    // head, so each still shares most shingles with B but A and C
    // share only the middle. The split point is found by probing the
    // (deterministic) hash family — same triple every run.
    // A doc's band buckets depend only on its own text, so the whole
    // probe grid is scored with ONE bandBuckets job: tail rewrites
    // (A candidates, varying rewrite width ka and a suffix seed) and
    // head rewrites (C candidates) are bucketed together with the
    // chain middle B, then the driver picks any (A, C) pair where A∩B
    // and C∩B collide but A∩C doesn't. The base is 60 synthetic words
    // so a head/tail rewrite perturbs only a small fraction of the
    // shingle set (the 26-word fixture `base` is too short: the fixed
    // hash family happens to put a min-shingle of every band in its
    // head region, so NO head rewrite of it ever preserves a band).
    val words = (0 until 60).map(i =>
      "w" + ('a' + i / 26).toChar + ('a' + i % 26).toChar).toArray
    val chainB = words.mkString(" ")
    def rewrite(idx: Range, seed: Int) = words.zipWithIndex.map {
      case (w, i) => if (idx.contains(i)) w.reverse + ("x" * (seed + 1)) else w
    }.mkString(" ")
    val ks = 2 to 30
    val seeds = 0 to 3
    val grid = for { k <- ks; s <- seeds } yield (k, s)
    def aId(k: Int, s: Int) = 10000L + s * 100L + k
    def cId(k: Int, s: Int) = 20000L + s * 100L + k
    val cands =
      Seq((30L, chainB)) ++
        grid.map { case (k, s) =>
          (aId(k, s), rewrite(words.length - k until words.length, s)) } ++
        grid.map { case (k, s) => (cId(k, s), rewrite(0 until k, s)) }
    val candDf = cands.toDF("doc_id", "text")
    val bk = Dedup.bandBuckets(candDf, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("bucket")))
    def of(id: Long) = bk.filter(_._1 == id).map(_._2).toSet
    val bBk = of(30L)
    val triple = (for {
      (ka, sa) <- grid.view if of(aId(ka, sa)).intersect(bBk).nonEmpty
      (kc, sc) <- grid.view if of(cId(kc, sc)).intersect(bBk).nonEmpty
      if of(aId(ka, sa)).intersect(of(cId(kc, sc))).isEmpty
    } yield (cands.find(_._1 == aId(ka, sa)).get._2, chainB,
        cands.find(_._1 == cId(kc, sc)).get._2)).headOption
    assert(triple.nonEmpty, "no chain triple found in probe space")
    val (a, b, c) = triple.get

    val dir = Files.createTempDirectory("graft_neardup_chain_in")
    val stateDir = Files.createTempDirectory("graft_neardup_chain_state")
    val outDir = Files.createTempDirectory("graft_neardup_chain_out")
    // one batch holding the whole chain; ids chosen so one-hop
    // resolution would WRONGLY keep {10, 20} (A's buckets see only B)
    writeChunk(Seq(Doc(20, 1000 * M, a), Doc(30, 1001 * M, b),
      Doc(10, 1002 * M, c)).toDS().toDF(), dir, 0)
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .parquet(dir.toString).as[Doc]
    NearDupStream.drain(spark, docs, stateDir, outDir)
    val kept = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"transitive in-batch resolution: got $kept")
  }

  test("poison-pill contract: CC non-convergence fails the batch with the playbook") {
    // ccMaxIter = 0 forces non-convergence on ANY batch graph — the
    // deterministic stand-in for a pathological graph. Default policy
    // (Fail): the stream dies with an exception naming the batch and
    // both recovery knobs, instead of silently looping on replay.
    val dir = Files.createTempDirectory("graft_neardup_pp_in")
    val stateDir = Files.createTempDirectory("graft_neardup_pp_state")
    val outDir = Files.createTempDirectory("graft_neardup_pp_out")
    writeChunk(Seq(Doc(5, 1000 * M, base),
      Doc(9, 1001 * M, base + " extra")).toDS().toDF(), dir, 0)
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .parquet(dir.toString).as[Doc]
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      NearDupStream.drain(spark, docs, stateDir, outDir, ccMaxIter = 0)
    }
    // the failed batch releases every cache it made, its band buckets
    // included
    val leaked = persistedSince(before)
    assert(leaked.isEmpty, s"leaked blocks: ${leaked.mkString(", ")}")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    val all = messages(e).mkString(" | ")
    assert(all.contains("ccMaxIter") && all.contains("Fallback"),
      s"playbook not surfaced: $all")
    // nothing was admitted: output stays absent/empty — the batch
    // failed BEFORE its output append (no partial admissions)
    assert(!Files.exists(outDir) || !Files.list(outDir).iterator().hasNext
      || spark.read.parquet(outDir.toString).isEmpty)
  }

  test("poison-pill contract: Fallback degrades to one-hop and completes") {
    // same forced non-convergence, policy Fallback: the stream logs
    // and resolves in-batch dups with one-hop bucket-min — {5, 9}
    // still collapses to 5 (one-hop and CC agree on star graphs; on
    // chains one-hop may over-keep, which the offline backstop fixes)
    val dir = Files.createTempDirectory("graft_neardup_fb_in")
    val stateDir = Files.createTempDirectory("graft_neardup_fb_state")
    val outDir = Files.createTempDirectory("graft_neardup_fb_out")
    writeChunk(Seq(Doc(5, 1000 * M, base),
      Doc(9, 1001 * M, base + " extra"),
      Doc(6, 1002 * M, distinctDoc)).toDS().toDF(), dir, 0)
    writeChunk(Seq(Doc(7, 1010 * M, nearDup)).toDS().toDF(), dir, 1)
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString).as[Doc]
    NearDupStream.drain(spark, docs, stateDir, outDir,
      ccMaxIter = 0, onNonConvergence = NearDupStream.Fallback)
    val kept = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 9 dropped in-batch (one-hop), 7 dropped cross-batch (state join
    // is unaffected by the fallback), 5 and 6 admitted
    assert(kept == Set(5L, 6L), s"got $kept")
  }

  test("compaction bounds the state dir to one file-set, decisions unchanged") {
    val dir = Files.createTempDirectory("graft_neardup_cp_in")
    val stateDir = Files.createTempDirectory("graft_neardup_cp_state")
    val outDir = Files.createTempDirectory("graft_neardup_cp_out")
    writeChunk(Seq(
      Doc(5, 1000 * M, base),
      Doc(9, 1001 * M, base + " extra"),
      Doc(6, 1002 * M, distinctDoc)).toDS().toDF(), dir, 0)
    writeChunk(Seq(
      Doc(7, 1010 * M, nearDup),
      Doc(8, 1011 * M, "hi"),
      Doc(10, 1012 * M, "fresh report on volcanic seismic activity " +
        "compiled weekly from island observatory stations")).toDS().toDF(), dir, 1)
    writeChunk(Seq(
      Doc(11, 1020 * M, nearDup), // bucket-matches state (7's buckets registered)
      Doc(12, 1021 * M, "novel sentence describing glacier mass " +
        "balance surveys flown each spring by polar aircraft")).toDS().toDF(), dir, 2)
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString).as[Doc]
    NearDupStream.drain(spark, docs, stateDir, outDir, compactEvery = 1)
    val kept = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // same decisions as an uncompacted run: 9 in-batch dup, 7 and 11
    // cross-batch near-dups of 5; 8 un-shingleable passthrough
    assert(kept == Set(5L, 6L, 8L, 10L, 12L), s"got $kept")
    // 3 batches × compactEvery=1 → exactly ONE state data file, not
    // one file-set per batch
    import scala.jdk.CollectionConverters._
    val stateFiles = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    assert(stateFiles == 1, s"state holds $stateFiles data files")
  }

  test("default compaction (compactEvery=16) bounds state files over 18 batches") {
    // 18 single-doc micro-batches through drain's DEFAULTS: compaction
    // must fire on its own at batch 16 ((15+1) % 16 == 0), so the state
    // dir ends bounded — one compacted file-set plus the ≤2 post-
    // compaction appends — instead of one file-set per batch. Doc 18 is
    // a near-dup of doc 1, proving the compacted+appended state still
    // carries every earlier bucket.
    val dir = Files.createTempDirectory("graft_neardup_dc_in")
    val stateDir = Files.createTempDirectory("graft_neardup_dc_state")
    val outDir = Files.createTempDirectory("graft_neardup_dc_out")
    def text(i: Int) =
      if (i == 1) base
      else if (i == 18) base + " omega" // near-dup of doc 1
      else (0 until 12).map(j => s"topic$i word$j body$i").mkString(" ")
    (1 to 18).foreach { i =>
      writeChunk(Seq(Doc(i.toLong, (1000 + i) * M, text(i))).toDS().toDF(),
        dir, i - 1)
    }
    val docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString).as[Doc]
    NearDupStream.drain(spark, docs, stateDir, outDir) // defaults!
    val kept = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1 to 17).map(_.toLong).toSet, s"got $kept")
    import scala.jdk.CollectionConverters._
    val stateFiles = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    // 1 compacted set + 2 per-batch appends of ≤4 non-empty partitions
    assert(stateFiles <= 9, s"state holds $stateFiles data files (expected ≤9)")
  }

  test("persistent checkpoint: re-drain processes only new files") {
    val M = 60L * 1000000L
    val dir = Files.createTempDirectory("graft_neardup_inc")
    val stateDir = Files.createTempDirectory("graft_neardup_inc_state")
    val outDir = Files.createTempDirectory("graft_neardup_inc_out")
    val ckpt = Files.createTempDirectory("graft_neardup_inc_ckpt")
    def docs = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Doc]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString).as[Doc]
    def out() = spark.read.parquet(outDir.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

    writeChunk(Seq(Doc(1, 1000 * M, base),
      Doc(2, 1001 * M, distinctDoc)).toDS().toDF(), dir, 0)
    NearDupStream.drain(spark, docs, stateDir, outDir,
      checkpoint = Some(ckpt))
    assert(out() == Seq(1L, 2L))

    // cron'd catch-up over the same directory with ONE new file: the
    // committed file is skipped (offset log), so the output gains only
    // the genuinely new admissions — zero duplicate rows
    writeChunk(Seq(Doc(3, 1010 * M, nearDup), // near-dup of 1 → dropped
      Doc(4, 1011 * M, "completely new words about tidal energy " +
        "converters moored beyond the continental shelf break"))
      .toDS().toDF(), dir, 1)
    NearDupStream.drain(spark, docs, stateDir, outDir,
      checkpoint = Some(ckpt))
    assert(out() == Seq(1L, 2L, 4L), s"got ${out()}")
  }
  test("state compaction SHARDS as state grows: range-sharded " +
      "multi-file output with disjoint bucket ranges, contents " +
      "(and therefore every dedup decision) identical") {
    import scala.jdk.CollectionConverters._
    val stateDir = Files.createTempDirectory("graft_neardup_shard")
    // synthesize a grown bucket state: two appends, the second a
    // duplicate re-append (compaction must distinct-merge it away)
    val rows = (0 until 6000).map(i => (f"b${i % 1500}%06d", (i % 2000).toLong))
    rows.toDF("bucket", "hash").write.mode("append")
      .parquet(stateDir.toString)
    rows.take(3000).toDF("bucket", "hash").write.mode("append")
      .parquet(stateDir.toString)
    def stateSet() = spark.read.parquet(stateDir.toString).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val pre = stateSet()
    val bytes = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(Files.size).sum
    }
    // shard target = a quarter of the state -> ~4 output shards
    NearDupStream.compactState(spark, stateDir,
      targetShardBytes = math.max(1L, bytes / 4))
    val parts = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
    }
    assert(parts.size >= 2,
      s"grown state must compact into MULTIPLE shards, got ${parts.size}")
    // byte-identical decisions: the state SET (the only input any
    // dedup decision reads) is unchanged, duplicates merged
    assert(stateSet() == pre)
    assert(spark.read.parquet(stateDir.toString).count() == pre.size)
    // each shard covers a disjoint bucket range (repartitionByRange)
    val ranges = parts.map { f =>
      val b = spark.read.parquet(f).agg(
        org.apache.spark.sql.functions.min("bucket"),
        org.apache.spark.sql.functions.max("bucket")).collect().head
      (b.getString(0), b.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping shard ranges: $ranges")
      case _ => ()
    }
    // small state still compacts to ONE file (no gratuitous sharding)
    NearDupStream.compactState(spark, stateDir)
    val one = scala.util.Using.resource(Files.list(stateDir)) { s =>
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    assert(one == 1, s"small state should pack to one shard, got $one")
    assert(stateSet() == pre)
  }
}
