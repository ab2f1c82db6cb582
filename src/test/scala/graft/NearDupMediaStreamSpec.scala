package graft

import java.nio.file.Files
import graft.streaming.NearDupStream
import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaMeta, MediaRecord}

/** Online PERCEPTUAL near-dup for image content: re-encodes of an
  * admitted image (different container, zero shared bytes) arriving in
  * a later micro-batch are dropped by the (bucket, hash) state, using
  * the exact offline q127/q129 band keys + hamming-6 verify. The
  * batch-equivalence test replays the offline decision rule
  * (band-bucket candidates → hamming ≤ 6 → connected components →
  * min-id keep) directly from [[NearDupStream.mediaBandRows]] and
  * asserts a one-batch drain lands on the identical kept set.
  */
class NearDupMediaStreamSpec extends SparkSpec {
  import spark.implicits._

  /** The q127/q129 fixture: doc_ids in the same group (id/3) share one
    * 18×16 pixel surface but ship as PNG / BMP / GIF respectively. */
  private def fixture(ids: Seq[Long]): Seq[MediaRecord] = {
    val df = ids.toDF("doc_id")
    Multimodal.encodePerceptualFixture(df).collect().toSeq
      .sortBy(_.doc_id)
  }

  private def mediaSchema =
    implicitly[org.apache.spark.sql.Encoder[MediaRecord]].schema

  test("fixture sanity: same-group re-encodes collide, groups don't") {
    val recs = fixture(0L to 8L)
    val rows = recs.flatMap(r => NearDupStream.mediaBandRows(r.doc_id, r.data))
    def bucketsOf(id: Long) = rows.filter(_._1 == id).map(_._2).toSet
    def hashesOf(id: Long) =
      rows.filter(_._1 == id).map(r => r._2.charAt(0) -> r._3).toMap
    // every doc decodes to 8 band rows (4 dHash + 4 pHash)
    assert(rows.groupBy(_._1).forall(_._2.size == 8))
    // same group: identical pixel surface → identical hashes → all
    // 8 buckets shared
    assert(bucketsOf(0).intersect(bucketsOf(1)).size == 8)
    assert(bucketsOf(0).intersect(bucketsOf(2)).size == 8)
    // distinct groups: no band collision that survives the hamming
    // gate (hashes must genuinely differ by > 6 bits per family)
    for (a <- Seq(0L, 3L, 6L); c <- Seq(0L, 3L, 6L) if a < c;
         fam <- Seq('d', 'p')) {
      val ham = java.lang.Long.bitCount(hashesOf(a)(fam) ^ hashesOf(c)(fam))
      assert(ham > 6, s"groups of $a and $c too close in family $fam: $ham")
    }
  }

  test("re-encode arriving in a later micro-batch is dropped by state") {
    Scratch.scoped("graft_neardup_media") { tmp =>
      val dir = Files.createDirectory(tmp.resolve("in"))
      val stateDir = Files.createDirectory(tmp.resolve("state"))
      val outDir = Files.createDirectory(tmp.resolve("out"))
      val recs = fixture(0L to 8L).map(r => r.doc_id -> r).toMap
      // batch 1: the PNG member of each group
      writeChunk(Seq(recs(0L), recs(3L), recs(6L)).toDS().toDF(), dir, 0)
      // batch 2: BMP + GIF re-encodes of group 0, BMP of group 1 (all
      // share ZERO bytes with the admitted PNGs), plus an undecodable
      // payload that must pass through
      writeChunk(Seq(recs(1L), recs(2L), recs(4L),
        MediaRecord(100L, "image", Array[Byte](1, 2, 3, 4),
          MediaMeta(0, 0, "bin", 0))).toDS().toDF(), dir, 1)

      val media = spark.readStream
        .schema(mediaSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString).as[MediaRecord]
      NearDupStream.drainMedia(spark, media, stateDir, outDir)

      val kept = spark.read.parquet(outDir.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 1, 2, 4 dropped across batches though byte-disjoint; 100 has no
      // perceptual identity and passes through
      assert(kept == Set(0L, 3L, 6L, 100L), s"got $kept")

      // the byte tier would NOT have caught these: containers disjoint
      assert(recs(0L).data.toSeq != recs(1L).data.toSeq)
    }
  }

  test("one-batch drain matches the offline decision rule exactly") {
    val ids = 0L to 11L
    val recs = fixture(ids)
    // offline replay: band-bucket candidates → per-family hamming ≤ 6
    // → union-find components → min-id keep (q127/q129 + CC rule)
    val rows = recs.flatMap(r => NearDupStream.mediaBandRows(r.doc_id, r.data))
    val byBucket = rows.groupBy(_._2).values
    val verified = byBucket.flatMap { members =>
      for (x <- members; y <- members
           if x._1 < y._1 && java.lang.Long.bitCount(x._3 ^ y._3) <= 6)
        yield (x._1, y._1)
    }.toSet
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    verified.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedKept = ids.filter(i => find(i) == i).toSet

    Scratch.scoped("graft_neardup_media_one") { tmp =>
      val dir = Files.createDirectory(tmp.resolve("in"))
      val stateDir = Files.createDirectory(tmp.resolve("state"))
      val outDir = Files.createDirectory(tmp.resolve("out"))
      writeChunk(recs.toDS().toDF(), dir, 0)
      val media = spark.readStream
        .schema(mediaSchema)
        .parquet(dir.toString).as[MediaRecord]
      NearDupStream.drainMedia(spark, media, stateDir, outDir)

      val kept = spark.read.parquet(outDir.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == expectedKept, s"got $kept, offline rule says $expectedKept")
      // the fixture's group structure: one representative per id/3 group
      assert(expectedKept == ids.filter(_ % 3 == 0).toSet)
    }
  }
}
