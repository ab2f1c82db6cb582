package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order layout: the z-value algebra is pinned by hand, and the
  * pruning claim is measured the way a stats-based reader prunes —
  * files whose min/max bounding box intersects a 2-d box predicate.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("z-value interleaves bits; locality beats either dimension alone") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L)).toDF("a", "b")
    val z = df.select(Layout.zValue(col("a"), col("b"), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // (a,b) bits interleaved a→even b→odd:
    // (0,0)→0; (1,0)→1; (0,1)→2; (3,5)=(011,101)→ b2 a2 b1 a1 b0 a0
    //   = 1 0 0 1 1 1 = 100111b = 39
    assert(z == Seq(0L, 1L, 2L, 39L))
  }

  test("grid cell clamps, scales, and null-defaults") {
    val df = Seq(Some(0.0), Some(50.0), Some(100.0), Some(-5.0), None)
      .toDF("x")
    val cells = df.select(Layout.gridCell(col("x"), 0.0, 100.0, bits = 8)
      .as("c")).collect().map(_.getLong(0)).toSeq
    assert(cells == Seq(0L, 127L, 255L, 0L, 0L))
  }

  test("degenerate inputs: empty and all-null frames keep the numFiles contract") {
    // empty: no NPE, valid (empty) parquet table
    Scratch.scoped("graft_z_empty") { emptyDirPath =>
      val emptyDir = emptyDirPath.toString
      val empty = Seq.empty[(java.lang.Long, java.lang.Long)].toDF("a", "b")
      Layout.writeZOrdered(empty, "a", "b", emptyDir, numFiles = 4)
      assert(spark.read.parquet(emptyDir).count() == 0)
      // all-null cluster column: nothing to cluster, but the file-count
      // contract still holds — the fallback repartitions to numFiles
      // instead of writing whatever partition count df happens to have
      Scratch.scoped("graft_z_null") { nullDirPath =>
        val nullDir = nullDirPath.toString
        val nulls = (1 to 100).map(i => (i.toLong, null: java.lang.Long))
          .toDF("a", "b").repartition(13)
        Layout.writeZOrdered(nulls, "a", "b", nullDir, numFiles = 4)
        val got = spark.read.parquet(nullDir)
        assert(got.count() == 100)
        import scala.jdk.CollectionConverters._
        val files = scala.util.Using.resource(
          Files.list(java.nio.file.Paths.get(nullDir))) { s =>
          s.iterator().asScala.count(_.toString.endsWith(".parquet"))
        }
        assert(files == 4, s"fallback wrote $files files, contract is 4")
      }
    }
  }

  test("z-order prunes on ANY dimension combination; sort only on its key") {
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Scratch.scoped("graft_zorder") { zDirPath =>
      val zDir = zDirPath.toString
      Scratch.scoped("graft_linear") { linDirPath =>
        val linDir = linDirPath.toString
        // file count must exceed the quadrant count a predicate can touch:
        // the curve only pays off when its granularity is finer than the
        // query box (at 16 files a misaligned ¼×¼ box touches ~9 of 16
        // level-2 quadrants and z-order loses even 2-d queries)
        val nFiles = 64
        Layout.writeZOrdered(li, "l_partkey", "l_suppkey", zDir, nFiles)
        Layout.writeLinear(li, "l_partkey", linDir, nFiles)

        val zDf = spark.read.parquet(zDir)
        val linDf = spark.read.parquet(linDir)
        assert(zDf.count() == li.count() && linDf.count() == li.count())

        val Array(pMax, sMax) = li.agg(max("l_partkey"), max("l_suppkey"))
          .collect().map(r => Array(r.getLong(0), r.getLong(1))).head

        // three predicate classes × three offsets, 1/16-span each:
        // leading-dim only, SECOND-dim only, and a 2-d box
        var (zTot, linTot) = (0L, 0L)
        for (f <- Seq(1, 3, 5)) {
          val (aLo, aHi) = (pMax * f / 8, pMax * f / 8 + pMax / 16)
          val (bLo, bHi) = (sMax * f / 8, sMax * f / 8 + sMax / 16)
          def z(a1: Long, a2: Long, b1: Long, b2: Long) =
            Layout.filesIntersecting(zDf, "l_partkey", "l_suppkey", a1, a2, b1, b2)
          def lin(a1: Long, a2: Long, b1: Long, b2: Long) =
            Layout.filesIntersecting(linDf, "l_partkey", "l_suppkey", a1, a2, b1, b2)

          // second-dimension predicate: the sorted layout prunes NOTHING
          // (every file spans the full l_suppkey range); the curve prunes
          val (zS, linS) = (z(0, pMax, bLo, bHi), lin(0, pMax, bLo, bHi))
          assert(linS == nFiles, s"sorted layout unexpectedly pruned: $linS")
          assert(zS <= nFiles / 2, s"z-order supp-only scanned $zS of $nFiles")

          // 2-d box: z-order at least matches the sort's leading-dim prune
          val (zB, linB) = (z(aLo, aHi, bLo, bHi), lin(aLo, aHi, bLo, bHi))
          assert(zB <= linB + 1, s"box: z=$zB linear=$linB")

          // leading-dim predicate: the curve pays a bounded locality tax
          val (zP, linP) = (z(aLo, aHi, 0, sMax), lin(aLo, aHi, 0, sMax))
          assert(zP <= nFiles / 2, s"z-order part-only scanned $zP of $nFiles")

          zTot += zS + zB + zP; linTot += linS + linB + linP
          info(s"offset $f/8: part-only z=$zP lin=$linP | " +
            s"supp-only z=$zS lin=$linS | box z=$zB lin=$linB")
        }
        // across the mixed workload the curve scans roughly half the files
        info(s"mixed-workload total: z=$zTot linear=$linTot")
        assert(zTot < linTot * 6 / 10, s"z=$zTot linear=$linTot")

        // layouts change bytes-on-disk order, never results
        val (aLo, aHi) = (pMax / 2, pMax / 2 + pMax / 16)
        val (bLo, bHi) = (sMax / 2, sMax / 2 + sMax / 16)
        def boxRows(df: org.apache.spark.sql.DataFrame) =
          df.where(col("l_partkey").between(aLo, aHi) &&
            col("l_suppkey").between(bLo, bHi))
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
            .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        assert(boxRows(zDf) == boxRows(linDf))
        assert(boxRows(zDf).nonEmpty)
      }
    }
  }

  test("writeSized targets rows-per-file: cap respected, fan-out from the count") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "n_chars")
    val n = docs.count()
    val target = 64L
    Scratch.scoped("graft_sized") { dirPath =>
      val dir = dirPath.toString
      Layout.writeSized(docs, "doc_id", dir, target)
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f")).count().collect()
      assert(perFile.map(_.getLong(1)).sum == n, "rows preserved")
      assert(perFile.forall(_.getLong(1) <= target),
        s"a file exceeds the $target-row cap")
      val expected = (n + target - 1) / target
      assert(perFile.length >= expected.toInt,
        s"${perFile.length} files < minimum $expected")
      assert(perFile.length <= 2 * expected.toInt,
        s"${perFile.length} files — fan-out far above target (skew unhandled)")
    }
  }
}
