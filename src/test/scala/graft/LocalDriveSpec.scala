package graft

import java.nio.file.{Files, Path}
import graft.sources.{LocalDrive, Sources}

/** S5 upsert-by-name sink semantics (`load_drive.py:83-274` replicated
  * hermetically): create, update-in-place, MIME-verify-else-recreate,
  * the service-account folder guard, and folder find-or-create.
  */
class LocalDriveSpec extends SparkSpec {

  private def csvFile(dir: Path, name: String, rows: Seq[String]): Path = {
    val p = dir.resolve(name)
    Files.writeString(p, ("a,b" +: rows).mkString("\n"))
    p
  }

  test("the driver-inferred payload schema and rows equal the inferSchema " +
      "reader's") {
    Scratch.scoped("graft_drive_infer") { root =>
      def file(name: String, text: String): Path = {
        val p = root.resolve(name); Files.writeString(p, text); p
      }
      def gzip(name: String, text: String): Path = {
        val p = root.resolve(name)
        scala.util.Using.resource(new java.util.zip.GZIPOutputStream(
          Files.newOutputStream(p)))(_.write(text.getBytes("UTF-8")))
        p
      }
      val split = ("n,x,ts,name\n" +: (1 to 40).map { i =>
        val x = if (i <= 20) s"$i" else s"$i.5"
        val ts = if (i <= 20) f"2026-01-$i%02d 10:00:00" else "2026-02-01"
        s"""$i,$x,$ts,"r$i, x"\n"""
      }).mkString
      val splitTypes = Map("n" -> "int", "x" -> "double",
        "ts" -> "timestamp", "name" -> "string")
      Job.run(spark, Settings(outputDir = s"$root/job"),
        java.time.Clock.fixed(java.time.Instant.parse("2026-08-12T23:30:00Z"),
          java.time.ZoneId.of("UTC")),
        JobSpec.fetch, html = None,
        csvPath = file("tickers.csv", "Symbol\nAAPL\nMSFT\nbrk.b\n").toString)
      def matchesReader(csv: Path, types: Map[String, String],
          name: String): Unit = {
        val reader = spark.read.option("header", true)
          .option("inferSchema", true).csv(csv.toString)
        val inferred = Sources.csvSchema(spark, csv, inferSchema = true)
        assert(inferred === reader.schema, csv)
        assert(Sources.csvSchema(spark, csv, inferSchema = false) ===
          spark.read.option("header", true).csv(csv.toString).schema, csv)
        types.foreach { case (c, t) =>
          assert(inferred(c).dataType.simpleString === t, s"$csv: $c")
        }
        val id = LocalDrive.uploadCsv(spark, csv, root, name)
        val payload = spark.read.parquet(
          LocalDrive.payloadPath(root, id, LocalDrive.SheetMime).toString)
        assert(payload.schema === reader.schema, csv)
        assert(payload.collect().toSeq === reader.collect().toSeq, csv)
      }
      val fixtures = Seq(
        root.resolve("job/nasdaq100_valuations_latest.csv") ->
          Map("as_of_date" -> "date", "run_ts_utc" -> "timestamp",
            "price" -> "double", "ticker" -> "string"),
        file("mixed.csv", "n,flag,name,empty,big\n" +
          "1,true,\"Smith, J\",,12345678901\n" +
          "2,false,\"a \"\"b\"\", c\",,3\n") ->
          Map("n" -> "int", "flag" -> "boolean", "name" -> "string",
            "empty" -> "string", "big" -> "bigint"),
        file("header_only.csv", "a,b\n") ->
          Map("a" -> "string", "b" -> "string"),
        // the reader decompresses this one
        gzip("split.csv.gz", split) -> splitTypes)
      fixtures.zipWithIndex.foreach { case ((csv, types), i) =>
        matchesReader(csv, types, s"sheet$i.csv")
      }
      // read as one split, then split by the reader, which merges
      // per-split types
      val plain = file("split.csv", split)
      matchesReader(plain, splitTypes, "whole_sheet.csv")
      Conf.scoped(spark)("spark.sql.files.maxPartitionBytes" -> "256") {
        assert(spark.read.csv(plain.toString).rdd.getNumPartitions > 1)
        matchesReader(plain, splitTypes, "split_sheet.csv")
      }
    }
  }

  test("create then update-in-place keeps the same file id") {
    Scratch.scoped("graft_drive") { root =>
      val src1 = csvFile(root, "src1.csv", Seq("1,x", "2,y"))
      val id1 = LocalDrive.uploadCsv(spark, src1, root, "valuations.csv")
      assert(id1 === "file_000001")
      // converted payload exists and round-trips through the engine
      val payload = LocalDrive.payloadPath(root, id1, LocalDrive.SheetMime)
      assert(Files.exists(payload))
      assert(spark.read.parquet(payload.toString).count() === 2)

      // second upload with the same NAME finds and updates the same id
      val src2 = csvFile(root, "src2.csv", Seq("3,z"))
      val id2 = LocalDrive.uploadCsv(spark, src2, root, "valuations.csv")
      assert(id2 === id1)
      assert(spark.read.parquet(payload.toString).count() === 1)
      assert(LocalDrive.listEntries(root).count(_.name == "valuations.csv") === 1)
    }
  }

  test("MIME mismatch with conversion requested recreates under a new id") {
    Scratch.scoped("graft_drive") { root =>
      val src = csvFile(root, "src.csv", Seq("1,x"))
      // first upload WITHOUT conversion: stored as plain text/csv
      val rawId = LocalDrive.uploadCsv(spark, src, root, "report.csv",
        convertToSheets = false)
      assert(LocalDrive.mimeOf(root, rawId).contains(LocalDrive.CsvMime))

      // conversion now requested: existing mime != sheet → NEW id; the
      // old file is left behind (Drive's create never deletes)
      val sheetId = LocalDrive.uploadCsv(spark, src, root, "report.csv")
      assert(sheetId !== rawId)
      assert(LocalDrive.mimeOf(root, sheetId).contains(LocalDrive.SheetMime))
      assert(Files.exists(LocalDrive.payloadPath(root, rawId, LocalDrive.CsvMime)))

      // a third converted upload converges on the sheet entry (update)
      val again = LocalDrive.uploadCsv(spark, src, root, "report.csv")
      assert(again === sheetId)
    }
  }

  test("update keeps the stored MIME: payload stays catalog-resolvable") {
    Scratch.scoped("graft_drive") { root =>
      val src1 = csvFile(root, "v1.csv", Seq("1,x", "2,y"))
      val id = LocalDrive.uploadCsv(spark, src1, root, "data.csv",
        convertToSheets = false)
      assert(LocalDrive.mimeOf(root, id).contains(LocalDrive.CsvMime))

      // update with the DEFAULT mime (octet-stream): Drive media updates
      // never re-type the file, so the entry stays text/csv and the new
      // bytes must land at the catalog-resolvable .csv payload path
      val src2 = csvFile(root, "v2.csv", Seq("9,z"))
      val id2 = LocalDrive.uploadFile(spark, src2, root, "data.csv")
      assert(id2 === id)
      assert(LocalDrive.mimeOf(root, id).contains(LocalDrive.CsvMime))
      val payload = LocalDrive.payloadPath(root, id, LocalDrive.CsvMime)
      assert(Files.readString(payload).contains("9,z"))
      // nothing stranded at the octet-stream extension
      assert(!Files.exists(LocalDrive.payloadPath(root, id,
        "application/octet-stream")))
    }
  }

  test("service-account mode requires a folder to create, not to update") {
    Scratch.scoped("graft_drive") { root =>
      val src = csvFile(root, "src.csv", Seq("1,x"))
      intercept[IllegalArgumentException] {
        LocalDrive.uploadCsv(spark, src, root, "new.csv",
          serviceAccountMode = true)
      }
      // with a folder the create succeeds, scoped to that folder
      val folder = LocalDrive.createFolder(root, "exports")
      val id = LocalDrive.uploadCsv(spark, src, root, "new.csv",
        folderId = Some(folder), serviceAccountMode = true)
      assert(LocalDrive.findExistingFileId(root, "new.csv", Some(folder))
        .contains(id))
      // update path needs no folder even in service-account mode
      val id2 = LocalDrive.uploadCsv(spark, src, root, "new.csv",
        serviceAccountMode = true)
      assert(id2 === id)
    }
  }

  test("folder find-or-create and scoped name lookup") {
    Scratch.scoped("graft_drive") { root =>
      assert(LocalDrive.findFolderId(root, "reports").isEmpty)
      val f1 = LocalDrive.createFolder(root, "reports")
      assert(LocalDrive.findFolderId(root, "reports").contains(f1))
      val sub = LocalDrive.createFolder(root, "daily", Some(f1))
      assert(LocalDrive.findFolderId(root, "daily", Some(f1)).contains(sub))

      // same name in two folders: scoped lookup disambiguates
      val src = csvFile(root, "src.csv", Seq("1,x"))
      val a = LocalDrive.uploadCsv(spark, src, root, "out.csv", Some(f1))
      val b = LocalDrive.uploadCsv(spark, src, root, "out.csv", Some(sub))
      assert(a !== b)
      assert(LocalDrive.findExistingFileId(root, "out.csv", Some(f1)).contains(a))
      assert(LocalDrive.findExistingFileId(root, "out.csv", Some(sub)).contains(b))
    }
  }

  test("resumable upload: interrupt, resume from the frontier, commit") {
    Scratch.scoped("graft_drive") { root =>
      val bytes = ("a,b\n" + (1 to 50).map(i => s"$i,x$i").mkString("\n"))
        .getBytes("UTF-8")
      val tok = LocalDrive.beginResumableUpload(root, "big.csv",
        totalBytes = bytes.length, mimeType = LocalDrive.CsvMime,
        convertToSheets = true)
      // first two chunks land, then the "process dies"
      assert(LocalDrive.uploadChunk(root, tok, 0, bytes.slice(0, 100)) === 100)
      assert(LocalDrive.uploadChunk(root, tok, 100, bytes.slice(100, 180)) === 180)
      // nothing is visible before commit — the catalog has no entry
      assert(LocalDrive.findExistingFileId(root, "big.csv").isEmpty)

      // resume: query the durable frontier, NOT a client-side counter
      val st = LocalDrive.resumeStatus(root, tok)
      assert(st.received === 180 && st.total === bytes.length)
      assert(st.committedId.isEmpty)
      // a retransmit that overlaps the frontier is absorbed idempotently
      assert(LocalDrive.uploadChunk(root, tok, 150,
        bytes.slice(150, 220)) === 220)
      // a gapped chunk is rejected (protocol: back up to the frontier)
      intercept[IllegalArgumentException] {
        LocalDrive.uploadChunk(root, tok, 300, bytes.slice(300, 310))
      }
      LocalDrive.uploadChunk(root, tok, 220, bytes.drop(220))

      val id = LocalDrive.commitResumableUpload(spark, root, tok)
      // the staged payload went through the normal upsert + conversion
      val payload = LocalDrive.payloadPath(root, id, LocalDrive.SheetMime)
      assert(spark.read.parquet(payload.toString).count() === 50)
      // double commit (retried final request) is idempotent: same id,
      // no duplicate catalog entry
      assert(LocalDrive.commitResumableUpload(spark, root, tok) === id)
      assert(LocalDrive.listEntries(root).count(_.name == "big.csv") === 1)
      // and a committed session refuses further bytes
      intercept[IllegalStateException] {
        LocalDrive.uploadChunk(root, tok, bytes.length.toLong, Array[Byte](1))
      }
    }
  }

  test("resumable upload: premature commit fails, session upsert " +
      "updates an existing same-name file in place") {
    Scratch.scoped("graft_drive") { root =>
      val first = csvFile(root, "src.csv", Seq("1,x"))
      val existing = LocalDrive.uploadCsv(spark, first, root, "report.csv")

      val bytes = "a,b\n9,z".getBytes("UTF-8")
      val tok = LocalDrive.beginResumableUpload(root, "report.csv",
        totalBytes = bytes.length, mimeType = LocalDrive.CsvMime,
        convertToSheets = true)
      LocalDrive.uploadChunk(root, tok, 0, bytes.slice(0, 3))
      intercept[IllegalStateException] {
        LocalDrive.commitResumableUpload(spark, root, tok)
      }
      LocalDrive.uploadChunk(root, tok, 3, bytes.drop(3))
      // commit runs the SAME find-or-create path: updates in place
      assert(LocalDrive.commitResumableUpload(spark, root, tok) === existing)
      val payload = LocalDrive.payloadPath(root, existing, LocalDrive.SheetMime)
      assert(spark.read.parquet(payload.toString).count() === 1)
    }
  }
}
