package graft

import graft.sources.Sources

/** Extract-stage sources (S1 HTML / S2 CSV / S4 single-file sink). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def htmlPage(nTickers: Int, headerName: String = "Ticker"): String = {
    val rows = (1 to nTickers)
      .map(i => s"<tr><td> t.$i </td><td>Company $i</td></tr>").mkString
    s"""<html><body>
       |<table class="infobox"><tr><th>Irrelevant</th></tr><tr><td>x</td></tr></table>
       |<table id="constituents">
       |<tr><th> $headerName </th><th>Company</th></tr>$rows</table>
       |</body></html>""".stripMargin
  }

  test("S1: picks the table with a ticker column, normalizes, dedups, sorts") {
    val got = Sources.tickersFromHtml(spark, htmlPage(85)).get.collect()
      .map(_.getString(0))
    assert(got.length == 85)
    assert(got.head == "T-1" && got.sorted.toSeq == got.toSeq) // sorted, dots→dashes
  }

  test("S1: table below the 80-row guard is rejected") {
    assert(Sources.tickersFromHtml(spark, htmlPage(79)).isEmpty)
    assert(Sources.tickersFromHtml(spark, htmlPage(85, "NotATicker")).isEmpty)
  }

  test("S2 + fallback: CSV symbol column (case-insensitive), else first " +
      "column") { Scratch.scoped("graft_csv") { dir =>
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.csv"),
      "SYMBOL,Name\naapl,Apple\nbrk.b,Berkshire\naapl,Dup\n")
    val got = Sources.loadTickers(spark, html = None, csvFallback = s"$dir/t.csv")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("AAPL", "BRK-B"))
  }}

  test("collectLocal keeps rows, order and schema, and the local frame's " +
      "collect and emptiness check plan a LocalTableScan (no job)") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    val src = Seq("b", "c", "a").toDF("t").orderBy("t")
    val local = Sources.collectLocal(src)
    assert(local.schema == src.schema)
    assert(local.collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    for (df <- Seq(local, local.select().limit(1)))
      assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        df.queryExecution.executedPlan.treeString)
  }

  test("S3: per-partition snapshot fetch, failures degrade to empty rows") {
    val tickers = Seq("AAPL", "BOOM", "MSFT").toDF("ticker")
    def fake(t: String): Sources.Snapshot = {
      if (t == "BOOM") throw new RuntimeException("api down")
      Sources.Snapshot(t, s"$t Inc", "Tech", Some(100.0), Some(1e9), "USD",
        Some(20.0), None, Some(4.0), None, Some(0.1), None, Some(10.0), None)
    }
    val got = Sources.fetchSnapshots(tickers, fake).collect()
      .map(r => r.getAs[String]("ticker") ->
        Option(r.getAs[java.lang.Double]("price"))).toMap
    assert(got == Map("AAPL" -> Some(100.0), "BOOM" -> None, "MSFT" -> Some(100.0)))
    // the fetched frame feeds the cleanse stage directly
    val cleansed = graft.operators.Cleanse(
      Sources.fetchSnapshots(tickers, fake),
      org.apache.spark.sql.functions.col("ticker"))
    assert(cleansed.count() == 3)
  }

  test("S7: JSONL source — gzip, coercing schema, PERMISSIVE corrupt rows") {
    import java.nio.file.{Files, Paths}
    import java.util.zip.GZIPOutputStream
    Scratch.scoped("graft_jsonl") { dir =>
      val lines = Seq(
        """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "web", "n_chars": 10}""",
        // quoted number → coercing schema must still land a long
        """{"doc_id": "2", "text": "gamma", "lang": "en", "source": "web", "n_chars": "5"}""",
        // uncastable numeric → try_cast degrades that FIELD to null
        """{"doc_id": 3, "text": "delta", "lang": "en", "source": "web", "n_chars": "many"}""",
        // invalid JSON → PERMISSIVE null-row, flagged, raw line kept
        """{broken json line""",
        // missing fields → present ones parse, absent ones null
        """{"doc_id": 5, "text": "epsilon"}""")
      val out = new GZIPOutputStream(
        Files.newOutputStream(dir.resolve("part-0000.jsonl.gz")))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
      val got = Sources.documentsFromJsonl(spark, dir.toString)
        .orderBy(org.apache.spark.sql.functions.asc_nulls_last("doc_id"))
        .collect()
      assert(got.length == 5)
      assert(got(0).getAs[Long]("doc_id") == 1L && got(0).getAs[Long]("n_chars") == 10L)
      assert(got(1).getAs[Long]("doc_id") == 2L && got(1).getAs[Long]("n_chars") == 5L)
      assert(got(2).getAs[Long]("doc_id") == 3L && got(2).isNullAt(got(2).fieldIndex("n_chars")))
      assert(got(3).getAs[Long]("doc_id") == 5L && got(3).isNullAt(got(3).fieldIndex("source")))
      val corrupt = got(4)
      assert(corrupt.isNullAt(corrupt.fieldIndex("doc_id")))
      assert(corrupt.getAs[Boolean]("is_corrupt"))
      assert(corrupt.getAs[String]("corrupt_record").startsWith("{broken"))
      assert(got.take(4).forall(!_.getAs[Boolean]("is_corrupt")))
    }
  }

  test("S9: JSONL writer round-trips losslessly through the reader") {
    import org.apache.spark.sql.functions.col
    Scratch.scoped("graft_jsonl_out") { dir =>
      val docs = Seq(
        (1L, "plain text", "en", "web", 10L),
        (2L, "quotes \" and \\ backslash\nand a newline", "en", "web", 38L),
        (3L, "unicode ⋯ tail", "de", "books", 14L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      Sources.writeJsonl(docs, dir.toString, shards = 2)
      val files = java.nio.file.Files.list(dir).toArray.map(_.toString)
        .filter(_.endsWith(".txt.gz"))
      assert(files.length == 2, "sharded gzip output")
      // cached: a corrupt-column-only query over a raw JSON scan is
      // disallowed (Spark's documented restriction — materialize first)
      val back = Sources.documentsFromJsonl(spark, dir.toString).cache()
      assert(back.where(col("is_corrupt")).count() == 0)
      val got = back.select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
      back.unpersist(blocking = false)
    }
  }

  test("S8: WET parser — byte framing, blank-line bodies, degradation") {
    // two records with CRLF framing; first body CONTAINS a blank line
    // and a 3-byte UTF-8 char (length-driven slicing must not care)
    val b1 = "para one\n\npara two ⋯"
    val n1 = b1.getBytes("UTF-8").length
    val wet = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n" +
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://a/1\r\n" +
      s"WARC-Date: d1\r\nContent-Length: $n1\r\n\r\n$b1\r\n\r\n" +
      "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://a/2\r\n" +
      "Content-Length: 5\r\n\r\nhello\r\n"
    val recs = Sources.parseWet(wet)
    assert(recs.map(_.record_type) == Seq("warcinfo", "conversion", "conversion"))
    assert(recs(1).body == b1 && recs(1).content_length == n1)
    assert(recs(1).target_uri == "http://a/1" && recs(1).warc_date == "d1")
    assert(recs(2).body == "hello")
    // LF-only framing parses too (lenient, like real-world tooling)
    assert(Sources.parseWet(
      "WARC/1.0\nContent-Length: 2\n\nok\n").head.body == "ok")
    // leading garbage is skipped to the first version line
    assert(Sources.parseWet("junk\nmore junk\n" + wet).size == 3)
    // truncated payload / missing length: keep what parsed, stop clean
    assert(Sources.parseWet(wet + "WARC/1.0\r\nContent-Length: 999\r\n\r\nshort").size == 3)
    assert(Sources.parseWet("WARC/1.0\r\nWARC-Type: x\r\n\r\nbody").isEmpty)
  }

  test("S9/zstd: .jsonl.zst shards round-trip losslessly through the reader") {
    import org.apache.spark.sql.functions.col
    Scratch.scoped("graft_jsonl_zst") { dir =>
      val docs = Seq(
        (1L, "plain text", "en", "web", 10L),
        (2L, "quotes \" and \\ backslash\nand a newline", "en", "web", 38L),
        (3L, "unicode ⋯ tail", "de", "books", 14L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      Sources.writeJsonl(docs, dir.toString, shards = 2, compression = "zstd")
      val files = java.nio.file.Files.list(dir).toArray.map(_.toString)
        .filter(_.endsWith(".txt.zst"))
      assert(files.length == 2, "sharded zstd output with .zst extension")
      // the shard bytes really are zstandard (magic 0xFD2FB528 LE)
      val head = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(files.head)).take(4).map(_ & 0xff)
      assert(head.sameElements(Array(0x28, 0xb5, 0x2f, 0xfd)), "zstd magic")
      val back = Sources.documentsFromJsonl(spark, dir.toString).cache()
      assert(back.where(col("is_corrupt")).count() == 0)
      val got = back.select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == docs.orderBy("doc_id").collect().map(_.toSeq).toSeq)
      back.unpersist(blocking = false)
    }
  }

  test("S8/zstd: .wet.zst shards parse byte-identically to plain WET") {
    Scratch.scoped("graft_wet_zst") { dir =>
      val body = "payload one ⋯"
      val n = body.getBytes("UTF-8").length
      val wet = s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://a/7\r\n" +
        s"Content-Length: $n\r\n\r\n$body\r\n"
      val f = dir.resolve("shard-00.warc.wet.zst")
      val out = new com.github.luben.zstd.ZstdOutputStream(
        java.nio.file.Files.newOutputStream(f))
      out.write(wet.getBytes("UTF-8")); out.close()
      val recs = Sources.readWet(spark, dir.toString)
        .collect().map(r => (r.getAs[String]("target_uri"), r.getAs[String]("body")))
      assert(recs.toSeq == Seq(("http://a/7", body)))
    }
  }

  test("under-shard guard: warns on one fat compressed shard, quiet on many") {
    import org.apache.spark.sql.functions.col
    Scratch.scoped("graft_shard") { root =>
      val one = root.resolve("one")
      val many = root.resolve("many")
      val docs = spark.range(64).select(col("id").as("doc_id"))
      docs.coalesce(1).selectExpr("to_json(struct(doc_id)) AS value")
        .write.mode("overwrite").option("compression", "gzip").text(one.toString)
      docs.repartition(8).selectExpr("to_json(struct(doc_id)) AS value")
        .write.mode("overwrite").option("compression", "gzip").text(many.toString)
      // local[4] ⇒ threshold files < 2: a 1-shard gzip dir warns …
      val warn = Sources.underShardWarning(spark, one.toString)
      assert(warn.exists(m => m.contains("non-splittable") && m.contains("1 file")))
      // … an 8-shard dir does not, nor does uncompressed parquet-ish text
      assert(Sources.underShardWarning(spark, many.toString).isEmpty)
      val plain = root.resolve("plain")
      docs.coalesce(1).selectExpr("to_json(struct(doc_id)) AS value")
        .write.mode("overwrite").text(plain.toString)
      assert(Sources.underShardWarning(spark, plain.toString).isEmpty)
    }
  }

  test("S4: single-file ordered CSV sink writes one exact file") {
    Scratch.scoped("graft_out") { dir =>
      val df = Seq((2, "b"), (1, "a")).toDF("k", "v").orderBy("k")
      Sources.writeSingleCsv(df, s"$dir/out.csv")
      val content = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/out.csv"))
      assert(content == "k,v\n1,a\n2,b\n")
      assert(dir.toFile.list().toSeq == Seq("out.csv"))
    }
  }

  test("S4: a frame that throws mid-write leaves the output dir holding " +
      "only the previous file, byte for byte") {
    Scratch.scoped("graft_out_fail") { dir =>
      val latest = dir.resolve("latest.csv")
      Sources.writeSingleCsv(Seq((1, "a")).toDF("k", "v"), latest.toString)
      val before = java.nio.file.Files.readAllBytes(latest)
      val bad = spark.range(4).select(
        org.apache.spark.sql.functions.expr("if(id = 2, raise_error('mid-write'), id)").as("k"))
      val e = intercept[Exception](Sources.writeSingleCsv(bad, latest.toString))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("mid-write")), e)
      assert(dir.toFile.list().toSeq == Seq("latest.csv"))
      assert(java.nio.file.Files.readAllBytes(latest).sameElements(before))
    }
  }

  test("httpSplit: status/headers/body; body keeps blank lines; edges -> None") {
    val ok = Sources.httpSplit(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-N: 7\r\n\r\n" +
        "line one\n\nline three")
    assert(ok.isDefined)
    val (code, headers, body) = ok.get
    assert(code == 200 && headers("content-type") == "text/html" &&
      headers("x-n") == "7")
    assert(body == "line one\n\nline three") // blank lines belong to the body
    // LF-only framing tolerated, like the WARC parser
    assert(Sources.httpSplit("HTTP/1.0 404 NF\nA: b\n\n").get._1 == 404)
    assert(Sources.httpSplit("not http").isEmpty)
    assert(Sources.httpSplit("HTTP/1.1 200 OK\r\nA: b\r\n").isEmpty) // no blank line
    assert(Sources.httpSplit("HTTP/1.1 abc\r\n\r\n").isEmpty) // non-numeric code
    assert(Sources.httpSplit("").isEmpty)
  }

  test("httpSplitBytes preserves non-UTF-8 body bytes exactly") {
    val body = Array[Byte](0x80.toByte, 0xE9.toByte, 'x', 0x00, 0xFF.toByte)
    val payload = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
      .getBytes("US-ASCII") ++ body
    val (code, headers, got) = Sources.httpSplitBytes(payload).get
    assert(code == 200 && headers("content-type") == "text/html")
    assert(got.toSeq == body.toSeq) // a String round-trip would U+FFFD these
    assert(Sources.httpSplitBytes("not http".getBytes("US-ASCII")).isEmpty)
  }

  test("resolveCharset priority: BOM > header > meta > UTF-8 default; " +
      "unknown alias quarantines") {
    def cs(h: Map[String, String], b: Array[Byte]): Option[String] =
      Sources.resolveCharset(h, b).map(_._1.name())
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    // BOM wins even over a contradicting header
    assert(cs(Map("content-type" -> "text/html; charset=gb2312"),
      bom ++ "<html>".getBytes("US-ASCII")) == Some("UTF-8"))
    assert(Sources.resolveCharset(Map.empty, bom ++ "x".getBytes).map(_._2)
      == Some(3))
    // header beats meta
    assert(cs(Map("content-type" -> "text/html; charset=Shift_JIS"),
      "<meta charset=\"gb2312\">".getBytes("US-ASCII")) == Some("Shift_JIS"))
    // meta charset and meta http-equiv both sniff (first KB, 8859-1 scan)
    assert(cs(Map.empty,
      "<html><head><meta charset='windows-1252'></head>".getBytes("US-ASCII"))
      == Some("windows-1252"))
    assert(cs(Map.empty,
      ("<meta http-equiv=\"Content-Type\" content=\"text/html; " +
        "charset=GBK\">").getBytes("US-ASCII")) == Some("GBK"))
    // nothing declared → UTF-8 default
    assert(cs(Map.empty, "<html>plain".getBytes("US-ASCII")) == Some("UTF-8"))
    // declared-but-unknown quarantines (both header and meta routes)
    assert(cs(Map("content-type" -> "text/html; charset=x-martian"),
      Array.emptyByteArray).isEmpty)
    assert(cs(Map.empty,
      "<meta charset=\"x-martian\">".getBytes("US-ASCII")).isEmpty)
  }

  test("decodeHttpBody transcodes each allowlisted charset exactly; " +
      "malformed bytes quarantine") {
    def dec(ct: String, bytes: Array[Byte]) =
      Sources.decodeHttpBody(Map("content-type" -> ct), bytes)
    // windows-1252: 0x80 = €, 0xE9 = é — invalid as UTF-8
    assert(dec("text/html; charset=windows-1252",
      Array[Byte](0x80.toByte, 'u', 'r', 'o', ' ', 0xE9.toByte))
      == Some(("windows-1252", "€uro é")))
    // Shift_JIS double-byte kana
    assert(dec("text/html; charset=shift_jis", "あい".getBytes("Shift_JIS"))
      == Some(("shift_jis", "あい")))
    // GB2312 hanzi
    assert(dec("text/html; charset=gb2312", "中文".getBytes("GB2312"))
      == Some(("gb2312", "中文")))
    // ISO-8859-1 alias
    assert(dec("text/html; charset=latin-1", Array[Byte](0xE9.toByte))
      == Some(("iso-8859-1", "é")))
    // BOM stripped from the decoded text
    assert(Sources.decodeHttpBody(Map.empty,
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "hi".getBytes)
      == Some(("utf-8", "hi")))
    // malformed under the resolved charset → None, never U+FFFD
    assert(dec("text/html; charset=utf-8", Array[Byte](0x80.toByte)).isEmpty)
    assert(dec("text/html; charset=shift_jis",
      Array[Byte](0x81.toByte)).isEmpty) // truncated double-byte
  }

  test("parseWarcBytes + readWarcBytes: byte-exact framing over binary shards") {
    val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=windows-1252\r\n\r\n"
      .getBytes("US-ASCII") ++ Array[Byte](0x80.toByte, 0xE9.toByte)
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a.example/doc/1\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++
      body ++ "\r\n".getBytes("US-ASCII")
    val recs = Sources.parseWarcBytes(rec ++ rec)
    assert(recs.length == 2 &&
      recs.forall(_.body.toSeq == body.toSeq))
    Scratch.scoped("graft_warcbytes") { dir =>
      java.nio.file.Files.write(dir.resolve("shard.warc"), rec ++ rec)
      val got = Sources.readWarcBytes(spark, dir.toString).collect()
      assert(got.length == 2)
      assert(got.map(_.getAs[Array[Byte]]("body").toSeq).toSet ==
        Set(body.toSeq))
    }
  }

  test("readWarcBytes: per-record gzip members (WARC style) stream out intact") {
    // WARC gzip = one deflate member per record, members concatenated;
    // Java's GZIPInputStream walks members transparently and the
    // record parser must see one continuous stream
    def member(uri: String, body: Array[Byte]): Array[Byte] = {
      val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII") ++
        body ++ "\r\n\r\n".getBytes("US-ASCII")
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(rec); gz.close()
      bos.toByteArray
    }
    val bodies = (0 until 5).map(i =>
      s"payload-$i-".getBytes("US-ASCII") ++ Array[Byte](0x80.toByte, i.toByte))
    val shard = bodies.zipWithIndex
      .map { case (b, i) => member(s"http://x.example/$i", b) }
      .reduce(_ ++ _)
    Scratch.scoped("graft_warcgz") { dir =>
      java.nio.file.Files.write(dir.resolve("shard.warc.gz"), shard)
      val got = Sources.readWarcBytes(spark, dir.toString)
        .orderBy("target_uri").collect()
      assert(got.length == 5)
      assert(got.map(_.getAs[Array[Byte]]("body").toSeq).toSeq ==
        bodies.map(_.toSeq))
    }
  }

  test("parseWarcStream is record-streaming: emitting the head of a fat " +
      "shard consumes only that record, not the shard") {
    // a procedural 64 MB "shard" (1024 × 64 KiB records) that counts
    // how many bytes the parser has actually pulled — the old
    // readAllBytes path would consume all of it before the first record
    val body = Array.fill[Byte](64 * 1024)('x'.toByte)
    val header = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
    val one = header ++ body ++ "\r\n\r\n".getBytes("US-ASCII")
    val nRecs = 1024
    var consumed = 0L
    val in = new java.io.InputStream {
      private var pos = 0L
      private val total = one.length.toLong * nRecs
      def read(): Int =
        if (pos >= total) -1
        else { val b = one((pos % one.length).toInt); pos += 1; consumed = pos; b & 0xFF }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= total) return -1
        var i = 0
        while (i < len && pos < total) {
          b(off + i) = one((pos % one.length).toInt); pos += 1; i += 1
        }
        consumed = pos
        i
      }
    }
    val it = Sources.parseWarcStream(in)
    val first = it.next()
    assert(first.content_length == body.length)
    assert(consumed < 2L * one.length,
      s"first record pulled $consumed bytes — parser is not streaming")
    // and the remainder still drains correctly record by record
    assert(it.size == nRecs - 1)
    assert(consumed == one.length.toLong * nRecs)
  }
}
