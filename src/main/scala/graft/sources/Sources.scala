package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, NullType, StringType, StructField, StructType}
import graft.functions.Valuation
import graft.streaming.StreamingResidue

/** Engine sources mirroring the reference's extract stage
  * (SURVEY.md §2.1):
  *
  *  - S1 HTML table scan (`extract_tickers.py:22-42`): pick the first
  *    <table> whose header set contains a ticker-ish column, require a
  *    minimum row count. The fetch is driver-side (like the reference's
  *    requests call); parsing is a small regex-based HTML table reader
  *    — no external libs in this container. Result enters the engine
  *    via createDataFrame.
  *  - S2 CSV scan (`extract_tickers.py:46-61`): header-aware Spark CSV
  *    read; the ticker column resolved case-insensitively as `symbol`,
  *    else the first column; empty file → empty result.
  *  - Fallback composition (`extract_tickers.py:65-82`): S1 result if
  *    it passes the guard, else S2; zero tickers raises.
  */
object Sources extends org.apache.spark.internal.Logging {

  val tickerColumnNames: Set[String] = Set("ticker", "ticker symbol", "symbol")
  val minRows = 80

  /** Extensions whose codecs cannot split a file across tasks:
    * parallelism is strictly per FILE for these inputs. (bz2 splits;
    * gzip and plain zstd streams do not.) */
  private val nonSplittableExts = Seq(".gz", ".zst")

  /** Guard against the single-fat-shard trap: a directory of
    * non-splittable compressed shards parallelizes only across files,
    * so 1 × 5 GB `.gz` shard = 1 task no matter how many cores the
    * cluster has. Returns (and logs) a warning when such an input has
    * fewer files than half the default parallelism; `None` when the
    * layout is fine or the path isn't listable (never a failure —
    * this is advice, not validation). */
  private[graft] def underShardWarning(spark: SparkSession,
      path: String): Option[String] =
    try {
      val hconf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      val files = matched
        .flatMap { st =>
          if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
          else Seq(st)
        }
        .filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      val packed =
        files.filter(st => nonSplittableExts.exists(st.getPath.getName.endsWith))
      val cores = spark.sparkContext.defaultParallelism
      if (packed.nonEmpty && files.size < cores / 2) {
        val msg = s"input $path has ${files.size} file(s) of which " +
          s"${packed.size} non-splittable (${nonSplittableExts.mkString("/")}) " +
          s"on $cores cores: parallelism is per-file for these codecs, so most " +
          "of the cluster will idle — stage more shards (~100 MB-1 GB each)"
        logWarning(msg)
        Some(msg)
      } else None
    } catch { case _: Throwable => None }

  /** Parse all <table> elements of an HTML document into (headers,
    * rows). Tolerates attributes, whitespace, th/td mixes. Driver-side
    * — the input is one fetched page, never big data. */
  def parseHtmlTables(html: String): Seq[(Seq[String], Seq[Seq[String]])] = {
    val tableRe = "(?is)<table\\b[^>]*>(.*?)</table>".r
    val rowRe = "(?is)<tr\\b[^>]*>(.*?)</tr>".r
    val cellRe = "(?is)<t[hd]\\b[^>]*>(.*?)</t[hd]>".r
    val tagRe = "(?s)<[^>]+>".r
    def cellText(c: String): String =
      tagRe.replaceAllIn(c, "").replace("&amp;", "&").replace("&nbsp;", " ").trim
    tableRe.findAllMatchIn(html).map { tm =>
      val rows = rowRe.findAllMatchIn(tm.group(1)).map { rm =>
        cellRe.findAllMatchIn(rm.group(1)).map(m => cellText(m.group(1))).toSeq
      }.toSeq.filter(_.nonEmpty)
      if (rows.isEmpty) (Seq.empty[String], Seq.empty[Seq[String]])
      else (rows.head.map(_.toLowerCase(java.util.Locale.ROOT).trim), rows.tail)
    }.toSeq
  }

  /** The pure extraction tier of S1: first table with a ticker-ish
    * column and ≥ [[minRows]] NORMALIZED rows. The guard counts cells
    * AFTER E10 normalization (trim → upper → '.'→'-') and empty
    * filtering, matching the reference's ordering
    * (`extract_tickers.py:39-41` strips/uppercases and drops empties
    * before its length check) — a table padded with whitespace-only
    * cells cannot sneak past the guard. Shared by [[tickersFromHtml]]
    * and the `graft-html` DataSourceV2 connector ([[HtmlTickerSource]]).
    */
  def tickerStringsFromHtml(html: String): Option[Seq[String]] =
    parseHtmlTables(html).flatMap { case (headers, rows) =>
      headers.zipWithIndex
        .find { case (h, _) => tickerColumnNames(h) }
        .map { case (_, idx) =>
          rows.flatMap(r => r.lift(idx))
            .map(t => t.trim.toUpperCase(java.util.Locale.ROOT)
              .replace('.', '-'))
            .filter(_.nonEmpty)
        }
    }.find(_.size >= minRows)

  /** S1 — tickers from an HTML constituents page: first table with a
    * ticker-ish column and ≥ minRows rows. Returns None if no table
    * qualifies (caller falls back to S2). */
  def tickersFromHtml(spark: SparkSession, html: String): Option[DataFrame] =
    tickerStringsFromHtml(html).map { tickers =>
      import spark.implicits._
      normalize(tickers.toDF("ticker"))
    }

  /** S2 — tickers from a CSV file: column named `symbol`
    * (case-insensitive) else the first column. The header is read on the
    * driver ([[csvSchema]]), so the resolve is the read's only job. */
  def tickersFromCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = csvSchema(spark, Paths.get(path), inferSchema = false)
    if (schema.isEmpty) return spark.emptyDataFrame.withColumn("ticker", lit(""))
    val raw = spark.read.option("header", true).schema(schema).csv(path)
    val col0 = raw.columns
      .find(_.equalsIgnoreCase("symbol")).getOrElse(raw.columns.head)
    normalize(raw.select(col(col0).as("ticker")))
  }

  /** The schema `spark.read.option("header", true).option("inferSchema",
    * inferSchema).csv(path)` gives `path`: all-string columns named by the
    * header when `inferSchema` is off. Where the reader reads the file as
    * one split of plain text, it is computed on the driver: Spark's own
    * `CSVInferSchema`, under the options that reader builds, folded over
    * the file's tokenized lines exactly as the reader folds one split, and
    * streamed, so driver memory does not grow with the file. Reading with
    * this schema then runs no header job and no inference job. An absent
    * file, a file the reader splits (it merges per-split types, which can
    * differ from one fold) or one it decompresses is left to the reader,
    * so its errors and types stay the reader's. */
  def csvSchema(spark: SparkSession, path: Path, inferSchema: Boolean): StructType = {
    lazy val size = Files.size(path)
    val plainOneSplit = Files.isRegularFile(path) && new CompressionCodecFactory(
        spark.sessionState.newHadoopConf()).getCodec(new HPath(path.toUri)) == null &&
      size <= FilePartition.maxSplitBytes(spark, size + spark.sessionState.conf.filesOpenCostInBytes)
    if (plainOneSplit) foldCsvSchema(spark, path, inferSchema)
    else spark.read.option("header", true).option("inferSchema", inferSchema)
      .csv(path.toString).schema
  }

  private def foldCsvSchema(spark: SparkSession, path: Path,
      inferSchema: Boolean): StructType = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true", "inferSchema" -> inferSchema.toString),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    def lines[A](f: Iterator[String] => A): A = Using.resource(new BufferedReader(
        new InputStreamReader(Files.newInputStream(path), opts.charset))) { r =>
      f(CSVUtils.filterCommentAndEmpty(r.lines().iterator().asScala, opts))
    }
    lines(_.nextOption()).fold(new StructType()) { first =>
      val parser = new CsvParser(opts.asParserSettings)
      val header = CSVUtils.makeSafeHeader(parser.parseLine(first),
        conf.caseSensitiveAnalysis, opts)
      val infer = new CSVInferSchema(opts)
      val types =
        if (!inferSchema) Array.fill[DataType](header.length)(StringType)
        else lines(CSVUtils.filterHeaderLine(_, first, opts)
          .map(parser.parseLine)
          .foldLeft(Array.fill[DataType](header.length)(NullType))(infer.inferRowType))
      StructType(infer.toStructFields(types, header))
    }
  }

  /** E10 + F1 + D2 + O1 over a 1-column ticker frame
    * (`extract_tickers.py:39-41`). A ticker list is driver-sized, so it
    * is planned as one partition: the distinct and the sort then need
    * no exchange, and the whole resolve is one job. */
  private def normalize(df: DataFrame): DataFrame =
    df.coalesce(1)
      .select(Valuation.normalizeTicker(col("ticker")).as("ticker"))
      .filter(col("ticker").isNotNull && col("ticker") =!= "")
      .distinct()
      .orderBy("ticker")

  /** The composed extract with fallback (`extract_tickers.py:65-82`):
    * html result if present, else CSV; zero tickers → error, like the
    * reference's raise. The resolve plan runs once; the result is a
    * local frame, so later stages never re-run it. */
  def loadTickers(spark: SparkSession, html: Option[String],
      csvFallback: String): DataFrame = {
    val df = collectLocal(html.flatMap(tickersFromHtml(spark, _))
      .getOrElse(tickersFromCsv(spark, csvFallback)))
    if (df.isEmpty)
      throw new IllegalStateException("no tickers resolved from any source")
    df
  }

  /** Run `df` once and return its rows, in order, as a frame over a
    * `LocalRelation`: actions on the result re-run nothing upstream
    * (an emptiness check or a collect runs no job at all), and nothing
    * is persisted, so there is no cache to release. For driver-sized
    * results only. */
  def collectLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** One ticker's fundamentals snapshot (the reference's 14-field
    * projection of the yfinance payload, `transform_valuation.py:56-87`;
    * numerics nullable per the null convention). */
  final case class Snapshot(ticker: String, company: String, sector: String,
      price: Option[Double], market_cap: Option[Double], currency: String,
      trailing_pe: Option[Double], forward_pe: Option[Double],
      trailing_eps: Option[Double], forward_eps: Option[Double],
      earnings_growth: Option[Double], peg_ratio: Option[Double],
      book_value_per_share: Option[Double], target_mean_price: Option[Double])

  /** S3 — remote API row source (`transform_valuation.py:42-96`): fetch
    * one snapshot per ticker via `fetch`, parallelized per partition.
    * The fetcher is pluggable (the real one would call a market-data
    * HTTP API from each executor — N tickers / P partitions concurrent
    * fetch instead of the reference's serial loop; failures degrade to
    * an empty snapshot exactly like the reference's try/except).
    */
  def fetchSnapshots(tickers: DataFrame,
      fetch: String => Snapshot): DataFrame = {
    val spark = tickers.sparkSession
    import spark.implicits._
    tickers.select(col("ticker")).as[String].mapPartitions { it =>
      // per-partition setup (HTTP client / session) would open here
      it.map { t =>
        try fetch(t)
        catch {
          case _: Exception => Snapshot(t, "", "", None, None, "", None,
            None, None, None, None, None, None, None)
        }
      }
    }.toDF()
  }

  /** S7 — line-delimited JSON corpus source (JSONL / NDJSON, the
    * format raw LLM corpora actually arrive in — Common Crawl
    * extracts, Dolma, RedPajama shards), with the same lenient
    * treatment the CSV path gets:
    *
    *  - **coercing schema**: every field is first read as a string
    *    (JSON numbers, booleans, and nested values all tolerate a
    *    string read), then `try_cast` to the target type — so
    *    `"n_chars": 123` and `"n_chars": "123"` both land as LongType,
    *    and an uncastable value degrades to NULL instead of failing
    *    the job;
    *  - **PERMISSIVE malformed-line handling**: a syntactically bad
    *    line becomes one null-row flagged `is_corrupt = true` (the
    *    raw line is preserved in `corrupt_record` for quarantine
    *    sinks) — one broken record in a 100 TB crawl must never kill
    *    the ingest;
    *  - **compression is transparent** by file extension (`.gz`,
    *    `.bz2`, and — via the zstd-jni-backed [[ZstdHadoopCodec]]
    *    registered on first use — `.zst`) exactly as with any Hadoop
    *    text input.
    *
    * Scale shape: gzip members are non-splittable, so parallelism is
    * per FILE — real corpora ship as many ~100 MB–1 GB shards and the
    * scan parallelizes across them; the parse itself is a narrow
    * per-partition pass, no shuffle.
    */
  private def jsonlStringSchema(target: StructType): StructType =
    StructType(
      target.fields.map(f => StructField(f.name, StringType, nullable = true))
        :+ StructField("_corrupt_record", StringType, nullable = true))

  private def coerceJsonl(raw: DataFrame, target: StructType): DataFrame = {
    val coerced = target.fields.toSeq.map { f =>
      expr(s"try_cast(`${f.name}` AS ${f.dataType.sql})").as(f.name)
    }
    raw.select(coerced :+ col("_corrupt_record").isNotNull.as("is_corrupt")
      :+ col("_corrupt_record").as("corrupt_record"): _*)
  }

  def readJsonl(spark: SparkSession, path: String,
      target: StructType): DataFrame = {
    Zstd.register(spark.sparkContext.hadoopConfiguration)
    underShardWarning(spark, path)
    coerceJsonl(spark.read
      .schema(jsonlStringSchema(target))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path), target)
  }

  /** S9 — sharded JSONL(.gz) export sink: the write half of the JSONL
    * round trip (curated training shards ship as line-JSON far more
    * often than parquet). One JSON object per row via `to_json` over
    * every column, `shards` output files (the unit of downstream read
    * parallelism — size shards so a consumer saturates, ~100 MB–1 GB
    * each at corpus scale), gzip per shard. Distributed write, no
    * driver collection; [[readJsonl]] reads it back losslessly. */
  def writeJsonl(df: DataFrame, path: String, shards: Int,
      compression: String = "gzip"): Unit = {
    Zstd.register(df.sparkSession.sparkContext.hadoopConfiguration)
    // "zstd" isn't one of Spark's short codec names for text sinks;
    // route it to the zstd-jni-backed codec class registered above
    val codec =
      if (compression.equalsIgnoreCase("zstd")) Zstd.codecName else compression
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .repartition(shards)
      .write.mode("overwrite").option("compression", codec)
      .text(path)
  }

  /** Streaming twin of [[readJsonl]] — tail a JSONL landing directory
    * as a file-stream source with the SAME coercing-schema and
    * corrupt-row contract: a malformed line in an arriving shard
    * becomes one flagged null-row in that micro-batch (quarantine it
    * from the stream; never a query failure). Feeds the streaming
    * dedup/session operators directly. */
  def streamJsonl(spark: SparkSession, path: String,
      target: StructType = documentsSchema,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    Zstd.register(spark.sparkContext.hadoopConfiguration)
    coerceJsonl(spark.readStream
      .schema(jsonlStringSchema(target))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path), target)
  }

  /** The `documents` table's schema, for JSONL ingest. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** [[readJsonl]] pre-targeted at the documents corpus schema. */
  def documentsFromJsonl(spark: SparkSession, path: String): DataFrame =
    readJsonl(spark, path, documentsSchema)

  /** One parsed WET record: the WARC header fields a curation pipeline
    * keys on, plus the payload. */
  final case class WetRecord(record_type: String, target_uri: String,
      warc_date: String, content_length: Long, body: String)

  /** Byte-level WET/WARC record parser (ISO 28500 framing, the format
    * Common Crawl text extracts ship in): each record is a
    * `WARC/x.y` version line, CRLF (or LF) header lines to a blank
    * line, then EXACTLY `Content-Length` BYTES of payload. The parser
    * is byte-accurate — multi-byte UTF-8 payloads and payloads
    * containing blank lines slice correctly because framing is driven
    * by the declared length, never by content scanning. Malformed
    * framing degrades, never throws: leading garbage is skipped to
    * the next `WARC/` line; a record with missing/invalid
    * Content-Length or a truncated payload ends the file's parse with
    * the records already recovered.
    */
  def parseWet(content: String): Seq[WetRecord] = {
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = scala.collection.mutable.ArrayBuffer.empty[WetRecord]
    var pos = 0
    // next LF-terminated line from `pos` (CR stripped): (text, nextPos)
    def line(p: Int): (String, Int) = {
      var e = p
      while (e < bytes.length && bytes(e) != '\n') e += 1
      val cut = if (e > p && bytes(e - 1) == '\r') e - 1 else e
      (new String(bytes, p, cut - p,
        java.nio.charset.StandardCharsets.UTF_8), math.min(e + 1, bytes.length))
    }
    var ok = true
    while (ok && pos < bytes.length) {
      // seek the next version line, tolerating inter-record blank
      // lines and any leading garbage
      var (l, next) = line(pos)
      while (!l.startsWith("WARC/") && next < bytes.length) {
        val t = line(next); l = t._1; next = t._2
      }
      if (!l.startsWith("WARC/")) ok = false
      else {
        var headers = Map.empty[String, String]
        var done = false
        while (!done && next < bytes.length) {
          val (h, n2) = line(next); next = n2
          if (h.isEmpty) done = true
          else h.indexOf(':') match {
            case -1 => // tolerated: non-header line inside the block
            case i => headers += (h.take(i).trim
              .toLowerCase(java.util.Locale.ROOT) -> h.drop(i + 1).trim)
          }
        }
        val len = headers.get("content-length").flatMap(_.toLongOption)
        len match {
          case Some(n) if done && next + n <= bytes.length =>
            out += WetRecord(
              headers.getOrElse("warc-type", ""),
              headers.getOrElse("warc-target-uri", ""),
              headers.getOrElse("warc-date", ""),
              n,
              new String(bytes, next, n.toInt,
                java.nio.charset.StandardCharsets.UTF_8))
            pos = next + n.toInt
          case _ => ok = false // unframed or truncated: stop this file
        }
      }
    }
    out.toSeq
  }

  /** Split an HTTP response payload (the body of a WARC `response`
    * record — raw crawl WARCs carry these, unlike WET's pre-extracted
    * text): status line → code, header lines to the blank line →
    * lowercased map, remainder → body. Non-HTTP payloads degrade to
    * None, same contract as every other crawl-byte parser here. */
  def httpSplit(payload: String): Option[(Int, Map[String, String], String)] = {
    val nl = payload.indexOf('\n')
    if (nl < 0) return None
    val statusEnd = if (nl > 0 && payload(nl - 1) == '\r') nl - 1 else nl
    val status = payload.substring(0, statusEnd)
    if (!status.startsWith("HTTP/")) return None
    val parts = status.split(" ")
    if (parts.length < 2) return None
    val code = parts(1).toIntOption.getOrElse(return None)
    var pos = nl + 1
    var headers = Map.empty[String, String]
    var done = false
    while (!done) {
      val e = payload.indexOf('\n', pos)
      if (e < 0) return None // header block never terminated
      val cut = if (e > pos && payload(e - 1) == '\r') e - 1 else e
      val h = payload.substring(pos, cut)
      pos = e + 1
      if (h.isEmpty) done = true
      else h.indexOf(':') match {
        case -1 => () // tolerated, as in the WARC header block
        case i => headers += (h.take(i).trim
          .toLowerCase(java.util.Locale.ROOT) -> h.drop(i + 1).trim)
      }
    }
    Some((code, headers, payload.substring(pos)))
  }

  /** S8 — WET corpus source: WARC/WET shards → one row per record.
    * Gzip/zstd are transparent by extension; per-FILE parallelism
    * (shard counts are in the tens of thousands at crawl scale, so the
    * cluster stays saturated; the parse is a narrow pass and raw
    * payloads never shuffle). Records STREAM out of each shard through
    * [[parseWarcStream]] — heap is bounded by one record, not the
    * inflated shard (the previous `wholetext` read held the whole
    * decompressed file as one String per task, the same cliff
    * round 10 removed from [[readWarcBytes]]), and framing runs on
    * BYTES so Content-Length arithmetic is exact even for files with
    * invalid UTF-8 (the String round-trip re-encoded U+FFFD
    * replacements and could drift the frame on malformed input).
    * Payloads decode UTF-8-with-replacement per record — identical to
    * the text reader's decode on valid UTF-8 (WET is UTF-8 by spec).
    * `warcinfo` file-header records are kept (callers filter on
    * record_type = 'conversion' for documents).
    */
  def readWet(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    underShardWarning(spark, path)
    val files = listShardFiles(spark, path)
    val bconf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val par = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(par)
      .flatMap { p =>
        parseWarcStream(openShardStream(p, bconf.value.value)).map(r =>
          WetRecord(r.record_type, r.target_uri, r.warc_date,
            r.content_length,
            new String(r.body, java.nio.charset.StandardCharsets.UTF_8)))
      }.toDF()
  }

  // ---- Charset-aware raw-crawl path ----
  //
  // `parseWet`/`httpSplit` above run on Strings, which is correct for
  // WET (the format is UTF-8 text extracts by spec) but lossy for raw
  // response WARCs: 10–20% of real crawl HTML is windows-1252 /
  // Shift-JIS / GB2312 / …, and reading those bytes as UTF-8 replaces
  // every non-ASCII sequence with U+FFFD before any charset logic can
  // run. The byte-level tier below keeps payloads as bytes end to
  // end, resolves the page charset the way browsers and the
  // reference's readers do (requests/lxml sniffing under
  // `/root/reference/extract_tickers.py:24`), and transcodes to UTF-8
  // exactly once. Unknown or malformed charsets QUARANTINE (None) —
  // the same degrade-never-throw contract as the media decoders.
  //
  // Scale shape: identical to readWet — per-FILE parallelism, one
  // narrow parse pass, raw bytes never shuffle; only decoded text and
  // small header fields leave the partition.

  /** One byte-framed WARC record: header fields + the RAW payload
    * bytes (undecoded — response bodies carry their own charset). */
  final case class WarcByteRecord(record_type: String, target_uri: String,
      warc_date: String, content_length: Long, body: Array[Byte])

  /** Byte-level WARC framing parser — the same Content-Length-driven
    * walk as [[parseWet]], but the payload stays `Array[Byte]`.
    * Headers are decoded as ISO-8859-1 (WARC headers are ASCII by
    * spec; 8859-1 is its byte-transparent superset). */
  def parseWarcBytes(bytes: Array[Byte]): Seq[WarcByteRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcByteRecord]
    var pos = 0
    def line(p: Int): (String, Int) = {
      var e = p
      while (e < bytes.length && bytes(e) != '\n') e += 1
      val cut = if (e > p && bytes(e - 1) == '\r') e - 1 else e
      (new String(bytes, p, cut - p,
        java.nio.charset.StandardCharsets.ISO_8859_1),
        math.min(e + 1, bytes.length))
    }
    var ok = true
    while (ok && pos < bytes.length) {
      var (l, next) = line(pos)
      while (!l.startsWith("WARC/") && next < bytes.length) {
        val t = line(next); l = t._1; next = t._2
      }
      if (!l.startsWith("WARC/")) ok = false
      else {
        var headers = Map.empty[String, String]
        var done = false
        while (!done && next < bytes.length) {
          val (h, n2) = line(next); next = n2
          if (h.isEmpty) done = true
          else h.indexOf(':') match {
            case -1 => ()
            case i => headers += (h.take(i).trim
              .toLowerCase(java.util.Locale.ROOT) -> h.drop(i + 1).trim)
          }
        }
        headers.get("content-length").flatMap(_.toLongOption) match {
          case Some(n) if done && next + n <= bytes.length =>
            out += WarcByteRecord(
              headers.getOrElse("warc-type", ""),
              headers.getOrElse("warc-target-uri", ""),
              headers.getOrElse("warc-date", ""),
              n,
              java.util.Arrays.copyOfRange(bytes, next, next + n.toInt))
            pos = next + n.toInt
          case _ => ok = false
        }
      }
    }
    out.toSeq
  }

  /** Incremental byte-level WARC framing over an InputStream: the same
    * Content-Length-driven walk as [[parseWarcBytes]], but records are
    * produced one at a time as the stream is consumed — heap residency
    * is bounded by ONE record (its Content-Length), never the shard.
    * A malformed header, a Content-Length past EOF, or a record above
    * 2 GiB (the JVM array bound — same implicit limit as the array
    * parser) ends the iteration without throwing, matching the array
    * parser's degrade-never-throw contract. The stream is CLOSED as
    * soon as the iterator reaches its end — a task flatMapping over
    * many shard files must not accumulate one open fd (plus zstd
    * native buffers) per already-drained shard until task end; the
    * task-completion listener in [[openShardStream]] remains the
    * fallback for early termination (e.g. LIMIT), where the iterator
    * never exhausts. */
  def parseWarcStream(in: java.io.InputStream): Iterator[WarcByteRecord] =
    new scala.collection.AbstractIterator[WarcByteRecord] {
      private var nextRec: WarcByteRecord = null
      private var finished = false
      // Idempotent end-of-iteration: mark done and release the stream.
      private def finish(): Unit = {
        finished = true
        try in.close() catch { case _: java.io.IOException => () }
      }
      // null at EOF; CRLF/LF stripped; bytes decoded 8859-1 (byte-
      // transparent ASCII superset, same as the array parser)
      private def readLine(): String = {
        var b = in.read()
        if (b == -1) return null
        val buf = new java.io.ByteArrayOutputStream(128)
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
        val arr = buf.toByteArray
        val cut = if (arr.nonEmpty && arr(arr.length - 1) == '\r')
          arr.length - 1 else arr.length
        new String(arr, 0, cut, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
      private def advance(): Unit = {
        nextRec = null
        var l = readLine()
        while (l != null && !l.startsWith("WARC/")) l = readLine()
        if (l == null) { finish(); return }
        var headers = Map.empty[String, String]
        var done = false
        var h = readLine()
        while (!done && h != null) {
          if (h.isEmpty) done = true
          else {
            h.indexOf(':') match {
              case -1 => ()
              case i => headers += (h.take(i).trim
                .toLowerCase(java.util.Locale.ROOT) -> h.drop(i + 1).trim)
            }
            h = readLine()
          }
        }
        headers.get("content-length").flatMap(_.toLongOption) match {
          case Some(n) if done && n >= 0 && n <= Int.MaxValue =>
            val body = in.readNBytes(n.toInt)
            if (body.length < n) { finish(); return } // truncated tail
            nextRec = WarcByteRecord(
              headers.getOrElse("warc-type", ""),
              headers.getOrElse("warc-target-uri", ""),
              headers.getOrElse("warc-date", ""),
              n, body)
          case _ => finish()
        }
      }
      def hasNext: Boolean = {
        if (!finished && nextRec == null) advance()
        nextRec != null
      }
      def next(): WarcByteRecord = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }

  /** Serializable carrier for a Hadoop `Configuration` (which is not
    * itself `java.io.Serializable`): the driver's session conf —
    * `spark.hadoop.*` overrides, object-store credentials/endpoints —
    * must reach task-side [[openShardStream]] calls, exactly as the
    * former `spark.read.binaryFile` path propagated it. A bare
    * `new Configuration()` on the executor only sees classpath site
    * files, so driver-side listing could succeed while task-side open
    * fails on e.g. an S3A bucket configured via the SparkSession. */
  private[sources] class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Open one shard file as a decompressed, buffered InputStream inside
    * a task: `.gz` through a concatenated-member-aware GZIPInputStream
    * (WARC gzip is one member per record), `.zst` through zstd-jni
    * (concatenated frames decode transparently), anything else raw.
    * `conf` is the DRIVER session's Hadoop conf, shipped via
    * [[SerializableHadoopConf]] so `spark.hadoop.*` settings reach the
    * task-side filesystem open. The stream closes on iterator
    * exhaustion ([[parseWarcStream]]), with task completion as the
    * early-termination fallback (e.g. LIMIT). */
  private def openShardStream(p: String,
      conf: org.apache.hadoop.conf.Configuration): java.io.InputStream = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(conf)
    val raw = fs.open(hp)
    val in: java.io.InputStream =
      if (p.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(raw, 1 << 16)
      else if (p.endsWith(".zst"))
        new java.io.BufferedInputStream(
          new com.github.luben.zstd.ZstdInputStream(raw), 1 << 16)
      else new java.io.BufferedInputStream(raw, 1 << 16)
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null)
      tc.addTaskCompletionListener[Unit](_ =>
        try in.close() catch { case _: java.io.IOException => () })
    in
  }

  /** Shard files under a path/glob, directory-expanded, `_`/`.`-prefixed
    * names dropped, sorted for determinism. Driver-side metadata only. */
  private def listShardFiles(spark: SparkSession, path: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
      .map(_.getPath)
      .filter { q =>
        val n = q.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString).sorted
  }

  /** Byte-preserving raw-WARC source: shard files → one row per record
    * with the payload as bytes. Per-FILE parallelism (same as
    * [[readWet]]), but each task STREAMS records out of its shard —
    * `.gz` shards decompress through a concatenated-member-aware
    * GZIPInputStream (WARC gzip is one member per record) and the
    * incremental parser emits as it reads, so a shard is never
    * resident in heap and the `binaryFile` 2 GB file cap never
    * applies: memory is bounded by one record, file size is unbounded.
    * Streams close on iterator exhaustion (a task draining thousands
    * of shards holds at most one fd at a time), with task completion
    * as the early-termination fallback (e.g. LIMIT). */
  def readWarcBytes(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    underShardWarning(spark, path)
    val files = listShardFiles(spark, path)
    val bconf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val par = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(par)
      .flatMap(p => parseWarcStream(openShardStream(p, bconf.value.value)))
      .toDF()
  }

  /** [[httpSplit]] at the byte level: status line + ASCII headers →
    * lowercased map, body returned as RAW bytes for charset-aware
    * decoding. Non-HTTP payloads → None. */
  def httpSplitBytes(payload: Array[Byte])
      : Option[(Int, Map[String, String], Array[Byte])] = {
    def lineEnd(p: Int): Int = {
      var e = p
      while (e < payload.length && payload(e) != '\n') e += 1
      e
    }
    val nl = lineEnd(0)
    if (nl >= payload.length) return None
    val cut = if (nl > 0 && payload(nl - 1) == '\r') nl - 1 else nl
    val status = new String(payload, 0, cut,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!status.startsWith("HTTP/")) return None
    val parts = status.split(" ")
    if (parts.length < 2) return None
    val code = parts(1).toIntOption.getOrElse(return None)
    var pos = nl + 1
    var headers = Map.empty[String, String]
    var done = false
    while (!done) {
      val e = lineEnd(pos)
      if (e >= payload.length) return None
      val c2 = if (e > pos && payload(e - 1) == '\r') e - 1 else e
      val h = new String(payload, pos, c2 - pos,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      pos = e + 1
      if (h.isEmpty) done = true
      else h.indexOf(':') match {
        case -1 => ()
        case i => headers += (h.take(i).trim
          .toLowerCase(java.util.Locale.ROOT) -> h.drop(i + 1).trim)
      }
    }
    Some((code, headers,
      java.util.Arrays.copyOfRange(payload, pos, payload.length)))
  }

  /** The charset allowlist this pipeline transcodes (the formats that
    * cover real crawls; an alias outside this map quarantines rather
    * than guessing): canonical-alias → JVM charset name. */
  private val CharsetAliases: Map[String, String] = Map(
    "utf-8" -> "UTF-8", "utf8" -> "UTF-8",
    "us-ascii" -> "US-ASCII", "ascii" -> "US-ASCII",
    "iso-8859-1" -> "ISO-8859-1", "latin-1" -> "ISO-8859-1",
    "latin1" -> "ISO-8859-1",
    "windows-1252" -> "windows-1252", "cp1252" -> "windows-1252",
    "shift_jis" -> "Shift_JIS", "shift-jis" -> "Shift_JIS",
    "sjis" -> "Shift_JIS", "x-sjis" -> "Shift_JIS",
    "gb2312" -> "GB2312", "gbk" -> "GBK", "gb18030" -> "GB18030",
    "utf-16le" -> "UTF-16LE", "utf-16be" -> "UTF-16BE")

  private val MetaCharsetRe =
    """(?i)<meta\s+charset\s*=\s*["']?([A-Za-z0-9_\-]+)""".r
  private val MetaHttpEquivRe =
    ("""(?i)<meta\s+http-equiv\s*=\s*["']?content-type["']?\s+""" +
      """content\s*=\s*["'][^"']*charset=([A-Za-z0-9_\-]+)""").r
  private val HeaderCharsetRe = """(?i)charset=["']?([A-Za-z0-9_\-]+)""".r

  /** Resolve a page's charset the way browsers do, in priority order:
    * byte-order mark → HTTP `Content-Type: ...; charset=` → `<meta
    * charset>` / `<meta http-equiv=Content-Type>` in the first 1024
    * body bytes (scanned as 8859-1, byte-transparent) → UTF-8
    * default. Returns (charset, bomBytesToStrip); None = alias
    * outside the allowlist (quarantine). */
  def resolveCharset(headers: Map[String, String], body: Array[Byte])
      : Option[(java.nio.charset.Charset, Int)] = {
    def named(alias: String): Option[java.nio.charset.Charset] =
      CharsetAliases.get(alias.toLowerCase(java.util.Locale.ROOT))
        .map(java.nio.charset.Charset.forName)
    if (body.length >= 3 && (body(0) & 0xff) == 0xEF &&
        (body(1) & 0xff) == 0xBB && (body(2) & 0xff) == 0xBF)
      return Some((java.nio.charset.StandardCharsets.UTF_8, 3))
    if (body.length >= 2 && (body(0) & 0xff) == 0xFF && (body(1) & 0xff) == 0xFE)
      return Some((java.nio.charset.StandardCharsets.UTF_16LE, 2))
    if (body.length >= 2 && (body(0) & 0xff) == 0xFE && (body(1) & 0xff) == 0xFF)
      return Some((java.nio.charset.StandardCharsets.UTF_16BE, 2))
    val fromHeader = headers.get("content-type")
      .flatMap(ct => HeaderCharsetRe.findFirstMatchIn(ct).map(_.group(1)))
    fromHeader match {
      case Some(alias) => named(alias).map((_, 0)) // declared but unknown → quarantine
      case None =>
        val prefix = new String(body, 0, math.min(1024, body.length),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        MetaCharsetRe.findFirstMatchIn(prefix).map(_.group(1))
          .orElse(MetaHttpEquivRe.findFirstMatchIn(prefix).map(_.group(1)))
          match {
          case Some(alias) => named(alias).map((_, 0))
          case None => Some((java.nio.charset.StandardCharsets.UTF_8, 0))
        }
    }
  }

  /** Transcode an HTTP body to a UTF-8 String per [[resolveCharset]].
    * Returns (canonical lowercase charset name, decoded text); None
    * when the charset is outside the allowlist OR the bytes are
    * malformed under the resolved charset (strict decode — mojibake
    * never enters the corpus silently). */
  def decodeHttpBody(headers: Map[String, String], body: Array[Byte])
      : Option[(String, String)] =
    resolveCharset(headers, body).flatMap { case (cs, bom) =>
      try {
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        val text = dec.decode(java.nio.ByteBuffer.wrap(body, bom,
          body.length - bom)).toString
        Some((cs.name().toLowerCase(java.util.Locale.ROOT), text))
      } catch { case _: java.nio.charset.CharacterCodingException => None }
    }

  /** S4 — ordered, headered, single-file CSV sink
    * (`pipeline_job.py:130-142`): coalesce(1) + driver-side rename to
    * the exact target path, plus an optional dated copy. Deliberately
    * driver-side: single-file output is a collection endpoint, not a
    * distributed write (SURVEY.md §7.3 risk 7).
    */
  def writeSingleCsv(df: DataFrame, path: String): Unit =
    writeSinglePart(df, Paths.get(path))(_.option("header", true).csv(_))

  /** Writes `df` as ONE part file at `target`. `save` writes the
    * one-partition frame into a staging dir beside `target`: hidden, so
    * no reader listing the target's dir sees it, and on the same
    * filesystem, so the move is a rename. The staging dir is deleted on
    * every exit: a write that throws leaves the target's dir as it was. */
  def writeSinglePart(df: DataFrame, target: Path)(
      save: (DataFrameWriter[Row], String) => Unit): Unit = {
    val stage = target.resolveSibling(s".${target.getFileName}.tmpdir")
    try {
      save(df.coalesce(1).write.mode("overwrite"), stage.toString)
      val part = Using.resource(Files.list(stage))(_.iterator.asScala
        .find(_.getFileName.toString.startsWith("part-")))
        .getOrElse(throw new IllegalStateException(s"no part file under $stage"))
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally StreamingResidue.deleteRecursively(stage)
  }
}
