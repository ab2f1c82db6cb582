package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QuerySpec, Scratch, Tables}
import graft.functions.{Text => T}

/** Raw-corpus ingestion queries: the formats an LLM-data pipeline
  * starts from, before any parquet exists — WET/WARC shards (q22) and
  * JSONL (q46). Each round-trips the documents table through a gzip'd
  * staging fixture and runs a first pass over what the SOURCE parsed —
  * the oracle recomputes from the original table, so any framing,
  * parse, coercion, or corrupt-row-handling defect in the source
  * breaks the compare.
  */
object IngestQueries {

  /** q46 — JSONL(.gz) ingest + exact dedup. The staged fixture
    * deliberately exercises the source's lenient path:
    *  - every 5th document writes `n_chars` as a JSON STRING (the
    *    coercing schema must land it as a long anyway);
    *  - every 97th line is corrupted into invalid JSON (PERMISSIVE
    *    must turn it into a flagged null-row, not a job failure).
    * The output is the keep-min-id exact dedup of the good rows plus
    * the corrupt-line count as an audit column; the oracle mirrors
    * the construction directly on the documents table.
    *
    * The returned frame is localCheckpoint-materialized (registry-
    * tracked, released by the caller's releaseAll) so the temp staging
    * directory can be deleted before the query returns.
    */
  val q46 = QuerySpec("q46_jsonl_ingest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val plain = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
      val quotedN = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("string").as("n_chars")))
      val lines = docs.select(
        when(col("doc_id") % 97 === 0, concat(lit("{corrupt "), plain))
          .when(col("doc_id") % 5 === 0, quotedN)
          .otherwise(plain).as("value"))
      Scratch.scoped("graft_q46_jsonl") { tmp =>
        lines.write.mode("overwrite").option("compression", "gzip")
          .text(tmp.toString)
        // tracked persist: (a) both consumers below (dedup + corrupt
        // audit) reuse one gunzip+parse pass; (b) Spark refuses a raw
        // JSON query whose pruned columns are ONLY the internal corrupt
        // record column (the nCorrupt agg) — materializing first is the
        // documented treatment.
        val parsed = graft.CacheRegistry.persistTracked(
          graft.sources.Sources.documentsFromJsonl(s, tmp.toString))
        val deduped = parsed.where(!col("is_corrupt"))
          .withColumn("fp", T.fingerprint(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .where(col("rn") === 1)
          .select("doc_id", "source", "n_chars", "fp")
        val nCorrupt = parsed
          .agg(sum(col("is_corrupt").cast("long")).as("n_corrupt"))
        val out = deduped.crossJoin(broadcast(nCorrupt)).orderBy("doc_id")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
WITH good AS (
  SELECT doc_id, source, n_chars, text FROM documents WHERE doc_id % 97 <> 0
), d AS (
  SELECT doc_id, source, n_chars,
    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
    row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM good
)
SELECT doc_id, source, n_chars, fp,
  (SELECT count(*) FROM documents WHERE doc_id % 97 = 0) AS n_corrupt
FROM d WHERE rn = 1 ORDER BY doc_id
"""))

  /** q22 — WET (WARC) corpus ingest: the Common Crawl text-extract
    * format. The staged shard exercises the parser's byte-level
    * framing guarantees:
    *  - a `warcinfo` file-header record precedes the documents (the
    *    query must filter it by record type, as real WET consumers
    *    do);
    *  - every 7th document's payload contains BLANK LINES (framing is
    *    Content-Length-driven — a content-scanning parser would split
    *    the record there);
    *  - every 11th document's payload ends with a multi-byte UTF-8
    *    character (byte-accurate lengths — a char-counting parser
    *    slices one short).
    * Output is one row per conversion record with the doc id parsed
    * back out of the target URI, the declared content length, and the
    * payload md5; the oracle rebuilds payloads from the documents
    * table and recomputes both.
    */
  val q22 = QuerySpec("q22_wet_ingest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val staged = docs
        .withColumn("body", concat(col("text"),
          when(col("doc_id") % 7 === 0, lit("\nline2\n\nline4"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("⋯")).otherwise(lit(""))))
        .select(col("doc_id").as("ord"), concat(
          lit("WARC/1.0\r\nWARC-Type: conversion\r\n" +
            "WARC-Target-URI: http://example.com/doc/"),
          col("doc_id").cast("string"),
          lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
          expr("octet_length(body)").cast("string"),
          lit("\r\n\r\n"), col("body"), lit("\r\n")).as("value"))
      val warcinfo = s.range(1).select(lit(-1L).as("ord"),
        lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 25\r\n" +
          "\r\nsoftware: graft-wet-stage\r\n").as("value"))
      Scratch.scoped("graft_q22_wet") { tmp =>
        // multi-shard staging: records are self-contained, so any
        // row→file assignment yields valid shards — and the source's
        // per-FILE parallelism (the real WET layout: thousands of
        // ~150 MB shards) is actually exercised instead of one task
        // parsing the whole corpus
        warcinfo.unionByName(staged).repartition(8).select("value")
          .write.mode("overwrite").option("compression", "gzip")
          .text(tmp.toString)
        val parsed = graft.sources.Sources.readWet(s, tmp.toString)
        val out = parsed.where(col("record_type") === "conversion")
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("content_length"),
            md5(col("body")).as("fp"))
          .orderBy("doc_id")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
SELECT doc_id,
  CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
  md5(body) AS fp
FROM (SELECT doc_id,
    text || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'line2' || chr(10) || chr(10) || 'line4'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN '⋯' ELSE '' END AS body
  FROM documents)
ORDER BY doc_id
"""))

  /** q24 — URL/crawl-metadata statistics: deterministic per-doc URIs
    * (host keyed by doc id and source, mixed TLDs, query strings on
    * every 4th) pushed through the engine's URL extracts
    * (`Text.urlHost/urlTld/urlPathDepth/urlHasQuery` — literal
    * same-regex-both-engines, no parse_url semantics drift), then a
    * per-host rollup — the shape a per-domain quota or domain
    * blocklist pass starts from. */
  val q24 = QuerySpec("q24_url_stats",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val uri = concat(lit("https://web"), (col("doc_id") % 7).cast("string"),
        lit(".example-"), col("source"), lit("."),
        when(col("doc_id") % 3 === 0, lit("org")).otherwise(lit("com")),
        lit("/"), col("lang"), lit("/doc-"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0, lit("?ref=rss")).otherwise(lit("")))
      docs.select(
          T.urlHost(uri).as("host"),
          T.urlTld(uri).as("tld"),
          T.urlPathDepth(uri).cast("long").as("depth"),
          T.urlHasQuery(uri).as("has_query"))
        .groupBy("host", "tld")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("has_query").cast("long")).as("n_query"),
          max(col("depth")).as("max_depth"))
        .orderBy("host", "tld")
    },
    Some(raw"""
WITH u AS (
  SELECT doc_id,
    'https://web' || CAST(doc_id % 7 AS VARCHAR) || '.example-' || source
      || '.' || CASE WHEN doc_id % 3 = 0 THEN 'org' ELSE 'com' END
      || '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)
      || CASE WHEN doc_id % 4 = 0 THEN '?ref=rss' ELSE '' END AS uri
  FROM documents
), f AS (
  SELECT doc_id,
    regexp_extract(uri, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(
      regexp_extract(uri, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
      '\.([a-z0-9-]+)$$', 1) AS tld,
    CASE WHEN p = '' OR p = '/' THEN 0
         ELSE len(string_split(p, '/')) - 1 END AS depth,
    contains(uri, '?') AS has_query
  FROM (SELECT doc_id, uri,
      regexp_extract(uri, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) AS p
    FROM u)
)
SELECT host, tld, count(*) AS n_docs,
  CAST(sum(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT) AS n_query,
  CAST(max(depth) AS BIGINT) AS max_depth
FROM f GROUP BY host, tld ORDER BY host, tld
"""))

  /** q101 — JSONL ingest from `.jsonl.zst` shards (zstd-jni-backed
    * Hadoop codec, [[graft.sources.ZstdHadoopCodec]]): the compression
    * format modern public corpora (Dolma, RedPajama, FineWeb) actually
    * ship in. Same lenient-path wrinkles as q46 on different residues
    * (every 3rd doc's `n_chars` as a JSON string, every 89th line
    * corrupted), staged as 4 zstd shards so per-file parallelism is
    * exercised, then a per-source rollup of what the SOURCE parsed —
    * any codec, framing, coercion, or corrupt-row defect shifts the
    * counts and breaks the oracle compare (the oracle recomputes from
    * the original parquet table; compression is invisible to it,
    * which is the point: `.zst` in, identical rows out). */
  val q101 = QuerySpec("q101_zstd_ingest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val plain = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
      val quotedN = to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars").cast("string").as("n_chars")))
      val lines = docs.select(
        when(col("doc_id") % 89 === 0, concat(lit("{corrupt "), plain))
          .when(col("doc_id") % 3 === 0, quotedN)
          .otherwise(plain).as("value"))
      Scratch.scoped("graft_q101_zst") { tmp =>
        lines.repartition(4).write.mode("overwrite")
          .option("compression", graft.sources.Zstd.codecName)
          .text(tmp.toString)
        val parsed = graft.CacheRegistry.persistTracked(
          graft.sources.Sources.documentsFromJsonl(s, tmp.toString))
        val perSource = parsed.where(!col("is_corrupt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
        val nCorrupt = parsed
          .agg(sum(col("is_corrupt").cast("long")).as("n_corrupt"))
        val out = perSource.crossJoin(broadcast(nCorrupt)).orderBy("source")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  min(doc_id) AS min_id, max(doc_id) AS max_id,
  (SELECT count(*) FROM documents WHERE doc_id % 89 = 0) AS n_corrupt
FROM documents WHERE doc_id % 89 <> 0
GROUP BY source ORDER BY source
"""))

  /** q110 — JSONL schema-drift detection: a coercing-schema reader
    * (q46/q101) silently DROPS fields it doesn't know, so a pipeline
    * needs the audit that reports which keys actually arrive and how
    * often — the alarm for an upstream crawler quietly adding (or
    * renaming) fields. The staged fixture plants `crawl_meta` on every
    * 11th doc and `pipeline_ver` on every 23rd (some docs carry both);
    * the query parses raw lines with `json_object_keys` — no schema
    * imposed, so unknown keys CAN'T be dropped — and rolls up per-key
    * arrival counts with an expected/unexpected flag. The oracle
    * recomputes every count arithmetically from the staging rule.
    * Scale shape: narrow parse + one low-cardinality (distinct keys)
    * aggregation; raw lines never shuffle. */
  val q110 = QuerySpec("q110_schema_drift",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val base = struct(col("doc_id"), col("lang"), col("n_chars"))
      val m11 = struct(col("doc_id"), col("lang"), col("n_chars"),
        lit("cc-main-2026").as("crawl_meta"))
      val m23 = struct(col("doc_id"), col("lang"), col("n_chars"),
        lit("v7").as("pipeline_ver"))
      val both = struct(col("doc_id"), col("lang"), col("n_chars"),
        lit("cc-main-2026").as("crawl_meta"), lit("v7").as("pipeline_ver"))
      val lines = docs.select(
        when(col("doc_id") % 11 === 0 && col("doc_id") % 23 === 0, to_json(both))
          .when(col("doc_id") % 11 === 0, to_json(m11))
          .when(col("doc_id") % 23 === 0, to_json(m23))
          .otherwise(to_json(base)).as("value"))
      Scratch.scoped("graft_q110_drift") { tmp =>
        lines.repartition(2).write.mode("overwrite")
          .option("compression", "gzip").text(tmp.toString)
        val out = s.read.text(tmp.toString)
          .select(explode(json_object_keys(col("value"))).as("key"))
          .groupBy("key").agg(count(lit(1)).as("n_docs"))
          .withColumn("expected", col("key").isin("doc_id", "lang", "n_chars"))
          .orderBy("key")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
SELECT key, n_docs, expected FROM (
  SELECT 'doc_id' AS key, count(*) AS n_docs, true AS expected FROM documents
  UNION ALL SELECT 'lang', count(*), true FROM documents
  UNION ALL SELECT 'n_chars', count(*), true FROM documents
  UNION ALL SELECT 'crawl_meta', count(*), false FROM documents
    WHERE doc_id % 11 = 0
  UNION ALL SELECT 'pipeline_ver', count(*), false FROM documents
    WHERE doc_id % 23 = 0
) ORDER BY key
"""))

  /** q111 — corpus snapshot diff (dataset versioning audit): what
    * changed between corpus v1 and v2 — the release-note query every
    * dataset version bump needs. v2 is derived deterministically from
    * v1 (every 31st doc deleted, every remaining 13th doc's text
    * revised, every 17th doc re-added under a new id), then the diff
    * is ONE id-keyed full-outer join of the two fingerprint
    * projections: removed (v1 only), added (v2 only), changed (both,
    * fingerprints differ); unchanged rows never leave the join. The
    * oracle reproduces each status arithmetically from the derivation
    * rule. Scale shape: two narrow md5 projections + one
    * co-partitioned full-outer join — text never shuffles, only
    * (id, 128-bit fp). */
  val q111 = QuerySpec("q111_corpus_diff",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("fp1"))
      val v2base = docs.where(col("doc_id") % 31 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      val v2added = docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      val v2 = v2base.unionByName(v2added)
        .select(col("doc_id"), md5(col("text")).as("fp2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("fp2").isNull, "removed")
            .when(col("fp1").isNull, "added")
            .when(col("fp1") =!= col("fp2"), "changed")
            .otherwise("unchanged"))
        .where(col("status") =!= "unchanged")
        .select(col("doc_id"), col("status"))
        .orderBy("doc_id")
    },
    Some(raw"""
SELECT doc_id, status FROM (
  SELECT doc_id, 'removed' AS status FROM documents WHERE doc_id % 31 = 0
  UNION ALL
  SELECT doc_id, 'changed' FROM documents
  WHERE doc_id % 31 <> 0 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000000, 'added' FROM documents WHERE doc_id % 17 = 0
) ORDER BY doc_id
"""))

  /** q117 — registered-domain curation: per-doc URLs with ccSLD
    * public suffixes ("www.site3.co.uk") flow through
    * [[graft.functions.Text.urlRegisteredDomain]] (public-suffix +
    * one-label extraction — "www" must strip, "co.uk" must NOT be
    * mistaken for the domain), a domain blocklist, and the two-phase
    * per-domain quota ([[graft.operators.Sampling.quotaPerKey]]:
    * under-quota domains pass with no sort; only over-quota domains
    * pay a rank — the shape that survives a pathological host at
    * 100 TB), then a per-domain rollup. The oracle replays the same
    * split/label arithmetic and an explicit row_number quota, so a
    * defect in suffix matching, blocklisting, or quota determinism
    * breaks the compare. */
  val q117 = QuerySpec("q117_domain_quota",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 7).cast("string"), lit("."),
        when(col("lang") === "en", lit("co.uk"))
          .when(col("lang") === "zh", lit("com.cn"))
          .otherwise(col("lang")),
        lit("/"), col("source"), lit("/doc-"), col("doc_id").cast("string"))
      val withDom = docs
        .withColumn("rd", T.urlRegisteredDomain(T.urlHost(url)))
        .where(!col("rd").isin("site0.co.uk", "site3.de", "site5.es"))
      graft.operators.Sampling.quotaPerKey(withDom, col("rd"), col("doc_id"), 10)
        .groupBy(col("rd").as("registered_domain"))
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("registered_domain")
    },
    Some(raw"""
WITH u AS (
  SELECT doc_id, n_chars,
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END || '://'
      || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      || 'site' || CAST(doc_id % 7 AS VARCHAR) || '.'
      || CASE WHEN lang = 'en' THEN 'co.uk'
              WHEN lang = 'zh' THEN 'com.cn' ELSE lang END
      || '/' || source || '/doc-' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), h AS (
  SELECT doc_id, n_chars,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
  FROM u
), r AS (
  SELECT doc_id, n_chars, host,
    string_split(host, '.') AS ls, len(string_split(host, '.')) AS n
  FROM h
), d AS (
  SELECT doc_id, n_chars,
    CASE WHEN n >= 3 AND ls[n-1] || '.' || ls[n] IN
           ('ac.uk','co.in','co.jp','co.uk','com.au','com.br','com.cn','org.uk')
         THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
         WHEN n >= 2 THEN ls[n-1] || '.' || ls[n]
         ELSE host END AS rd
  FROM r
), f AS (
  SELECT doc_id, n_chars, rd FROM d
  WHERE rd NOT IN ('site0.co.uk', 'site3.de', 'site5.es')
), q AS (
  SELECT doc_id, n_chars, rd,
    row_number() OVER (PARTITION BY rd ORDER BY doc_id) AS rn
  FROM f
)
SELECT rd AS registered_domain, count(*) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS min_doc,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM q WHERE rn <= 10
GROUP BY rd ORDER BY rd
"""))

  /** q125 — the raw-crawl composition end-to-end: WARC `response`
    * records (ISO 28500 framing over gzip shards) carry full HTTP
    * responses whose bodies are the q116 HTML pages; the pipeline is
    * readWet → status-200 filter via [[graft.sources.Sources.httpSplit]]
    * → [[graft.operators.HtmlExtract.extractMainText]] — i.e. exactly
    * what a CommonCrawl ingestion does before any curation. Every
    * 13th document is staged as a 404 (dropped by the filter), and the
    * survivors' extracted text must round-trip the document text
    * EXACTLY through all three layers of framing (WARC length → HTTP
    * split → block segmentation). Per-FILE parallel narrow parse;
    * payload bytes never shuffle. */
  val q125 = QuerySpec("q125_warc_http_extract",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val staged = graft.operators.HtmlExtract.encodePages(docs)
        .map { p =>
          val notFound = p.doc_id % 13 == 0
          val status =
            if (notFound) "HTTP/1.1 404 Not Found" else "HTTP/1.1 200 OK"
          val body = if (notFound) "<html><body>gone</body></html>" else p.html
          val http = status + "\r\nContent-Type: text/html; charset=utf-8" +
            s"\r\nX-Crawl-Id: ${p.doc_id}\r\n\r\n" + body
          val httpLen = http.getBytes("UTF-8").length
          val rec = "WARC/1.0\r\nWARC-Type: response" +
            s"\r\nWARC-Target-URI: http://site${p.doc_id % 7}.example/doc/${p.doc_id}" +
            s"\r\nContent-Length: $httpLen\r\n\r\n" + http + "\r\n"
          (p.doc_id, rec)
        }.toDF("ord", "value")
      Scratch.scoped("graft_q125_warc") { tmp =>
        staged.repartition(8).select("value")
          .write.mode("overwrite").option("compression", "gzip")
          .text(tmp.toString)
        val parsed = graft.sources.Sources.readWet(s, tmp.toString)
        val pages = parsed.where(col("record_type") === "response")
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("body"))
          .as[(Long, String)]
          .flatMap { case (id, payload) =>
            graft.sources.Sources.httpSplit(payload).collect {
              case (200, headers, html)
                  if headers.get("content-type").exists(_.startsWith("text/html")) =>
                graft.operators.HtmlExtract.Page(id, html)
            }
          }
        val out = graft.operators.HtmlExtract.extractMainText(pages)
          .toDF().orderBy("doc_id")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
WITH k AS (
  SELECT doc_id, text,
    -- empty-text guard, mirroring q116: DuckDB string_split('') = ['']
    -- would count 1 where the engine keeps 0 blocks
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE CAST(ceil(len(string_split(text, ' ')) / 15.0) AS BIGINT)
    END AS n_kept
  FROM documents WHERE doc_id % 13 <> 0)
SELECT doc_id,
  CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END + n_kept
     AS BIGINT) AS n_blocks,
  n_kept,
  CASE WHEN n_kept = 0 THEN '' ELSE text END AS extracted
FROM k ORDER BY doc_id
"""))

  /** q128 — charset-aware raw-crawl ingest: the q125 composition with
    * NON-UTF-8 pages, byte-preserving end to end. Each document's
    * page is staged in a charset chosen by doc_id mod 5, declared the
    * way real crawl pages declare it:
    *  - 0: UTF-8 with a BOM, NO declaration anywhere (BOM wins);
    *  - 1: windows-1252 ('€uro résumé café' — 0x80/0xE9 bytes that
    *       are INVALID UTF-8), declared only in `<meta charset=…>`;
    *  - 2: Shift_JIS (double-byte kana/kanji), declared only in
    *       `<meta http-equiv=Content-Type content="…charset=…">`;
    *  - 3: GB2312 (double-byte hanzi), declared only in the HTTP
    *       `Content-Type` header;
    *  - 4: an allowlist-unknown `charset=x-martian` → QUARANTINED
    *       (dropped, like malformed media — never mojibake).
    * The fixture is staged as RAW BYTES (binary shards via
    * foreachPartition — a .text() stage would corrupt the non-UTF-8
    * sequences before the parser ever saw them), read back with
    * [[graft.sources.Sources.readWarcBytes]] →
    * [[graft.sources.Sources.httpSplitBytes]] →
    * [[graft.sources.Sources.decodeHttpBody]] →
    * [[graft.operators.HtmlExtract.extractMainText]], and the decoded
    * extract must round-trip each phrase EXACTLY — the oracle carries
    * the expected UTF-8 text as literals, so one mis-transcoded byte
    * anywhere in BOM-strip/header-sniff/meta-scan/decode breaks the
    * hash compare. Narrow per-file parse; payload bytes never
    * shuffle. */
  val q128 = QuerySpec("q128_charset_ingest",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val staged: org.apache.spark.sql.Dataset[Array[Byte]] =
        graft.QueryUtil.balanced(docs.select("doc_id")).as[Long].map { id =>
          val v = (id % 5).toInt
          val phrase = v match {
            case 0 => "data ⋯ stream €"
            case 1 => "€uro résumé café"
            case 2 => "日本語 あいうえお"
            case 3 => "中文 数据 管道"
            case _ => "quarantine me"
          }
          val meta = v match {
            case 1 => "<meta charset=\"windows-1252\">"
            case 2 => "<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=Shift_JIS\">"
            case _ => ""
          }
          val html = s"<html><head>$meta</head><body>" +
            s"<p>doc $id $phrase</p></body></html>"
          val cs = v match {
            case 0 => "UTF-8"; case 1 => "windows-1252"
            case 2 => "Shift_JIS"; case 3 => "GB2312"; case _ => "UTF-8"
          }
          val bodyBytes0 = html.getBytes(cs)
          val bodyBytes = if (v == 0)
            Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ bodyBytes0
          else bodyBytes0
          val ct = v match {
            case 3 => "text/html; charset=gb2312"
            case 4 => "text/html; charset=x-martian"
            case _ => "text/html"
          }
          val httpHead = ("HTTP/1.1 200 OK\r\nContent-Type: " + ct +
            "\r\n\r\n").getBytes("US-ASCII")
          val http = httpHead ++ bodyBytes
          val warcHead = ("WARC/1.0\r\nWARC-Type: response" +
            s"\r\nWARC-Target-URI: http://site${id % 7}.example/doc/$id" +
            s"\r\nContent-Length: ${http.length}\r\n\r\n").getBytes("US-ASCII")
          warcHead ++ http ++ "\r\n".getBytes("US-ASCII")
        }
      Scratch.scoped("graft_q128_warc") { tmp =>
        // capture the path as a String: java.nio.file.Path is not
        // Serializable and would poison the foreachPartition closure
        val tmpStr = tmp.toString
        staged.repartition(8).foreachPartition {
          (it: Iterator[Array[Byte]]) =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val f = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(s"$tmpStr/part-$pid.warc"))
            try it.foreach(f.write) finally f.close()
        }
        val parsed = graft.sources.Sources.readWarcBytes(s, tmp.toString)
        val pages = parsed.where(col("record_type") === "response")
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("body"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, payload) =>
            graft.sources.Sources.httpSplitBytes(payload).toSeq.collect {
              case (200, headers, bytes) =>
                graft.sources.Sources.decodeHttpBody(headers, bytes)
                  .map { case (cs, html) => (id, cs, html) }
            }.flatten
          }.toDF("doc_id", "charset", "html")
        val extracted = graft.operators.HtmlExtract.extractMainText(
          pages.select(col("doc_id"), col("html")).as[(Long, String)]
            .map { case (id, h) => graft.operators.HtmlExtract.Page(id, h) })
        val out = pages.select("doc_id", "charset")
          .join(extracted.toDF().select(col("doc_id"), col("extracted")),
            Seq("doc_id"))
          .orderBy("doc_id")
        graft.CacheRegistry.trackCheckpoint(out.localCheckpoint(true))
      }
    },
    Some(raw"""
SELECT doc_id,
  CASE doc_id % 5
    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
    WHEN 2 THEN 'shift_jis' ELSE 'gb2312' END AS charset,
  'doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
  CASE doc_id % 5
    WHEN 0 THEN 'data ⋯ stream €'
    WHEN 1 THEN '€uro résumé café'
    WHEN 2 THEN '日本語 あいうえお'
    ELSE '中文 数据 管道' END AS extracted
FROM documents WHERE doc_id % 5 <> 4
ORDER BY doc_id
"""))

  /** q138 — deterministic shard assignment + delivery manifest: the
    * operational close of the training-shard sink. Every document is
    * assigned a shard by the engine-standard md5 bucket (content-
    * independent of partition count, replayable by any consumer),
    * written as `.zst` JSONL, read BACK, and the manifest — per shard:
    * doc count, token count, id range, and an ids fingerprint — is
    * computed from the round-tripped bytes, so a lossy write, a
    * dropped row, or a drifted shard rule all break the compare.
    *
    * The fingerprint is an ORDER-INSENSITIVE combinable hash
    * (`bit_xor` of each id's 60-bit md5 prefix), not
    * md5-of-concatenated-ids: xor aggregates map-side, needs no
    * per-shard sorted materialization, and two manifests diff by
    * xor-ing — the shape that still works when one shard holds 10⁹
    * ids. The oracle replays bucket arithmetic, token counts, and the
    * same xor fold. */
  val q138 = QuerySpec("q138_shard_manifest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val nShards = 4
      val withShard = docs.select(col("doc_id"), col("text"),
        (graft.operators.Sampling.hashBucket(col("doc_id"), "shard")
          % nShards).cast("int").as("shard"))
      Scratch.scoped("graft_q138_shards") { outDir =>
        graft.sources.Sources.writeJsonl(withShard, outDir.toString,
          shards = nShards, compression = "zstd")
        val back = graft.sources.Sources.readJsonl(s, outDir.toString,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("shard",
              org.apache.spark.sql.types.IntegerType))))
        val manifest = back.groupBy("shard").agg(
            count(lit(1)).as("n_docs"),
            sum(T.tokenCount(col("text")).cast("long")).as("n_tokens"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"),
            expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string))," +
              " 1, 15), 16, 10) as bigint))").as("ids_fp"))
          .orderBy("shard")
        graft.CacheRegistry.trackCheckpoint(
          manifest.localCheckpoint(true))
      }
    },
    Some(raw"""
WITH t AS (
  SELECT doc_id, text,
    CAST((CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'shard')), 1, 8))
      AS BIGINT) % 1000000) % 4 AS INT) AS shard
  FROM documents
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(len(CASE WHEN length(trim(text)) = 0 THEN []
    ELSE string_split_regex(trim(text), '\s+') END)) AS BIGINT) AS n_tokens,
  min(doc_id) AS first_doc,
  max(doc_id) AS last_doc,
  bit_xor(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
    AS BIGINT)) AS ids_fp
FROM t GROUP BY shard ORDER BY shard
"""))

  /** q139 — crawl-frontier URL canonicalization + dedup: every
    * discovered link canonicalized ([[T.urlCanonicalize]]) so the
    * frontier fetches each page once. The fixture stages TWO variants
    * per document — a clean form and a messy twin (uppercase
    * scheme/host, explicit `:443`, trailing slash, `utm_*` tracking
    * param, fragment) — and the canonical forms must COLLIDE exactly
    * (n_variants = 2 per page): any drift in scheme/host folding,
    * default-port stripping, path normalization, param filtering, or
    * fragment dropping splits a group and breaks the compare. One
    * narrow canonicalization projection + one group-by — frontier
    * dedup at crawl scale is exactly this shape. */
  val q139 = QuerySpec("q139_url_frontier",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val clean = concat(lit("https://site"),
        (col("doc_id") % 7).cast("string"), lit(".example.com/"),
        col("lang"), lit("/doc-"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0, lit("?ref=rss")).otherwise(lit("")))
      val messy = concat(lit("HTTPS://SITE"),
        (col("doc_id") % 7).cast("string"), lit(".Example.COM:443/"),
        col("lang"), lit("/doc-"), col("doc_id").cast("string"), lit("/"),
        lit("?utm_source=feed"),
        when(col("doc_id") % 4 === 0, lit("&ref=rss")).otherwise(lit("")),
        lit("#frag"))
      docs.select(col("doc_id"), clean.as("url"))
        .unionByName(docs.select(col("doc_id"), messy.as("url")))
        .select(col("doc_id"), T.urlCanonicalize(col("url")).as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_variants"), min("doc_id").as("first_doc"))
        .orderBy("canonical")
    },
    Some(raw"""
WITH urls AS (
  SELECT doc_id,
    'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
      || lang || '/doc-' || CAST(doc_id AS VARCHAR)
      || CASE WHEN doc_id % 4 = 0 THEN '?ref=rss' ELSE '' END AS u
  FROM documents
  UNION ALL
  SELECT doc_id,
    'HTTPS://SITE' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM:443/'
      || lang || '/doc-' || CAST(doc_id AS VARCHAR) || '/'
      || '?utm_source=feed'
      || CASE WHEN doc_id % 4 = 0 THEN '&ref=rss' ELSE '' END
      || '#frag' AS u
  FROM documents
), p AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
    regexp_extract(u, '\?([^#]*)', 1) AS q
  FROM urls
), n AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         ELSE hostport END AS host,
    CASE WHEN (CASE WHEN rawpath = '' THEN '/' ELSE rawpath END) <> '/'
         THEN regexp_replace(
           CASE WHEN rawpath = '' THEN '/' ELSE rawpath END, '/$$', '')
         ELSE '/' END AS path,
    coalesce(array_to_string(list_filter(string_split(q, '&'),
      x -> NOT starts_with(x, 'utm_') AND x <> ''), '&'), '') AS kq
  FROM p
)
SELECT scheme || '://' || host || path
    || CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canonical,
  CAST(count(*) AS BIGINT) AS n_variants, min(doc_id) AS first_doc
FROM n GROUP BY 1 ORDER BY canonical
"""))

  /** q150 — robots.txt rule filtering: per-host robots files are
    * PARSED from text (line split → trim → `Disallow: ` prefix
    * extraction — the real format, not a pre-built rules table) and
    * the URL frontier is filtered by prefix match against its host's
    * rules — the compliance gate that runs between frontier dedup
    * (q139) and fetch. The per-host rule set is tiny by nature →
    * broadcast; the frontier pass is one narrow join + startsWith,
    * no shuffle of the URL table beyond the verdict aggregate. The
    * oracle replays the robots synthesis, the line parse, and the
    * prefix-match verdict per URL. */
  val q150 = QuerySpec("q150_robots_filter",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val hosts = s.range(0, 7).select(
        concat(lit("site"), col("id").cast("string"), lit(".example.com"))
          .as("host"),
        concat(lit("User-agent: *\n"),
          when(col("id") % 2 === 0, lit("Disallow: /de\n")).otherwise(lit("")),
          when(col("id") % 3 === 0, lit("Disallow: /fr\n")).otherwise(lit("")),
          lit("Crawl-delay: 1\n")).as("robots"))
      val rules = hosts.select(col("host"),
          explode(filter(transform(split(col("robots"), "\n"), l => trim(l)),
            l => l.startsWith("Disallow: "))).as("line"))
        .select(col("host"), expr("substring(line, 11)").as("prefix"))
      val urls = docs.select(col("doc_id"),
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com")).as("host"),
        concat(lit("/"), col("lang"), lit("/doc-"),
          col("doc_id").cast("string")).as("path"))
      urls.join(broadcast(rules), Seq("host"), "left")
        .withColumn("hit",
          col("prefix").isNotNull && col("path").startsWith(col("prefix")))
        .groupBy("doc_id", "host", "path")
        .agg(max(col("hit")).as("blocked"))
        .orderBy("doc_id")
    },
    Some(raw"""
WITH hosts AS (
  SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS host,
    'User-agent: *' || chr(10)
      || CASE WHEN i % 2 = 0 THEN 'Disallow: /de' || chr(10) ELSE '' END
      || CASE WHEN i % 3 = 0 THEN 'Disallow: /fr' || chr(10) ELSE '' END
      || 'Crawl-delay: 1' || chr(10) AS robots
  FROM (SELECT unnest(range(0, 7)) AS i)
), rules AS (
  SELECT host, substring(line, 11) AS prefix
  FROM (SELECT host, unnest(list_filter(
      [trim(x) FOR x IN string_split(robots, chr(10))],
      x -> starts_with(x, 'Disallow: '))) AS line
    FROM hosts)
), urls AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
    '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path
  FROM documents
)
SELECT u.doc_id, u.host, u.path,
  coalesce(max(r.prefix IS NOT NULL AND starts_with(u.path, r.prefix)),
    FALSE) AS blocked
FROM urls u LEFT JOIN rules r ON u.host = r.host
GROUP BY u.doc_id, u.host, u.path
ORDER BY u.doc_id
"""))

  /** q155 — shard-manifest DIFF: the consumer-side half of q138's
    * design claim. Two corpus snapshots (B modifies the text of every
    * doc_id % 251 = 0 — ids unchanged) produce per-shard manifests
    * with TWO xor fingerprints — ids (membership) and content — and
    * the diff joins them by shard: `ids_same` must hold everywhere
    * (membership didn't change) while `content_changed` flags EXACTLY
    * the shards holding a modified document. This is why the
    * fingerprints are xor-combinable rather than order-sensitive
    * hashes: a consumer detects and LOCALIZES drift by comparing two
    * manifest tables — no row-level scan of either snapshot — and the
    * same comparison works incrementally (xor of the two fingerprints
    * is the fingerprint of the symmetric difference). The oracle
    * replays both manifests and the diff. */
  val q155 = QuerySpec("q155_manifest_diff",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val nShards = 4
      def manifest(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("text"),
          (graft.operators.Sampling.hashBucket(col("doc_id"), "shard")
            % nShards).cast("int").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string))," +
            " 1, 15), 16, 10) as bigint))").as("ids_fp"),
          expr("bit_xor(cast(conv(substring(md5(text)," +
            " 1, 15), 16, 10) as bigint))").as("content_fp"))
      val a = manifest(docs)
      val b = manifest(docs.withColumn("text",
        when(col("doc_id") % 251 === 0, concat(col("text"), lit(" changed")))
          .otherwise(col("text"))))
      a.alias("a").join(b.alias("b"), Seq("shard"))
        .select(col("shard"),
          col("a.n_docs").as("n_docs"),
          (col("a.ids_fp") === col("b.ids_fp")).as("ids_same"),
          (col("a.content_fp") =!= col("b.content_fp")).as("content_changed"))
        .orderBy("shard")
    },
    Some(raw"""
WITH t AS (
  SELECT doc_id, text,
    CAST((CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'shard')), 1, 8))
      AS BIGINT) % 1000000) % 4 AS INT) AS shard,
    CASE WHEN doc_id % 251 = 0 THEN text || ' changed' ELSE text END AS text_b
  FROM documents
), m AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
    bit_xor(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      AS BIGINT)) AS ids_fp_a,
    bit_xor(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
      AS content_fp_a,
    bit_xor(CAST(concat('0x', substr(md5(text_b), 1, 15)) AS BIGINT))
      AS content_fp_b
  FROM t GROUP BY shard
)
SELECT shard, n_docs,
  TRUE AS ids_same,
  content_fp_a <> content_fp_b AS content_changed
FROM m ORDER BY shard
"""))

  /** q286 — XML round trip through Spark 4's BUILT-IN xml source:
    * document metadata is rendered per row with `to_xml`
    * (rowTag=doc), staged as parallel text shards, read back with
    * `spark.read.format("xml")` under an EXPLICIT schema (inference
    * is a second corpus pass — never at scale), and profiled per
    * (lang, source). The oracle profiles the base parquet directly,
    * so a driver match certifies the whole render→parse round trip
    * loses nothing (ids summed as an integrity ride-along). Staging
    * is a parallel text write; the result is collected (bounded by
    * |langs|·|sources|) so the staging deletes eagerly. */
  val q286 = QuerySpec("q286_xml_ingest",
    (s, dir) => {
      Scratch.scoped("graft_q286_xml") { tmp =>
        // each partition becomes one well-formed XML file: a <docs>
        // root wrapping the to_xml rows (the xml source requires a
        // rooted document; rowTag elements are located inside it)
        import s.implicits._
        Tables(s, dir, "documents")
          .select(expr(
            """to_xml(named_struct(
                 'id', doc_id, 'lang', lang, 'source', source,
                 'chars', n_chars),
               map('rowTag', 'doc'))""").as("x"))
          .repartition(4).as[String]
          .mapPartitions(rows => Iterator("<docs>") ++ rows ++
            Iterator("</docs>"))
          .write.mode("overwrite").text(tmp.toString)
        val parsed = s.read.format("xml")
          .option("rowTag", "doc")
          .schema("id BIGINT, lang STRING, source STRING, chars BIGINT")
          .load(tmp.toString)
        val out = parsed.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum("chars").as("sum_chars"),
            sum("id").as("sum_ids"))
          .orderBy("lang", "source")
        val sunk = out.collect()
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY lang, source ORDER BY lang, source
"""))

  /** q351 — FILE-PROVENANCE METADATA COLUMNS (`_metadata.file_name`,
    * the hidden per-row lineage surface Spark attaches to every file
    * scan): orders are staged as a multi-file parquet directory at a
    * FIXED path, and the query attributes every row back to the shard
    * file that carried it — rows-per-file, revenue-per-file — without
    * any column being written for it. This is the "which shard did
    * the bad row come from" question every 100 TB ingest
    * investigation starts with, answered from scan metadata instead
    * of a bookkeeping column baked into the data. The oracle reads
    * the SAME staged files with DuckDB's filename column; basenames
    * (opaque task UUIDs, but identical strings for both readers) key
    * the comparison, so the per-file attribution itself is what's
    * certified. The staging persists across the verify→oracle gap by
    * design — mode=overwrite keeps reruns clean. */
  val q351 = QuerySpec("q351_file_provenance",
    (s, dir) => {
      val stage = "/tmp/graft_q351_meta"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      s.read.parquet(stage)
        .select(col("cents"), col("_metadata.file_name").as("file_name"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("file_name")
    },
    Some(raw"""
SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(cents) AS BIGINT) AS sum_cents
FROM read_parquet('/tmp/graft_q351_meta/*.parquet', filename = true)
GROUP BY 1 ORDER BY 1
"""))

  /** q352 — CROSS-FORMAT LOSSLESSNESS AUDIT: one projection of orders
    * (an id, an exact cents value, a string, a date rendered to ISO
    * text) written to all four interchange formats — parquet, ORC,
    * CSV, JSON-lines — read back, and collapsed to one content
    * fingerprint per format: row count, Σcents, and an order-free
    * Σmd5₆₀(key|cents|priority|date) over every row. All four rows
    * must carry the SAME fingerprint, and the oracle computes the
    * fingerprint ONCE from the base table — so what's certified is
    * that every format round-trip preserved every value of every type
    * exactly (the quiet corruption channels: CSV quoting, JSON number
    * formatting, date rendering). This is the ingest-QA gate a
    * multi-format lake runs before trusting a new writer path. */
  val q352 = QuerySpec("q352_format_matrix_audit",
    (s, dir) => {
      Scratch.scoped("graft_q352_fmt") { tmp =>
        val projected = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
            col("o_orderpriority").as("prio"),
            expr("date_format(o_orderdate, 'yyyy-MM-dd')").as("d"))
        // the four format writes are INDEPENDENT jobs over the one
        // cached projection — submit them concurrently and let the
        // scheduler interleave their tasks (serial writes made this
        // audit scale with 4× the slowest text encoder at sf10; the
        // projection itself is computed once, not four times)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        graft.CacheRegistry.persisting(projected) { base =>
          val writes = Seq[() => Unit](
            () => base.write.mode("overwrite").parquet(s"$tmp/p"),
            () => base.write.mode("overwrite").orc(s"$tmp/o"),
            () => base.write.mode("overwrite").option("header", "true")
              .csv(s"$tmp/c"),
            () => base.write.mode("overwrite").json(s"$tmp/j"))
          Await.result(Future.sequence(writes.map(w => Future(w()))),
            scala.concurrent.duration.Duration(20, "min"))
        }
        val schema = "o_orderkey bigint, cents bigint, prio string, d string"
        val reads = Seq(
          "parquet" -> s.read.parquet(s"$tmp/p"),
          "orc" -> s.read.orc(s"$tmp/o"),
          "csv" -> s.read.option("header", "true").schema(schema)
            .csv(s"$tmp/c"),
          "json" -> s.read.schema(schema).json(s"$tmp/j"))
        // per-row term reduced mod 10^9 so the order-free sum stays in
        // int64 at any corpus size (10^10 rows x <10^9 < 2^63)
        val fp = "sum(cast(conv(substring(md5(concat(" +
          "cast(o_orderkey as string), '|', cast(cents as string), '|', " +
          "prio, '|', d)), 1, 15), 16, 10) as bigint) % 1000000000)"
        val out = reads.map { case (fmt, df) =>
          df.agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            expr(fp).as("content_fp"))
            .select(lit(fmt).as("format"), col("n"), col("sum_cents"),
              col("content_fp"))
        }.reduce(_ unionByName _).orderBy("format")
        val sunk = out.collect()
        require(sunk.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .distinct.length == 1,
          "format round-trips disagree — a writer or reader is lossy")
        s.createDataFrame(java.util.Arrays.asList(sunk: _*), out.schema)
      }
    },
    Some(raw"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    o_orderpriority AS prio, strftime(o_orderdate, '%Y-%m-%d') AS d
  FROM orders
), fp AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS sum_cents,
    CAST(sum(CAST(concat('0x', substr(md5(concat(
      CAST(o_orderkey AS VARCHAR), '|', CAST(cents AS VARCHAR), '|',
      prio, '|', d)), 1, 15)) AS BIGINT) % 1000000000) AS BIGINT)
      AS content_fp
  FROM base
)
SELECT f.format, fp.n, fp.sum_cents, fp.content_fp
FROM (SELECT unnest(['csv', 'json', 'orc', 'parquet']) AS format) f
CROSS JOIN fp ORDER BY f.format
"""))

  /** q356 — SCHEMA EVOLUTION under `mergeSchema`: a corpus written in
    * two generations — the second adds a column the first never had —
    * read back as ONE table, old rows null-filling the new field (the
    * additive-evolution contract every long-lived 100 TB dataset
    * depends on: re-writing history for each added field is not an
    * option). Per-generation rollup over the merged read certifies
    * that neither generation's values moved and the null-fill landed
    * exactly on the old rows; the oracle replays the union with
    * DuckDB's union_by_name over the SAME staged files (fixed path,
    * the q351 convention). */
  val q356 = QuerySpec("q356_schema_evolution",
    (s, dir) => {
      val stage = "/tmp/graft_q356_evo"
      graft.streaming.StreamingResidue.deleteRecursively(
        java.nio.file.Paths.get(stage))
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
          col("o_orderpriority").as("prio"))
      base.where(expr("pmod(o_orderkey, 2) = 0"))
        .write.parquet(s"$stage/gen=1")
      base.where(expr("pmod(o_orderkey, 2) = 1"))
        .withColumn("channel",
          expr("case when pmod(o_orderkey, 3) = 0 then 'web' " +
            "else 'store' end"))
        .write.parquet(s"$stage/gen=2")
      s.read.option("mergeSchema", "true").parquet(stage)
        .groupBy("gen", "channel")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("o_orderkey").as("min_key"))
        .orderBy("gen", "channel")
    },
    Some(raw"""
WITH merged AS (
  SELECT * FROM read_parquet('/tmp/graft_q356_evo/gen=*/*.parquet',
    union_by_name = true, hive_partitioning = true)
)
SELECT CAST(gen AS INT) AS gen, channel, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(cents) AS BIGINT) AS sum_cents,
  CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM merged GROUP BY 1, 2 ORDER BY gen, channel
"""))

  val all: Seq[QuerySpec] =
    Seq(q22, q24, q46, q101, q110, q111, q117, q125, q128, q138, q139,
      q150, q155, q286, q351, q352, q356)
}
