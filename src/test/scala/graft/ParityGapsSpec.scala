package graft

import java.nio.file.{Files, Paths}
import java.time.{Clock, Instant, ZoneId}
import graft.sources.{LocalDrive, Sources}

/** Round-2 parity gaps: the ticker-refresh job writer
  * (`update_nasdaq100_tickers.py:49-53`), the .env file loader
  * (`settings.py:5-10,54-64`), and the dated per-run log file
  * (`pipeline_job.py:65-79,98-101`) — each pinned by one test, plus
  * the Job-integrated upload + log flow.
  */
class ParityGapsSpec extends SparkSpec {

  private val clock =
    Clock.fixed(Instant.parse("2026-08-12T23:30:00Z"), ZoneId.of("UTC"))

  test("ticker refresh writes a Symbol-headed sorted unique CSV") {
    Scratch.scoped("graft_refresh") { dirPath =>
      val dir = dirPath.toString
      Files.writeString(Paths.get(s"$dir/fallback.csv"),
        "Ticker\nmsft\nAAPL\nbrk.b\nMSFT\n\n")
      val n = TickerRefresh.refresh(spark, html = None,
        csvFallback = s"$dir/fallback.csv", outputPath = s"$dir/tickers.csv")
      assert(n == 3)
      val content = Files.readString(Paths.get(s"$dir/tickers.csv"))
      // header exactly `Symbol`, rows normalized + deduped + sorted
      assert(content.linesIterator.toSeq == Seq("Symbol", "AAPL", "BRK-B", "MSFT"))
    }
  }

  test(".env loader: comments, quotes, export prefix, env-wins " +
      "override") { Scratch.scoped("graft_env") { dir =>
    val env = dir.resolve(".env")
    Files.writeString(env,
      """# pipeline config
        |PIPELINE_TZ=America/New_York
        |export PEG_MAX = 1.5
        |UNDERVALUED_THRESHOLD="0.8"
        |LOG_DIR='logs'
        |not a valid line
        |EMPTY=
        |""".stripMargin)
    val s = Settings.fromEnvFile(env, env = Map("PEG_MAX" -> "2.0"))
    assert(s.timezone == "America/New_York")
    assert(s.thresholds.pegMax == 2.0) // override=False: real env wins
    assert(s.thresholds.undervalued == 0.8) // quotes stripped
    assert(s.logDir.contains("logs"))
    // missing file → pure defaults, like python-dotenv
    val d = Settings.fromEnvFile(Paths.get("/nonexistent/.env"), env = Map.empty)
    assert(d.timezone == "Asia/Bangkok")
  }}

  test("dated run log: <prefix>_<asOfDate>.log with asctime|LEVEL|msg " +
      "lines") { Scratch.scoped("graft_log") { dirPath =>
    val dir = dirPath.toString
    val log = RunLog.dated(dir, "pipeline", "2026-08-13", clock, echo = false)
    log.info("Starting pipeline")
    log.warning("something odd")
    val p = Paths.get(s"$dir/pipeline_2026-08-13.log")
    assert(Files.exists(p))
    val lines = Files.readString(p).linesIterator.toSeq
    assert(lines == Seq(
      "2026-08-12 23:30:00,000 | INFO | Starting pipeline",
      "2026-08-12 23:30:00,000 | WARNING | something odd"))
  }}

  test("job with logDir + driveRoot writes the log and upserts the " +
      "CSV") { Scratch.scoped("graft_job2") { dir =>
    Files.writeString(Paths.get(s"$dir/tickers.csv"), "Symbol\nAAPL\nMSFT\n")
    val settings = Settings(outputDir = s"$dir/out",
      logDir = Some(s"$dir/logs"))
    def fetch(t: String): Sources.Snapshot =
      Sources.Snapshot(t, s"$t Co", "Tech", Some(100.0), Some(1e9), "USD",
        Some(20.0), Some(18.0), Some(4.0), Some(4.2), Some(0.12), None,
        Some(30.0), None)
    val root = Files.createDirectories(dir.resolve("drive"))

    Job.run(spark, settings, clock, fetch, html = None,
      csvPath = s"$dir/tickers.csv", driveRoot = Some(root))

    // dated log exists and brackets the run
    val logLines = Files.readString(Paths.get(
      s"$dir/logs/pipeline_2026-08-13.log")).linesIterator.toSeq
    assert(logLines.head.endsWith(
      "INFO | Starting pipeline run as_of_date=2026-08-13 " +
        "run_ts_utc=2026-08-12T23:30:00Z"))
    assert(logLines.last.endsWith("INFO | Pipeline run complete"))
    assert(logLines.exists(_.contains("Uploaded nasdaq100_valuations_latest.csv")))

    // upload landed as a converted sheet payload, upserted by name
    val id = LocalDrive.findExistingFileId(root,
      "nasdaq100_valuations_latest.csv")
    assert(id.isDefined)
    val payload = LocalDrive.payloadPath(root, id.get, LocalDrive.SheetMime)
    assert(spark.read.parquet(payload.toString).count() == 2)

    // second run updates in place: same id, no duplicate entry
    Job.run(spark, settings, clock, fetch, html = None,
      csvPath = s"$dir/tickers.csv", driveRoot = Some(root))
    assert(LocalDrive.listEntries(root)
      .count(_.name == "nasdaq100_valuations_latest.csv") == 1)
  }}

  test("drive auth dispatch: oauth cached-token flow (reuse / refresh " +
      "/ mint) and the two missing-file failures — load_drive.py:26-82") {
      Scratch.scoped("graft_auth") { dir =>
    import graft.sources.DriveAuth
    val client = dir.resolve("client.json")
    Files.writeString(client, """{"client_id":"graft-local"}""")
    val token = dir.resolve("cache").resolve("oauth_token.tsv")
    val t0 = 1_760_000_000L

    // 1. no cache → flow runs against the client file, token cached
    //    (parent dirs created like oauth_token_file.parent.mkdir)
    val minted = DriveAuth.getDriveAuth("oauth",
      oauthClientFile = Some(client), oauthTokenFile = Some(token), now = t0)
    assert(Files.exists(token))
    assert(minted.refreshToken.isDefined)
    assert(minted.expiresAt === t0 + DriveAuth.TokenTtlSeconds)

    // 2. cache valid → reused as-is (same access token, no rewrite)
    val reused = DriveAuth.getDriveAuth("oauth",
      oauthClientFile = Some(client), oauthTokenFile = Some(token),
      now = t0 + 100)
    assert(reused.accessToken === minted.accessToken)

    // 3. cache expired + refresh token present → REFRESH path: a new
    //    access token that is NOT what a fresh flow at this instant
    //    would mint (proves the refresh grant was used), cache rewritten
    val later = t0 + DriveAuth.TokenTtlSeconds + 1
    val refreshed = DriveAuth.getDriveAuth("oauth",
      oauthClientFile = Some(client), oauthTokenFile = Some(token),
      now = later)
    assert(refreshed.accessToken !== minted.accessToken)
    assert(refreshed.refreshToken === minted.refreshToken)
    val flowWouldMint = DriveAuth.oauthCredentials(client,
      dir.resolve("other_token.tsv"), later)
    assert(refreshed.accessToken !== flowWouldMint.accessToken)
    // rewritten cache is reused on the next call
    assert(DriveAuth.getDriveAuth("oauth", oauthClientFile = Some(client),
      oauthTokenFile = Some(token), now = later + 10)
      .accessToken === refreshed.accessToken)

    // 4. the reference's two failure messages
    val noClient = intercept[IllegalArgumentException] {
      DriveAuth.getDriveAuth("oauth",
        oauthClientFile = Some(dir.resolve("absent.json")),
        oauthTokenFile = Some(token), now = t0)
    }
    assert(noClient.getMessage.contains("OAuth client file not found"))
    val noKey = intercept[IllegalArgumentException] {
      DriveAuth.getDriveAuth("service_account",
        serviceAccountFile = Some(dir.resolve("absent_key.json")), now = t0)
    }
    assert(noKey.getMessage.contains("Service account file not found"))

    // 5. unrecognized/empty mode falls back to service_account, and a
    //    present key file yields a non-interactive credential
    val key = dir.resolve("svc.json")
    Files.writeString(key, """{"type":"service_account"}""")
    val svc = DriveAuth.getDriveAuth("", serviceAccountFile = Some(key),
      now = t0)
    assert(svc.mode === "service_account" && svc.refreshToken.isEmpty)
  }}
}
