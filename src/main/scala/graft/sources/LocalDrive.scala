package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** S5 — the reference's Google Drive sink
  * (`/root/reference/one_one_one_rule/load_drive.py:83-274`) replicated
  * hermetically against a local directory, so the upsert SEMANTICS are
  * testable without the external API:
  *
  *  - find-or-create **upsert by name**: an upload first looks the file
  *    up by name, optionally scoped to a parent folder
  *    (`load_drive.py:83-104,215-216`); a hit is updated IN PLACE under
  *    the same stable file id (`:237-248`), a miss creates a new id
  *    (`:260-274`).
  *  - **MIME-verify-else-recreate** (`:218-230`): when the upload wants
  *    spreadsheet conversion but the existing file is not sheet-typed,
  *    the id is discarded and a fresh converted file is created — the
  *    original is left behind, exactly like Drive (create does not
  *    delete an old same-named file).
  *  - **conversion branch** (`convert_to_sheets`, `:219,268-269`): the
  *    Drive CSV→Sheets conversion is modeled as CSV→parquet — a real
  *    format conversion performed by the engine, not a flag.
  *  - **create requires a folder in service-account mode** (`:252-258`):
  *    service accounts have no storage quota of their own, so creating
  *    without a parent folder raises; updates are exempt.
  *  - folders (`find_folder_id`/`create_folder`, `:107-155`) are
  *    entries in the same flat id space with a folder MIME and an
  *    optional parent, like Drive's.
  *
  * Storage model: one root directory = one drive. `_catalog.tsv` holds
  * (id, name, mime, parentId) append-ordered; each file id owns one
  * payload (`<id>.csv` / `<id>.parquet` / …). Name lookups resolve the
  * MOST RECENT match so repeated uploads converge on the converted file
  * (Drive's list order is unspecified; recency is the deterministic
  * choice that makes the upsert idempotent).
  */
object LocalDrive {

  val CsvMime = "text/csv"
  val SheetMime = "application/x-graft-sheet" // local analog of Sheets
  val FolderMime = "application/x-graft-folder"

  final case class Entry(id: String, name: String, mime: String,
      parent: Option[String])

  private def catalogPath(root: Path): Path = root.resolve("_catalog.tsv")

  def listEntries(root: Path): Seq[Entry] = {
    val p = catalogPath(root)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val Array(id, name, mime, parent) = line.split("\t", 4)
      Entry(id, name, mime, Option(parent).filter(_.nonEmpty))
    }
  }

  private def appendEntry(root: Path, e: Entry): Unit = {
    Files.createDirectories(root)
    Files.writeString(catalogPath(root),
      s"${e.id}\t${e.name}\t${e.mime}\t${e.parent.getOrElse("")}\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  private def nextId(root: Path): String =
    f"file_${listEntries(root).size + 1}%06d"

  /** `find_existing_file_id` (`load_drive.py:83-104`): newest non-folder
    * match by exact name, scoped to `folderId` when given. */
  def findExistingFileId(root: Path, name: String,
      folderId: Option[String] = None): Option[String] =
    listEntries(root)
      .filter(e => e.name == name && e.mime != FolderMime &&
        folderId.forall(e.parent.contains))
      .lastOption.map(_.id)

  /** `find_folder_id` (`load_drive.py:107-138`). */
  def findFolderId(root: Path, name: String,
      parentId: Option[String] = None): Option[String] =
    listEntries(root)
      .filter(e => e.name == name && e.mime == FolderMime &&
        parentId.forall(e.parent.contains))
      .lastOption.map(_.id)

  /** `create_folder` (`load_drive.py:141-155`). */
  def createFolder(root: Path, name: String,
      parentId: Option[String] = None): String = {
    val id = nextId(root)
    appendEntry(root, Entry(id, name, FolderMime, parentId))
    id
  }

  def mimeOf(root: Path, id: String): Option[String] =
    listEntries(root).find(_.id == id).map(_.mime)

  def payloadPath(root: Path, id: String, mime: String): Path =
    root.resolve(id + (mime match {
      case SheetMime => ".parquet"
      case CsvMime => ".csv"
      case _ => ".bin"
    }))

  /** `upload_csv` (`load_drive.py:157-181`): CSV payload with sheet
    * conversion on by default, like the reference. */
  def uploadCsv(spark: SparkSession, csvPath: Path, root: Path,
      fileName: String, folderId: Option[String] = None,
      fileId: Option[String] = None, convertToSheets: Boolean = true,
      serviceAccountMode: Boolean = false): String =
    uploadFile(spark, csvPath, root, fileName, folderId, fileId,
      mimeType = CsvMime, convertToSheets = convertToSheets,
      serviceAccountMode = serviceAccountMode)

  /** `upload_file` (`load_drive.py:185-274`). Returns the stable id the
    * payload now lives under. */
  def uploadFile(spark: SparkSession, sourcePath: Path, root: Path,
      fileName: String, folderId: Option[String] = None,
      fileId: Option[String] = None,
      mimeType: String = "application/octet-stream",
      convertToSheets: Boolean = false,
      serviceAccountMode: Boolean = false): String = {
    // 1. find existing by name when no explicit id
    var id = fileId.orElse(findExistingFileId(root, fileName, folderId))
    // 2. MIME verify: conversion requested but the hit isn't a sheet →
    //    discard the id (recreate); the old file stays, like Drive
    if (id.isDefined && convertToSheets &&
        !id.flatMap(mimeOf(root, _)).contains(SheetMime))
      id = None
    val targetMime = if (convertToSheets) SheetMime else mimeType
    id match {
      case Some(existing) => // UPDATE in place, same id, folder not needed
        // Media update keeps the entry's stored MIME (Drive semantics:
        // an update without metadata never re-types the file), so the
        // payload path derives from the CATALOG mime — uploading with a
        // different mimeType over an existing entry must not strand the
        // new bytes at a path the catalog doesn't resolve. Conversion
        // uploads can't diverge here: the MIME-verify above already
        // discarded any non-sheet id. targetMime is only the fallback
        // for an explicit fileId absent from the catalog.
        val storedMime = mimeOf(root, existing).getOrElse(targetMime)
        writePayload(spark, sourcePath,
          payloadPath(root, existing, storedMime),
          convert = storedMime == SheetMime)
        existing
      case None => // CREATE under a fresh id
        if (serviceAccountMode && folderId.isEmpty)
          throw new IllegalArgumentException(
            "folderId is required to create a new file with a service " +
              "account (service accounts have no storage quota)")
        val created = nextId(root)
        writePayload(spark, sourcePath,
          payloadPath(root, created, targetMime), convertToSheets)
        appendEntry(root, Entry(created, fileName, targetMime, folderId))
        created
    }
  }

  // -------------------------------------------------------------------
  // Resumable upload (`MediaFileUpload(..., resumable=True)`,
  // `load_drive.py:212,237-248,260-274`): Drive's resumable protocol
  // modeled hermetically — initiate a session, send chunks with
  // explicit offsets, query received-bytes after an interruption and
  // resume from there, then COMMIT atomically (the catalog/payload is
  // only touched when every byte has landed; a repeated commit is
  // idempotent and returns the same file id, like retrying the final
  // resumable request after a lost response).
  //
  // Session state is two files under `<root>/_sessions/`:
  //   <token>.part  — the staged bytes received so far
  //   <token>.meta  — upload params + total size (+ committed id after
  //                   commit, which is what makes the retry idempotent)
  // -------------------------------------------------------------------

  final case class SessionStatus(received: Long, total: Long,
      committedId: Option[String])

  private def sessionDir(root: Path): Path = root.resolve("_sessions")
  private def partPath(root: Path, token: String): Path =
    sessionDir(root).resolve(token + ".part")
  private def metaPath(root: Path, token: String): Path =
    sessionDir(root).resolve(token + ".meta")

  private def readMeta(root: Path, token: String): Map[String, String] = {
    val p = metaPath(root, token)
    if (!Files.exists(p))
      throw new IllegalArgumentException(s"unknown upload session $token")
    Files.readAllLines(p).asScala.filter(_.contains("\t")).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toMap
  }

  private def writeMeta(root: Path, token: String,
      m: Map[String, String]): Unit =
    Files.writeString(metaPath(root, token),
      m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))

  /** Initiate a resumable upload session (the session-URI handshake).
    * All upsert parameters are pinned at initiation, as Drive pins
    * them in the session URI. */
  def beginResumableUpload(root: Path, fileName: String, totalBytes: Long,
      folderId: Option[String] = None, fileId: Option[String] = None,
      mimeType: String = "application/octet-stream",
      convertToSheets: Boolean = false,
      serviceAccountMode: Boolean = false): String = {
    require(totalBytes >= 0, "totalBytes must be >= 0")
    Files.createDirectories(sessionDir(root))
    val token = f"sess_${Files.list(sessionDir(root)).count() + 1}%06d"
    Files.write(partPath(root, token), Array.emptyByteArray)
    writeMeta(root, token, Map(
      "name" -> fileName, "total" -> totalBytes.toString,
      "folder" -> folderId.getOrElse(""), "fileId" -> fileId.getOrElse(""),
      "mime" -> mimeType, "convert" -> convertToSheets.toString,
      "svcAcct" -> serviceAccountMode.toString))
    token
  }

  /** Resume status (the `PUT` with `Content-Range: bytes star/total`
    * probe): how many bytes the session has durably received, and the
    * committed id when the final request already succeeded. */
  def resumeStatus(root: Path, token: String): SessionStatus = {
    val m = readMeta(root, token)
    SessionStatus(Files.size(partPath(root, token)), m("total").toLong,
      m.get("committedId").filter(_.nonEmpty))
  }

  /** Upload one chunk at `offset`. Semantics mirror the protocol:
    * a chunk at exactly the received frontier appends; a chunk fully
    * BEHIND the frontier is a retransmit and is ignored (idempotent
    * retry of a chunk whose ack was lost); a chunk beyond the frontier
    * is a gap — rejected, the caller must query resumeStatus and back
    * up. Returns the new received frontier. */
  def uploadChunk(root: Path, token: String, offset: Long,
      chunk: Array[Byte]): Long = {
    val m = readMeta(root, token)
    if (m.get("committedId").exists(_.nonEmpty))
      throw new IllegalStateException(s"session $token already committed")
    val part = partPath(root, token)
    val received = Files.size(part)
    if (offset > received)
      throw new IllegalArgumentException(
        s"gap: session has $received bytes, chunk starts at $offset — " +
          "query resumeStatus and resume from the frontier")
    val total = m("total").toLong
    if (offset + chunk.length > total)
      throw new IllegalArgumentException(
        s"chunk overruns declared total $total")
    if (offset + chunk.length <= received) received // full retransmit
    else {
      val fresh = chunk.drop((received - offset).toInt)
      Files.write(part, fresh, java.nio.file.StandardOpenOption.APPEND)
      received + fresh.length
    }
  }

  /** Finalize the session: only runs the find-or-create/update upsert
    * when EVERY declared byte has landed; called twice (a retried
    * final request), returns the same id without re-running the
    * upsert. The staged payload is handed to the exact same
    * `uploadFile` path a non-resumable upload takes. */
  def commitResumableUpload(spark: SparkSession, root: Path,
      token: String): String = {
    val m = readMeta(root, token)
    m.get("committedId").filter(_.nonEmpty) match {
      case Some(done) => done // idempotent retry
      case None =>
        val st = resumeStatus(root, token)
        if (st.received != st.total)
          throw new IllegalStateException(
            s"incomplete: ${st.received}/${st.total} bytes received")
        val id = uploadFile(spark, partPath(root, token), root,
          fileName = m("name"),
          folderId = Option(m("folder")).filter(_.nonEmpty),
          fileId = Option(m("fileId")).filter(_.nonEmpty),
          mimeType = m("mime"),
          convertToSheets = m("convert").toBoolean,
          serviceAccountMode = m("svcAcct").toBoolean)
        writeMeta(root, token, m + ("committedId" -> id))
        id
    }
  }

  /** Payload writer: plain byte copy, or the CSV→parquet conversion
    * (the engine-side analog of Drive's CSV→Sheets import). */
  private def writePayload(spark: SparkSession, source: Path, target: Path,
      convert: Boolean): Unit = {
    Files.createDirectories(target.toAbsolutePath.getParent)
    if (!convert) {
      Files.copy(source, target, StandardCopyOption.REPLACE_EXISTING)
    } else {
      val df = spark.read.option("header", true)
        .schema(Sources.csvSchema(spark, source, inferSchema = true)).csv(source.toString)
      Sources.writeSinglePart(df, target)(_.parquet(_))
    }
  }
}
