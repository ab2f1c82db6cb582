package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.{sources => sf}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.sql.catalog.<name> = graft.sources.GraftCatalog` — a
  * filesystem-backed DataSourceV2 [[TableCatalog]] whose tables
  * support the FULL SQL DML surface, including ROW-LEVEL OPERATIONS
  * (`DELETE FROM` / `UPDATE` / `MERGE INTO`) via
  * [[SupportsRowLevelOperations]] in the COPY-ON-WRITE (group-based)
  * style with FILE-KEYED GROUPS: a table is a set of immutable
  * COLUMNAR `data-*.parquet` group files bound together by a
  * versioned MANIFEST, Catalyst's RewriteDelete/RewriteUpdate/
  * RewriteMergeIntoTable plans compute the post-operation content of
  * the groups the operation's scan READ, and the commit replaces
  * exactly those files in the next manifest — untouched groups are
  * never rewritten and never even opened. Two independent pruning
  * layers keep "touched" small:
  *
  *   - STATIC: each manifest line carries TYPED per-file stats for
  *     EVERY column — BIGINT and DOUBLE min/max (NaN-aware) and
  *     STRING min/max (Parquet-style truncated bounds past 32 code
  *     points), each with an exact null count; the command condition
  *     is pushed into the row-level scan (Spark's
  *     GroupBasedRowLevelOperationScanPlanning →
  *     `SupportsPushDownFilters`) and files whose stats prove no row
  *     can match are dropped before any I/O. The pushdown is INEXACT
  *     (all filters are returned as residual), so surviving groups
  *     still stream every row into the rewrite — the COW contract.
  *   - RUNTIME: the scan exposes the `_file` METADATA COLUMN
  *     ([[SupportsMetadataColumns]]) and implements
  *     [[SupportsRuntimeV2Filtering]] on it, so Spark's
  *     RowLevelOperationRuntimeGroupFiltering rule narrows a MERGE
  *     (whose ON condition references the source and cannot be pushed
  *     statically) to the groups that actually contain matches via a
  *     dynamic IN-subquery over `_file`.
  *
  * Scans plan ONE InputPartition PER GROUP FILE, project ONLY the
  * required columns straight into the Parquet column reader (a
  * two-column projection of a wide table decodes two columns, not
  * the row), and a count-style scan that needs no data column at all
  * serves row counts straight from the manifest without opening the
  * file. That is the columnar geometry that holds at 100 TB.
  *
  * CONCURRENCY: commits are optimistic. A writer stages group files
  * under DOT-PREFIXED in-progress names (never vacuum candidates),
  * renames them to their final immutable names at task commit, and
  * publishes version `n+1` by writing a temp manifest and
  * hard-linking it to `v<n+1>.manifest` — creation is
  * atomic-exclusive on POSIX, so of two racing commits exactly one
  * wins. INSERT appends REBASE onto the winner and retry (appends
  * commute); row-level operations and overwrites ABORT loudly (their
  * result was computed against a snapshot the winner invalidated)
  * and delete their staged files — no committed row is ever silently
  * lost to a last-write-wins race. Schema changes publish versioned
  * `schema-<n>.json` files under the same atomic-exclusive link
  * discipline, so two concurrent ALTERs cannot silently lose a
  * column either.
  *
  * TIME TRAVEL (`SELECT … VERSION AS OF n`): version n IS manifest n —
  * data files are immutable, so every historical version stays
  * bit-stable and readable for free until
  * [[GraftCatalog.expireSnapshots]] retires it (retain-last-N; an
  * expired version refuses loudly, live versions are untouched, and
  * data files referenced by no surviving manifest are vacuumed after
  * a GRACE WINDOW that protects a concurrent writer's
  * committed-but-unpublished files — the Delta/Iceberg retention
  * discipline). Versioned loads are read-only: DML refuses.
  *
  * MAINTENANCE: [[GraftCatalog.optimizeTable]] bin-packs fragmented
  * small groups into fewer files (contents bit-stable, published as
  * an ordinary change-flagged snapshot that time travel, retention,
  * and the change stream's `skipChangeCommits` contract all see).
  *
  * Layout: `<root>/<ns…>/<table>/schema.json` (+ `schema-<n>.json`
  * evolution versions), `v<NNNNN>.manifest` (one per commit;
  * `file \t rows \t stats` lines), `data-*.parquet` (Snappy
  * Parquet, one optional column per table column). Long/Double/
  * String columns (the DML battery's domain); anything else is
  * refused at CREATE. Same shared-filesystem contract as
  * [[KeyedShardSource]].
  */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var root: Path = _

  /** SQL stored procedures (`CALL <cat>.system.<proc>(...)`) — the
    * maintenance tier as first-class SQL; see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace().toSeq == GraftProcedures.Namespace.toSeq,
      s"graft catalog: procedures live in the 'system' namespace, " +
        s"got ${ident.toString}")
    GraftProcedures.procedure(root, ident.name()).getOrElse(
      throw new RuntimeException(
        s"graft catalog: no such procedure ${ident.toString} — " +
          s"available: ${GraftProcedures.names.mkString(", ")}"))
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == GraftProcedures.Namespace.toSeq)
      GraftProcedures.names.map(n =>
        Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': spark.sql.catalog.$name.root is required")))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): Path =
    ident.namespace().foldLeft(root)(_.resolve(_)).resolve(ident.name())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(ns))
      throw new NoSuchNamespaceException(namespace)
    Option(ns.toFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        Files.exists(d.toPath.resolve("schema.json")))
      .map(d => Identifier.of(namespace, d.getName))
  }

  private def readSchema(dir: Path, ident: Identifier): StructType =
    GraftRl.currentSchema(dir).getOrElse(throw new NoSuchTableException(ident))

  private def readPartCol(dir: Path): Option[String] =
    GraftRl.readPartCol(dir)

  override def loadTable(ident: Identifier): Table = {
    // `t$changes` — the derived CHANGE DATA FEED table (the Iceberg
    // changes-table naming): same namespace, widened schema, served
    // by [[GraftRlChangesTable]] batch and streaming
    if (ident.name().endsWith("$changes")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$changes"))
      val baseDir = tableDir(base)
      return new GraftRlChangesTable(ident.toString, baseDir,
        readSchema(baseDir, base))
    }
    // `t$branch$<name>` — a WRITABLE branch head (write-audit-publish,
    // [[GraftCatalog.createBranch]]): the same table machinery rooted
    // at the branch subdirectory, full read + DML
    val bSep = ident.name().indexOf("$branch$")
    if (bSep > 0) {
      val base = Identifier.of(ident.namespace(),
        ident.name().substring(0, bSep))
      val bName = ident.name().substring(bSep + "$branch$".length)
      val baseDir = tableDir(base)
      val schema = readSchema(baseDir, base)
      val bdir = GraftCatalog.branchDir(baseDir, bName)
      if (!java.nio.file.Files.exists(bdir))
        throw new NoSuchTableException(
          ident.namespace().toSeq :+ ident.name())
      val bCur = GraftRl.currentVersion(bdir)
      val bFiles = GraftRl.readManifest(bdir, bCur).getOrElse(
        throw new IllegalStateException(
          s"graft catalog: branch '$bName' manifest v$bCur unreadable"))
      return new GraftRlTable(ident.toString, bdir, schema, bCur,
        bFiles, writable = true, partCol = readPartCol(baseDir),
        morDelete = GraftRl.readMorDelete(baseDir),
        morUpdate = GraftRl.readMorUpdate(baseDir),
        morMerge = GraftRl.readMorMerge(baseDir))
    }
    val dir = tableDir(ident)
    val schema = readSchema(dir, ident)
    val cur = GraftRl.currentVersion(dir)
    val files = GraftRl.readManifest(dir, cur).getOrElse(
      throw new IllegalStateException(
        s"graft catalog: ${ident.toString} current manifest v$cur unreadable"))
    new GraftRlTable(ident.toString, dir, schema, cur, files,
      writable = true, partCol = readPartCol(dir),
      morDelete = GraftRl.readMorDelete(dir),
      morUpdate = GraftRl.readMorUpdate(dir),
      morMerge = GraftRl.readMorMerge(dir))
  }

  /** Version n is manifest n — immutable data files make every
    * retained snapshot bit-stable history. Distinguishes loudly
    * between a version that never existed (> current) and one retired
    * by [[GraftCatalog.expireSnapshots]]. A non-numeric version is a
    * SNAPSHOT TAG ([[GraftCatalog.tagSnapshot]]): `VERSION AS OF
    * 'audited-2026q3'` resolves the tag file to its pinned version —
    * the named-ref half (Iceberg tags) that lets a 100 TB pipeline
    * pin "the snapshot the quarterly report ran on" instead of
    * circulating raw version numbers. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    val schema = readSchema(dir, ident)
    val v = try version.trim.toLong
      catch { case _: NumberFormatException =>
        GraftRl.readTag(dir, version.trim).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: ${ident.toString} has no snapshot tag " +
              s"'${version.trim}' (and it is not a version number)"))
      }
    val cur = GraftRl.currentVersion(dir)
    if (v < 0 || v > cur)
      throw new IllegalArgumentException(
        s"graft catalog: ${ident.toString} has no version $v " +
          s"(current is $cur)")
    val files = GraftRl.readManifest(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: ${ident.toString} version $v has been expired " +
          "by snapshot retention and is no longer addressable"))
    new GraftRlTable(s"${ident.toString}@v$v", dir, schema, v, files,
      writable = false, partCol = readPartCol(dir))
  }

  /** `TIMESTAMP AS OF <ts>`: resolve to the NEWEST manifest whose
    * publish time (file mtime — set by the atomic link at commit) is
    * ≤ the requested instant, i.e. the snapshot a reader at that
    * wall-clock moment would have seen. Spark hands micros since
    * epoch. Refuses loudly before the first retained commit —
    * retention means history older than the horizon is not
    * addressable, by timestamp or otherwise. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    readSchema(dir, ident) // existence check
    val tsMillis = Math.floorDiv(timestampMicros, 1000L)
    // resolves from the #ts commit header each publish records — an
    // explicit commit time, immune to the mtime hazards (hard-link
    // inheritance, coarse granularity, copies/backups) a
    // filesystem-timestamp resolution would carry
    val at = GraftRl.manifestVersions(dir)
      .filter(v => GraftRl.commitTimeMillis(dir, v) <= tsMillis)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"graft catalog: ${ident.toString} has no snapshot at or " +
          s"before timestamp $timestampMicros µs — the earliest " +
          "retained commit is newer (or retention expired older ones)")
    loadTable(ident, at.max.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (col): at most one IDENTITY transform on a
    // BIGINT column — each partition value becomes its own group
    // file(s), making partition-keyed DML metadata-only and scans
    // key-grouped by construction
    val partCol = partitions.toSeq match {
      case Seq() => None
      case Seq(t) =>
        val refs = t.references()
        require(t.name() == "identity" && refs.length == 1 &&
          refs(0).fieldNames().length == 1,
          s"graft catalog: only identity(<column>) partitioning is " +
            s"supported, got $t")
        val c = refs(0).fieldNames()(0)
        require(schema.fields.exists(f => f.name == c &&
          f.dataType == LongType),
          s"graft catalog: partition column '$c' must be a BIGINT " +
            "table column")
        Some(c)
      case many => throw new IllegalArgumentException(
        s"graft catalog: at most one partition transform, got $many")
    }
    schema.fields.foreach(f => require(
      f.dataType == LongType || f.dataType == StringType ||
        f.dataType == DoubleType,
      s"graft catalog: unsupported column type ${f.dataType.simpleString}"))
    require(!schema.fieldNames.contains("_file") &&
      !schema.fieldNames.contains("_pos"),
      "graft catalog: column names _file/_pos are reserved for row " +
        "provenance")
    // `TBLPROPERTIES ('delete.mode' = 'merge-on-read')` switches
    // DELETE from copy-on-write group rewrites to deletion-vector
    // sidecars (see GraftRlDeltaOp); `update.mode` likewise switches
    // UPDATE to vector-plus-append (delete the old ordinals, append
    // the rewritten rows). Defaults stay copy-on-write.
    def mode(key: String): Boolean =
      Option(properties.get(key)) match {
        case None | Some("copy-on-write") => false
        case Some("merge-on-read") => true
        case Some(other) => throw new IllegalArgumentException(
          s"graft catalog: $key must be copy-on-write or " +
            s"merge-on-read, got '$other'")
      }
    val morDelete = mode("delete.mode")
    val morUpdate = mode("update.mode")
    val morMerge = mode("merge.mode")
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve("schema.json")))
      throw new TableAlreadyExistsException(
        ident.namespace().toSeq :+ ident.name())
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("schema.json"), schema.json)
    partCol.foreach(c => Files.writeString(dir.resolve("partcol"), c))
    if (morDelete || morUpdate || morMerge)
      Files.writeString(dir.resolve("props"),
        (if (morDelete) "delete.mode=merge-on-read\n" else "") +
          (if (morUpdate) "update.mode=merge-on-read\n" else "") +
          (if (morMerge) "merge.mode=merge-on-read\n" else ""))
    require(GraftRl.publish(dir, 0L, ""),
      s"graft catalog: concurrent CREATE of ${ident.toString}")
    new GraftRlTable(ident.toString, dir, schema, 0L, Seq.empty,
      writable = true, partCol = partCol, morDelete = morDelete,
      morUpdate = morUpdate, morMerge = morMerge)
  }

  /** SCHEMA EVOLUTION — `ALTER TABLE … ADD COLUMNS`, the
    * schema-on-read half every production table format ships: the new
    * column appends to the schema, existing group files are NEVER
    * rewritten (their rows read the column as NULL, and the stats
    * accessors know the null count exactly — metadata-only COUNT over
    * an added column stays answerable), and only appending nullable
    * BIGINT/DOUBLE/STRING columns at the end is allowed — anything
    * needing a data rewrite or a position shuffle refuses loudly.
    * Time travel reads historic versions through the CURRENT schema
    * (added columns null), the Delta-style convention.
    *
    * Schema commits are OPTIMISTIC like data commits: the new schema
    * publishes as `schema-<n+1>.json` by atomic-exclusive hard link,
    * so of two racing ALTERs exactly one wins and the loser aborts
    * loudly instead of silently dropping the winner's column (the
    * read-modify-write race a bare overwrite of schema.json had).
    * A reader that loaded an older schema stays correct by
    * construction — scans request columns BY NAME limited to each
    * file's recorded width, so a newly committed wider file simply
    * serves the columns the reader knows. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val baseVersion = GraftRl.currentSchemaVersion(dir)
    val schema = readSchema(dir, ident)
    val newSchema = changes.foldLeft(schema) { (sch, ch) =>
      ch match {
        case a: TableChange.AddColumn =>
          require(a.fieldNames().length == 1,
            "graft catalog: nested columns not supported")
          val n = a.fieldNames()(0)
          require(!sch.fieldNames.contains(n) && n != "_file" &&
            n != "_pos",
            s"graft catalog: column '$n' already exists or is reserved")
          require(a.isNullable,
            "graft catalog: added columns must be nullable — existing " +
              "rows read them as NULL")
          require(a.position() == null,
            "graft catalog: added columns append at the end (a " +
              "position shuffle would rewrite every file)")
          require(a.defaultValue() == null,
            "graft catalog: DEFAULT values not supported")
          require(a.dataType() == LongType ||
            a.dataType() == DoubleType || a.dataType() == StringType,
            s"graft catalog: unsupported column type " +
              s"${a.dataType().simpleString}")
          sch.add(StructField(n, a.dataType(), nullable = true))
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other " +
            "(only ADD COLUMNS)")
      }
    }
    GraftRlConcurrencyHook.beforeSchemaPublish()
    if (!GraftRl.publishSchema(dir, baseVersion + 1, newSchema.json))
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: concurrent ALTER TABLE on ${ident.toString} — " +
          s"this change read schema v$baseVersion but v${baseVersion + 1} " +
          "was published by another writer; re-run against the current " +
          "schema")
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve("schema.json"))) false
    else {
      graft.streaming.StreamingResidue.deleteRecursively(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: RENAME not supported")
}

object GraftCatalog {
  /** The session settings that register a catalog `name` rooted at
    * `root`, for [[graft.Conf.scoped]]. */
  def conf(name: String, root: Path): Seq[(String, String)] = Seq(
    s"spark.sql.catalog.$name" -> classOf[GraftCatalog].getName,
    s"spark.sql.catalog.$name.root" -> root.toString)

  /** Result of [[expireSnapshots]]: which manifest versions were
    * retired, which now-unreferenced data files were vacuumed, and
    * which versions remain addressable. */
  final case class ExpireResult(expiredVersions: Seq[Long],
      deletedDataFiles: Seq[String], retainedVersions: Seq[Long])

  /** EXACTLY-ONCE EPOCH for `foreachBatch` upserts — the glue that
    * lands a CDC stream keep-latest in a catalog table (Delta's
    * `txnAppId`/`txnVersion` discipline, reachable from SQL MERGE
    * where writer options are not): if the table's txn high-water
    * mark for `queryId` already covers `epochId` (a stale-checkpoint
    * replay after a crash between table commit and checkpoint
    * advance), `body` is SKIPPED and this returns false; otherwise
    * `body` runs with every commit it makes on this thread stamping
    * `#txn=queryId:epochId` INTO its manifest header — marker and
    * rows become visible in one atomic publish, so there is no state
    * in which the epoch's effect is applied but unrecorded.
    *
    *   stream.writeStream.foreachBatch { (batch, epoch) =>
    *     batch.createOrReplaceTempView("cdc")
    *     GraftCatalog.exactlyOnceEpoch(dir, qId, epoch) {
    *       spark.sql("MERGE INTO cat.db.t USING cdc ...")
    *     }
    *   }
    *
    * An epoch whose body commits nothing records no marker and will
    * re-run on replay — harmless for MERGE (replaying an empty batch
    * merges nothing). A LIVE zombie twin racing the same epoch
    * concurrently is out of scope here: the marker closes the replay
    * window; concurrent-twin safety additionally needs the body to be
    * idempotent (keep-latest MERGE is). */
  def exactlyOnceEpoch(tableDir: Path, queryId: String,
      epochId: Long)(body: => Unit): Boolean = {
    require(queryId.nonEmpty,
      "graft catalog: exactlyOnceEpoch needs a stable query id")
    if (GraftRl.lastTxnEpoch(tableDir, queryId).exists(_ >= epochId))
      return false
    GraftRlTxnContext.set(s"$queryId:$epochId")
    try { body; true } finally GraftRlTxnContext.clear()
  }

  /** SNAPSHOT RETENTION — the maintenance half every table format
    * pairs with time travel: retire all but the newest `retainLast`
    * manifest versions, then vacuum data files referenced by no
    * surviving manifest. Live versions are untouched (immutable files,
    * bit-stable before/after); an expired `VERSION AS OF` refuses
    * loudly at load.
    *
    * SAFE AGAINST IN-FLIGHT WRITERS, in two layers (the Delta/Iceberg
    * vacuum discipline): tasks write under dot-prefixed in-progress
    * names that are never vacuum candidates, and files younger than
    * `graceMs` (default 10 minutes) are skipped even under their
    * final `data-*` names — the window between a task's rename and
    * the driver's manifest publish. A vacuum can therefore never
    * delete a concurrent commit's staged files out from under it;
    * pass `graceMs = 0` only when no writer can be in flight. */
  def expireSnapshots(tableDir: Path, retainLast: Int,
      graceMs: Long = 10L * 60L * 1000L): ExpireResult = {
    require(retainLast >= 1,
      s"graft catalog: retainLast must be >= 1, got $retainLast")
    val versions = GraftRl.manifestVersions(tableDir)
    require(versions.nonEmpty,
      s"graft catalog: $tableDir has no manifests (not a table?)")
    val cur = versions.max
    // TAGGED snapshots are PINNED against retention (the Iceberg tag
    // contract): a tag exists precisely so "the snapshot the audit ran
    // on" survives the retain-last-N window
    val tagged = GraftRl.tagVersions(tableDir)
    val (keep, expire) = versions.sorted.partition(v =>
      v > cur - retainLast || tagged.contains(v))
    // EXACTLY-ONCE SURVIVES RETENTION: fold the streaming txn markers
    // of the manifests about to be retired into the sidecar BEFORE
    // deleting them — otherwise expiring a stopped stream's last
    // epoch commit erases its high-water mark and a checkpoint replay
    // after restart double-appends that epoch. Written first so a
    // crash mid-expire loses the expire, never a marker.
    val expiringMarks = expire
      .flatMap(v => GraftRl.readManifestMeta(tableDir, v).get("txn"))
      .flatMap { t =>
        val i = t.lastIndexOf(':')
        if (i > 0) Some(t.substring(0, i) -> t.substring(i + 1).toLong)
        else None
      }
      .groupMapReduce(_._1)(_._2)(math.max)
    GraftRl.mergeTxnSidecar(tableDir, expiringMarks)
    expire.foreach(v => Files.delete(GraftRl.manifestPath(tableDir, v)))
    val live: Set[String] = keep.flatMap(v =>
      GraftRl.readManifest(tableDir, v).getOrElse(Seq.empty))
      .flatMap(g => g.name +: g.dv.map(_._1).toSeq).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = Option(tableDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => {
        val n = f.getName
        (n.startsWith("data-") && n.endsWith(".parquet") ||
          n.startsWith("dv-") && n.endsWith(".bin")) &&
          !live.contains(n) && f.lastModified() <= cutoff
      })
      .map(_.getName).sorted.toSeq
    dead.foreach(n => Files.delete(tableDir.resolve(n)))
    ExpireResult(expire, dead, keep)
  }

  /** BRANCH / WRITE-AUDIT-PUBLISH — the Iceberg branch model in its
    * fast-forward form: a branch is a WRITABLE fork of the table
    * (tags stay immutable labels) whose commit chain lives in its own
    * `_branch_<name>/` subdirectory — its seed manifest references
    * the fork version's files through `../` names, branch commits
    * stage new data/DV files branch-locally, and the MAIN manifest
    * log is untouched until publish, so main readers NEVER see an
    * intermediate state. A maintenance job or backfill writes to the
    * branch, audit queries read the branch, and [[publishBranch]]
    * advances main to the branch's state in ONE atomic manifest
    * publish — refusing (not rebasing) if main moved since the fork,
    * because the audit certified exactly the branch's base. Branch
    * tables are addressed as `db.`t$branch$<name>`` (read AND write,
    * full DML). Returns the fork version. */
  def createBranch(tableDir: Path, name: String): Long = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"graft catalog: branch name '$name' must be " +
        "[A-Za-z0-9][A-Za-z0-9._-]* (it becomes a directory name)")
    val fork = GraftRl.currentVersion(tableDir)
    val files = GraftRl.readManifest(tableDir, fork).getOrElse(
      throw new IllegalStateException(
        s"graft catalog: manifest v$fork unreadable in $tableDir"))
    val bdir = branchDir(tableDir, name)
    if (Files.exists(bdir))
      throw new IllegalArgumentException(
        s"graft catalog: branch '$name' already exists on $tableDir")
    Files.createDirectories(bdir)
    // seed = the fork snapshot, re-rooted: every main file reachable
    // from the branch dir through a `../` name
    val seeded = files.map(g => g.copy(name = s"../${g.name}",
      dv = g.dv.map { case (d, n) => (s"../$d", n) }))
    require(GraftRl.publish(bdir, fork, GraftRl.render(seeded),
        Map("fork" -> fork.toString)),
      s"graft catalog: concurrent branch creation '$name' on $tableDir")
    fork
  }

  private[sources] def branchDir(tableDir: Path, name: String): Path =
    tableDir.resolve(s"_branch_$name")

  /** Fast-forward main to the branch head in one atomic publish. The
    * WAP contract: publish succeeds only if main is STILL at the
    * branch's fork version — an audit certifies the branch's exact
    * state, and silently rebasing it over unseen main commits would
    * publish something nobody audited. Branch-local files stay in the
    * branch directory; the published manifest references them by
    * their `_branch_<name>/…` names (group-file resolution is
    * path-relative, so scans read them in place). Returns the new
    * main version. */
  def publishBranch(tableDir: Path, name: String): Long = {
    val bdir = branchDir(tableDir, name)
    require(Files.exists(bdir),
      s"graft catalog: no branch '$name' on $tableDir")
    val bCur = GraftRl.currentVersion(bdir)
    val bFiles = GraftRl.readManifest(bdir, bCur).getOrElse(
      throw new IllegalStateException(
        s"graft catalog: branch '$name' manifest v$bCur unreadable"))
    val fork = GraftRl.readManifestMeta(bdir,
      GraftRl.manifestVersions(bdir).min).get("fork")
      .flatMap(_.toLongOption).getOrElse(
        throw new IllegalStateException(
          s"graft catalog: branch '$name' has no fork marker"))
    val mainCur = GraftRl.currentVersion(tableDir)
    if (mainCur != fork)
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: main of $tableDir moved (v$fork → v$mainCur) " +
          s"since branch '$name' forked — the branch's audit does not " +
          "cover those commits; re-fork, re-apply, re-audit")
    // re-root: `../x` was a main file (publish as `x`); a branch-local
    // file stays in place, addressed through the subdirectory
    def reroot(n: String): String =
      if (n.startsWith("../")) n.stripPrefix("../")
      else s"_branch_$name/$n"
    val published = bFiles.map(g => g.copy(name = reroot(g.name),
      dv = g.dv.map { case (d, nn) => (reroot(d), nn) }))
    if (!GraftRl.publish(tableDir, mainCur + 1,
        GraftRl.render(published)))
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: main of $tableDir advanced during branch " +
          s"publish — re-fork, re-apply, re-audit")
    mainCur + 1
  }

  /** PARTITION EVOLUTION — change the table's partition column (or
    * drop partitioning, `col = None`) WITHOUT rewriting a byte: the
    * new spec is published as the next `partspec-<n>` era
    * (atomic-exclusive link — two racing evolutions, one winner) and
    * applies to WRITES FROM NOW ON; existing group files keep the
    * layout of the era that wrote them. Reads stay correct across
    * mixed eras by construction — pruning and metadata-only DML run
    * off per-file typed stats (era-agnostic), and the key-grouped
    * scan/write claims consult per-file provability, standing down
    * where an old-era file is not single-valued in the new column. A
    * clustered OPTIMIZE on the new column is the optional backfill
    * that re-cuts old-era files into new-spec layout. Returns the new
    * era number. */
  def evolvePartition(tableDir: Path, col: Option[String]): Long = {
    val schema = GraftRl.currentSchema(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: $tableDir is not a table (no schema.json)"))
    col.foreach { c =>
      require(schema.fields.exists(f => f.name == c &&
          f.dataType == org.apache.spark.sql.types.LongType),
        s"graft catalog: partition column '$c' must be an existing " +
          "BIGINT column")
    }
    require(GraftRl.readPartCol(tableDir) != col,
      s"graft catalog: table is already partitioned by " +
        s"${col.getOrElse("(nothing)")}")
    val era = GraftRl.partSpecHistory(tableDir).lastOption
      .map(_._1 + 1L).getOrElse(1L)
    if (!GraftRl.publishPartSpec(tableDir, era,
        GraftRl.currentVersion(tableDir), col))
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: concurrent partition evolution on $tableDir")
    era
  }

  /** SNAPSHOT TAG — pin a committed version under a stable name:
    * `VERSION AS OF '<name>'` resolves it, and [[expireSnapshots]]
    * will never retire a tagged version (the Iceberg tag contract).
    * Tags are immutable and publish by the same atomic-exclusive
    * link as manifests: of two racing `tagSnapshot` calls for one
    * name exactly one wins, the loser aborts loudly. */
  def tagSnapshot(tableDir: Path, name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"graft catalog: tag name '$name' must be " +
        "[A-Za-z0-9][A-Za-z0-9._-]* (it becomes a file name)")
    require(name.toLongOption.isEmpty,
      s"graft catalog: tag name '$name' would shadow a version number")
    require(GraftRl.readManifest(tableDir, version).isDefined,
      s"graft catalog: cannot tag version $version of $tableDir — " +
        "no such committed (unexpired) snapshot")
    if (!GraftRl.publishTag(tableDir, name, version))
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: tag '$name' already exists on $tableDir — " +
          "tags are immutable; pick a new name")
    GraftRlConcurrencyHook.afterTagPublish()
    // close the tag-vs-retention race: a concurrent expireSnapshots
    // that listed tagVersions BEFORE this tag published may have
    // deleted the manifest in the window between the existence check
    // above and the publish — re-verify after winning, and retract
    // the tag loudly rather than leave it dangling on an
    // unaddressable version forever
    if (GraftRl.readManifest(tableDir, version).isEmpty) {
      Files.deleteIfExists(GraftRl.tagPath(tableDir, name))
      throw new IllegalStateException(
        s"graft catalog: version $version of $tableDir was expired by " +
          s"a concurrent expireSnapshots while tag '$name' published — " +
          "tag retracted; re-tag a live version")
    }
  }

  /** One DESCRIBE HISTORY row: a committed version, its recorded
    * commit instant, the commit's shape derived from the manifest
    * diff (`create` / `append` / `change` — a change commit removed
    * or rewrote groups, which is also exactly what the strict change
    * stream refuses), group-file delta counts, and the streaming txn
    * marker when the commit came from a `writeStream.toTable` epoch. */
  final case class HistoryEntry(version: Long, commitTimeMillis: Long,
      operation: String, filesAdded: Int, filesRemoved: Int,
      txn: Option[String])

  /** DESCRIBE HISTORY — the audit surface every table format pairs
    * with time travel: one row per RETAINED version, oldest first,
    * derived entirely from manifests and their `#ts`/`#txn` headers
    * (zero data I/O). Versions retired by [[expireSnapshots]] are
    * absent — history older than retention is not addressable, in
    * listing or in travel. A group whose manifest line changed in
    * place (a deletion-vector attach) counts as removed+added: rows
    * were deleted even though the file name survived. */
  def history(tableDir: Path): Seq[HistoryEntry] = {
    val versions = GraftRl.manifestVersions(tableDir).sorted
    require(versions.nonEmpty,
      s"graft catalog: $tableDir has no manifests (not a table?)")
    versions.map { v =>
      val cur = GraftRl.readManifest(tableDir, v).getOrElse(Seq.empty)
      // retention can leave GAPS (a tag pins a version whose
      // neighbors expired): a version with no retained predecessor
      // has an unknowable delta and reports as a baseline
      val prevOpt =
        if (v == versions.head) None
        else GraftRl.readManifest(tableDir, v - 1)
      val prev = prevOpt.getOrElse(Seq.empty)
      val curLines = cur.map(g => g.name -> g.manifestLine).toMap
      val prevLines = prev.map(g => g.name -> g.manifestLine).toMap
      val added = cur.count(g => !prevLines.get(g.name)
        .contains(g.manifestLine))
      val removed = prev.count(g => !curLines.get(g.name)
        .contains(g.manifestLine))
      val op =
        if (v == 0L) "create"
        else if (prevOpt.isEmpty) "baseline"
        else if (removed > 0) "change"
        else "append"
      HistoryEntry(v, GraftRl.commitTimeMillis(tableDir, v), op,
        added, removed, GraftRl.readManifestMeta(tableDir, v).get("txn"))
    }
  }

  /** MERGE SCHEMA EVOLUTION (Delta's `mergeSchema` contract, the
    * auto-widen half): a MERGE whose source carries columns the
    * target lacks should WIDEN the target and null-fill history, not
    * refuse on width. This pre-pass appends every missing source
    * column to the target schema — nullable, at the end, the only
    * widening the format allows — through the SAME optimistic
    * `ALTER TABLE ADD COLUMNS` path interactive evolution uses, so
    * the publication is atomic (`schema-<n+1>.json` by exclusive
    * link; of two racing evolutions one wins, the loser aborts
    * loudly instead of dropping a column). Existing group files are
    * NEVER rewritten: old rows read the new columns as NULL
    * (schema-on-read), and the caller's MERGE then binds them in its
    * INSERT/UPDATE arms. Returns the added column names (empty =
    * schemas already aligned). Unsupported source column types
    * refuse before anything publishes. */
  def widenForMerge(spark: org.apache.spark.sql.SparkSession,
      table: String, source: StructType): Seq[String] = {
    val target = spark.table(table).schema
    val existing = target.fieldNames.map(_.toLowerCase).toSet
    val added = source.fields.toSeq.filterNot(f =>
      existing.contains(f.name.toLowerCase))
    if (added.isEmpty) return Nil
    val ddl = added.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case DoubleType => "DOUBLE"
        case StringType => "STRING"
        case other => throw new IllegalArgumentException(
          s"graft catalog: cannot widen '$table' with column " +
            s"'${f.name}' of unsupported type ${other.simpleString}")
      }
      s"`${f.name}` $t"
    }.mkString(", ")
    spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
    added.map(_.name)
  }

  /** Result of [[optimizeTable]]: which fragmented group files were
    * compacted away, which packed files replaced them, and the
    * manifest version the compaction published. */
  final case class OptimizeResult(removedFiles: Seq[String],
      addedFiles: Seq[String], version: Long)

  /** OPTIMIZE — small-group compaction (Delta OPTIMIZE / Iceberg
    * rewrite_data_files): file-keyed copy-on-write plus per-statement
    * groups FRAGMENT under sustained DML, and a thousand tiny groups
    * means a thousand tiny tasks and a thousand manifest lines. This
    * bin-packs groups smaller than `targetRows` (within a partition
    * value, for partitioned tables — packing across values would
    * destroy the storage-partitioned layout) into combined files and
    * publishes the result as an ORDINARY next-version manifest:
    * contents are bit-stable (same rows, same values — only the
    * file geometry changes), time travel still addresses every prior
    * version, retention vacuums the fragments once they age out, and
    * the change stream sees a change-flagged commit (files removed),
    * which `skipChangeCommits` consumers skip and strict consumers
    * refuse — exactly the contract rewrites already have.
    *
    * Optimistic like every commit: publishes base+1 by
    * atomic-exclusive link, deletes its packed files and aborts
    * loudly on a race.
    *
    * TWO EXECUTION SHAPES over ONE bin planner and ONE rewrite codec
    * ([[GraftRlOptimize.rewriteBin]]): the no-session overload runs
    * the bins serially on the calling thread (maintenance shells,
    * tests — and it CAPS deletion-vector folds at `liveRows ≤
    * 4×targetRows`, so a multi-GB group that picked up one vector can
    * never become an unbounded single-threaded rewrite); the
    * SparkSession overload dispatches ONE TASK PER BIN — bins are
    * independent by construction (disjoint input files, one output
    * file each), so a fragmented day compacts with cluster
    * parallelism while the driver keeps only the manifest publish.
    * A task that fails after renaming its packed file leaves an
    * orphan no manifest references; retention's vacuum sweeps it
    * like any other unreferenced data file. */
  def optimizeTable(tableDir: Path, targetRows: Long): OptimizeResult =
    optimizeTable(tableDir, targetRows, None)

  /** CLUSTERED compaction (`sortCol` — Delta `OPTIMIZE ZORDER BY` in
    * its one-dimension form): candidates are packed in SORT-KEY order
    * (by their stats lower bound) instead of name order and each
    * packed file's rows are sorted on the column, so compaction
    * leaves files covering tight, near-disjoint key ranges — a point
    * or range predicate then statically prunes to ~one file where
    * the fragmented interleaved layout kept them all. Fragmentation
    * under sustained ingest SCATTERS key ranges (every commit spans
    * the keyspace); clustering on the hot filter column is how a
    * 100 TB table keeps its pruning power without a full rewrite.
    * The clustered rewrite buffers one bin in memory (bins are sized
    * by `targetRows` — pick it to fit the executor). */
  def optimizeTable(tableDir: Path, targetRows: Long,
      sortCol: Option[String]): OptimizeResult =
    optimizeTable(tableDir, targetRows, sortCol, Nil,
      GraftRlOptimize.DefaultMaxBinBytes)

  /** Serial overload with the full clustering surface (`sortCol` =
    * 1-D, `zorderCols` = N-D Morton). */
  def optimizeTable(tableDir: Path, targetRows: Long,
      sortCol: Option[String], zorderCols: Seq[String],
      maxBinBytes: Long): OptimizeResult =
    optimizeImpl(tableDir, targetRows, sortCol, zorderCols, maxBinBytes,
      serialDvFoldCap = true,
      runner = bins => bins.map(GraftRlOptimize.rewriteBin))

  /** Distributed OPTIMIZE: same plan, same codec, one Spark task per
    * bin. No DV-fold size cap here — an executor rewriting one
    * oversized group is exactly what the fan-out is for.
    * `zorderCols` switches on MULTI-COLUMN Z-ORDER clustering
    * (Morton-interleaved rank buckets — Delta `OPTIMIZE ZORDER BY
    * (a, b)`), so point predicates on EACH clustered dimension keep
    * pruning power; `sortCol` remains the 1-D fast path. */
  def optimizeTable(spark: org.apache.spark.sql.SparkSession,
      tableDir: Path, targetRows: Long,
      sortCol: Option[String] = None,
      zorderCols: Seq[String] = Nil,
      maxBinBytes: Long = GraftRlOptimize.DefaultMaxBinBytes)
      : OptimizeResult =
    optimizeImpl(tableDir, targetRows, sortCol, zorderCols, maxBinBytes,
      serialDvFoldCap = false,
      runner = bins =>
        if (bins.isEmpty) Seq.empty
        else spark.sparkContext
          .parallelize(bins, bins.size)
          .map(GraftRlOptimize.rewriteBin)
          .collect().toSeq)

  /** A DV-carrying group whose live fraction is at or below this is
    * always a fold candidate regardless of size: paying a rewrite to
    * stop masking ≥10% dead rows on every scan is the
    * read-amplification gate every DV design needs (Delta's
    * deletedRowsRatio trigger). Mostly-live big groups are left
    * alone — rewriting 100 GB to fold 0.1% dead is maintenance
    * churn, not maintenance. */
  val DvFoldDeadFraction = 0.10

  private def optimizeImpl(tableDir: Path, targetRows: Long,
      sortCol: Option[String], zorderCols: Seq[String],
      maxBinBytes: Long,
      serialDvFoldCap: Boolean,
      runner: Seq[GraftRlOptimize.Bin] =>
        Seq[(Seq[String], GraftRlStagedFile)]): OptimizeResult = {
    require(targetRows >= 1,
      s"graft catalog: targetRows must be >= 1, got $targetRows")
    require(sortCol.isEmpty || zorderCols.isEmpty,
      "graft catalog: sortCol and zorderCols are mutually exclusive")
    require(maxBinBytes >= 1,
      s"graft catalog: maxBinBytes must be >= 1, got $maxBinBytes")
    val schema = GraftRl.currentSchema(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: $tableDir is not a table (no schema.json)"))
    val partIdx = GraftRl.readPartCol(tableDir).map(schema.fieldIndex)
    val base = GraftRl.currentVersion(tableDir)
    val files = GraftRl.readManifest(tableDir, base).getOrElse(
      throw new IllegalStateException(
        s"graft catalog: manifest v$base unreadable in $tableDir"))
    // bucket by provable partition value (None bucket = unprovable or
    // unpartitioned); only provable-value files may pack together
    def bucket(gf: GraftRl.GroupFile): Option[Option[Long]] =
      partIdx match {
        case None => Some(None)
        case Some(i) => GraftRl.partValueOf(gf, i)
      }
    // small groups pack; DV-carrying groups additionally qualify by
    // the READ-AMPLIFICATION GATE — small enough to be a fragment
    // anyway, or dead fraction ≥ DvFoldDeadFraction (a group masking
    // that much pays full decode for a sliver of live rows on every
    // scan). The serial path further caps DV folds at 4×targetRows
    // live rows so a huge group can never serialize the caller —
    // route those through the distributed overload.
    val candidates = files.filter { f =>
      val small = f.liveRows < targetRows
      val qualifies = f.dv match {
        case None => small
        case Some((_, dead)) =>
          (small || dead.toDouble / f.rows >= DvFoldDeadFraction) &&
            (!serialDvFoldCap || f.liveRows <= 4L * targetRows)
      }
      qualifies && bucket(f).isDefined
    }
    val sortIdx = sortCol.map { c =>
      require(schema.fieldNames.contains(c),
        s"graft catalog: no such sort column '$c'")
      schema.fieldIndex(c)
    }
    def toBinFile(gf: GraftRl.GroupFile): GraftRlOptimize.BinFile =
      GraftRlOptimize.BinFile(gf.name, gf.rows, gf.statsToken,
        gf.dv.map(_._1).getOrElse(""))
    val zIdxs = zorderCols.map { c =>
      require(schema.fieldNames.contains(c),
        s"graft catalog: no such Z-order column '$c'")
      schema.fieldIndex(c)
    }
    val byBucket = candidates.groupBy(bucket).toSeq
      .sortBy(_._2.head.name)
    val binDefs: Seq[GraftRlOptimize.Bin] =
      if (zIdxs.nonEmpty)
        // MULTI-COLUMN Z-ORDER: Morton-rank range bins (see
        // GraftRlOptimize.clusterBinsZ)
        byBucket.flatMap { case (_, fs) =>
          GraftRlOptimize.clusterBinsZ(tableDir, schema, zIdxs,
            fs.map(toBinFile), targetRows, maxBinBytes)
        }
      else sortIdx match {
      case Some(i) =>
        // CLUSTERED: row-range bins planned from the EXACT sort keys
        // (see GraftRlOptimize.clusterBins) — file-level packing
        // cannot separate interleaved key ranges
        byBucket.flatMap { case (_, fs) =>
          GraftRlOptimize.clusterBins(tableDir, schema, i,
            fs.map(toBinFile), targetRows, maxBinBytes)
        }
      case None => byBucket.flatMap { case (_, fs) =>
        // greedy first-fit over name order: deterministic packing
        val out = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[GraftRl.GroupFile]]
        var cur = scala.collection.mutable.ArrayBuffer
          .empty[GraftRl.GroupFile]
        var rows = 0L
        fs.sortBy(_.name).foreach { f =>
          if (cur.nonEmpty && rows + f.liveRows > targetRows) {
            out += cur
            cur = scala.collection.mutable.ArrayBuffer.empty; rows = 0L
          }
          cur += f; rows += f.liveRows
        }
        if (cur.nonEmpty) out += cur
        // a 1-file bin is worth rewriting only to fold a DV away
        out.filter(b => b.size >= 2 || b.exists(_.dv.isDefined))
          .map(b => GraftRlOptimize.Bin(tableDir.toString, schema.json,
            b.toSeq.map(toBinFile)))
      }
    }
    if (binDefs.isEmpty) return OptimizeResult(Nil, Nil, base)
    val packed = runner(binDefs)
    val removed = packed.flatMap(_._1).toSet
    // commit through the file-disjoint rebase: compaction touches
    // exactly its input files, and anything that commutes with it —
    // an append, a DELETE on other groups, another OPTIMIZE over a
    // different bucket — lands in the rebased manifest untouched. A
    // long multi-task compaction must not discard all its packed
    // work because one unrelated append won the version race; only a
    // commit that REWROTE or re-vectored a compacted input (the
    // compaction would silently lose that delete/update) is a real
    // conflict and aborts.
    GraftRlConcurrencyHook.beforeOptimizePublish()
    GraftRlRebase.publishDisjoint(tableDir, base, files, removed,
      cur => cur.filterNot(f => removed.contains(f.name)) ++
        packed.map(_._2.toGroupFile)) match {
      case Some(v) =>
        OptimizeResult(removed.toSeq.sorted, packed.map(_._2.name), v)
      case None =>
        packed.foreach(p =>
          Files.deleteIfExists(tableDir.resolve(p._2.name)))
        throw new java.util.ConcurrentModificationException(
          s"graft catalog: a concurrent commit changed a group this " +
            s"OPTIMIZE was compacting in $tableDir — packed files " +
            "deleted, nothing published; re-run")
    }
  }
}

/** The OPTIMIZE bin rewrite, factored to a TOP-LEVEL object with a
  * string/case-class-only surface so the distributed overload can ship
  * it inside a Spark task closure without capturing anything (the
  * `$outer` serialization trap anonymous helpers fall into). One bin
  * in, one packed file out — the same parquet-mr reader/writer pair
  * the serial path always used, now location-transparent.
  *
  * Two bin shapes share the rewriter: PLAIN bins (a list of whole
  * fragments, streamed through unchanged) and CLUSTERED RANGE bins
  * (`ranged=true`): each bin owns a KEY RANGE `[lo, hi)` of the sort
  * column and reads every overlapping fragment, keeping only its
  * range's rows, sorting them, and writing one range-tight file. The
  * ranges partition the key space (nulls ride the first range —
  * Spark's NULLS FIRST), so across bins every live row is written
  * exactly once. */
private[sources] object GraftRlOptimize {
  /** One fragment of a bin: `dvName` empty = no deletion vector.
    * Width (the column count the file was written with) derives from
    * the stats token — one token per column. */
  final case class BinFile(name: String, rows: Long, statsToken: String,
      dvName: String) {
    def width: Int = statsToken.split(",", -1).length
  }
  /** `sortIdx >= 0` = sort the packed file's rows on that column
    * (NULLS FIRST, NaN above every double — Spark's sort order);
    * `ranged` additionally filters each fragment to `[lo, hi)` (an
    * absent bound is infinite; `takeNulls` marks the range that owns
    * the null rows). Bounds are codec-exact: Long/Double via
    * round-tripping `toString`, String via Base64 of the UTF8 bytes
    * (a lossy string bound could silently drop or duplicate rows at
    * a range seam). */
  final case class Bin(dir: String, schemaJson: String,
      files: Seq[BinFile], sortIdx: Int = -1, ranged: Boolean = false,
      lo: Option[String] = None, hi: Option[String] = None,
      takeNulls: Boolean = false,
      /** Z-ORDER bins: the clustered column indices, the per-column
        * encoded rank-bucket boundaries (shipped so planning and
        * rewriting compute the IDENTICAL Morton code on driver or
        * executor alike), and `lo`/`hi` reinterpreted as a Z-value
        * range. */
      zIdx: Seq[Int] = Nil, zBounds: Seq[Seq[String]] = Nil)

  private def encodeKey(dt: DataType, v: Any): String = dt match {
    case LongType => v.asInstanceOf[java.lang.Long].toString
    case DoubleType => v.asInstanceOf[java.lang.Double].toString
    case _ => java.util.Base64.getEncoder.encodeToString(
      v.asInstanceOf[UTF8String].getBytes)
  }
  private def decodeKey(dt: DataType, s: String): Any = dt match {
    case LongType => java.lang.Long.valueOf(s)
    case DoubleType => java.lang.Double.valueOf(s)
    case _ => UTF8String.fromBytes(
      java.util.Base64.getDecoder.decode(s))
  }
  /** Spark-order comparator (NaN greatest via Double.compare). Used
    * for BOTH boundary planning and row filtering, so range
    * assignment is consistent by construction. */
  private def cmpKey(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType => java.lang.Long.compare(
      a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long])
    case DoubleType => java.lang.Double.compare(
      a.asInstanceOf[java.lang.Double], b.asInstanceOf[java.lang.Double])
    case _ => a.asInstanceOf[UTF8String]
      .compareTo(b.asInstanceOf[UTF8String])
  }

  /** Read one fragment's DV-masked sort-key column: `(nonNullKeys,
    * nullCount)`. A fragment written before the sort column existed
    * reads it as all-null without opening the file. */
  private def readKeys(tableDir: Path, schema: StructType, i: Int,
      f: BinFile): (Seq[Any], Long) = {
    val dv = if (f.dvName.isEmpty) Array.emptyLongArray
      else GraftRl.readDv(tableDir.resolve(f.dvName))
    if (i >= f.width) return (Seq.empty, f.rows - dv.length)
    val fld = schema.fields(i)
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    var nulls = 0L
    var dvIdx = 0
    var ord = 0L
    val reader = GraftRlCodec.openReader(
      tableDir.resolve(f.name).toString,
      GraftRlCodec.messageType(Seq(fld)))
    try {
      var g = reader.read()
      while (g != null) {
        val o = ord; ord += 1
        while (dvIdx < dv.length && dv(dvIdx) < o) dvIdx += 1
        if (!(dvIdx < dv.length && dv(dvIdx) == o)) {
          val v = GraftRlCodec.groupValue(g, 0, fld.dataType)
          if (v == null) nulls += 1 else keys += v
        }
        g = reader.read()
      }
    } finally reader.close()
    (keys.toSeq, nulls)
  }

  /** CLUSTERED bin planning for one partition bucket: read the EXACT
    * sort keys of every candidate (one projected column + DV mask —
    * cheap columnar I/O), cut the sorted key stream into
    * `targetRows` chunks, and emit one range bin per chunk listing
    * only the fragments whose keys intersect it. INCREMENTAL by
    * construction: a range served by exactly one DV-free fragment
    * that overlaps no other range is already clustered and emits no
    * bin — so a freshly-arrived interleaved fragment rewrites only
    * the ranges it pollutes, not the whole table. (At extreme key
    * volume the boundary scan would sample instead of reading every
    * key; candidates here are maintenance-batch fragments.) */
  def clusterBins(tableDir: Path, schema: StructType, i: Int,
      files: Seq[BinFile], targetRows: Long,
      maxBinBytes: Long = DefaultMaxBinBytes): Seq[Bin] = {
    val dt = schema.fields(i).dataType
    val perFile = files.map(f => f -> readKeys(tableDir, schema, i, f))
    val allKeys = perFile.flatMap(_._2._1).sortWith(cmpKey(dt, _, _) < 0)
    val totalNulls = perFile.map(_._2._2).sum
    if (allKeys.isEmpty && totalNulls == 0) return Seq.empty
    val chunk = math.max(1L, math.min(targetRows, Int.MaxValue.toLong)).toInt
    // boundary at the FIRST key change after >= chunk rows since the
    // last cut: every full range then holds >= targetRows rows, so
    // its packed file structurally leaves the liveRows < targetRows
    // candidacy and repeated clustered runs converge to a no-op.
    // (Cutting at fixed chunk offsets and collapsing duplicate-key
    // boundaries instead lets dup runs DRIFT the later cuts, leaving
    // sub-target files that every maintenance run re-packs forever.)
    val boundaries = cutBoundaries[Any](allKeys.toIndexedSeq, chunk,
      (a, b) => cmpKey(dt, a, b) == 0)
    val ranges: Seq[(Option[Any], Option[Any])] =
      (None +: boundaries.map(Some(_))).zip(
        boundaries.map(Some(_)) :+ None)
    def inRange(r: (Option[Any], Option[Any]), v: Any): Boolean =
      r._1.forall(lo => cmpKey(dt, v, lo) >= 0) &&
        r._2.forall(hi => cmpKey(dt, v, hi) < 0)
    // how many live rows of each fragment land in each range (nulls
    // ride range 0) — drives both overlap detection and the cap split
    val perFileRange: Map[String, Map[Int, Long]] =
      perFile.map { case (f, (ks, nu)) =>
        val counts = scala.collection.mutable.Map.empty[Int, Long]
        if (nu > 0) counts(0) = nu
        ks.foreach { v =>
          val ri = ranges.indexWhere(inRange(_, v))
          counts(ri) = counts.getOrElse(ri, 0L) + 1L
        }
        f.name -> counts.toMap
      }.toMap
    emitRangeBins(tableDir, files, perFileRange, ranges.size,
      capRowsFor(tableDir, files, maxBinBytes),
      (part, ri) => Bin(tableDir.toString, schema.json, part,
        sortIdx = i, ranged = true,
        lo = ranges(ri)._1.map(encodeKey(dt, _)),
        hi = ranges(ri)._2.map(encodeKey(dt, _)),
        takeNulls = ri == 0))
  }

  /** Default hard cap on one clustered bin's estimated bytes: the
    * ranged rewrite SORTS a bin in memory, so the bin size must be an
    * engine-enforced bound, not caller trust — a caller passing a
    * huge `targetRows` (or a key whose duplicates collapse the range
    * boundaries) would otherwise hand one task an unbounded sort. */
  val DefaultMaxBinBytes: Long = 256L << 20

  /** Estimated rows that fit `maxBinBytes`, from the candidates' real
    * on-disk bytes-per-row (stats-free fragments estimate high —
    * splitting too eagerly is safe, trusting too long is not). */
  private def capRowsFor(tableDir: Path, files: Seq[BinFile],
      maxBinBytes: Long): Long = {
    val totalBytes = files.map(f =>
      try Files.size(tableDir.resolve(f.name)) catch {
        case _: java.io.IOException => 0L
      }).sum
    val totalRows = math.max(1L, files.map(_.rows).sum)
    val bytesPerRow = math.max(1L, totalBytes / totalRows)
    math.max(1L, maxBinBytes / bytesPerRow)
  }

  /** Shared range→bin emission for the 1-D and Z-order planners:
    * skip a range already served by exactly one clean in-range file
    * (incremental no-op), and SPLIT an oversized range across
    * fragment subsets — rows of one fragment live in exactly one
    * subset, so each subset rewrites independently into its own
    * range-tight file and the in-memory sort stays under the cap.
    * (A single fragment exceeding the cap on its own is emitted
    * as-is: file granularity is the floor of input splitting.) */
  private def emitRangeBins(tableDir: Path, files: Seq[BinFile],
      perFileRange: Map[String, Map[Int, Long]], nRanges: Int,
      capRows: Long,
      mkBin: (Seq[BinFile], Int) => Bin): Seq[Bin] =
    (0 until nRanges).flatMap { ri =>
      val overlapping = files.filter(f =>
        perFileRange(f.name).getOrElse(ri, 0L) > 0L)
      val alreadyClustered = overlapping.size == 1 &&
        overlapping.head.dvName.isEmpty &&
        perFileRange(overlapping.head.name).keySet == Set(ri)
      if (overlapping.isEmpty || alreadyClustered) Seq.empty
      else {
        val parts = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[BinFile]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[BinFile]
        var rows = 0L
        overlapping.foreach { f =>
          val r = perFileRange(f.name)(ri)
          if (cur.nonEmpty && rows + r > capRows) {
            parts += cur
            cur = scala.collection.mutable.ArrayBuffer.empty[BinFile]
            rows = 0L
          }
          cur += f; rows += r
        }
        if (cur.nonEmpty) parts += cur
        parts.map(p => mkBin(p.toSeq, ri)).toSeq
      }
    }

  /** Range boundaries over a sorted stream: cut at the first element
    * that DIFFERS from its predecessor once >= chunk rows accumulated
    * since the last cut. Guarantees every full range >= chunk rows
    * (ties never split), so range-packed files leave compaction
    * candidacy and clustering converges. */
  private def cutBoundaries[T](sorted: IndexedSeq[T], chunk: Int,
      same: (T, T) => Boolean): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var sinceCut = 0
    var i = 0
    while (i < sorted.length) {
      if (sinceCut >= chunk && !same(sorted(i - 1), sorted(i))) {
        out += sorted(i)
        sinceCut = 0
      }
      sinceCut += 1
      i += 1
    }
    out.toSeq
  }

  /** Bits per dimension of the Morton code: enough for fine rank
    * buckets, capped so N dimensions still interleave into one
    * non-negative Long. */
  def zBitsFor(n: Int): Int = math.min(12, 62 / math.max(1, n))

  /** Morton interleave of per-column bucket ids, column 0 owning the
    * most significant bit at each level — the bit arithmetic both
    * engines of the q233 layout audit agree on. */
  def interleave(buckets: Seq[Int], bits: Int): Long = {
    var z = 0L
    var bit = bits - 1
    while (bit >= 0) {
      var c = 0
      while (c < buckets.length) {
        z = (z << 1) | ((buckets(c) >> bit) & 1L)
        c += 1
      }
      bit -= 1
    }
    z
  }

  /** Equi-depth rank bucket of `v`: the count of boundaries ≤ v.
    * Nulls take bucket 0 (Spark's NULLS FIRST). Rank buckets — not
    * raw value bits — keep the Z-curve uniform under any value
    * distribution, the same reason Delta Z-orders over
    * range-partition ids rather than raw values. */
  private def zBucket(dt: DataType, bounds: Seq[Any], v: Any): Int =
    if (v == null) 0
    else bounds.count(b => cmpKey(dt, b, v) <= 0)

  /** The Morton LANE value of `v`: its rank bucket SCALED to the full
    * `bits` width. A low-cardinality column (fewer distinct values
    * than buckets) would otherwise occupy only the lane's low bits —
    * all-zero MSBs — and the interleave would degenerate to the
    * high-cardinality dimensions, silently losing that column's
    * pruning power. */
  private def zLane(dt: DataType, bounds: Seq[Any], v: Any,
      bits: Int): Int = {
    val n = bounds.size + 1 // bucket ids live in [0, n)
    ((zBucket(dt, bounds, v).toLong << bits) / n).toInt
  }

  /** Read one fragment's DV-masked key TUPLES for the Z-order
    * columns, row-aligned (a column the file predates reads as
    * null). */
  private def readKeyTuples(tableDir: Path, schema: StructType,
      idxs: Seq[Int], f: BinFile): Seq[Array[Any]] = {
    val dv = if (f.dvName.isEmpty) Array.emptyLongArray
      else GraftRl.readDv(tableDir.resolve(f.dvName))
    val present = idxs.zipWithIndex.collect {
      case (i, c) if i < f.width => (schema.fields(i), c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    if (present.isEmpty) {
      var n = f.rows - dv.length
      while (n > 0) { out += new Array[Any](idxs.length); n -= 1 }
      return out.toSeq
    }
    var dvIdx = 0
    var ord = 0L
    val reader = GraftRlCodec.openReader(
      tableDir.resolve(f.name).toString,
      GraftRlCodec.messageType(present.map(_._1)))
    try {
      var g = reader.read()
      while (g != null) {
        val o = ord; ord += 1
        while (dvIdx < dv.length && dv(dvIdx) < o) dvIdx += 1
        if (!(dvIdx < dv.length && dv(dvIdx) == o)) {
          val t = new Array[Any](idxs.length)
          var j = 0
          while (j < present.length) {
            t(present(j)._2) =
              GraftRlCodec.groupValue(g, j, present(j)._1.dataType)
            j += 1
          }
          out += t
        }
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** MULTI-COLUMN Z-ORDER bin planning (Delta `OPTIMIZE ZORDER BY
    * (a, b, …)`): per column, equi-depth rank-bucket boundaries from
    * the candidates' exact keys; per row, the Morton interleave of
    * its bucket ids; then the SAME row-range machinery as the 1-D
    * planner, over the Z-value stream — boundaries every
    * `targetRows`, one bin per Z-range, incremental skip, cap split.
    * Because a Z-range at any cut depth is a sub-rectangle union
    * with BOUNDED extent in every dimension, each packed file's
    * per-column min/max stats stay narrow on ALL clustered columns —
    * a point predicate on either dimension of a 2-D clustered
    * 100 TB table prunes to ~√F of F files instead of all of them,
    * which is the whole point of Morton over lexicographic sort. */
  def clusterBinsZ(tableDir: Path, schema: StructType, idxs: Seq[Int],
      files: Seq[BinFile], targetRows: Long,
      maxBinBytes: Long = DefaultMaxBinBytes): Seq[Bin] = {
    require(idxs.size >= 2,
      s"graft catalog: Z-order needs >= 2 columns, got ${idxs.size}")
    val dts = idxs.map(schema.fields(_).dataType)
    val bits = zBitsFor(idxs.size)
    val buckets = 1 << bits
    val perFile: Seq[(BinFile, Seq[Array[Any]])] =
      files.map(f => f -> readKeyTuples(tableDir, schema, idxs, f))
    if (perFile.forall(_._2.isEmpty)) return Seq.empty
    // per-column equi-depth boundaries (strictly increasing;
    // duplicates collapse like 1-D chunk boundaries)
    val bounds: Seq[Seq[Any]] = idxs.indices.map { c =>
      val vs = perFile.flatMap(_._2.iterator.map(_(c)))
        .filter(_ != null).sortWith(cmpKey(dts(c), _, _) < 0)
      if (vs.isEmpty) Seq.empty
      else (1 until buckets)
        .map(j => vs(((j.toLong * vs.size) / buckets).toInt))
        .foldLeft(Seq.empty[Any])((acc, b) =>
          if (acc.nonEmpty && cmpKey(dts(c), acc.last, b) >= 0) acc
          else acc :+ b)
    }
    def z(t: Array[Any]): Long = interleave(
      idxs.indices.map(c => zLane(dts(c), bounds(c), t(c), bits)), bits)
    val perFileZ: Seq[(BinFile, Seq[Long])] =
      perFile.map { case (f, ts) => f -> ts.map(z) }
    val allZ = perFileZ.flatMap(_._2).sorted
    val chunk = math.max(1L, math.min(targetRows, Int.MaxValue.toLong)).toInt
    // same convergence discipline as the 1-D planner: full Z-ranges
    // hold >= targetRows rows, so their packed files leave candidacy
    val boundaries = cutBoundaries[Long](allZ.toIndexedSeq, chunk,
      _ == _)
    val ranges: Seq[(Option[Long], Option[Long])] =
      (None +: boundaries.map(Some(_))).zip(
        boundaries.map(Some(_)) :+ None)
    def rangeOf(v: Long): Int = {
      var ri = boundaries.length
      var j = 0
      while (j < boundaries.length) {
        if (v < boundaries(j)) { ri = j; j = boundaries.length }
        else j += 1
      }
      ri
    }
    val perFileRange: Map[String, Map[Int, Long]] =
      perFileZ.map { case (f, zs) =>
        val counts = scala.collection.mutable.Map.empty[Int, Long]
        zs.foreach { v =>
          val ri = rangeOf(v)
          counts(ri) = counts.getOrElse(ri, 0L) + 1L
        }
        f.name -> counts.toMap
      }.toMap
    val encBounds: Seq[Seq[String]] = idxs.indices.map(c =>
      bounds(c).map(encodeKey(dts(c), _)))
    emitRangeBins(tableDir, files, perFileRange, ranges.size,
      capRowsFor(tableDir, files, maxBinBytes),
      (part, ri) => Bin(tableDir.toString, schema.json, part,
        ranged = true,
        lo = ranges(ri)._1.map(_.toString),
        hi = ranges(ri)._2.map(_.toString),
        zIdx = idxs, zBounds = encBounds))
  }

  /** Rewrite one bin into one packed file: read every column each
    * fragment HAS (absent trailing columns of pre-evolution files
    * null-fill — the packed file is written at the CURRENT schema
    * width), FOLD IN any deletion vector (masked rows do not survive
    * the pack, so the output is DV-free), apply the bin's key-range
    * filter when clustering, stage under a dot-prefixed in-progress
    * name and atomically rename — identical discipline on the driver
    * and inside an executor task. */
  def rewriteBin(bin: Bin): (Seq[String], GraftRlStagedFile) = {
    val tableDir = Paths.get(bin.dir)
    val schema = DataType.fromJson(bin.schemaJson).asInstanceOf[StructType]
    val name = s"data-opt-${java.util.UUID.randomUUID()}.parquet"
    val tmp = tableDir.resolve(s".inprogress-$name")
    val msg = GraftRlCodec.messageType(schema.fields.toSeq)
    val fac = new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(msg)
    val w = GraftRlCodec.openWriter(tmp, msg)
    val stats = new GraftRlStats(schema)
    val dt = if (bin.sortIdx < 0) null
      else schema.fields(bin.sortIdx).dataType
    val loK = if (bin.zIdx.nonEmpty) None else bin.lo.map(decodeKey(dt, _))
    val hiK = if (bin.zIdx.nonEmpty) None else bin.hi.map(decodeKey(dt, _))
    // Z mode: recompute each row's Morton code from the SHIPPED
    // bucket boundaries — planning and rewriting agree bit-for-bit,
    // driver-side or inside an executor task
    val zDts = bin.zIdx.map(schema.fields(_).dataType)
    val zBoundsDec: Seq[Seq[Any]] =
      bin.zBounds.zip(zDts).map { case (bs, d) => bs.map(decodeKey(d, _)) }
    val zBits = zBitsFor(bin.zIdx.size)
    def zOf(vals: Array[Any]): Long = interleave(
      bin.zIdx.indices.map(c =>
        zLane(zDts(c), zBoundsDec(c), vals(bin.zIdx(c)), zBits)), zBits)
    val zLo = if (bin.zIdx.isEmpty) None else bin.lo.map(_.toLong)
    val zHi = if (bin.zIdx.isEmpty) None else bin.hi.map(_.toLong)
    def keep(vals: Array[Any]): Boolean =
      if (!bin.ranged) true
      else if (bin.zIdx.nonEmpty) {
        val zv = zOf(vals)
        zLo.forall(zv >= _) && zHi.forall(zv < _)
      } else vals(bin.sortIdx) match {
        case null => bin.takeNulls
        case v => loK.forall(lo => cmpKey(dt, v, lo) >= 0) &&
          hiK.forall(hi => cmpKey(dt, v, hi) < 0)
      }
    // clustered rewrite: buffer the bin's live rows, sort, then write
    // (a bin is one cap-bounded range slice — bounded memory; see
    // emitRangeBins' capRows split)
    val buffer =
      if (bin.sortIdx < 0 && bin.zIdx.isEmpty) null
      else scala.collection.mutable.ArrayBuffer.empty[(Long, InternalRow)]
    def emit(vals: Array[Any], row: InternalRow): Unit =
      if (buffer != null)
        buffer += ((if (bin.zIdx.nonEmpty) zOf(vals) else 0L, row))
      else {
        w.write(GraftRlCodec.appendRow(fac, row, schema, 0))
        stats.update(row, 0)
      }
    try {
      bin.files.foreach { gf =>
        val present = schema.fields.take(gf.width)
        val dv =
          if (gf.dvName.isEmpty) Array.emptyLongArray
          else GraftRl.readDv(tableDir.resolve(gf.dvName))
        var dvIdx = 0
        var ord = 0L
        val reader = GraftRlCodec.openReader(
          tableDir.resolve(gf.name).toString,
          GraftRlCodec.messageType(present.toSeq))
        try {
          var g = reader.read()
          while (g != null) {
            val o = ord; ord += 1
            while (dvIdx < dv.length && dv(dvIdx) < o) dvIdx += 1
            if (!(dvIdx < dv.length && dv(dvIdx) == o)) {
              val vals = new Array[Any](schema.fields.length)
              var j = 0
              while (j < present.length) {
                vals(j) = GraftRlCodec.groupValue(g, j,
                  present(j).dataType)
                j += 1
              }
              if (keep(vals))
                emit(vals, InternalRow.fromSeq(vals.toIndexedSeq))
            }
            g = reader.read()
          }
        } finally reader.close()
      }
      if (buffer != null) {
        val i = bin.sortIdx
        val sorted =
          if (bin.zIdx.nonEmpty)
            // Z mode: in-file order is Morton order (stable sort, so
            // equal-Z rows keep deterministic fragment-read order)
            buffer.sortBy(_._1)
          else buffer.sortWith { case ((_, a), (_, b)) =>
            // Spark sort semantics: NULLS FIRST; NaN above every double
            (a.isNullAt(i), b.isNullAt(i)) match {
              case (true, false) => true
              case (_, true) => false
              case _ => dt match {
                case LongType => a.getLong(i) < b.getLong(i)
                case DoubleType => java.lang.Double.compare(
                  a.getDouble(i), b.getDouble(i)) < 0
                case _ =>
                  a.getUTF8String(i).compareTo(b.getUTF8String(i)) < 0
              }
            }
          }
        sorted.foreach { case (_, row) =>
          w.write(GraftRlCodec.appendRow(fac, row, schema, 0))
          stats.update(row, 0)
        }
      }
    } finally w.close()
    Files.move(tmp, tableDir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    (bin.files.map(_.name), GraftRlStagedFile(name, stats.rows, stats.token))
  }
}

/** Driver-side fault-injection seam for the concurrency specs: runs
  * immediately before a commit's first publish attempt so a test can
  * interleave a competing writer at exactly the racy instant.
  * No-ops in production. */
/** Per-thread streaming-transaction context for BATCH commits issued
  * inside a `foreachBatch` body (the Delta `txnAppId`/`txnVersion`
  * shape, reachable from SQL MERGE where writer options are not):
  * while set, every manifest publish on this thread stamps the
  * `#txn=<queryId>:<epochId>` header, making "epoch applied" and
  * "rows visible" one atomic publish — exactly the discipline the
  * native streaming sink uses. Thread-local because verification
  * harnesses run independent queries on sibling threads. */
private[sources] object GraftRlTxnContext {
  private val ctx = new ThreadLocal[String]
  def set(marker: String): Unit = ctx.set(marker)
  def clear(): Unit = ctx.remove()
  def meta: Map[String, String] =
    Option(ctx.get()).map(m => Map("txn" -> m)).getOrElse(Map.empty)
}

private[sources] object GraftRlConcurrencyHook {
  @volatile var beforeReplacePublish: () => Unit = () => ()
  @volatile var beforeAppendPublish: () => Unit = () => ()
  @volatile var beforeSchemaPublish: () => Unit = () => ()
  @volatile var beforeDeltaPublish: () => Unit = () => ()
  @volatile var afterTagPublish: () => Unit = () => ()
  /** Fires once, before OPTIMIZE's first publishDisjoint attempt
    * (after the bins were rewritten) — the racy instant for
    * compaction-vs-append tests. */
  @volatile var beforeOptimizePublish: () => Unit = () => ()
  /** Fires before each streaming-epoch publish attempt, AFTER the
    * in-loop zombie-marker re-check — a test can commit the same
    * epoch here to prove the window is closed. */
  @volatile var beforeEpochPublish: () => Unit = () => ()
}

/** FILE-DISJOINT CONFLICT DETECTION — the rebase half of optimistic
  * concurrency (Delta/Iceberg semantics): a row-level commit that
  * loses the version race is NOT automatically wrong — its result is
  * still valid if the winners' commits touched a DISJOINT set of
  * group files. The proof is per-file manifest-line identity: if
  * every file THIS commit read/vectored still appears in the CURRENT
  * manifest with an UNCHANGED line (same name, rows, stats, deletion
  * vector), no winner removed it, rewrote it, or attached a vector —
  * so replaying our file-level edit against the current snapshot
  * commits exactly what it would have committed without the race.
  * Any touched file whose line changed (or vanished) means a real
  * write-write conflict on shared rows → abort loudly, as before.
  * Appends by winners are always compatible: they land in the rebased
  * manifest untouched (snapshot-isolation semantics — a concurrent
  * INSERT's rows are not visible to a statement that began earlier,
  * exactly Delta's WriteSerializable default). */
private[sources] object GraftRlRebase {
  /** Bounded rebase-retry publish of a file-level edit. `touched` are
    * the base-manifest files this commit read (replace) or vectored
    * (delta); `edit` maps the CURRENT manifest to the next one, and
    * is only invoked after the disjointness proof passes. Returns the
    * published version, or None after a REAL conflict (caller aborts
    * and cleans up its staged files). */
  def publishDisjoint(dir: Path, baseVersion: Long,
      baseFiles: Seq[GraftRl.GroupFile], touched: Set[String],
      edit: Seq[GraftRl.GroupFile] => Seq[GraftRl.GroupFile],
      meta: Map[String, String] = Map.empty): Option[Long] = {
    val baseLine = baseFiles.map(g => g.name -> g.manifestLine).toMap
    var attempt = 0
    while (attempt < 16) {
      val cur = GraftRl.currentVersion(dir)
      val curFiles =
        if (cur == baseVersion) baseFiles
        else GraftRl.readManifest(dir, cur).getOrElse(
          throw new IllegalStateException(
            s"graft catalog: manifest v$cur vanished mid-commit in $dir"))
      if (cur != baseVersion) {
        val curLine = curFiles.map(g => g.name -> g.manifestLine).toMap
        val conflicting = touched.filterNot(n =>
          curLine.get(n).exists(l => baseLine.get(n).contains(l)))
        if (conflicting.nonEmpty) return None // real overlap: abort
      }
      if (GraftRl.publish(dir, cur + 1, GraftRl.render(edit(curFiles)),
          meta))
        return Some(cur + 1)
      attempt += 1
    }
    throw new IllegalStateException(
      s"graft catalog: gave up publishing after $attempt disjoint " +
        s"rebases in $dir (livelock?)")
  }
}

/** Manifest + group-file model: a table version is the list of
  * immutable Parquet group files named by `v<NNNNN>.manifest`, one
  * line per group — `<file> \t <rows> \t <stats>` where stats is a
  * comma-joined per-column token carrying TYPED min/max bounds plus
  * an exact null count:
  *
  *   - `l:<lo>:<hi>:<nulls>` BIGINT range; `l:_:_:<nulls>` all-null
  *   - `d:<lo>:<hi>:<nulls>` DOUBLE range over the file's NON-NaN
  *     values; `?` marks an unknown bound (hi=`?` when any NaN is
  *     present — Spark orders NaN above every double, so the true max
  *     is NaN and interval proofs must refuse; lo=`?` too when every
  *     non-null value is NaN); `d:_:_:<nulls>` all-null
  *   - `s:<lo>:<hi>:<nulls>` STRING range, EXACT bounds, both ≤ 32
  *     code points, percent-escaped (`% : , \t \n \r`, plus the bare
  *     `_`/`?` sentinels)
  *   - `t:<lo>:<hi>:<nulls>` STRING range, TRUNCATED bounds: lo is a
  *     ≤-the-true-min prefix, hi is a STRICT upper bound (truncated
  *     prefix of the max with the last code point incremented, the
  *     Parquet/Iceberg `truncate(n)` trick) or `?` when no increment
  *     exists — usable for pruning and none-match proofs, never for
  *     all-match equality
  *   - `x:<nulls>` null count known, no usable range (e.g. the file's
  *     min/max bytes are not valid UTF-8, so string bounds would be
  *     unsound); legacy `-`, `N:<nulls>`, `lo:hi[:nulls]` from the
  *     pre-typed grammar still parse (as unknown / all-null / BIGINT)
  *
  * The stats power static group pruning, metadata-only
  * COUNT/MIN/MAX, and metadata-only DELETE; they are advisory for
  * pruning (an unknown token just means "cannot prune") and
  * LOAD-BEARING only where a proof is required — there an unknown
  * token makes the fast path refuse, never lie. */
private[sources] object GraftRl {

  /** Parsed per-column stats. `nulls` is the exact null count when
    * known. [[AllNullStat]] asserts PROVABLY ZERO non-null values
    * (empty range — vacuously inside every interval). */
  sealed trait ColStat { def nulls: Option[Long] }
  final case class NoStat(nulls: Option[Long]) extends ColStat
  final case class AllNullStat(nulls: Option[Long]) extends ColStat
  final case class LongStat(lo: Long, hi: Long,
      nulls: Option[Long]) extends ColStat
  /** lo/hi over the file's NON-NaN values; `hi=None` when a NaN is
    * present (the Spark-order max is then NaN), `lo=None` too when
    * every non-null value is NaN. */
  final case class DoubleStat(lo: Option[Double], hi: Option[Double],
      nulls: Option[Long]) extends ColStat
  /** `exact=false`: lo is only a lower bound and hi (when present) a
    * STRICT upper bound — fine for pruning, never for `=` all-match. */
  final case class StringStat(lo: UTF8String, hi: Option[UTF8String],
      exact: Boolean, nulls: Option[Long]) extends ColStat

  private def parseToken(tok: String): ColStat = try {
    if (tok.isEmpty || tok == "-") NoStat(None)
    else if (tok.startsWith("N:"))
      AllNullStat(Some(tok.stripPrefix("N:").toLong))
    else if (tok.startsWith("x:"))
      NoStat(Some(tok.stripPrefix("x:").toLong))
    else if (tok.length > 1 && tok.charAt(1) == ':' &&
        "ldst".indexOf(tok.charAt(0)) >= 0) {
      val p = tok.split(":", 4)
      val nl = Some(p(3).toLong)
      tok.charAt(0) match {
        case 'l' =>
          if (p(1) == "_") AllNullStat(nl)
          else LongStat(p(1).toLong, p(2).toLong, nl)
        case 'd' =>
          if (p(1) == "_") AllNullStat(nl)
          else DoubleStat(
            if (p(1) == "?") None else Some(p(1).toDouble),
            if (p(2) == "?") None else Some(p(2).toDouble), nl)
        case 's' =>
          if (p(1) == "_") AllNullStat(nl)
          else StringStat(
            UTF8String.fromString(GraftRlStats.decodeBound(p(1))),
            Some(UTF8String.fromString(GraftRlStats.decodeBound(p(2)))),
            exact = p(2) != "?", nl)
        case 't' =>
          StringStat(
            UTF8String.fromString(GraftRlStats.decodeBound(p(1))),
            if (p(2) == "?") None
            else Some(UTF8String.fromString(GraftRlStats.decodeBound(p(2)))),
            exact = false, nl)
      }
    } else { // legacy BIGINT token `lo:hi[:nulls]`
      val parts = tok.split(":", 3)
      if (parts.length >= 2)
        LongStat(parts(0).toLong, parts(1).toLong,
          if (parts.length == 3) Some(parts(2).toLong) else None)
      else NoStat(None)
    }
  } catch { // malformed stats degrade to "no proof", never to a lie
    case _: RuntimeException => NoStat(None)
  }

  /** `dv` — an optional DELETION VECTOR: `(sidecar file, deleted-row
    * count)`. The sidecar holds the SORTED ORIGINAL ordinals of the
    * group's deleted rows (merge-on-read DELETE, [[GraftRlDeltaOp]]);
    * `rows` stays the file's ORIGINAL row count, so the column stats
    * remain valid UPPER bounds — sound for pruning and none-match /
    * all-match proofs (deleting rows never widens a range), while
    * exact-value fast paths (COUNT(col)/MIN/MAX pushdown) refuse when
    * a DV is present. */
  final case class GroupFile(name: String, rows: Long, statsToken: String,
      dv: Option[(String, Long)] = None) {
    private lazy val tokens: Array[String] = statsToken.split(",", -1)
    /** number of columns this file was WRITTEN with (one stats token
      * per column) — smaller than the current schema after an ALTER
      * TABLE ADD COLUMNS; the missing trailing columns of every row
      * read as NULL, which [[stat]] below KNOWS exactly */
    lazy val width: Int = tokens.length
    private lazy val parsed: Array[ColStat] = tokens.map(parseToken)
    /** rows that survive the deletion vector — exact. */
    def liveRows: Long = rows - dv.map(_._2).getOrElse(0L)
    /** Schema-evolution-aware accessor: a column the file predates is
      * all-NULL by construction — exact knowledge, not a refusal. */
    def stat(i: Int): ColStat =
      if (i >= width) AllNullStat(Some(rows)) else parsed(i)
    /** BIGINT (min, max) over NON-NULL values, when known. */
    def statsFor(i: Int): Option[(Long, Long)] = stat(i) match {
      case LongStat(lo, hi, _) => Some((lo, hi))
      case _ => None
    }
    def nullsFor(i: Int): Option[Long] = stat(i).nulls
    def manifestLine: String = dv match {
      case Some((d, n)) => s"$name\t$rows\t$statsToken\t$d\t$n"
      case None => s"$name\t$rows\t$statsToken"
    }
  }

  def manifestPath(dir: Path, v: Long): Path =
    dir.resolve(f"v$v%05d.manifest")

  def manifestVersions(dir: Path): Seq[Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }.sorted.toSeq

  def currentVersion(dir: Path): Long = {
    val vs = manifestVersions(dir)
    require(vs.nonEmpty, s"graft catalog: no manifests in $dir — corrupt " +
      "table (create writes v00000.manifest)")
    vs.max
  }

  def readManifest(dir: Path, v: Long): Option[Seq[GroupFile]] = {
    val p = manifestPath(dir, v)
    if (!Files.exists(p)) None
    else Some(Files.readString(p).split("\n", -1).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val parts = line.split("\t", -1)
        require(parts.length == 3 || parts.length == 5,
          s"graft catalog: malformed manifest line '$line' in $p")
        GroupFile(parts(0), parts(1).toLong, parts(2),
          if (parts.length == 5) Some((parts(3), parts(4).toLong))
          else None)
      })
  }

  /** COMMIT METADATA — `#key=value` header lines prepended to every
    * manifest (data-line parsers skip them). `ts` is the EXPLICIT
    * commit timestamp every publish records (epoch millis at the
    * publish instant), the field `TIMESTAMP AS OF` resolves from —
    * filesystem mtime is only a legacy fallback, because mtime is the
    * temp file's write time inherited through the hard link and is
    * perturbed by coarse granularity, backups/copies, and clock skew,
    * which is why Delta/Iceberg persist commit time in the log, not
    * the inode. `txn` (`<queryId>:<epochId>`) is the streaming
    * sink's idempotence marker ([[GraftRlStreamingWrite]]): recording
    * it INSIDE the manifest makes "epoch committed" and "rows
    * visible" one atomic publish — a replayed epoch after a crash
    * between manifest publish and checkpoint commit is detected and
    * skipped, never double-appended. */
  def readManifestMeta(dir: Path, v: Long): Map[String, String] = {
    val p = manifestPath(dir, v)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator
      .takeWhile(_.startsWith("#"))
      .flatMap(l => l.drop(1).split("=", 2) match {
        case Array(k, vv) => Some(k -> vv)
        case _ => None
      }).toMap
  }

  /** The commit instant of version `v`: the recorded `#ts` header,
    * falling back to manifest mtime only for pre-header manifests. */
  def commitTimeMillis(dir: Path, v: Long): Long =
    readManifestMeta(dir, v).get("ts").flatMap(_.toLongOption)
      .getOrElse(Files.getLastModifiedTime(manifestPath(dir, v)).toMillis)

  /** Highest epoch the streaming query `queryId` has committed into
    * this table: the max over (a) manifest headers scanned
    * newest-first (epochs only grow, so the newest marker is the
    * high-water mark) and (b) the retention sidecar — snapshot
    * expiration folds the markers of the manifests it retires into
    * `txns.list` so exactly-once survives log cleanup (Delta persists
    * setTransaction appIds in the snapshot for the same reason; a
    * marker bounded by retention would let an expire + checkpoint
    * replay double-append an epoch). O(versions) worst case for a
    * query that never committed. */
  def lastTxnEpoch(dir: Path, queryId: String): Option[Long] = {
    val fromManifests = manifestVersions(dir).sorted.reverseIterator
      .flatMap(v => readManifestMeta(dir, v).get("txn"))
      .collectFirst { case t if t.startsWith(queryId + ":") =>
        t.stripPrefix(queryId + ":").toLong
      }
    (fromManifests.toSeq ++ readTxnSidecar(dir).get(queryId)).maxOption
  }

  /** The retention sidecar: per-queryId epoch high-water marks whose
    * carrying manifests have been expired. Plain `<queryId>:<epoch>`
    * lines; the name is neither a `data-*` nor `dv-*` pattern, so
    * vacuum can never collect it. */
  def txnSidecarPath(dir: Path): Path = dir.resolve("txns.list")

  def readTxnSidecar(dir: Path): Map[String, Long] = {
    val p = txnSidecarPath(dir)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf(':')
      require(i > 0, s"graft catalog: malformed txn sidecar line '$l'")
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  }

  /** Fold `marks` into the sidecar (max per queryId) and replace it
    * atomically — called by snapshot expiration BEFORE the carrying
    * manifests are deleted, so a crash mid-expire can lose the
    * expire, never a marker. */
  def mergeTxnSidecar(dir: Path, marks: Map[String, Long]): Unit = {
    if (marks.isEmpty) return
    val merged = (readTxnSidecar(dir).toSeq ++ marks.toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)
    val tmp = Files.createTempFile(dir, ".txns", ".tmp")
    Files.writeString(tmp, merged.toSeq.sorted
      .map { case (q, e) => s"$q:$e" }.mkString("", "\n", "\n"))
    Files.move(tmp, txnSidecarPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic-exclusive manifest publish (the commit's linearization
    * point): write a temp file, HARD-LINK it to the versioned name —
    * link creation is atomic and fails if the target exists, so of
    * two racing commits to the same version exactly one wins. Returns
    * whether this writer won. Every publish stamps the `#ts` commit
    * header; callers add extra metadata (the streaming `txn` marker)
    * through `meta`. */
  def publish(dir: Path, v: Long, content: String,
      meta: Map[String, String] = Map.empty): Boolean = {
    meta.foreach { case (k, vv) =>
      require(k.matches("[a-z][a-z0-9_]*") && !vv.exists("\n\r\t" contains _),
        s"graft catalog: malformed manifest metadata $k=$vv")
    }
    val header = (Map("ts" -> System.currentTimeMillis().toString) ++ meta)
      .toSeq.sortBy(_._1)
      .map { case (k, vv) => s"#$k=$vv" }.mkString("", "\n", "\n")
    publishExclusive(dir, manifestPath(dir, v), header + content)
  }

  /** Versioned-schema publish, same discipline: `schema.json` is
    * version 0 (written once at CREATE), every ALTER publishes
    * `schema-<n>.json` by atomic-exclusive link. */
  def schemaPath(dir: Path, v: Long): Path =
    if (v == 0L) dir.resolve("schema.json")
    else dir.resolve(f"schema-$v%05d.json")

  def schemaVersions(dir: Path): Seq[Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect {
        case n if n.startsWith("schema-") && n.endsWith(".json") =>
          n.stripPrefix("schema-").stripSuffix(".json").toLong
      }.sorted.toSeq

  def currentSchemaVersion(dir: Path): Long =
    (0L +: schemaVersions(dir)).max

  def currentSchema(dir: Path): Option[StructType] = {
    if (!Files.exists(dir.resolve("schema.json"))) None
    else Some(DataType.fromJson(Files.readString(
      schemaPath(dir, currentSchemaVersion(dir))))
      .asInstanceOf[StructType])
  }

  def publishSchema(dir: Path, v: Long, json: String): Boolean =
    publishExclusive(dir, schemaPath(dir, v), json)

  private def publishExclusive(dir: Path, target: Path,
      content: String): Boolean = {
    if (Files.exists(target)) return false
    val tmp = dir.resolve(s".publish-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Deletion-vector sidecar codec: big-endian longs, the SORTED
    * original ordinals of a group's deleted rows. */
  def writeDv(path: Path, sortedPos: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(path)))
    try sortedPos.foreach(out.writeLong) finally out.close()
  }

  def readDv(path: Path): Array[Long] = {
    val bytes = Files.readAllBytes(path)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong)
  }

  def tagPath(dir: Path, name: String): Path = dir.resolve(s"tag-$name")

  def readTag(dir: Path, name: String): Option[Long] = {
    val p = tagPath(dir, name)
    if (!Files.exists(p)) None
    else Some(Files.readString(p).trim.toLong)
  }

  def tagVersions(dir: Path): Set[Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("tag-"))
      .flatMap(f => Files.readString(f.toPath).trim.toLongOption)
      .toSet

  def publishTag(dir: Path, name: String, version: Long): Boolean =
    publishExclusive(dir, tagPath(dir, name), version.toString)

  /** PARTITION-SPEC ERAS (Iceberg's partition evolution model, in its
    * single identity-column form): `partspec-<n>` files published by
    * the same atomic-exclusive link as manifests, each recording
    * `<manifestVersionAtPublish>:<col or '-'>`. The CURRENT spec is
    * the highest era; group files written under OLD eras are never
    * rewritten — per-file typed stats prune them correctly under any
    * predicate, and the key-grouped scan claim already stands down
    * when any kept file is not provably single-valued in the current
    * column. Legacy single-file `partcol` is era 0. */
  def partSpecPath(dir: Path, n: Long): Path =
    dir.resolve(f"partspec-$n%05d")

  def partSpecVersions(dir: Path): Seq[Long] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("partspec-") =>
        n.stripPrefix("partspec-").toLong
      }.toSeq.sorted

  def publishPartSpec(dir: Path, n: Long, atVersion: Long,
      col: Option[String]): Boolean =
    publishExclusive(dir, partSpecPath(dir, n),
      s"$atVersion:${col.getOrElse("-")}")

  /** The spec era history: (era, manifestVersionAtPublish, col). */
  def partSpecHistory(dir: Path): Seq[(Long, Long, Option[String])] = {
    val legacy = {
      val p = dir.resolve("partcol")
      if (Files.exists(p))
        Seq((0L, 0L, Some(Files.readString(p).trim)))
      else Seq.empty
    }
    legacy ++ partSpecVersions(dir).map { n =>
      val parts = Files.readString(partSpecPath(dir, n)).trim
        .split(":", 2)
      (n, parts(0).toLong,
        if (parts(1) == "-") None else Some(parts(1)))
    }
  }

  def readPartCol(dir: Path): Option[String] =
    partSpecHistory(dir).lastOption.flatMap(_._3)

  def readMorDelete(dir: Path): Boolean = readProp(dir, "delete.mode")
  def readMorUpdate(dir: Path): Boolean = readProp(dir, "update.mode")
  def readMorMerge(dir: Path): Boolean = readProp(dir, "merge.mode")

  private def readProp(dir: Path, key: String): Boolean = {
    val p = dir.resolve("props")
    Files.exists(p) &&
      Files.readString(p).linesIterator
        .exists(_.trim == s"$key=merge-on-read")
  }

  def render(files: Seq[GroupFile]): String =
    if (files.isEmpty) "" else files.map(_.manifestLine).mkString("", "\n", "\n")

  private def cmpU(a: UTF8String, b: UTF8String): Int = a.compareTo(b)

  /** THE shared typed comparison engine: `(allNonNull, noneNonNull)`
    * of `col <op> v` over the file's NON-NULL value domain — `None`
    * when no proof is possible. Pruning keeps a file unless
    * `noneNonNull` (nulls never satisfy a comparison); the delete
    * proof additionally needs the null count for `allNonNull` to
    * become an all-rows verdict. Spark's double semantics are honored
    * exactly: NaN sorts ABOVE every value (so a NaN-bearing file has
    * an unknown max and satisfies every `> v`), and NaN literals
    * refuse. Truncated string bounds prove none-match and
    * inequality-all-match, never `=` all-match. */
  def cmpStat(st: ColStat, op: String, v: Any): Option[(Boolean, Boolean)] =
    st match {
      case AllNullStat(_) => Some((true, true)) // vacuous: empty domain
      case NoStat(_) => None
      case LongStat(lo, hi, _) => v match {
        case x: Long => op match {
          case "=" | "<=>" => Some((lo == x && hi == x, x < lo || x > hi))
          case "<" => Some((hi < x, lo >= x))
          case "<=" => Some((hi <= x, lo > x))
          case ">" => Some((lo > x, hi <= x))
          case ">=" => Some((lo >= x, hi < x))
          case "<>" => Some((x < lo || x > hi, lo == x && hi == x))
          case _ => None
        }
        case _ => None
      }
      case DoubleStat(dlo, dhi, _) => v match {
        case x: Double if !x.isNaN => (dlo, dhi) match {
          case (Some(lo), Some(hi)) => op match { // NaN-free interval
            case "=" | "<=>" => Some((lo == x && hi == x, x < lo || x > hi))
            case "<" => Some((hi < x, lo >= x))
            case "<=" => Some((hi <= x, lo > x))
            case ">" => Some((lo > x, hi <= x))
            case ">=" => Some((lo >= x, hi < x))
            case "<>" => Some((x < lo || x > hi, lo == x && hi == x))
            case _ => None
          }
          case (Some(lo), None) => op match { // NaN present: max is NaN
            case "=" | "<=>" => Some((false, x < lo))
            case "<" => Some((false, lo >= x))
            case "<=" => Some((false, lo > x))
            case ">" => Some((lo > x, false)) // NaN > x holds too
            case ">=" => Some((lo >= x, false))
            case "<>" => Some((x < lo, false))
            case _ => None
          }
          case (None, _) => op match { // every non-null value is NaN
            case "=" | "<=>" | "<" | "<=" => Some((false, true))
            case ">" | ">=" | "<>" => Some((true, false))
            case _ => None
          }
        }
        case _ => None // NaN literal or foreign type: refuse
      }
      case StringStat(lo, hiOpt, exact, _) => v match {
        case x: UTF8String =>
          if (exact && hiOpt.isDefined) {
            val hi = hiOpt.get
            op match {
              case "=" | "<=>" => Some((cmpU(lo, x) == 0 && cmpU(hi, x) == 0,
                cmpU(x, lo) < 0 || cmpU(x, hi) > 0))
              case "<" => Some((cmpU(hi, x) < 0, cmpU(lo, x) >= 0))
              case "<=" => Some((cmpU(hi, x) <= 0, cmpU(lo, x) > 0))
              case ">" => Some((cmpU(lo, x) > 0, cmpU(hi, x) <= 0))
              case ">=" => Some((cmpU(lo, x) >= 0, cmpU(hi, x) < 0))
              case "<>" => Some((cmpU(x, lo) < 0 || cmpU(x, hi) > 0,
                cmpU(lo, x) == 0 && cmpU(hi, x) == 0))
              case _ => None
            }
          } else {
            // lo ≤ true min; hi (when present) is a STRICT upper bound
            def hiLe(y: UTF8String): Boolean = // true max < hi ≤ y ⇒ max < y
              hiOpt.exists(h => cmpU(h, y) <= 0)
            op match {
              case "=" | "<=>" =>
                Some((false, cmpU(x, lo) < 0 || hiOpt.exists(h =>
                  cmpU(x, h) >= 0)))
              case "<" => Some((hiLe(x), cmpU(lo, x) >= 0))
              case "<=" => Some((hiLe(x), cmpU(lo, x) > 0))
              case ">" => Some((cmpU(lo, x) > 0, hiLe(x)))
              case ">=" => Some((cmpU(lo, x) >= 0, hiLe(x)))
              case "<>" => Some((cmpU(x, lo) < 0 || hiOpt.exists(h =>
                cmpU(x, h) >= 0), false))
              case _ => None
            }
          }
        case _ => None
      }
    }

  /** Normalize a pushed-filter / V2-literal value into the column's
    * comparison domain: Long for BIGINT, Double for DOUBLE (integer
    * literals widen), UTF8String for STRING. */
  def normValue(dt: DataType, v: Any): Option[Any] = dt match {
    case LongType => v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case l: java.lang.Long => Some(l.longValue())
      case i: java.lang.Integer => Some(i.longValue())
      case _ => None
    }
    case DoubleType => v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case d: java.lang.Double => Some(d.doubleValue())
      case f: java.lang.Float => Some(f.doubleValue())
      case l: java.lang.Long => Some(l.doubleValue())
      case i: java.lang.Integer => Some(i.doubleValue())
      case _ => None
    }
    case StringType => v match {
      case u: UTF8String => Some(u)
      case s: String => Some(UTF8String.fromString(s))
      case _ => None
    }
    case _ => None
  }

  /** Conservative may-this-file-contain-a-match test against the
    * typed per-file stats. Returns true ("keep") on anything it
    * cannot prove — unknown columns, NaN literals, unknown filter
    * shapes — so pruning is always sound, never load-bearing. */
  def mightMatch(gf: GroupFile, schema: StructType,
      filter: SFilter): Boolean = {
    def colIdx(attr: String): Option[Int] =
      schema.fields.indexWhere(_.name == attr) match {
        case -1 => None
        case i => Some(i)
      }
    // keep unless the stats prove NO non-null row satisfies op v
    def keep(attr: String, op: String, v: Any): Boolean =
      colIdx(attr).flatMap { i =>
        normValue(schema.fields(i).dataType, v)
          .flatMap(x => cmpStat(gf.stat(i), op, x))
      } match {
        case Some((_, none)) => !none
        case None => true
      }
    filter match {
      case sf.EqualTo(a, v) => keep(a, "=", v)
      case sf.EqualNullSafe(a, v) if v != null => keep(a, "=", v)
      case sf.GreaterThan(a, v) => keep(a, ">", v)
      case sf.GreaterThanOrEqual(a, v) => keep(a, ">=", v)
      case sf.LessThan(a, v) => keep(a, "<", v)
      case sf.LessThanOrEqual(a, v) => keep(a, "<=", v)
      case sf.In(a, vs) => vs.isEmpty || vs.exists(v =>
        if (v == null) false else keep(a, "=", v))
      case sf.IsNull(a) =>
        !colIdx(a).flatMap(i => gf.nullsFor(i)).contains(0L)
      case sf.IsNotNull(a) =>
        !colIdx(a).exists(i => gf.stat(i) match {
          case AllNullStat(_) => true
          case s => s.nulls.contains(gf.rows)
        })
      case sf.And(l, r) =>
        mightMatch(gf, schema, l) && mightMatch(gf, schema, r)
      case sf.Or(l, r) =>
        mightMatch(gf, schema, l) || mightMatch(gf, schema, r)
      case _ => true
    }
  }

  /** Writes to a partitioned table declare
    * [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
    * clustered on the partition column: Spark shuffles the incoming
    * rows so each task sees whole partition values, keeping the
    * file-per-value layout tight instead of scattering every value
    * across every task's output file. */
  def maybeClustered(partCol: Option[String], bw: BatchWrite,
      sw: Option[org.apache.spark.sql.connector.write.streaming
        .StreamingWrite] = None): Write = {
    def streaming = sw.getOrElse(
      throw new UnsupportedOperationException(
        "graft catalog: this write does not support streaming"))
    partCol match {
      case Some(c) =>
        new Write with org.apache.spark.sql.connector.write
          .RequiresDistributionAndOrdering {
          override def toBatch: BatchWrite = bw
          override def toStreaming: org.apache.spark.sql.connector
            .write.streaming.StreamingWrite = streaming
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions
              .clustered(Array(Expressions.identity(c)))
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
        }
      case None => new Write {
        override def toBatch: BatchWrite = bw
        override def toStreaming: org.apache.spark.sql.connector
          .write.streaming.StreamingWrite = streaming
      }
    }
  }

  /** The single partition value of a file on column `i`, when
    * provable: `Some(Some(v))` (constant non-null v, no nulls),
    * `Some(None)` (all-null), `None` (mixed or unknown — the file
    * does not respect the partition layout, so scans degrade to
    * per-file partitions and no key grouping is claimed). */
  def partValueOf(gf: GroupFile, i: Int): Option[Option[Long]] =
    gf.statsFor(i) match {
      case Some((lo, hi)) if lo == hi &&
          gf.nullsFor(i).contains(0L) => Some(Some(lo))
      case None if gf.rows > 0L && (gf.stat(i) match {
          case AllNullStat(_) => true
          case s => s.nulls.contains(gf.rows)
        }) => Some(None)
      case _ => None
    }

  /** Tri-state per-file predicate coverage — the proof engine behind
    * METADATA-ONLY DELETE: `AllRows` means every row of the file
    * provably satisfies the predicate (drop the whole file from the
    * manifest, zero data I/O), `NoRows` means provably none does
    * (keep untouched), `SomeRows` means unprovable either way (the
    * caller must fall back to the copy-on-write rewrite). SQL null
    * semantics are honored: a NULL predicate keeps its row, so an
    * all-match proof additionally requires a ZERO null count on every
    * referenced column. Typed: BIGINT, DOUBLE (NaN-aware), and
    * STRING (exact-bounds) predicates all prove; truncated string
    * bounds prove none-match and range-all-match but never `=`
    * all-match. Everything unrecognized degrades to SomeRows: the
    * fast path may refuse, never lie. */
  sealed trait Coverage
  case object AllRows extends Coverage
  case object NoRows extends Coverage
  case object SomeRows extends Coverage

  def deleteCoverage(gf: GroupFile, schema: StructType,
      p: Predicate): Coverage = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    def refCol(e: VExpr): Option[Int] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        schema.fields.indexWhere(_.name == r.fieldNames()(0)) match {
          case -1 => None
          case i => Some(i)
        }
      case _ => None
    }
    def litOf(i: Int, e: VExpr): Option[Any] = e match {
      case l: VLit[_] => normValue(schema.fields(i).dataType, l.value)
      case _ => None
    }
    def nullsKnownZero(i: Int): Boolean = gf.nullsFor(i).contains(0L)
    // NULL comparisons are never TRUE (<=> against a non-null literal
    // included): nulls count toward "none", and they break an "all"
    // proof unless the null count is known to be zero
    def fromNonNull(i: Int, an: Boolean, nn: Boolean): Coverage =
      if (nn) NoRows // nulls never satisfy a comparison either
      else if (an && nullsKnownZero(i)) AllRows
      else SomeRows
    def eval(pred: Predicate): Coverage = pred match {
      case a: org.apache.spark.sql.connector.expressions.filter.And =>
        (eval(a.left()), eval(a.right())) match {
          case (AllRows, AllRows) => AllRows
          case (NoRows, _) | (_, NoRows) => NoRows
          case _ => SomeRows
        }
      case o: org.apache.spark.sql.connector.expressions.filter.Or =>
        (eval(o.left()), eval(o.right())) match {
          case (NoRows, NoRows) => NoRows
          case (AllRows, _) | (_, AllRows) => AllRows
          case _ => SomeRows
        }
      case _ => pred.name() match {
        case "ALWAYS_TRUE" => AllRows
        case "ALWAYS_FALSE" => NoRows
        case "IS_NULL" =>
          refCol(pred.children()(0)).flatMap(i =>
            gf.nullsFor(i).map(n =>
              if (n == gf.rows) AllRows
              else if (n == 0L) NoRows else SomeRows))
            .getOrElse(SomeRows)
        case "IS_NOT_NULL" =>
          refCol(pred.children()(0)).flatMap(i =>
            gf.nullsFor(i).map(n =>
              if (n == 0L) AllRows
              else if (n == gf.rows) NoRows else SomeRows))
            .getOrElse(SomeRows)
        case op @ ("=" | "<=>" | "<" | "<=" | ">" | ">=" | "<>") =>
          val ch = pred.children()
          if (ch.length != 2) SomeRows
          else {
            val direct = for {
              i <- refCol(ch(0)); v <- litOf(i, ch(1))
              r <- cmpStat(gf.stat(i), op, v)
            } yield (i, r)
            val flippedOp = op match {
              case "<" => ">" case "<=" => ">="
              case ">" => "<" case ">=" => "<=" case other => other
            }
            val flipped = for {
              i <- refCol(ch(1)); v <- litOf(i, ch(0))
              r <- cmpStat(gf.stat(i), flippedOp, v)
            } yield (i, r)
            direct.orElse(flipped) match {
              case Some((i, (an, nn))) => fromNonNull(i, an, nn)
              case None => SomeRows
            }
          }
        case "IN" =>
          val ch = pred.children()
          refCol(ch.head) match {
            case Some(i) =>
              val vs = ch.tail.flatMap(litOf(i, _))
              if (vs.length != ch.length - 1) SomeRows
              else {
                val per = vs.map(v => cmpStat(gf.stat(i), "=", v))
                if (per.exists(_.isEmpty)) SomeRows
                else {
                  val covs = per.flatten
                  if (covs.forall(_._2)) fromNonNull(i, an = false,
                    nn = true) // no value can match
                  else if (covs.exists(_._1) && nullsKnownZero(i))
                    AllRows // one value covers the whole file
                  else SomeRows
                }
              }
            case None => SomeRows
          }
        case _ => SomeRows
      }
    }
    if (gf.rows == 0L) NoRows else eval(p)
  }

  /** Extract the group names admitted by a runtime `_file IN (...)` /
    * `_file = ...` predicate; None when the predicate is not a
    * recognizable `_file` restriction (then it must be ignored — a
    * misread runtime filter would corrupt the replaced-group set). */
  def fileInValues(p: Predicate): Option[Set[String]] = {
    def litString(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value match {
        case u: UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }
    val ch = p.children()
    val onFile = ch.headOption.exists {
      case r: NamedReference => r.fieldNames().sameElements(Array("_file"))
      case _ => false
    }
    if (!onFile) None
    else p.name() match {
      case "IN" | "=" =>
        val vals = ch.tail.flatMap(litString)
        if (vals.length == ch.length - 1) Some(vals.toSet) else None
      case _ => None
    }
  }
}

/** Bound-string encoding + truncation for the manifest stats grammar. */
private[sources] object GraftRlStats {
  /** Truncation threshold for string bounds, in code points — the
    * Parquet/Iceberg `truncate(n)` discipline that keeps manifests
    * small under long text columns. */
  val TruncateAt = 32

  /** Percent-escape the characters the token grammar reserves
    * (`% : , \t \n \r`), plus the bare `_` / `?` sentinels. */
  def encodeBound(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '%' => b.append("%25")
      case ':' => b.append("%3A")
      case ',' => b.append("%2C")
      case '\t' => b.append("%09")
      case '\n' => b.append("%0A")
      case '\r' => b.append("%0D")
      case c => b.append(c)
    }
    val r = b.result()
    if (r == "_") "%5F" else if (r == "?") "%3F" else r
  }

  def decodeBound(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { b.append(c); i += 1 }
    }
    b.result()
  }

  /** Code-point prefix — a valid LOWER bound in UTF-8 byte order
    * (UTF-8 preserves code-point order, and a byte prefix never
    * compares above its extension). */
  def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= TruncateAt) s
    else s.substring(0, s.offsetByCodePoints(0, TruncateAt))

  /** STRICT upper bound for a truncated max: the ≤32-code-point
    * prefix with its last incrementable code point bumped (skipping
    * the surrogate gap). Every string with this prefix — the true max
    * included — compares strictly below the result. None when no
    * code point can be incremented (all U+10FFFF; practically never). */
  def truncUpper(s: String): Option[String] = {
    val cnt = s.codePointCount(0, s.length)
    val pre = if (cnt <= TruncateAt) s
      else s.substring(0, s.offsetByCodePoints(0, TruncateAt))
    val cps = pre.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val inc = if (cps(i) + 1 >= 0xD800 && cps(i) + 1 <= 0xDFFF) 0xE000
          else cps(i) + 1
        return Some(new String(cps, 0, i) +
          new String(Character.toChars(inc)))
      }
      i -= 1
    }
    None
  }

  /** UTF8Strings whose bytes are not valid UTF-8 round-trip lossily
    * through java.lang.String — bounds computed from them would be
    * UNSOUND, so the writer refuses string stats for such files. */
  def validUtf8(u: UTF8String): Boolean =
    UTF8String.fromString(u.toString) == u
}

/** Streaming per-column stats tracker — the manifest stats behind
  * static pruning, metadata-only aggregates, and metadata-only
  * deletes. Typed: BIGINT and DOUBLE min/max (doubles NaN-aware —
  * bounds cover the non-NaN domain and a seen NaN voids the upper
  * bound, matching Spark's NaN-greatest ordering), STRING min/max in
  * UTF8String BINARY order (the order Spark compares strings in),
  * truncated past [[GraftRlStats.TruncateAt]] code points, refused
  * outright for invalid-UTF-8 values. Null counts always exact. */
private[sources] final class GraftRlStats(schema: StructType) {
  private val n = schema.fields.length
  private val nulls = Array.fill(n)(0L)
  private val lmin = Array.fill(n)(Long.MaxValue)
  private val lmax = Array.fill(n)(Long.MinValue)
  private val lseen = Array.fill(n)(false)
  private val dmin = Array.fill(n)(Double.MaxValue)
  private val dmax = Array.fill(n)(Double.MinValue)
  private val dseen = Array.fill(n)(false) // non-NaN non-null seen
  private val nanSeen = Array.fill(n)(false)
  private val smin = new Array[UTF8String](n)
  private val smax = new Array[UTF8String](n)
  var rows = 0L

  def update(r: InternalRow, off: Int): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      if (r.isNullAt(i + off)) nulls(i) += 1
      else schema.fields(i).dataType match {
        case LongType =>
          val v = r.getLong(i + off)
          if (v < lmin(i)) lmin(i) = v
          if (v > lmax(i)) lmax(i) = v
          lseen(i) = true
        case DoubleType =>
          val v = r.getDouble(i + off)
          if (v.isNaN) nanSeen(i) = true
          else {
            if (v < dmin(i)) dmin(i) = v
            if (v > dmax(i)) dmax(i) = v
            dseen(i) = true
          }
        case StringType =>
          val v = r.getUTF8String(i + off)
          if (smin(i) == null || v.compareTo(smin(i)) < 0)
            smin(i) = v.copy()
          if (smax(i) == null || v.compareTo(smax(i)) > 0)
            smax(i) = v.copy()
        case dt => throw new IllegalStateException(s"unsupported $dt")
      }
      i += 1
    }
  }

  def token: String = (0 until n).map { i =>
    val nl = nulls(i)
    schema.fields(i).dataType match {
      case LongType =>
        if (lseen(i)) s"l:${lmin(i)}:${lmax(i)}:$nl" else s"l:_:_:$nl"
      case DoubleType =>
        if (!dseen(i) && !nanSeen(i)) s"d:_:_:$nl"
        else {
          val lo = if (dseen(i)) dmin(i).toString else "?"
          val hi = if (nanSeen(i)) "?" else dmax(i).toString
          s"d:$lo:$hi:$nl"
        }
      case StringType =>
        if (smin(i) == null) s"s:_:_:$nl"
        else if (!GraftRlStats.validUtf8(smin(i)) ||
            !GraftRlStats.validUtf8(smax(i))) s"x:$nl"
        else {
          val lo = smin(i).toString
          val hi = smax(i).toString
          if (lo.codePointCount(0, lo.length) <= GraftRlStats.TruncateAt &&
              hi.codePointCount(0, hi.length) <= GraftRlStats.TruncateAt)
            s"s:${GraftRlStats.encodeBound(lo)}:" +
              s"${GraftRlStats.encodeBound(hi)}:$nl"
          else {
            val hiB = GraftRlStats.truncUpper(hi)
              .map(GraftRlStats.encodeBound).getOrElse("?")
            s"t:${GraftRlStats.encodeBound(GraftRlStats.truncLower(lo))}:" +
              s"$hiB:$nl"
          }
        }
      case dt => throw new IllegalStateException(s"unsupported $dt")
    }
  }.mkString(",")
}

/** The Parquet group-file codec: one OPTIONAL Parquet column per
  * table column (INT64 / DOUBLE / UTF8 BINARY), written through
  * parquet-mr's public example API over [[java.nio.file]] (no
  * checksum-sidecar filesystem in the write path), read back with a
  * REQUESTED-SCHEMA projection so a scan decodes exactly the columns
  * it needs — the columnar contract that makes a two-column read of
  * a wide 100 TB table cheap. Doubles round-trip bit-exactly (NaN
  * payloads included); strings round-trip as raw UTF-8 bytes. */
private[sources] object GraftRlCodec {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types => PTypes}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.Type.Repetition

  /** One shared Hadoop conf for the read path (reads are conf-driven
    * in parquet-mr; the projection arrives via the ReadSupport
    * override below, so the conf itself is never mutated). */
  lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  def parquetField(f: StructField): org.apache.parquet.schema.Type =
    f.dataType match {
      case LongType =>
        PTypes.primitive(PrimitiveTypeName.INT64, Repetition.OPTIONAL)
          .named(f.name)
      case DoubleType =>
        PTypes.primitive(PrimitiveTypeName.DOUBLE, Repetition.OPTIONAL)
          .named(f.name)
      case StringType =>
        PTypes.primitive(PrimitiveTypeName.BINARY, Repetition.OPTIONAL)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
      case dt => throw new IllegalStateException(s"unsupported $dt")
    }

  def messageType(fields: Seq[StructField]): MessageType =
    new MessageType("graft_group", fields.map(parquetField): _*)

  def openWriter(path: Path, msg: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(
        new org.apache.parquet.io.LocalOutputFile(path))
      .withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** ReadSupport that pins the requested projection directly (the
    * conf-key route would need a mutable per-file Configuration). */
  private final class ProjectedRead(requested: MessageType)
      extends GroupReadSupport {
    override def init(conf: org.apache.hadoop.conf.Configuration,
        kv: java.util.Map[String, String], fileSchema: MessageType)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext =
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(requested)
    override def init(conf: org.apache.parquet.conf.ParquetConfiguration,
        kv: java.util.Map[String, String], fileSchema: MessageType)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext =
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(requested)
  }

  def openReader(path: String, requested: MessageType)
      : ParquetReader[Group] =
    ParquetReader.builder(new ProjectedRead(requested),
        new org.apache.hadoop.fs.Path(path))
      .withConf(hadoopConf).build()

  /** Value of requested-column `j` of a materialized group, in the
    * internal-row domain (null when absent). */
  def groupValue(g: Group, j: Int, dt: DataType): Any =
    if (g.getFieldRepetitionCount(j) == 0) null
    else dt match {
      case LongType => java.lang.Long.valueOf(g.getLong(j, 0))
      case DoubleType => java.lang.Double.valueOf(g.getDouble(j, 0))
      case StringType => UTF8String.fromBytes(g.getBinary(j, 0).getBytes)
      case other => throw new IllegalStateException(s"unsupported $other")
    }

  /** InternalRow → Parquet group. `off` skips leading non-data fields
    * (the row-level write path's `__row_operation` marker). String
    * bytes are COPIED out of the (reused) row buffer before they
    * reach Parquet's column buffers. */
  def appendRow(fac: SimpleGroupFactory, r: InternalRow,
      schema: StructType, off: Int): Group = {
    val g = fac.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      if (!r.isNullAt(i + off)) schema.fields(i).dataType match {
        case LongType => g.add(i, r.getLong(i + off))
        case DoubleType => g.add(i, r.getDouble(i + off))
        case StringType => g.add(i, Binary.fromConstantByteArray(
          r.getUTF8String(i + off).copy().getBytes))
        case dt => throw new IllegalStateException(s"unsupported $dt")
      }
      i += 1
    }
    g
  }
}

private[sources] class GraftRlTable(ident: String, dir: Path,
    tableSchema: StructType, version: Long,
    files: Seq[GraftRl.GroupFile], writable: Boolean,
    partCol: Option[String] = None, morDelete: Boolean = false,
    morUpdate: Boolean = false, morMerge: Boolean = false)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  /** `PARTITIONED BY (identity(col))` — reported back to Spark so
    * SHOW CREATE / catalog introspection see the layout, and the
    * scan's KeyGroupedPartitioning claim has a declared source. */
  override def partitioning(): Array[Transform] =
    partCol.map(c => Expressions.identity(c)).toArray

  private def conjCoverage(gf: GraftRl.GroupFile,
      predicates: Array[Predicate]): GraftRl.Coverage =
    predicates.foldLeft(GraftRl.AllRows: GraftRl.Coverage) { (acc, p) =>
      (acc, GraftRl.deleteCoverage(gf, tableSchema, p)) match {
        case (GraftRl.NoRows, _) | (_, GraftRl.NoRows) => GraftRl.NoRows
        case (GraftRl.AllRows, GraftRl.AllRows) => GraftRl.AllRows
        case _ => GraftRl.SomeRows
      }
    }

  /** METADATA-ONLY DELETE ([[SupportsDeleteV2]]): Spark's
    * OptimizeMetadataOnlyDeleteFromTable replaces the copy-on-write
    * rewrite with a pure manifest edit whenever every group file is
    * PROVABLY all-match (drop it) or none-match (keep it) under the
    * delete predicates — the typed per-file min/max/null-count stats
    * are the proof, now over BIGINT, DOUBLE, and STRING predicates
    * alike. Deleting an aligned key range from a 100 TB table then
    * costs zero data I/O: no scan, no rewrite, one manifest. Any
    * unprovable file makes canDeleteWhere refuse and the row-level
    * COW path runs instead — the fast path may refuse, never lie. */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    writable && files.forall(gf =>
      conjCoverage(gf, predicates) != GraftRl.SomeRows)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(writable,
      s"graft catalog: $ident is a versioned snapshot and is read-only")
    // a metadata delete's verdict is a pure function of each file's
    // stats, so a lost race REBASES by re-proving against the
    // winner's manifest — only a newly-appeared file the stats cannot
    // prove forces the loud abort (the statement must then re-run
    // through the row-level path)
    var attempt = 0
    while (true) {
      val cur = GraftRl.currentVersion(dir)
      val curFiles = if (cur == version) files
        else GraftRl.readManifest(dir, cur).getOrElse(
          throw new IllegalStateException(
            s"graft catalog: manifest v$cur vanished mid-commit"))
      if (curFiles.exists(gf =>
          conjCoverage(gf, predicates) == GraftRl.SomeRows))
        throw new java.util.ConcurrentModificationException(
          s"graft catalog: concurrent commit on $ident added a group " +
            "the metadata-delete proof cannot cover — re-run the " +
            "statement (it will take the row-level path)")
      val keep = curFiles.filter(gf =>
        conjCoverage(gf, predicates) != GraftRl.AllRows)
      if (GraftRl.publish(dir, cur + 1, GraftRl.render(keep))) return
      attempt += 1
      require(attempt < 16,
        s"graft catalog: gave up metadata delete after $attempt " +
          s"rebases on $ident (livelock?)")
    }
  }

  override def truncateTable(): Boolean = {
    require(writable,
      s"graft catalog: $ident is a versioned snapshot and is read-only")
    if (!GraftRl.publish(dir, version + 1, ""))
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: concurrent commit on $ident during TRUNCATE")
    true
  }

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.STREAMING_WRITE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)

  /** `_file` — the group file a row lives in: file provenance as a
    * metadata column, and the attribute Spark's runtime group
    * filtering narrows row-level operations on (a MERGE's dynamic
    * `_file IN (subquery)` is what keeps a one-partition upsert from
    * rewriting the whole table). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "group file this row was read from"
    },
    new MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "original row ordinal within its group file (deletion-vector " +
          "row id)"
    })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRlScanBuilder(dir, tableSchema, files, None,
      partCol.map(c => (c, tableSchema.fieldIndex(c))), options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable,
      s"graft catalog: $ident is a versioned snapshot and is read-only")
    new GraftRlWriteBuilder(dir, tableSchema, info.schema(), partCol,
      info.queryId())
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(writable,
      s"graft catalog: $ident is a versioned snapshot and is read-only")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        // merge-on-read: DELETE = vector only; UPDATE/MERGE = vector
        // the old ordinals + append the rewritten/inserted rows (the
        // delta protocol ships matched updates as delete+insert, so
        // one writer serves all three commands).
        if (morDelete && info.command() == RowLevelOperation.Command.DELETE
            || morUpdate &&
              info.command() == RowLevelOperation.Command.UPDATE
            || morMerge &&
              info.command() == RowLevelOperation.Command.MERGE)
          new GraftRlDeltaOp(dir, ident, tableSchema, version, files,
            info.command(), partCol.map(tableSchema.fieldIndex))
        else new GraftRlOperation(
          dir, ident, tableSchema, version, files, info.command(), partCol)
    }
  }
}

/** MERGE-ON-READ DELETE ([[org.apache.spark.sql.connector.write.SupportsDelta]]):
  * instead of the copy-on-write group rewrite, the matching rows'
  * `(_file, _pos)` row ids flow to a delta writer that accumulates
  * per-group DELETED ORDINALS, and the commit publishes DELETION
  * VECTOR sidecars — the next manifest binds the SAME immutable data
  * files plus a `dv-*.bin` per touched group. A misaligned
  * small DELETE on a 100 TB table then costs bytes proportional to
  * the rows KILLED, not the groups touched (Delta DVs / Iceberg
  * position deletes — the other half of production row-level ops).
  * Scans mask DV ordinals at read; OPTIMIZE folds DVs back into
  * clean files; a DV covering a whole file drops the file from the
  * manifest outright. Commit is optimistic like every other:
  * base+1 by atomic-exclusive link, lost race → staged sidecars
  * deleted + loud abort. */
private[sources] class GraftRlDeltaOp(dir: Path, ident: String,
    schema: StructType, baseVersion: Long,
    baseFiles: Seq[GraftRl.GroupFile],
    cmd: RowLevelOperation.Command = RowLevelOperation.Command.DELETE,
    partIdx: Option[Int] = None) extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-mor $cmd on $ident"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** UPDATE ships as DELETE(old row id) + INSERT(new row): the
    * deletion vector kills the old ordinal and the rewritten row
    * appends to a fresh group — no dedicated update channel needed. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRlScanBuilder(dir, schema, baseFiles, None, None)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftRlDvBatchWrite(dir, ident, schema, baseVersion,
              baseFiles, partIdx)
        }
    }
}

private[sources] final case class GraftRlDvStaged(
    deletes: Map[String, Array[Long]],
    inserts: Seq[GraftRlStagedFile] = Seq.empty)
  extends WriterCommitMessage

/** Task-side delta writer: deleted `(_file, _pos)` ids accumulate as
  * per-group ordinal lists; rewritten rows of an UPDATE ride the
  * ordinary group writer (lazily — a pure DELETE never opens one). */
private[sources] class GraftRlDvWriterFactory(dir: String,
    schema: StructType, partIdx: Option[Int])
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val acc = scala.collection.mutable
        .HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      private var ins: DataWriter[InternalRow] = _
      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        require(id.numFields == 2,
          s"graft catalog: delete row id has ${id.numFields} " +
            "fields, expected (_file, _pos)")
        acc.getOrElseUpdate(id.getUTF8String(0).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) +=
          id.getLong(1)
      }
      override def insert(row: InternalRow): Unit = {
        if (ins == null)
          ins = new GraftRlWriterFactory(dir, schema,
            rowOffset = 0, partIdx).createWriter(partitionId, taskId)
        ins.write(row)
      }
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new UnsupportedOperationException(
          "graft catalog: updates are represented as delete+insert")
      override def commit(): WriterCommitMessage = {
        val files = if (ins == null) Seq.empty
          else ins.commit().asInstanceOf[GraftRlStaged].files
        GraftRlDvStaged(acc.map { case (f, ps) =>
          f -> ps.toArray.sorted }.toMap, files)
      }
      override def abort(): Unit = if (ins != null) ins.abort()
      override def close(): Unit = if (ins != null) ins.close()
    }
}

/** Deletion-vector commit: per-task sorted ordinals union with any
  * EXISTING vector per group (repeated MOR deletes compose), publish
  * as new immutable sidecars in the next manifest. A vector covering
  * every original row drops the group from the manifest — reads then
  * never open it, and retention vacuums it with its history. An
  * UPDATE additionally APPENDS its rewritten rows as fresh groups
  * (staged through the ordinary Parquet writer, dot-prefixed then
  * renamed), so the commit is vectors + appends in one manifest. */
private[sources] class GraftRlDvBatchWrite(dir: Path, ident: String,
    schema: StructType, baseVersion: Long,
    baseFiles: Seq[GraftRl.GroupFile], partIdx: Option[Int])
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftRlDvWriterFactory(dir.toString, schema, partIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val merged = scala.collection.mutable
      .HashMap.empty[String, Array[Long]]
    val inserted = scala.collection.mutable
      .ArrayBuffer.empty[GraftRlStagedFile]
    messages.foreach {
      case GraftRlDvStaged(ds, files) =>
        ds.foreach { case (f, ps) =>
          merged.update(f, merged.get(f).map(_ ++ ps).getOrElse(ps))
        }
        inserted ++= files.filter(_.rows > 0)
      case m => throw new IllegalStateException(
        s"graft catalog: foreign delta commit message $m")
    }
    def cleanupInserted(): Unit =
      inserted.foreach(f => Files.deleteIfExists(dir.resolve(f.name)))
    if (merged.isEmpty && inserted.isEmpty) return // matched nothing
    val known = baseFiles.map(_.name).toSet
    val unknown = merged.keySet.filterNot(known)
    if (unknown.nonEmpty) {
      cleanupInserted()
      throw new IllegalStateException(
        s"graft catalog: delete named unknown group(s) $unknown — " +
          "refusing a vector no manifest binds")
    }
    // stage the replacement vectors ONCE, computed against the base
    // snapshot: the file-disjoint rebase below only fires when every
    // vectored group's manifest line is UNCHANGED in the current
    // manifest, so base-derived unions equal current-derived ones by
    // construction
    val staged = scala.collection.mutable.ArrayBuffer.empty[Path]
    val replacement = scala.collection.mutable
      .HashMap.empty[String, Option[GraftRl.GroupFile]]
    baseFiles.foreach { g =>
      merged.get(g.name).foreach { newPos =>
        val existing = g.dv.map(d =>
          GraftRl.readDv(dir.resolve(d._1))).getOrElse(Array.empty[Long])
        val union = (existing ++ newPos).distinct.sorted
        require(union.forall(p => p >= 0 && p < g.rows),
          s"graft catalog: delete ordinal out of range for ${g.name}")
        replacement(g.name) =
          if (union.length.toLong == g.rows) None // whole file dead
          else {
            val dvName = s"dv-${java.util.UUID.randomUUID()}.bin"
            GraftRl.writeDv(dir.resolve(dvName), union)
            staged += dir.resolve(dvName)
            Some(g.copy(dv = Some((dvName, union.length.toLong))))
          }
      }
    }
    GraftRlConcurrencyHook.beforeDeltaPublish()
    // FILE-DISJOINT commit (see GraftRlRebase): winners that touched
    // only OTHER groups — or just appended — rebase; a changed line
    // on any group this operation vectored is a real row conflict
    val published = GraftRlRebase.publishDisjoint(dir, baseVersion,
      baseFiles, merged.keySet.toSet,
      cur => cur.flatMap(g => replacement.getOrElse(g.name, Some(g))) ++
        inserted.map(_.toGroupFile),
      meta = GraftRlTxnContext.meta)
    if (published.isEmpty) {
      staged.foreach(Files.deleteIfExists)
      cleanupInserted()
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: concurrent commit on $ident — this row-level " +
          s"operation read snapshot v$baseVersion and another writer " +
          "changed one of the groups it deletes from before it could " +
          "publish; staged vectors and appends removed, re-run the " +
          "statement")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftRlDvStaged(_, files) =>
        files.foreach(f => Files.deleteIfExists(dir.resolve(f.name)))
      case _ => ()
    }
}

/** One row-level statement = one instance: carries the snapshot it
  * operates on (base version + group files) and RECORDS which groups
  * its scan actually read — after static stats pruning and runtime
  * `_file` filtering — so the commit replaces exactly those files.
  * The runtime-group-filter subquery does NOT flow through here
  * (Spark rebuilds it against the original table), so the recording
  * is unambiguous. */
private[sources] class GraftRlOperation(dir: Path, ident: String,
    schema: StructType, baseVersion: Long,
    baseFiles: Seq[GraftRl.GroupFile],
    cmd: RowLevelOperation.Command,
    partCol: Option[String] = None) extends RowLevelOperation {

  @volatile private var scanned: Option[Seq[String]] = None
  def recordScanned(names: Seq[String]): Unit = scanned = Some(names)
  def scannedGroups: Option[Seq[String]] = scanned

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-rl $cmd on $ident"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRlScanBuilder(dir, schema, baseFiles, Some(this), None)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft catalog: replace-write schema " +
        s"${info.schema().simpleString} != table ${schema.simpleString}")
    new WriteBuilder {
      override def build(): Write = GraftRl.maybeClustered(partCol,
        new GraftRlReplaceWrite(dir, ident, schema, baseVersion,
          baseFiles, GraftRlOperation.this,
          partCol.map(schema.fieldIndex)))
    }
  }
}

/** Scan builder shared by plain reads and row-level operations:
  * column pruning (including the `_file` metadata column) pushed all
  * the way into the Parquet column reader, and INEXACT filter
  * pushdown — pushed predicates prune GROUP FILES via the typed
  * manifest stats but are all returned as residual, so surviving
  * groups still yield every row (exactly the Parquet row-group-stats
  * discipline, and the only sound choice for a COW scan whose unread
  * groups are silently kept). */
private[sources] class GraftRlScanBuilder(dir: Path,
    tableSchema: StructType, files: Seq[GraftRl.GroupFile],
    op: Option[GraftRlOperation], partInfo: Option[(String, Int)],
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var candidates: Seq[GraftRl.GroupFile] = files
  private var accepted: Array[SFilter] = Array.empty
  private var agg: Option[(StructType, Seq[Array[Any]])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    candidates = candidates.filter(gf =>
      filters.forall(f => GraftRl.mightMatch(gf, tableSchema, f)))
    accepted = filters
    filters // ALL residual: stats pruning is inexact by design
  }
  override def pushedFilters(): Array[SFilter] = accepted

  /** METADATA-ONLY COUNT/MIN/MAX ([[SupportsPushDownAggregates]],
    * complete pushdown): an ungrouped COUNT(*) / COUNT(col) / MIN /
    * MAX is answered straight from the manifest — row counts summed,
    * per-file bounds folded — so `SELECT count(*)` on a 100 TB table
    * reads ZERO data files (the Iceberg metadata-table trick). Typed:
    * BIGINT and DOUBLE bounds serve MIN/MAX (a NaN-bearing double
    * file voids MAX — the true max is NaN, so the proof refuses);
    * STRING MIN/MAX only from EXACT bounds (truncated bounds are not
    * the value). Refused whenever a proof is impossible: any filter
    * present, a grouping, or a file whose stats cannot answer.
    * MIN/MAX ignore nulls by SQL semantics, so all-null files simply
    * contribute nothing. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation): Boolean =
    translateAgg(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation): Boolean = {
    agg = translateAgg(aggregation)
    agg.isDefined
  }

  private def translateAgg(
      aggregation: org.apache.spark.sql.connector.expressions
        .aggregate.Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (accepted.nonEmpty) return None // filtered: values need a scan
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        tableSchema.fields.indexWhere(_.name == r.fieldNames()(0)) match {
          case -1 => None
          case i => Some(i)
        }
      case _ => None
    }
    // METADATA-ONLY GROUP BY: grouping on a column every candidate
    // file is PROVABLY single-valued on (identity-partitioned tables
    // by construction; range-clustered BIGINT layouts whenever each
    // file's stats pin one value) — each group's aggregates fold over
    // exactly its files' manifest lines, so `GROUP BY part` on a
    // 100 TB table reads zero data files. One unprovable file makes
    // the whole pushdown refuse (never lie).
    val subsets: Option[Seq[(Seq[Any], Seq[GraftRl.GroupFile])]] =
      aggregation.groupByExpressions() match {
        case Array() => Some(Seq((Seq.empty[Any], candidates)))
        case Array(g) =>
          (g match {
            case r: NamedReference if r.fieldNames().length == 1 =>
              tableSchema.fields.indexWhere(f =>
                f.name == r.fieldNames()(0) &&
                  f.dataType == LongType) match {
                case -1 => None
                case i => Some(i)
              }
            case _ => None
          }).flatMap { gi =>
            val vals = candidates.map(gf => GraftRl.partValueOf(gf, gi))
            if (vals.contains(None)) None
            else Some(candidates.zip(vals.map(_.get))
              .groupBy(_._2).toSeq
              .map { case (k, fs) =>
                (Seq[Any](k.map(java.lang.Long.valueOf).orNull),
                  fs.map(_._1))
              }
              .sortBy { case (k, _) =>
                (k.head != null, Option(k.head)
                  .map(_.asInstanceOf[java.lang.Long].longValue)
                  .getOrElse(0L))
              })
          }
        case _ => None
      }
    if (subsets.isEmpty) return None
    // a deletion vector makes per-column values inexact (the deleted
    // rows' contribution is unknown) — COUNT(col)/MIN/MAX refuse;
    // COUNT(*) stays exact via liveRows
    def dvFree(files: Seq[GraftRl.GroupFile]): Boolean =
      files.forall(_.dv.isEmpty)
    // a bound usable for MIN (Some(None) = file contributes nothing)
    def loOf(gf: GraftRl.GroupFile, i: Int): Option[Option[Any]] =
      gf.stat(i) match {
        case _ if gf.rows == 0L => Some(None)
        case GraftRl.AllNullStat(_) => Some(None)
        case GraftRl.LongStat(lo, _, _) => Some(Some(lo))
        case GraftRl.DoubleStat(Some(lo), _, _) => Some(Some(lo))
        case GraftRl.StringStat(lo, _, true, _) => Some(Some(lo))
        case _ => None
      }
    def hiOf(gf: GraftRl.GroupFile, i: Int): Option[Option[Any]] =
      gf.stat(i) match {
        case _ if gf.rows == 0L => Some(None)
        case GraftRl.AllNullStat(_) => Some(None)
        case GraftRl.LongStat(_, hi, _) => Some(Some(hi))
        case GraftRl.DoubleStat(_, Some(hi), _) => Some(Some(hi))
        case GraftRl.StringStat(_, Some(hi), true, _) => Some(Some(hi))
        case _ => None
      }
    def ordLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Double, y: Double) => x < y
      case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
      case _ => false
    }
    def fold(bounds: Seq[Any], min: Boolean): Any =
      if (bounds.isEmpty) null
      else bounds.reduce((a, b) =>
        if (if (min) ordLt(a, b) else ordLt(b, a)) a else b)
    def boxed(v: Any): Any = v match {
      case l: Long => java.lang.Long.valueOf(l)
      case d: Double => java.lang.Double.valueOf(d)
      case other => other
    }
    def aggFor(files: Seq[GraftRl.GroupFile])
        : Option[(Seq[StructField], Seq[Any])] = {
      val out: Array[Option[(StructField, Any)]] =
        aggregation.aggregateExpressions().map {
          case _: CountStar =>
            Some((StructField("count_star", LongType, nullable = false),
              java.lang.Long.valueOf(files.map(_.liveRows).sum): Any))
          case c: Count if !c.isDistinct =>
            // COUNT(col) = rows minus nulls — needs a null count per file
            colOf(c.column()).filter(i => dvFree(files) &&
              files.forall(gf =>
                gf.rows == 0L || gf.nullsFor(i).isDefined)).map { i =>
              val v = files.map(gf =>
                gf.rows - gf.nullsFor(i).getOrElse(0L)).sum
              (StructField(s"count_$i", LongType, nullable = false),
                java.lang.Long.valueOf(v): Any)
            }
          case m: Min =>
            colOf(m.column()).filter(_ => dvFree(files)).flatMap { i =>
              val per = files.map(loOf(_, i))
              if (per.exists(_.isEmpty)) None
              else Some((StructField(s"min_$i",
                tableSchema.fields(i).dataType, nullable = true),
                boxed(fold(per.flatten.flatten, min = true))))
            }
          case m: Max =>
            colOf(m.column()).filter(_ => dvFree(files)).flatMap { i =>
              val per = files.map(hiOf(_, i))
              if (per.exists(_.isEmpty)) None
              else Some((StructField(s"max_$i",
                tableSchema.fields(i).dataType, nullable = true),
                boxed(fold(per.flatten.flatten, min = false))))
            }
          case _ => None
        }
      if (out.exists(_.isEmpty)) None
      else Some((out.flatten.map(_._1).toSeq, out.flatten.map(_._2).toSeq))
    }
    val perGroup = subsets.get.map { case (key, files) =>
      aggFor(files).map(fv => (key, fv))
    }
    if (perGroup.exists(_.isEmpty)) return None
    val keyFields: Seq[StructField] =
      aggregation.groupByExpressions() match {
        case Array(_) => Seq(StructField("group_key", LongType,
          nullable = true))
        case _ => Seq.empty
      }
    val aggFields: Seq[StructField] = perGroup.headOption
      .flatMap(_.map(_._2._1))
      .getOrElse(aggFor(Seq.empty).map(_._1).getOrElse(Seq.empty))
    if (aggFields.isEmpty &&
      aggregation.aggregateExpressions().nonEmpty) return None
    val rows: Seq[Array[Any]] = perGroup.flatten.map { case (key, (_, vs)) =>
      (key ++ vs).toArray
    }
    Some((StructType((keyFields ++ aggFields).toIndexedSeq), rows))
  }

  override def build(): Scan = agg match {
    case Some((schema, values)) => new GraftRlAggScan(dir, schema, values)
    case None => op match {
      case Some(o) =>
        new GraftRlRowLevelScan(dir, tableSchema, required, candidates, o)
      case None =>
        new GraftRlScan(dir, tableSchema, required, candidates, None,
          partInfo, options)
    }
  }
}

/** The manifest-answered aggregate scan: one partition, one row per
  * GROUP (one total row when ungrouped), the values computed on the
  * driver from stats — no data file is ever opened. The description
  * advertises the fast path so plan asserts can pin it. */
private[sources] class GraftRlAggScan(dir: Path, aggSchema: StructType,
    values: Seq[Array[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-rl-agg $dir metadata-only rows=${values.size} " +
      s"[${aggSchema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftRlAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[GraftRlAggPartition].values
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.size }
          override def get(): InternalRow =
            InternalRow.fromSeq(rows(i).toIndexedSeq)
          override def close(): Unit = ()
        }
    }
}

private[sources] final case class GraftRlAggPartition(
    values: Seq[Array[Any]]) extends InputPartition

/** One InputPartition per group file — a table with N groups scans
  * with N-way parallelism. A PARTITIONED table goes further: group
  * files are bucketed by their provable partition value and the scan
  * reports `KeyGroupedPartitioning(identity(partCol))`
  * ([[SupportsReportPartitioning]]), so joins and aggregates keyed on
  * the partition column run with ZERO exchange under
  * `spark.sql.sources.v2.bucketing.enabled` — storage-partitioned
  * execution straight off the manifest. The claim degrades honestly:
  * a pruned-away partition column, an empty scan, or any file whose
  * stats cannot prove a single value (a pre-partitioning layout)
  * falls back to per-file UnknownPartitioning. */
private[sources] class GraftRlScan(dir: Path, tableSchema: StructType,
    required: StructType, initial: Seq[GraftRl.GroupFile],
    op: Option[GraftRlOperation],
    partInfo: Option[(String, Int)] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with SupportsRuntimeV2Filtering {

  /** DYNAMIC FILE PRUNING ([[SupportsRuntimeV2Filtering]] on the
    * PLAIN scan): every table column is a runtime-filterable
    * attribute, so a join against a selectively-filtered build side
    * plans a dynamic-pruning subquery on the join key and this scan
    * drops — at RUNTIME, before any data I/O — every group whose
    * typed stats prove no build-side key can live in it (the same
    * coverage engine metadata-delete proofs use; `NoRows` = prune).
    * Spark's DPP classically needs a PARTITION column; stats-backed
    * group files extend it to ANY clustered column — which is
    * exactly what clustered OPTIMIZE maintains. A 100 TB fact scan
    * joined to "this week's keys" then reads the handful of groups
    * whose ranges intersect, not the table. Unprovable predicates
    * degrade to keep — runtime pruning may refuse, never lie.
    * Attributes are limited to the PRUNED read schema: Spark resolves
    * them against the relation's output, so naming a pruned-away
    * column is an analysis error, not a wider net. */
  override def filterAttributes(): Array[NamedReference] = {
    val data = tableSchema.fieldNames.toSet
    required.fieldNames.filter(data.contains)
      .map(Expressions.column)
  }

  override def filter(predicates: Array[Predicate]): Unit =
    kept = kept.filter(gf => predicates.forall(p =>
      GraftRl.deleteCoverage(gf, tableSchema, p) != GraftRl.NoRows))

  /** PRUNED-SIZE STATISTICS ([[SupportsReportStatistics]]): row count
    * and on-disk bytes of exactly the groups that SURVIVED static
    * stats pruning, scaled by `spark.sql.sources.fileCompressionFactor`
    * (the same knob file relations honor) — so the planner sees a
    * post-pushdown size, not the whole table, and a dimension-sized
    * catalog table gets auto-broadcast without a hint. Without this a
    * DSv2 relation defaults to `spark.sql.defaultSizeInBytes` (≈8 EB:
    * "never broadcast"), which at 100 TB turns every catalog-side
    * dimension join into an avoidable shuffle. Manifest-only: no file
    * is opened (sizes come from the filesystem metadata of the kept
    * groups). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rows = kept.map(_.liveRows).sum
    val diskBytes = kept.map { f =>
      try Files.size(dir.resolve(f.name)) catch { case _: Exception => 0L }
    }.sum
    val factor = try
      org.apache.spark.sql.internal.SQLConf.get.fileCompressionFactor
    catch { case _: Exception => 1.0 }
    val size = math.max(rows, (diskBytes * factor).toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** STREAMING READS (`spark.readStream.table(...)`): the manifest
    * version history IS a change log, so the table doubles as a
    * micro-batch source — see [[GraftRlChangeStream]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftRlChangeStream(dir, tableSchema, required, options)

  @volatile protected var kept: Seq[GraftRl.GroupFile] = initial

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-rl-table $dir groups=${kept.size} " +
      s"columns=[${required.fieldNames.mkString(",")}]"

  /** (nullKey?, key, files) per provable partition value — None when
    * key grouping cannot be claimed. */
  private def keyedGroups
      : Option[Seq[(Boolean, Long, Seq[GraftRl.GroupFile])]] =
    partInfo.flatMap { case (name, idx) =>
      if (!required.fieldNames.contains(name) || kept.isEmpty) None
      else {
        val vals = kept.map(f => GraftRl.partValueOf(f, idx))
        if (vals.contains(None)) None
        else Some(kept.zip(vals.map(_.get))
          .groupBy(_._2).toSeq
          .map { case (k, fs) =>
            (k.isEmpty, k.getOrElse(0L), fs.map(_._1)) }
          .sortBy { case (isNull, k, _) => (!isNull, k) })
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.identity(partInfo.get._1)), gs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(kept.size)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // the groups handed to Spark are BY CONTRACT the groups a
    // row-level commit replaces — record them on the operation
    op.foreach(_.recordScanned(kept.map(_.name)))
    def dvp(f: GraftRl.GroupFile): String =
      f.dv.map(d => dir.resolve(d._1).toString).getOrElse("")
    keyedGroups match {
      case Some(gs) => gs.map { case (isNull, k, fs) =>
        GraftRlKeyedPartition(
          fs.map(f => dir.resolve(f.name).toString).toArray,
          fs.map(_.name).toArray, fs.map(_.width).toArray,
          fs.map(_.rows).toArray, fs.map(dvp).toArray, isNull, k)
      }.toArray[InputPartition]
      case None => kept.map(f =>
        GraftRlPartition(Array(dir.resolve(f.name).toString),
          Array(f.name), Array(f.width),
          Array(f.rows), Array(dvp(f)))).toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRlReaderFactory(tableSchema, required)
}

/** The row-level variant adds runtime group filtering: Spark's
  * RowLevelOperationRuntimeGroupFiltering plans a `_file IN
  * (matching-groups subquery)` dynamic filter for conditions it
  * cannot push statically (a MERGE's ON references the source), and
  * this scan narrows its group list when that filter arrives. */
private[sources] class GraftRlRowLevelScan(dir: Path,
    tableSchema: StructType, required: StructType,
    initial: Seq[GraftRl.GroupFile], rlOp: GraftRlOperation)
  extends GraftRlScan(dir, tableSchema, required, initial, Some(rlOp))
  with SupportsRuntimeV2Filtering {

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(predicates: Array[Predicate]): Unit = {
    predicates.foreach { p =>
      GraftRl.fileInValues(p).foreach { names =>
        kept = kept.filter(f => names.contains(f.name))
      }
    }
    // runtime filters may arrive after an initial planInputPartitions
    // — re-record so the commit replaces the narrowed set
    rlOp.recordScanned(kept.map(_.name))
  }
}

private[sources] sealed trait GraftRlFileSet {
  def paths: Array[String]
  def names: Array[String]
  def widths: Array[Int]
  def rowCounts: Array[Long]
  /** deletion-vector sidecar path per file ("" = none). */
  def dvPaths: Array[String]
}

private[sources] final case class GraftRlPartition(
    paths: Array[String], names: Array[String], widths: Array[Int],
    rowCounts: Array[Long], dvPaths: Array[String])
  extends InputPartition with GraftRlFileSet

/** A partition-value group: several files, one key — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] half of
  * the scan's KeyGroupedPartitioning claim. */
private[sources] final case class GraftRlKeyedPartition(
    paths: Array[String], names: Array[String], widths: Array[Int],
    rowCounts: Array[Long], dvPaths: Array[String],
    keyIsNull: Boolean, key: Long)
  extends InputPartition with GraftRlFileSet
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(if (keyIsNull) null else java.lang.Long.valueOf(key))
}

/** The COLUMNAR read path: each file is opened with a REQUESTED
  * Parquet projection of exactly the required data columns the file
  * HAS (columns added after the file was written null-fill —
  * schema-on-read), the `_file` metadata column materializes from the
  * partition itself, and a scan that needs NO data column (a
  * filtered count's residual-free shape) serves its rows straight
  * from the manifest row counts without opening the file at all. */
private[sources] class GraftRlReaderFactory(tableSchema: StructType,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftRlFileSet]
    // required field → table column index, -1 for `_file`, -3 for `_pos`
    val fieldIdx: Array[Int] = required.fields.map(f =>
      if (f.name == "_file") -1
      else if (f.name == "_pos") -3
      else tableSchema.fieldIndex(f.name))
    new PartitionReader[InternalRow] {
      private var fileIdx = -1
      private var reader: org.apache.parquet.hadoop
        .ParquetReader[org.apache.parquet.example.data.Group] = _
      private var syntheticRows = 0L // original rows, served w/o opening
      private var fileName: UTF8String = _
      // required position → requested-projection position (-1 = _file,
      // -2 = null-fill: the file predates the column, -3 = _pos)
      private var slot: Array[Int] = _
      private var types: Array[DataType] = _
      private var current: InternalRow = _
      // deletion vector of the open file: sorted original ordinals;
      // `ord` is the NEXT original ordinal, dvIdx the mask pointer —
      // both advance monotonically, so masking is O(1) amortized
      private var dv: Array[Long] = Array.emptyLongArray
      private var dvIdx = 0
      private var ord = 0L

      private def masked(o: Long): Boolean = {
        while (dvIdx < dv.length && dv(dvIdx) < o) dvIdx += 1
        dvIdx < dv.length && dv(dvIdx) == o
      }

      private def openNext(): Boolean = {
        fileIdx += 1
        if (fileIdx >= gp.paths.length) return false
        fileName = UTF8String.fromString(gp.names(fileIdx))
        val width = gp.widths(fileIdx)
        val present = scala.collection.mutable.ArrayBuffer
          .empty[StructField]
        slot = new Array[Int](required.fields.length)
        var k = 0
        while (k < required.fields.length) {
          val ti = fieldIdx(k)
          slot(k) =
            if (ti < 0) ti
            else if (ti < width) { present += tableSchema.fields(ti);
              present.length - 1 }
            else -2
          k += 1
        }
        types = present.map(_.dataType).toArray
        dv = if (gp.dvPaths(fileIdx).isEmpty) Array.emptyLongArray
          else GraftRl.readDv(Paths.get(gp.dvPaths(fileIdx)))
        dvIdx = 0
        ord = 0L
        if (present.isEmpty) { // no data column: serve from the manifest
          syntheticRows = gp.rowCounts(fileIdx)
          reader = null
        } else {
          reader = GraftRlCodec.openReader(gp.paths(fileIdx),
            GraftRlCodec.messageType(present.toSeq))
        }
        true
      }

      private def toRow(g: org.apache.parquet.example.data.Group,
          o: Long): InternalRow = {
        val vals = new Array[Any](required.fields.length)
        var k = 0
        while (k < vals.length) {
          vals(k) = slot(k) match {
            case -1 => fileName
            case -2 => null
            case -3 => java.lang.Long.valueOf(o)
            case j => GraftRlCodec.groupValue(g, j, types(j))
          }
          k += 1
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }

      override def next(): Boolean = {
        while (true) {
          while (ord < syntheticRows) { // manifest-count path
            val o = ord; ord += 1
            if (!masked(o)) {
              current = InternalRow.fromSeq(slot.map {
                case -1 => fileName
                case -3 => java.lang.Long.valueOf(o)
                case _ => null
              }.toIndexedSeq)
              return true
            }
          }
          if (reader != null) {
            var g = reader.read()
            while (g != null) {
              val o = ord; ord += 1
              if (!masked(o)) { current = toRow(g, o); return true }
              g = reader.read()
            }
            reader.close(); reader = null
          }
          if (!openNext()) return false
          syntheticRows = if (reader == null) syntheticRows else 0L
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}

private[sources] class GraftRlWriteBuilder(dir: Path,
    tableSchema: StructType, writeSchema: StructType,
    partCol: Option[String], queryId: String = "")
  extends WriteBuilder with SupportsTruncate {
  require(writeSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
    tableSchema.fields.map(f => (f.name, f.dataType)).toSeq,
    s"graft catalog: write schema ${writeSchema.simpleString} must " +
      s"match table schema ${tableSchema.simpleString}")
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = {
    val partIdx = partCol.map(tableSchema.fieldIndex)
    GraftRl.maybeClustered(partCol,
      new GraftRlBatchWrite(dir, tableSchema, replace, partIdx),
      // streaming sink = append-per-epoch; a truncating (complete
      // mode) streaming write is refused by leaving it unbound
      if (replace) None
      else Some(new GraftRlStreamingWrite(dir, tableSchema, queryId,
        partIdx)))
  }
}

private[sources] final case class GraftRlStagedFile(name: String,
    rows: Long, statsToken: String) {
  def toGroupFile: GraftRl.GroupFile =
    GraftRl.GroupFile(name, rows, statsToken)
}

private[sources] final case class GraftRlStaged(
    files: Seq[GraftRlStagedFile]) extends WriterCommitMessage

/** INSERT / INSERT OVERWRITE commit: tasks stage immutable group
  * files (invisible until a manifest references them), the commit
  * publishes the next manifest by atomic-exclusive hard link, and a
  * LOST RACE REBASES — appends commute (the rebased manifest is the
  * winner's files plus ours) and an overwrite replaces everything
  * regardless, so retrying is sound for both. Bounded attempts; on
  * exhaustion the staged files are deleted and the commit fails
  * loudly. */
private[sources] class GraftRlBatchWrite(dir: Path, schema: StructType,
    replace: Boolean, partIdx: Option[Int]) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftRlWriterFactory(dir.toString, schema, rowOffset = 0, partIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case m: GraftRlStaged => m.files
      case m => throw new IllegalStateException(
        s"graft catalog: foreign commit message $m")
    }.filter(_.rows > 0).map(_.toGroupFile).toSeq
    GraftRlConcurrencyHook.beforeAppendPublish()
    var attempt = 0
    var done = false
    while (!done) {
      val cur = GraftRl.currentVersion(dir)
      val prior = if (replace) Seq.empty
        else GraftRl.readManifest(dir, cur).getOrElse(
          throw new IllegalStateException(
            s"graft catalog: manifest v$cur vanished mid-commit in $dir"))
      done = GraftRl.publish(dir, cur + 1, GraftRl.render(prior ++ staged),
        GraftRlTxnContext.meta)
      if (!done) {
        attempt += 1
        if (attempt >= 64) {
          staged.foreach(g => Files.deleteIfExists(dir.resolve(g.name)))
          throw new IllegalStateException(
            s"graft catalog: gave up publishing after $attempt rebases " +
              s"in $dir (livelock?) — staged files deleted, no partial " +
              "state published")
        }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftRlStaged(files) =>
        files.foreach(f => Files.deleteIfExists(dir.resolve(f.name)))
      case _ => ()
    }
}

/** STREAMING WRITES INTO the catalog (`df.writeStream.toTable(...)`)
  * — the sink half that closes the catalog-to-catalog loop with
  * [[GraftRlChangeStream]]: each micro-batch epoch appends its staged
  * group files as one ordinary manifest commit, so every downstream
  * consumer (time travel, retention, the change stream itself) sees
  * streaming output exactly like batch inserts.
  *
  * EXACTLY-ONCE across restarts, the Delta txn discipline: the commit
  * stamps `#txn=<queryId>:<epochId>` INTO the manifest header — the
  * marker and the rows become visible in ONE atomic publish. A
  * restarted query that replays an epoch (crash after the table
  * commit but before the checkpoint advanced — the classic
  * at-least-once window every sink faces) finds its own marker at or
  * beyond the replayed epoch, deletes the re-staged files, and skips:
  * no duplicate rows, ever. Epoch commits REBASE past concurrent
  * batch writers like any append (appends commute). */
private[sources] class GraftRlStreamingWrite(dir: Path,
    schema: StructType, queryId: String, partIdx: Option[Int])
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new GraftRlStreamingWriterFactory(dir.toString, schema, partIdx)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case m: GraftRlStaged => m.files
      case m => throw new IllegalStateException(
        s"graft catalog: foreign streaming commit message $m")
    }.filter(_.rows > 0).map(_.toGroupFile).toSeq
    require(queryId.nonEmpty,
      "graft catalog: streaming write without a query id cannot be " +
        "idempotent")
    if (staged.isEmpty) return // empty epoch: nothing to make visible
    var attempt = 0
    var done = false
    while (!done) {
      // pin the base version FIRST, then scan for our own marker: a
      // competing commit of this epoch (a ZOMBIE twin of this query
      // racing after a partial failover) is either <= cur — the scan
      // below sees it and we skip — or newer than cur, in which case
      // our publish at cur+1 loses the link race and we re-loop into
      // the same check. Publish is atomic, so no interleaving lets a
      // replayed epoch append twice (checking before reading cur
      // would leave exactly that window open).
      val cur = GraftRl.currentVersion(dir)
      if (GraftRl.lastTxnEpoch(dir, queryId).exists(_ >= epochId)) {
        // replayed epoch: the manifest already carries these rows
        staged.foreach(g => Files.deleteIfExists(dir.resolve(g.name)))
        return
      }
      val prior = GraftRl.readManifest(dir, cur).getOrElse(
        throw new IllegalStateException(
          s"graft catalog: manifest v$cur vanished mid-commit in $dir"))
      GraftRlConcurrencyHook.beforeEpochPublish()
      done = GraftRl.publish(dir, cur + 1,
        GraftRl.render(prior ++ staged),
        Map("txn" -> s"$queryId:$epochId"))
      if (!done) {
        attempt += 1
        if (attempt >= 64) {
          staged.foreach(g => Files.deleteIfExists(dir.resolve(g.name)))
          throw new IllegalStateException(
            s"graft catalog: gave up streaming epoch $epochId after " +
              s"$attempt rebases in $dir (livelock?)")
        }
      }
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftRlStaged(files) =>
        files.foreach(f => Files.deleteIfExists(dir.resolve(f.name)))
      case _ => ()
    }
}

/** Top-level (capture-free) streaming writer factory: per-epoch tasks
  * reuse the ordinary batch group writer — same dot-prefixed staging,
  * same typed stats. */
private[sources] class GraftRlStreamingWriterFactory(dir: String,
    schema: StructType, partIdx: Option[Int])
  extends org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftRlWriterFactory(dir, schema, rowOffset = 0, partIdx)
      .createWriter(partitionId, taskId)
}

/** Row-level (DELETE/UPDATE/MERGE) commit: replaces EXACTLY the
  * groups the operation's scan read — survivors of static stats
  * pruning and runtime `_file` filtering — with the staged
  * post-operation files, publishing base+1 by the same
  * atomic-exclusive link. NO REBASE here: the replacement rows were
  * computed against the base snapshot, so if any other commit won
  * version base+1 first this one ABORTS loudly and deletes its
  * staged files — optimistic concurrency, no lost update. */
private[sources] class GraftRlReplaceWrite(dir: Path, ident: String,
    schema: StructType, baseVersion: Long,
    baseFiles: Seq[GraftRl.GroupFile], op: GraftRlOperation,
    partIdx: Option[Int]) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftRlWriterFactory(dir.toString, schema, rowOffset = 1, partIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: GraftRlStaged => m.files }
      .flatten.filter(_.rows > 0).map(_.toGroupFile).toSeq
    def cleanup(): Unit =
      staged.foreach(g => Files.deleteIfExists(dir.resolve(g.name)))
    // Some(Seq()) is EXACT knowledge — the scan planned and read zero
    // groups (empty table, or every group pruned statically/at
    // runtime), so the staged rows are pure NOT-MATCHED inserts and
    // the commit degenerates to an append. Only None (the scan was
    // never consulted at all) refuses: a write that cannot name the
    // files it replaces must not guess.
    val read = op.scannedGroups match {
      case Some(names) => names
      case None if staged.nonEmpty =>
        cleanup()
        throw new IllegalStateException(
          s"graft catalog: $ident ${op.command()} produced replacement " +
            "rows but its scan never planned — refusing a commit " +
            "that cannot name the files it replaces")
      case None => Seq.empty
    }
    val readSet = read.toSet
    GraftRlConcurrencyHook.beforeReplacePublish()
    // FILE-DISJOINT commit: losing the version race only aborts when
    // a winner touched one of the groups this operation READ — a
    // winner that appended, or rewrote OTHER groups, rebases cleanly
    // (replace our read files in the CURRENT manifest instead of the
    // base one; our replacement rows were computed from files the
    // winners provably left bit-identical)
    val published = GraftRlRebase.publishDisjoint(dir, baseVersion,
      baseFiles, readSet,
      cur => cur.filterNot(g => readSet.contains(g.name)) ++ staged,
      meta = GraftRlTxnContext.meta)
    if (published.isEmpty) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"graft catalog: concurrent commit on $ident — this " +
          s"${op.command()} read snapshot v$baseVersion and another " +
          "writer changed one of the groups it read before it could " +
          "publish; the operation aborts (its staged files are " +
          "deleted, the other writer's commit is intact) — re-run " +
          "the statement against the current snapshot")
    }
    // replaced groups stay on disk: still referenced by older
    // manifests (time travel) until expireSnapshots retires them
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftRlStaged(files) =>
        files.foreach(f => Files.deleteIfExists(dir.resolve(f.name)))
      case _ => ()
    }
}

/** Tasks write Parquet group files under DOT-PREFIXED in-progress
  * names and rename to their final immutable `data-*.parquet` names
  * only at task commit — a half-written file is therefore never a
  * vacuum candidate (it does not match the data-file pattern), and a
  * committed-but-unpublished one is additionally protected by the
  * vacuum grace window. Tracks typed per-column
  * min/max/null-count stats while writing (the manifest stats behind
  * static pruning, metadata-only aggregates, and metadata-only
  * deletes). PARTITIONED tables split each task's output into one
  * file per partition value (writes are clustered on the partition
  * column, so a task sees whole values); files are opened lazily on
  * first row, so empty tasks stage nothing. */
private[sources] class GraftRlWriterFactory(dir: String,
    schema: StructType, rowOffset: Int,
    partIdx: Option[Int] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val nCols = schema.fields.length
      private val msg = GraftRlCodec.messageType(schema.fields.toSeq)
      private val fac =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)

      private final class FileState {
        val name = f"data-p$partitionId%05d-t$taskId-" +
          s"${java.util.UUID.randomUUID()}.parquet"
        val tmp = Paths.get(dir).resolve(s".inprogress-$name")
        val path = Paths.get(dir).resolve(name)
        val writer = GraftRlCodec.openWriter(tmp, msg)
        val stats = new GraftRlStats(schema)
        var closed = false
        def closeQuietly(): Unit = if (!closed) {
          closed = true
          try writer.close() catch { case _: Exception => () }
        }
      }
      // keyed by partition value (null key boxed as the sentinel);
      // unpartitioned writes use a single shared key
      private val states =
        scala.collection.mutable.LinkedHashMap.empty[Any, FileState]

      /** Row-level rewrites have shipped rows in two shapes across
        * Spark 4 minors: with a leading `__row_operation` marker the
        * declared schema does not mention (before this table declared
        * metadata attributes) and, once ReplaceDataProjections are
        * planned, with exactly the data columns. Resolve the offset
        * from the first row's arity and hold EVERY later row to it —
        * a mixed-arity stream must fail loudly, not shift columns. */
      private var off = -1

      override def write(r: InternalRow): Unit = {
        if (off < 0) {
          off = r.numFields - nCols
          require(rowOffset == 0 && off == 0 ||
            rowOffset == 1 && (off == 0 || off == 1),
            s"graft catalog: writer row has ${r.numFields} fields for " +
              s"a ${nCols}-column table (expected offset $rowOffset)")
        }
        require(r.numFields == nCols + off,
          s"graft catalog: writer row arity drifted mid-stream — " +
            s"${r.numFields} fields after resolving offset $off for " +
            s"a $nCols-column table")
        val key: Any = partIdx match {
          case Some(i) =>
            if (r.isNullAt(i + off)) " null"
            else java.lang.Long.valueOf(r.getLong(i + off))
          case None => "all"
        }
        val st = states.getOrElseUpdate(key, new FileState)
        st.writer.write(GraftRlCodec.appendRow(fac, r, schema, off))
        st.stats.update(r, off)
      }

      override def commit(): WriterCommitMessage = {
        states.values.foreach { st =>
          st.closed = true
          st.writer.close()
          Files.move(st.tmp, st.path, StandardCopyOption.ATOMIC_MOVE)
        }
        GraftRlStaged(states.values.map(st =>
          GraftRlStagedFile(st.name, st.stats.rows,
            st.stats.token)).toSeq)
      }

      override def abort(): Unit = states.values.foreach { st =>
        st.closeQuietly()
        Files.deleteIfExists(st.tmp)
        Files.deleteIfExists(st.path)
      }
      override def close(): Unit = ()
    }
}

/** STREAMING READS of a catalog table — the manifest version history
  * as a micro-batch CHANGE LOG (the Delta `readStream.table` shape):
  * offsets are manifest VERSIONS, each micro-batch serves the rows of
  * the group files a version ADDED relative to its predecessor, and
  * admission control caps versions per batch (`maxVersionsPerBatch`,
  * default 1) so a long history drains in bounded, checkpointed
  * steps. Semantics are APPEND-ONLY, verified not assumed: a version
  * that also REMOVED files (DELETE/UPDATE/MERGE/OVERWRITE/OPTIMIZE
  * rewrote groups) fails the stream loudly — streaming a rewritten
  * row twice or missing its deletion would silently corrupt every
  * downstream aggregate — unless `skipChangeCommits=true` opts into
  * ignoring those commits wholesale (Delta's knob, same name).
  * Supports `startingVersion` (exclusive low-water mark, default 0 =
  * from creation) and `Trigger.AvailableNow` (end pinned at prepare
  * time). A version retired by snapshot retention refuses loudly:
  * history older than retention cannot be replayed. */
private[sources] class GraftRlChangeStream(dir: Path,
    tableSchema: StructType, required: StructType,
    options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val maxVersions = options.getInt("maxVersionsPerBatch", 1)
  require(maxVersions > 0,
    "graft catalog: maxVersionsPerBatch must be positive")
  private val skipChangeCommits =
    options.getBoolean("skipChangeCommits", false)
  private val startingVersion = options.getLong("startingVersion", 0L)

  private case class VOff(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  @volatile private var availableNowEnd: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = GraftRl.currentVersion(dir)

  override def initialOffset(): Offset = VOff(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft catalog stream: latestOffset(Offset, ReadLimit) is the " +
        "admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VOff].v
    val hardEnd =
      if (availableNowEnd >= 0L) availableNowEnd
      else GraftRl.currentVersion(dir)
    VOff(math.min(from + maxVersions, math.max(from, hardEnd)))
  }

  override def reportLatestOffset(): Offset = VOff(
    if (availableNowEnd >= 0L) availableNowEnd
    else GraftRl.currentVersion(dir))

  private def manifestAt(v: Long): Seq[GraftRl.GroupFile] =
    GraftRl.readManifest(dir, v).getOrElse(
      throw new IllegalStateException(
        s"graft catalog stream: manifest v$v has been expired by " +
          "snapshot retention — history older than retention cannot " +
          "be replayed; restart from a live startingVersion"))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VOff].v
    val to = end.asInstanceOf[VOff].v
    (from + 1 to to).flatMap { v =>
      val prev = manifestAt(v - 1).map(g => g.name -> g).toMap
      val cur = manifestAt(v)
      val curByName = cur.map(g => g.name -> g).toMap
      // a CHANGE commit is any removed group OR one whose manifest
      // line changed in place — a deletion-vector attach keeps the
      // name but deletes rows, which append-only cannot represent
      val changed = prev.collect {
        case (n, g) if !curByName.get(n).map(_.manifestLine)
          .contains(g.manifestLine) => n
      }
      val added = cur.filterNot(g => prev.contains(g.name))
      if (changed.nonEmpty) {
        if (!skipChangeCommits)
          throw new IllegalStateException(
            s"graft catalog stream: version $v of $dir REWRITES " +
              s"group(s) ${changed.mkString(",")} (DELETE/UPDATE/" +
              "MERGE/OVERWRITE/OPTIMIZE or a deletion vector) — " +
              "append-only streaming cannot represent it; set " +
              "skipChangeCommits=true to ignore change commits " +
              "wholesale")
        Nil // Delta semantics: skip the entire change commit
      } else added.map(g => GraftRlPartition(
        Array(dir.resolve(g.name).toString), Array(g.name),
        Array(g.width), Array(g.rows),
        Array(g.dv.map(d => dir.resolve(d._1).toString).getOrElse(""))))
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRlReaderFactory(tableSchema, required)

  override def deserializeOffset(json: String): Offset =
    VOff(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
