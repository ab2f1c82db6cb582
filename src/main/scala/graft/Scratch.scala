package graft

import java.nio.file.{Files, Path, Paths}

/** Per-run scratch directories for ephemeral harness state: streaming
  * checkpoints/offset logs, fixture staging, per-query catalog
  * warehouses. All of it is created, consumed, and deleted inside one
  * query's execution — durability across a crash buys nothing, but
  * every micro-batch pays an fsync into the offset/commit log and the
  * state store, so the DEVICE under these directories is a direct
  * multiplier on the streaming tier's floor (guide §6 I/O; r20
  * verdict item 4: "checkpoint/offset-log on an in-memory or
  * local-FS-backed store").
  *
  * Base resolution, in order:
  *  1. `SPARK_GRAFT_SCRATCH_DIR` env — production knob: point it at
  *     the fast local device (NVMe scratch, ramdisk) the deployment
  *     provisions for ephemeral state;
  *  2. `/dev/shm` when present and writable (Linux tmpfs — RAM-backed,
  *     fsync is a no-op; the data is MBs of fixture state, never a
  *     memory hazard);
  *  3. `java.io.tmpdir` — the previous behaviour, and the fallback on
  *     platforms without a tmpfs.
  *
  * This changes WHERE ephemeral state lives, never WHAT is computed:
  * every query still computes from its parquet inputs each run.
  *
  * Each JVM gets its own `graft-scratch/jvm-<pid>-…` subdir as its
  * [[base]], removed at exit once empty: listing the base shows this
  * process's scopes only, never those of another graft JVM on the host.
  *
  * Scope contract: [[scoped]] is the only way to get a scratch dir. It
  * lends a fresh dir under [[base]] to its body and deletes the whole
  * tree when the body exits, normally or by exception, so nothing under
  * the base outlives the scope that made it. A scope must therefore
  * close only once nothing reads its files again: a frame returned out
  * of a scope must not scan the dir (checkpoint or collect it first).
  */
object Scratch {
  lazy val base: Path = {
    val pick = sys.env.get("SPARK_GRAFT_SCRATCH_DIR").map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    val shared = Files.createDirectories(pick.resolve("graft-scratch"))
    val root = Files.createTempDirectory(shared,
      s"jvm-${ProcessHandle.current.pid}-")
    root.toFile.deleteOnExit()
    root
  }

  /** Lend a fresh dir named `prefix…` under [[base]] to `body`, and
    * delete its tree on every exit. */
  def scoped[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(base, prefix)
    try body(dir)
    finally graft.streaming.StreamingResidue.deleteRecursively(dir)
  }

  /** Ephemeral-checkpoint I/O settings for a session builder, applied
    * by every harness main (Bench/Verify/Prof/...). Two measured costs
    * of the default checkpoint stack on per-query scratch checkpoints
    * (thread-dump evidence, r21):
    *
    *  - the default FileContext-based checkpoint manager's
    *    `renameTempFile` walks Hadoop's
    *    `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal`,
    *    which FORKS a shell (`readlink`) per state-store file commit —
    *    32 join tasks × 4 state stores × N batches of subprocess forks
    *    dominated q291's micro-batches (72 s task time, <1 s CPU). The
    *    FileSystem-based manager renames through `File.renameTo`, no
    *    fork: q291 12.6 → 5.5 s warm.
    *  - Spark 4.1's checkpoint file CHECKSUMS (on by default) write a
    *    companion checksum file per checkpoint file through a
    *    thread-pool await; integrity verification buys nothing for
    *    same-process scratch checkpoints deleted seconds later:
    *    q291 5.5 → 4.8 s warm.
    *
    * Both are env-overridable for deployments with durable multi-node
    * checkpoints (HDFS/object store), where the FileContext manager's
    * atomic-rename semantics and file checksums are the right trade:
    * `SPARK_GRAFT_CKPT_MANAGER=default` keeps Spark's resolution,
    * `SPARK_GRAFT_CKPT_CHECKSUM=true` re-enables checksums.
    */
  def tuneCheckpoints(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder = {
    val mgr = sys.env.getOrElse("SPARK_GRAFT_CKPT_MANAGER",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    if (mgr.nonEmpty && mgr != "default")
      b.config("spark.sql.streaming.checkpointFileManagerClass", mgr)
    b.config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
  }
}
