package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped tracking of the storage the operators materialize
  * internally — both `persist`ed DataFrames (Dedup/Similarity
  * signature tables that feed both sides of a self-join — see
  * Dedup.minhashPairs) and `localCheckpoint`ed RDD blocks (the
  * per-round label frames of Dedup.connectedComponents).
  *
  * Persist/checkpoint is the right call per query; the leak is per
  * *session*: a long-lived JVM running many queries accumulates
  * MEMORY_AND_DISK blocks it can never release because the handles are
  * buried inside returned lazy plans — checkpoint blocks in particular
  * are freed only when the frame is GC'd AND the ContextCleaner runs,
  * which in a packed multi-query session is far too late (measured as
  * a multi-query interference band in the r4 bench). Operators
  * therefore register a release thunk here for every block of storage
  * they hand back inside a result plan, and callers release them once
  * the query's result is materialized (`Bench`/`Verify` do this
  * between queries; an embedding application should do the same per
  * unit of work).
  *
  * Scope contract: the registry is process-global, so `releaseAll()`
  * drops EVERY tracked handle in the JVM — it assumes one unit of work
  * in flight at a time (true of Bench/Verify/Job, and of a streaming
  * micro-batch, which NearDupStream releases at batch end).
  * The two handle kinds FAIL DIFFERENTLY when released early:
  * persists are hints (an unpersisted plan recomputes from lineage —
  * a perf loss, never a wrong answer), but checkpoint thunks are
  * DESTRUCTIVE — a `localCheckpoint` truncates lineage, so
  * unpersisting its blocks destroys data that cannot be recomputed,
  * and any later materialization of a plan referencing them fails
  * hard with a "checkpoint block not found" error. A host must
  * therefore call releaseAll() only at quiescent points (no returned
  * frame will be materialized again), and must never re-materialize a
  * connectedComponents result after releasing — re-run the operator
  * instead. A host running queries concurrently must NOT use
  * releaseAll between queries — it would destroy a sibling's
  * checkpoint blocks mid-flight; wrap each unit of work in [[scoped]]
  * instead (per-thread tracking + release, parallel Verify's mode)
  * and keep releaseAll for the quiescent end of the session.
  */
object CacheRegistry {

  private val handles = new ConcurrentLinkedQueue[() => Unit]()

  /** Active thread-local scope, if any — see [[scoped]]. Deliberately
    * NOT inheritable: storage registered from OTHER threads (e.g. a
    * streaming micro-batch thread) must fall through to the global
    * queue, where only a quiescent-point releaseAll() touches it. */
  private val scope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Unit]]()

  private def register(h: () => Unit): Unit = {
    val s = scope.get()
    if (s != null) s += h else handles.add(h)
  }

  /** Run `f` with a thread-local handle scope: storage tracked by
    * operators invoked on THIS thread during `f` is released when `f`
    * returns, WITHOUT touching other threads' in-flight handles. This
    * is the contract a concurrent host (parallel Verify workers) needs
    * — the global [[releaseAll]] assumes one unit of work in the whole
    * JVM and would destroy a sibling's localCheckpoint blocks
    * mid-flight. The caller must fully materialize `f`'s result inside
    * the scope (write/collect), exactly the releaseAll quiescence rule
    * applied per thread. */
  def scoped[T](f: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val prev = scope.get()
    scope.set(buf)
    try f
    finally {
      if (prev != null) scope.set(prev) else scope.remove()
      buf.foreach(h => try h() catch { case _: Throwable => () })
    }
  }

  /** Persist `ds` at MEMORY_AND_DISK and track the handle. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => p.unpersist(blocking = false))
    p
  }

  /** Persist `ds` at MEMORY_AND_DISK for `body` and unpersist it on
    * every exit (untracked): for caches an operator consumes itself. */
  def persisting[T, R](ds: Dataset[T])(body: Dataset[T] => R): R = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try body(p) finally p.unpersist(blocking = false)
  }

  /** The materialized `localCheckpoint` RDDs referenced by `ds`'s
    * plan (each `localCheckpoint(true)` leaves a LogicalRDD leaf over
    * a MEMORY_AND_DISK-persisted RDD). */
  def checkpointRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd: RDD[_]
    }.distinct

  /** Track the checkpoint blocks inside `ds`'s plan for release by
    * [[releaseAll]]. Call on a frame a caller will materialize exactly
    * once per unit of work (e.g. connectedComponents' final labels). */
  def trackCheckpoint[T](ds: Dataset[T]): Dataset[T] = {
    val rdds = checkpointRdds(ds)
    if (rdds.nonEmpty)
      register(() => rdds.foreach(_.unpersist(blocking = false)))
    ds
  }

  /** Release every tracked handle (non-blocking: block eviction is
    * async, but each RDD leaves the persistence registry immediately).
    */
  def releaseAll(): Unit = {
    var h = handles.poll()
    while (h != null) {
      h()
      h = handles.poll()
    }
  }

  /** Number of currently tracked (not yet released) handles. */
  def trackedCount: Int = handles.size()
}
