package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB SQL the
  * driver uses as a differential oracle at sf0.01. Column names/types and
  * row order are mirrored exactly on both sides; float aggregates are
  * rounded identically (QueryUtil.roundDoubles) so the hash compare is
  * insensitive to summation order.
  *
  * Callers run [[fn]]: `body` inside one [[Views.scoped]] loan, so the
  * temp views a body makes are released when `fn` returns or throws,
  * and the frame it returns must not look a view up by name later.
  */
final case class QuerySpec(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** True for queries that RUN A STREAM (start/stop a
      * StreamingQuery): a concurrent host must hold one global lock
      * across them. The JVM-wide StateStore machinery makes
      * stop-vs-commit a race between two live streams (observed as
      * CANNOT_WRITE_STATE_STORE from the checksum file manager's
      * closed thread pool when parallel Verify stopped one stream
      * while another committed); one-active-stream-at-a-time is the
      * principled exclusion, and batch queries stay fully parallel. */
    serial: Boolean = false) {
  val fn: (SparkSession, String) => DataFrame =
    (s, d) => Views.scoped(s)(body(s, d))
}
