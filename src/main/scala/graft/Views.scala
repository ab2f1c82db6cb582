package graft

import org.apache.spark.sql.SparkSession

/** The one way temp views are released (the loan idiom of Spark's own
  * `withTempView`). [[QuerySpec.fn]] runs every query in one scope.
  *
  * Scope contract: each temp view the body creates on `spark`
  * (memory-sink views included) is dropped on every exit; views that
  * existed before survive. A frame returned out of the scope keeps
  * working, since `sql`/`table` resolve a view into the frame's plan,
  * but it must not look a view up by name later. Views on another
  * session (a `newSession()` child, a `foreachBatch` clone) need a
  * scope on that session. No other thread may create temp views on
  * `spark` during the scope (parallel Verify gives each worker its own
  * child session), or the scope drops them too.
  */
object Views {
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val catalog = spark.sessionState.catalog
    val before = catalog.getTempViewNames().toSet
    try body
    finally catalog.getTempViewNames().filterNot(before)
      .foreach(spark.catalog.dropTempView)
  }
}
