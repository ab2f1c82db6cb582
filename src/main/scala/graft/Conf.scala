package graft

import org.apache.spark.sql.SparkSession

/** The one way to override session settings for a span of code (the
  * loan idiom of Spark's own `withSQLConf`). */
object Conf {

  /** Set `pairs`, run `body`, and on every exit put each key back as
    * it was: its old value if it was set, unset if it was absent.
    *
    * "Was set" is read from `getAll`, which holds only explicitly set
    * keys. `getOption`/`get` answer a registered key's default when it
    * is absent, and restoring that would leave an explicit copy of the
    * default behind in the session. Keys are restored in reverse order,
    * so a key listed twice ends at its value from before the scope. */
  def scoped[T](spark: SparkSession)(pairs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally pairs.reverseIterator.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
