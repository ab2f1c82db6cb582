package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, Test/fork=true).
  * Mirrors the driver harness config: few shuffle partitions, UTC, no UI.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Scratch.tuneCheckpoints(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Collect a single column as a seq (null-safe). */
  def col1[T](df: DataFrame, name: String): Seq[Any] =
    df.select(name).collect().toSeq.map(r => if (r.isNullAt(0)) null else r.get(0))

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Persistent RDDs registered since `before` (a
    * `getPersistentRDDs.keySet` snapshot): residue measured from a
    * test's own starting point, so another suite's leak cannot fail it. */
  def persistedSince(before: collection.Set[Int]): Seq[String] =
    spark.sparkContext.getPersistentRDDs.toSeq
      .collect { case (id, rdd) if !before.contains(id) => rdd.toString }

  /** Write `df` as ONE parquet file into `dir` with a deterministic
    * ascending mod-time — streaming file sources process oldest-first,
    * so chunk index order IS arrival order. */
  def writeChunk(df: DataFrame, dir: java.nio.file.Path, idx: Int): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft_chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = scala.util.Using.resource(Files.list(tmp)) { s =>
      s.iterator().asScala.find(_.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    }
    val dest = dir.resolve(f"part-$idx%04d.parquet")
    Files.move(part, dest)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(1000000000L + idx * 60000L))
    scala.util.Using.resource(Files.walk(tmp)) { s =>
      s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
