package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{Args, BeforeAndAfterAll, Status}

/** Shared local SparkSession for all suites (one JVM, Test/fork=true):
  * the harness session at a fixed 4 cores.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Harness.session("4")
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
    val dest = dir.resolve(f"part-$idx%04d.parquet")
    graft.sources.Sources.writeSinglePart(df, dest)(_.parquet(_))
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(1000000000L + idx * 60000L))
  }
}

/** A scratch dir as long-lived as the suite: [[Scratch.scoped]] wraps the
  * suite's whole run, so the dir is deleted when the suite ends, however
  * its tests end. For state every test shares, such as a catalog root. */
trait SuiteScratch extends SparkSpec {
  private var dir: java.nio.file.Path = _

  protected def suiteScratch: java.nio.file.Path = dir

  override def run(testName: Option[String], args: Args): Status =
    Scratch.scoped(s"graft_${getClass.getSimpleName}") { d =>
      dir = d
      super.run(testName, args)
    }
}
