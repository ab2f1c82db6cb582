package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The [[graft.plans.SummaryRewrite]] aggregate-navigation rule:
  * covered aggregates over the base fact table are answered from the
  * materialized summary (plan scans the summary path, values equal
  * the full-scan answer, including null-measure and filtered-group
  * cases), and every scope guard — measure-column filter, DISTINCT,
  * uncovered grouping, uncovered aggregate, unset conf — leaves the
  * plan scanning the base table. */
class SummaryRewriteSpec extends SparkSpec {

  private def withExtSession[T](f: SparkSession => T): T = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val sess = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try f(sess)
      finally {
        sess.conf.unset("spark.graft.summary.base")
        sess.conf.unset("spark.graft.summary.path")
      }
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** fact fixture: (g1 string, g2 long, m long nullable, x double) */
  private def writeFixture(sess: SparkSession, dir: String): Unit = {
    import sess.implicits._
    val rows = (0 until 400).map { i =>
      (s"g${i % 3}", (i % 5).toLong,
        if (i % 11 == 0) None else Some((i * 7 % 100).toLong),
        (i % 13) * 1.5)
    }
    rows.toDF("g1", "g2", "m", "x").repartition(4)
      .write.mode("overwrite").parquet(dir)
  }

  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath).mkString(",")
        case _ => ""
      }
    }

  test("covered aggregate rewrites to the summary scan and matches " +
      "the full-scan answer (nulls in measures, group-col filter)") {
    withExtSession { sess =>
      Scratch.scoped("graft_sumrw") { tmp =>
        val basePath = s"$tmp/fact"
        val sumPath = s"$tmp/summary"
        writeFixture(sess, basePath)
        graft.operators.Summary.build(
            sess.read.parquet(basePath), Seq("g1", "g2"), Seq("m", "x"))
          .write.mode("overwrite").parquet(sumPath)

        def query(s: SparkSession): DataFrame =
          s.read.parquet(basePath)
            .where(col("g1") =!= "g1")
            .groupBy("g1")
            .agg(count(lit(1)).as("n"), sum("m").as("sm"),
              min("m").as("mn"), max("x").as("mx"))
            .orderBy("g1")

        val before = query(sess).collect().map(_.toSeq)
        sess.conf.set("spark.graft.summary.base", basePath)
        sess.conf.set("spark.graft.summary.path", sumPath)
        val after = query(sess)
        val scans = scannedPaths(after)
        assert(scans.nonEmpty && scans.forall(_.contains("summary")),
          s"expected summary scan, got $scans")
        assert(after.collect().map(_.toSeq).toSeq == before.toSeq)
      }
    }
  }

  test("scope guards: measure filter / DISTINCT / uncovered grouping " +
      "/ uncovered aggregate / unset conf all scan the base table") {
    withExtSession { sess =>
      Scratch.scoped("graft_sumrw_guard") { tmp =>
        val basePath = s"$tmp/fact"
        val sumPath = s"$tmp/summary"
        writeFixture(sess, basePath)
        graft.operators.Summary.build(
            sess.read.parquet(basePath), Seq("g1", "g2"), Seq("m"))
          .write.mode("overwrite").parquet(sumPath)
        val fact = () => sess.read.parquet(basePath)

        // unset conf: untouched
        val q0 = fact().groupBy("g1").agg(sum("m").as("s"))
        assert(scannedPaths(q0).forall(_.contains("fact")))

        sess.conf.set("spark.graft.summary.base", basePath)
        sess.conf.set("spark.graft.summary.path", sumPath)

        // filter over a MEASURE column needs row-level data
        val q1 = fact().where(col("m") > 10)
          .groupBy("g1").agg(sum("m").as("s"))
        assert(scannedPaths(q1).forall(_.contains("fact")),
          "measure filter must block the rewrite")

        // DISTINCT is not answerable from sum partials
        val q2 = fact().groupBy("g1").agg(sum_distinct(col("m")).as("s"))
        assert(scannedPaths(q2).forall(_.contains("fact")),
          "DISTINCT must block the rewrite")

        // grouping on a column the summary does not carry
        val q3 = fact().groupBy("x").agg(sum("m").as("s"))
        assert(scannedPaths(q3).forall(_.contains("fact")),
          "uncovered grouping must block the rewrite")

        // aggregate the summary has no partial for (x not summarized)
        val q4 = fact().groupBy("g1").agg(sum("x").as("s"))
        assert(scannedPaths(q4).forall(_.contains("fact")),
          "uncovered measure must block the rewrite")

        // avg has no mergeable partial in the contract
        val q5 = fact().groupBy("g1").agg(avg("m").as("a"))
        assert(scannedPaths(q5).forall(_.contains("fact")),
          "avg must block the rewrite")

        // and a COVERED query in the same session still rewrites
        val q6 = fact().groupBy("g2").agg(max("m").as("s"))
        assert(scannedPaths(q6).forall(_.contains("summary")))
      }
    }
  }

  test("rewritten values equal full scan across every covered " +
      "aggregate shape at two granularities") {
    withExtSession { sess =>
      Scratch.scoped("graft_sumrw_vals") { tmp =>
        val basePath = s"$tmp/fact"
        val sumPath = s"$tmp/summary"
        writeFixture(sess, basePath)
        graft.operators.Summary.build(
            sess.read.parquet(basePath), Seq("g1", "g2"), Seq("m"))
          .write.mode("overwrite").parquet(sumPath)

        def q(s: SparkSession, keys: Seq[String]): Seq[Seq[Any]] =
          s.read.parquet(basePath)
            .groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("n"), sum("m").as("sm"),
              min("m").as("mn"), max("m").as("mx"))
            .orderBy(keys.map(col): _*)
            .collect().toSeq.map(_.toSeq)

        val want1 = q(sess, Seq("g1"))
        val want2 = q(sess, Seq("g1", "g2"))
        sess.conf.set("spark.graft.summary.base", basePath)
        sess.conf.set("spark.graft.summary.path", sumPath)
        assert(q(sess, Seq("g1")) == want1)
        assert(q(sess, Seq("g1", "g2")) == want2)
      }
    }
  }
}
