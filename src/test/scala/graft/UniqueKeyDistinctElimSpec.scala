package graft

import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

/** The uniqueness-aware DISTINCT-elimination rule
  * ([[graft.plans.UniqueKeyDistinctElim]]): fires only when the
  * grouping covers the declared key over a key-preserving tree on the
  * declared path; every unsound shape is left untouched.
  */
class UniqueKeyDistinctElimSpec extends SparkSpec {

  private def withKey[T](path: String, cols: String)(f: => T): T = {
    spark.conf.set("spark.graft.unique.path", path)
    spark.conf.set("spark.graft.unique.cols", cols)
    try f
    finally {
      spark.conf.unset("spark.graft.unique.path")
      spark.conf.unset("spark.graft.unique.cols")
    }
  }

  /** Lends `f` a fresh 100-row parquet table, deleted when `f` exits. */
  private def staged[T](f: String => T): T =
    Scratch.scoped("graft_uniq_elim") { d =>
      val dir = d.toString
      spark.range(0, 100)
        .select(col("id").as("k"), (col("id") % 7).as("grp"),
          (col("id") * 3).as("v"))
        .write.mode("overwrite").parquet(dir)
      f(dir)
    }

  private def hasAgg(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])

  test("distinct over the unique key is removed; result identical") {
    staged { dir =>
      withKey(dir, "k") {
        val df = spark.read.parquet(dir)
          .where(col("grp") === 2).select("k", "grp").distinct()
        assert(!hasAgg(df), "Aggregate should be eliminated")
        val naive = spark.read.parquet(dir)
          .where(col("grp") === 2).select("k", "grp").dropDuplicates()
        assert(df.orderBy("k").collect().toSeq ==
          naive.orderBy("k").collect().toSeq)
      }
    }
  }

  test("no fire: grouping without the key / expression projection / " +
      "other relation / nondeterministic filter / real aggregates") {
    staged { dir =>
      withKey(dir, "k") {
        // key column absent → duplicates possible
        assert(hasAgg(spark.read.parquet(dir).select("grp").distinct()))
        // expression projection can collapse distinct keys
        assert(hasAgg(spark.read.parquet(dir)
          .select((col("k") % 2).as("k2"), col("grp")).distinct()))
        // a different relation with the same schema
        staged { other =>
          assert(hasAgg(spark.read.parquet(other).select("k", "grp").distinct()))
          // nondeterministic filter (rand < 0.5 — a tautological rand
          // predicate like rand > -1 is FOLDED AWAY by Spark 4's
          // optimizer before this rule ever sees it)
          assert(hasAgg(spark.read.parquet(dir)
            .where(rand(7) < 0.5).select("k", "grp").distinct()))
          // a genuine aggregate is not a distinct shape
          val agg = spark.read.parquet(dir).groupBy("k").agg(sum("v").as("s"))
          assert(hasAgg(agg))
        }
      }
      // rule disabled without the conf pair
      assert(hasAgg(spark.read.parquet(dir).select("k", "grp").distinct()))
    }
  }

  test("composite key: all declared columns must be in the grouping") {
    staged { dir =>
      withKey(dir, "k, grp") {
        assert(!hasAgg(spark.read.parquet(dir)
          .select("k", "grp", "v").distinct()))
        assert(hasAgg(spark.read.parquet(dir).select("grp", "v").distinct()))
      }
    }
  }
}
