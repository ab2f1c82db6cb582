package graft

/** [[Conf.scoped]]: every key it sets is back to its pre-scope state on
  * every exit — its old value if it was set, absent if it was not. */
class ConfSpec extends SparkSpec {

  private val Cbo = "spark.sql.cbo.enabled"          // registered, default false
  private val Shuffle = "spark.sql.shuffle.partitions" // set by the session builder
  private val GraftKey = "spark.graft.unique.path"     // graft-only, unregistered

  private def explicit(k: String): Option[String] = spark.conf.getAll.get(k)

  test("a registered key at its default stays absent after the scope") {
    spark.conf.unset(Cbo)
    // the trap the loan avoids: getOption answers the default for an
    // absent key, so a getOption snapshot would write it back explicitly
    assert(spark.conf.getOption(Cbo).contains("false"))
    assert(explicit(Cbo).isEmpty)
    Conf.scoped(spark)(Cbo -> "true") {
      assert(explicit(Cbo).contains("true"))
    }
    assert(explicit(Cbo).isEmpty)
  }

  test("a registered key at its default stays absent after the body throws") {
    spark.conf.unset(Cbo)
    intercept[IllegalStateException] {
      Conf.scoped(spark)(Cbo -> "true") {
        throw new IllegalStateException("boom")
      }
    }
    assert(explicit(Cbo).isEmpty)
  }

  test("an explicitly set key gets its old value back") {
    val before = explicit(Shuffle)
    assert(before.isDefined)
    Conf.scoped(spark)(Shuffle -> "7") {
      assert(spark.conf.get(Shuffle) == "7")
    }
    assert(explicit(Shuffle) == before)
  }

  test("a graft-only key ends unset") {
    assert(explicit(GraftKey).isEmpty)
    Conf.scoped(spark)(GraftKey -> "/tmp/x") {
      assert(spark.conf.get(GraftKey) == "/tmp/x")
    }
    assert(explicit(GraftKey).isEmpty)
    assert(spark.conf.getOption(GraftKey).isEmpty)
  }

  test("a nested scope on the same key restores the outer value") {
    Conf.scoped(spark)(GraftKey -> "outer") {
      Conf.scoped(spark)(GraftKey -> "inner") {
        assert(spark.conf.get(GraftKey) == "inner")
      }
      assert(spark.conf.get(GraftKey) == "outer")
    }
    assert(explicit(GraftKey).isEmpty)
  }

  test("the body's value is returned and its exception propagates") {
    assert(Conf.scoped(spark)(GraftKey -> "v")(spark.conf.get(GraftKey)) == "v")
    val shuffleBefore = explicit(Shuffle)
    val e = intercept[IllegalArgumentException] {
      Conf.scoped(spark)(GraftKey -> "v", Shuffle -> "7") {
        throw new IllegalArgumentException("from the body")
      }
    }
    assert(e.getMessage == "from the body")
    assert(explicit(GraftKey).isEmpty)
    assert(explicit(Shuffle) == shuffleBefore)
  }
}
