package graft

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger

/** `Views.scoped` drops every temp view its body created, on every
  * exit, and nothing else; `QuerySpec.fn` runs each query inside one. */
class ViewsSpec extends SparkSpec {

  private def views: Set[String] =
    spark.sessionState.catalog.getTempViewNames().toSet

  test("a view made in the body is gone after a normal exit, and the " +
      "body's value is returned") {
    val v = Views.scoped(spark) {
      spark.range(3).createOrReplaceTempView("views_spec_ok")
      assert(views.contains("views_spec_ok"))
      42
    }
    assert(v == 42)
    assert(!views.contains("views_spec_ok"))
  }

  test("a view made in the body is gone after a throw, and the " +
      "exception propagates") {
    val e = intercept[IllegalStateException] {
      Views.scoped(spark) {
        spark.range(3).createOrReplaceTempView("views_spec_throw")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!views.contains("views_spec_throw"))
  }

  test("a view that existed before the scope survives it") {
    spark.range(3).createOrReplaceTempView("views_spec_outer")
    try {
      Views.scoped(spark) {
        spark.range(5).createOrReplaceTempView("views_spec_inner")
        assert(spark.table("views_spec_outer").count() == 3)
      }
      assert(views.contains("views_spec_outer"))
      assert(!views.contains("views_spec_inner"))
    } finally spark.catalog.dropTempView("views_spec_outer")
  }

  test("a nested scope drops only its own views") {
    Views.scoped(spark) {
      spark.range(3).createOrReplaceTempView("views_spec_n_outer")
      Views.scoped(spark) {
        spark.range(3).createOrReplaceTempView("views_spec_n_inner")
      }
      assert(!views.contains("views_spec_n_inner"),
        "the inner scope must drop its view")
      assert(views.contains("views_spec_n_outer"),
        "the inner scope must not touch the outer scope's view")
    }
    assert(!views.contains("views_spec_n_outer"))
  }

  test("a frame built over a view inside the scope collects the right " +
      "rows after the scope closes") {
    val df = Views.scoped(spark) {
      spark.range(0, 10).createOrReplaceTempView("views_spec_lazy")
      spark.sql("SELECT id * 2 AS x FROM views_spec_lazy WHERE id < 4")
    }
    assert(!views.contains("views_spec_lazy"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 6L))
  }

  test("an AvailableNow memory-sink view is dropped with the scope") {
    Scratch.scoped("graft_views_spec") { tmp =>
      val in = tmp.resolve("in").toString
      spark.range(0, 20).write.parquet(in)
      val name = s"views_spec_sink_${System.nanoTime()}"
      val n = Views.scoped(spark) {
        val q = spark.readStream.schema("id BIGINT").parquet(in)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation",
            Files.createDirectory(tmp.resolve("ckpt")).toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(name).count()
      }
      assert(n == 20)
      assert(!views.contains(name), s"memory-sink view $name outlived its scope")
    }
  }

  test("QuerySpec.fn drops the views its body made, and its frame " +
      "still collects") {
    val q = QuerySpec("q0_views_spec", (s, _) => {
      s.range(0, 5).createOrReplaceTempView("views_spec_query")
      s.sql("SELECT sum(id) AS total FROM views_spec_query")
    }, None)
    val df = q.fn(spark, "unused")
    assert(!views.contains("views_spec_query"))
    assert(df.collect().head.getLong(0) == 10L)
  }
}
