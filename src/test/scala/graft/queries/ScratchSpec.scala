package graft.queries

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.{Scratch, SparkSpec}

/** `Scratch.scoped` lends a fresh dir under the scratch base and deletes
  * it on every exit; a helper that stages through scopes leaves nothing
  * behind when its write fails; the base holds this JVM's dirs only. */
class ScratchSpec extends SparkSpec {

  private def entries(): Set[String] =
    scala.util.Using.resource(Files.list(Scratch.base)) { s =>
      s.iterator().asScala.map(_.getFileName.toString).toSet
    }

  test("the dir exists under the scratch base inside the body, the " +
      "body's value is returned, and the dir is gone after a normal exit") {
    var seen: Path = null
    val v = Scratch.scoped("graft_spec_ok") { d =>
      seen = d
      assert(Files.isDirectory(d))
      assert(d.getParent == Scratch.base)
      assert(d.getFileName.toString.startsWith("graft_spec_ok"))
      Files.write(d.resolve("f.txt"), "x".getBytes("UTF-8"))
      Files.createDirectories(d.resolve("sub/deeper"))
      42
    }
    assert(v == 42)
    assert(!Files.exists(seen))
  }

  test("the dir is gone after the body throws, and the exception " +
      "propagates") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      Scratch.scoped("graft_spec_throw") { d =>
        seen = d
        Files.write(d.resolve("f.txt"), "x".getBytes("UTF-8"))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen != null && !Files.exists(seen))
  }

  test("nested scopes each delete only their own dir") {
    var outer: Path = null
    var inner: Path = null
    Scratch.scoped("graft_spec_outer") { o =>
      outer = o
      Scratch.scoped("graft_spec_inner") { i =>
        inner = i
        assert(i != o && Files.isDirectory(i))
      }
      assert(!Files.exists(inner), "the inner scope must delete its dir")
      assert(Files.isDirectory(o), "the inner scope must not touch the outer")
    }
    assert(!Files.exists(outer))
  }

  test("the base is this JVM's own: a dir leaked into it is listed, " +
      "another JVM's base beside it is not") {
    assert(Scratch.base.getFileName.toString
      .startsWith(s"jvm-${ProcessHandle.current.pid}-"))
    val before = entries()
    val other = Files.createTempDirectory(Scratch.base.getParent, "jvm-other-")
    val leaked = Files.createTempDirectory(Scratch.base, "graft_spec_leak")
    try {
      Files.createDirectory(other.resolve("graft_other_run"))
      assert(entries() -- before == Set(leaked.getFileName.toString))
    } finally Seq(other, leaked).foreach(
      graft.streaming.StreamingResidue.deleteRecursively)
  }

  test("a staging write that fails on a task leaves the scratch base " +
      "unchanged") {
    val before = entries()
    val bad = spark.range(0, 200, 1, 4)
      .selectExpr("id", "if(id = 137, raise_error('staging fault'), id) AS ts")
    intercept[Exception] {
      Scratch.scoped("graft_stream_in") { inDir =>
        StreamingQueries.stageMonotoneBatches(bad, inDir, 2, col("ts"))
      }
    }
    assert(entries() == before,
      s"scratch residue: ${(entries() -- before).mkString(", ")}")
  }
}
