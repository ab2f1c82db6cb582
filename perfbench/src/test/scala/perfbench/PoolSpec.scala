package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PoolSpec extends AnyFunSuite {
  private val specs = graft.SparkEntry.specs.map(s => s.name -> s).toMap

  test("every pool query exists in SparkEntry.specs, once") {
    Pools.heavy.foreach(n => assert(specs.contains(n), n))
    assert(Pools.heavy.distinct == Pools.heavy)
  }

  test("every pool query declares the DuckDB oracle the check compares with") {
    Pools.heavy.foreach(n => assert(specs(n).oracle.isDefined, n))
  }

  test("a job's module is the package of its innermost graft frame") {
    val site = Seq("org.apache.spark.sql.Dataset.isEmpty(Dataset.scala:10)\n" +
      "graft.sources.Sources$.loadTickers(Sources.scala:143)\n" +
      "graft.Job$.run(Job.scala:40)\nperfbench.DailyWorkload.unit(Workloads.scala:1)")
    assert(Trace.moduleOf(site) == "sources")
    assert(Trace.moduleOf(Seq("graft.functions.Valuation$.x(V.scala:1)")) == "operators")
    assert(Trace.moduleOf(Seq("graft.Job$.run(Job.scala:40)")) == "graft")
    assert(Trace.moduleOf(Seq("perfbench.Main$.main(Main.scala:1)")) == "harness")
  }

  test("covered time counts overlapping job intervals once") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Trace.covered(Seq.empty) == 0L)
  }
}
