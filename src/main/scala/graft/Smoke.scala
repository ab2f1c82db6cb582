package graft

/** Local mirror of the driver's t1 smoke gate: SparkEntry.entry must
  * return >0 rows on sf0.001. Usage: sbt "runMain graft.Smoke".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"SMOKE rows=${df.count()} cols=${df.columns.length}")
    df.show(5, 30)
    spark.stop()
  }
}
