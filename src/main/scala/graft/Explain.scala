package graft

/** Dev tool: print the formatted physical plan of named queries (all
  * if no args). Usage: sbt "runMain graft.Explain q34_ngram_jaccard_pairs"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = args.toSet
    SparkEntry.queries
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        fn(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
