package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The DSv2 ordered single-file CSV writer (`graft-csv`): Spark plans
  * the global sort + single partition from the Write's declared
  * distribution/ordering; commit renames atomically; output is
  * byte-identical to the S4 driver-side sink on the same frame. */
class OrderedCsvSinkSpec extends SparkSpec {

  import spark.implicits._

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.toSeq

  test("writes one ordered headered CSV file via the declared " +
      "distribution (planner inserts the sort, not the " +
      "caller)") { Scratch.scoped("graft_csv_v2") { dir =>
    val target = s"$dir/out.csv"
    val df = Seq((3L, "c", 1.5), (1L, "a", 2.0), (2L, "b", 0.25))
      .toDF("id", "name", "score")
      .repartition(4) // deliberately unsorted, multi-partition input
    df.write.format("graft-csv")
      .option("path", target).option("order", "id")
      .mode("overwrite").save()
    val lines = readLines(target)
    assert(lines == Seq("id,name,score", "1,a,2.0", "2,b,0.25",
      "3,c,1.5"))
    // no temp residue
    assert(Files.list(Paths.get(dir.toString)).iterator().asScala
      .map(_.getFileName.toString).toSet == Set("out.csv"))
  }}

  test("multi-column order + quoting + null rendering") { Scratch.scoped("graft_csv_v2") { dir =>
    val target = s"$dir/q.csv"
    Seq((2L, Some("x,y"), "k"), (1L, None, "a\"b"), (2L, Some("p"), "z"))
      .toDF("g", "v", "s")
      .repartition(3)
      .write.format("graft-csv")
      .option("path", target).option("order", "g,s")
      .mode("overwrite").save()
    assert(readLines(target) == Seq("g,v,s", "1,,\"a\"\"b\"",
      "2,\"x,y\",k", "2,p,z"))
  }}

  test("byte-identical to the S4 driver-side sink on a real " +
      "frame") { Scratch.scoped("graft_csv_v2") { dir =>
    val df = Tables(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")
    graft.sources.Sources.writeSingleCsv(df, s"$dir/s4.csv")
    Tables(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey"), col("p_name"))
      .write.format("graft-csv")
      .option("path", s"$dir/v2.csv").option("order", "p_partkey")
      .mode("overwrite").save()
    assert(readLines(s"$dir/v2.csv") == readLines(s"$dir/s4.csv"))
  }}

  test("overwrite replaces the previous file") { Scratch.scoped("graft_csv_v2") { dir =>
    val target = s"$dir/o.csv"
    Seq((1L, "a")).toDF("id", "v").write.format("graft-csv")
      .option("path", target).option("order", "id")
      .mode("overwrite").save()
    Seq((9L, "z")).toDF("id", "v").write.format("graft-csv")
      .option("path", target).option("order", "id")
      .mode("overwrite").save()
    assert(readLines(target) == Seq("id,v", "9,z"))
  }}
}
