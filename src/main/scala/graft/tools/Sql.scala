package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc SQL probe over the testdata tables with every graft kernel
  * registered — for measuring data-shape questions (bucket sizes,
  * signature collisions, pair mass) with the SAME kernels the queries
  * use, instead of guessing from the outside.
  * sbt "runMain graft.tools.Sql <sfDir> <sql...>"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sql = args.drop(1).mkString(" ")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    graft.GraftFunctions.install(spark)
    spark.sql(sql).show(100, truncate = false)
    spark.stop()
  }
}
