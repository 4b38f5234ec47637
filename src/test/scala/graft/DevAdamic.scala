package graft

import org.apache.spark.sql.SparkSession

/** Dev scratch: isolate graph_adamic_adar cost vs graph_common_neighbors. */
object DevAdamic {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (rep <- 1 to 2) {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      time(s"common_neighbors rep$rep") {
        operators.GraphOps.queries("graph_common_neighbors")(spark, sfDir).collect()
      }
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      time(s"adamic_adar rep$rep") {
        operators.GraphOps.queries("graph_adamic_adar")(spark, sfDir).collect()
      }
    }
    spark.stop()
  }
}
