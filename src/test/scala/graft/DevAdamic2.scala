package graft

import org.apache.spark.sql.SparkSession

/** Dev scratch (r8): bisect the r7 pair-memo family regression —
  * time adamic_adar / kcore / edge_support with the r7 eager latch
  * (default) vs the r6 lazy-memo behavior (graft.planOnly=true gives
  * lazy caches + safe shuffle decisions; for these three queries the
  * only difference is the edges/symEdges latch + triangleRel count). */
object DevAdamic2 {
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
    def time[T](name: String)(f: => T): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$name%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val qs = Seq("graph_edge_support", "graph_clustering_coefficient")
    // warm codegen once
    qs.foreach(q => operators.GraphOps.queries(q)(spark, "/root/testdata/sf0.001").count())
    for (mode <- Seq("2000000", "0"); rep <- 1 to 3) {
      spark.conf.set(operators.GraphOps.BroadcastEdgeMaxRowsKey, mode)
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      qs.foreach { q =>
        time(s"$q cap=$mode rep$rep") {
          operators.GraphOps.queries(q)(spark, sfDir).count()
        }
      }
    }
    spark.stop()
  }
}
