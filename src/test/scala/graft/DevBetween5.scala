package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: phase timing of the latched seed-BFS family at sf0.1
  * — edges latch, sym latch, seed-distance BFS, σ propagation, and
  * the betweenness consumer — to attribute the query's bench time. */
object DevBetween5 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    def time[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$n%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warm JVM/codegen at sf0.001 like the bench does
    SparkEntry.queries("graph_betweenness_seeds")(spark, "/root/testdata/sf0.001").count()
    SessionMemo.clear(spark)
    spark.catalog.clearCache()
    def callPriv(name: String): org.apache.spark.sql.DataFrame = {
      val m = operators.GraphOps.getClass.getDeclaredMethods
        .find(_.getName == name).get
      m.setAccessible(true)
      m.invoke(operators.GraphOps, spark, d)
        .asInstanceOf[org.apache.spark.sql.DataFrame]
    }
    time("edges latch")(callPriv("edges"))
    time("sym latch")(callPriv("symEdges"))
    time("seedDistances latch")(callPriv("seedDistances"))
    time("seedPathCounts latch")(callPriv("seedPathCounts"))
    val q = time("construct")(
      SparkEntry.queries("graph_betweenness_seeds")(spark, d))
    time("consume")(q.count())
    spark.stop()
  }
}
