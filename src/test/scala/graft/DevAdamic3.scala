package graft

import org.apache.spark.sql.SparkSession

/** Dev scratch (r8): stage-level timing of the adamic_adar chain at
  * sf0.1 under the Bench session config (AQE on), to locate where the
  * memo-build seconds go: edges → cappedNbrSets → coCitePairs →
  * query. Each stage is timed incrementally with warm upstream memos,
  * then the full chain cold, min over reps. */
object DevAdamic3 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // codegen warmup dir: second arg if given, else the measured dir
    // itself (r8 ADVICE: a hardcoded sf0.001 path broke on any box
    // without that exact layout; warming on sfDir only costs one
    // extra warm pass of the measured data)
    val warmDir = args.drop(1).headOption.getOrElse(sfDir)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // stage-level telemetry: duration, task-time sum/max, GC, spill
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val dur = for {
            s <- si.submissionTime; e <- si.completionTime
          } yield e - s
          if (dur.exists(_ > 400))
            println(f"    stage ${si.stageId}%4d ${dur.get}%6d ms  " +
              f"tasks=${si.numTasks}%3d  run=${m.executorRunTime}%6d  " +
              f"gc=${m.jvmGCTime}%5d  spillMB=${m.memoryBytesSpilled / 1024 / 1024}%4d  " +
              si.name.take(60))
        }
      })
    def time[T](name: String)(f: => T): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$name%-44s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // warm codegen
    operators.GraphOps.queries("graph_adamic_adar")(spark, warmDir).count()
    if (warmDir != sfDir) SessionMemo.clear(spark)
    for (rep <- 1 to 3) {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      time(s"rep$rep edges.count (memo build)") {
        operators.GraphOps.edges(spark, sfDir).count()
      }
      time(s"rep$rep common_neighbors (pairs memo build + query)") {
        operators.GraphOps.queries("graph_common_neighbors")(spark, sfDir).count()
      }
      time(s"rep$rep adamic (pairs memo + query)") {
        operators.GraphOps.queries("graph_adamic_adar")(spark, sfDir).count()
      }
      time(s"rep$rep adamic again (all warm)") {
        operators.GraphOps.queries("graph_adamic_adar")(spark, sfDir).count()
      }
    }
    // cold chain, as the bench charges it
    for (rep <- 1 to 3) {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      time(s"rep$rep adamic COLD chain") {
        operators.GraphOps.queries("graph_adamic_adar")(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
