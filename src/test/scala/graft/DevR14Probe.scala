package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev scratch (r14): generalized stage-level timing for any declared
  * query under the EXACT Bench session config, to locate where each
  * expensive key's seconds go before optimizing it (guide §1: measure
  * first). For each named query: warm its plan shape at the warm dir,
  * then min-of-3 timed runs with memos cleared between reps (the
  * bench's cold-chain charge) plus one warm rerun (the steady-state
  * cost a session pays after the family memos exist). Per-stage lines
  * above the threshold print duration, task count, executor run time,
  * GC, and the stage name, so "N rounds x fixed stage cost" is
  * readable directly.
  *
  * Usage: runMain graft.DevR14Probe q1,q2,... [sfDir] [stageMs]
  */
object DevR14Probe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq("graph_pagerank"))
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val stageMs = args.drop(2).headOption.map(_.toLong).getOrElse(150L)
    val warmDir = "/root/testdata/sf0.001"
    // "coal": A/B size-first AQE coalescing (parallelismFirst=false)
    val coal = args.drop(3).headOption.contains("coal")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        (!coal).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskTotal = new AtomicLong(0)
    val verbose = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          val si = sc.stageInfo
          val m = si.taskMetrics
          taskTotal.addAndGet(si.numTasks.toLong)
          val dur = for { s <- si.submissionTime; e <- si.completionTime } yield e - s
          if (verbose.get() && dur.exists(_ >= stageMs))
            println(f"    stage ${si.stageId}%5d ${dur.get}%6d ms tasks=${si.numTasks}%3d " +
              f"run=${m.executorRunTime}%6d gc=${m.jvmGCTime}%5d " +
              f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024 / 1024}%4dMB " +
              si.name.take(70))
        }
      })
    def drain(): Unit =
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    def clear(): Unit = {
      spark.catalog.clearCache()
      SessionMemo.clear(spark)
    }
    def time(label: String, loud: Boolean = false)(f: => Unit): Double = {
      drain(); jobs.set(0); stages.set(0); taskTotal.set(0)
      verbose.set(loud)
      val t0 = System.nanoTime(); f
      val t = (System.nanoTime() - t0) / 1e9
      drain(); verbose.set(false)
      println(f"$label%-52s $t%6.2f s  jobs=${jobs.get}%3d stages=${stages.get}%4d tasks=${taskTotal.get}%5d")
      t
    }
    // warm codegen/JIT for every probed shape
    for (n <- names) {
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[probe] warmup of $n failed: ${e.getMessage}") }
    }
    clear(); System.gc()
    for (rep <- 1 to 3) {
      clear(); System.gc()
      for (n <- names) {
        time(s"rep$rep $n (cold chain)", loud = rep == 2) {
          SparkEntry.queries(n)(spark, sfDir).count()
        }
      }
      for (n <- names) {
        time(s"rep$rep $n (warm memos)") {
          SparkEntry.queries(n)(spark, sfDir).count()
        }
      }
    }
    spark.stop()
  }
}
