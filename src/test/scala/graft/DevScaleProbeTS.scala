package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r12): the time-series/window family at 10× — the last
  * family without a scale probe (graph r10, dedup/vector r11,
  * text/pipeline r12 earlier this round). Both corpora come from the
  * identical generator (the DevScaleProbeTP discipline): events with
  * the testdata conventions — 5 event types, ~uniform value in
  * [0,100), `{"k": n}` props, a fixed 30-day January-2024 window,
  * NANOS-scale long ts — at 100k events / 1.5k users (the sf0.1
  * shape) and 1M events / 15k users. Scaling users 10× inside the
  * SAME time window is the honest stress: per-bucket densities grow
  * 10× for the time-keyed ops (peak concurrency, late-data windows)
  * while per-user series stay realistic for the window ops.
  *
  * Heads: the most expensive events-based ts/win keys by the r12
  * bench profile. Shuffle-write deltas from the bench telemetry
  * listener, so "windows run over bounded aggregates" is measured.
  */
object DevScaleProbeTS {

  def synthEvents(spark: SparkSession, dir: String, factor: Int): Unit = {
    val fs = new java.io.File(dir)
    if (new java.io.File(fs, "events.parquet").exists()) return
    fs.mkdirs()
    val n = 100000L * factor
    val users = 1500L * factor
    val baseMicros = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    spark.range(0, n).select(
        col("id").as("event_id"),
        // NANOS-scale long: Tables.table probes the physical type and
        // divides by 1000 when it reads a bare-long ts column
        ((lit(baseMicros) +
          pmod(xxhash64(col("id") * 1000003L), lit(spanMicros))) * 1000L)
          .as("ts"),
        pmod(xxhash64(col("id") * 31L), lit(users)).as("user_id"),
        element_at(types,
          (pmod(xxhash64(col("id") * 13L), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id") * 7L), lit(10000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "),
          pmod(xxhash64(col("id") * 3L), lit(100L)), lit("}")).as("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  val heads: Seq[String] = Seq(
    "ts_peak_concurrency", "ts_sax_motifs", "ts_changepoint_meanshift",
    "win_sessionize_ids", "ts_late_data_semantics", "ts_funnel_conversion")

  def main(args: Array[String]): Unit = {
    val oneDir = args.headOption.getOrElse("/tmp/graft_tsprobe_1x")
    val probeDir =
      args.drop(1).headOption.getOrElse("/tmp/graft_tsprobe_10x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    synthEvents(spark, oneDir, 1)
    synthEvents(spark, probeDir, 10)
    val telemetry = new Bench.ShuffleTelemetry
    spark.sparkContext.addSparkListener(telemetry)
    def drain(): Unit =
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    def run(d: String): Seq[(String, Double, Long)] = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      heads.map { name =>
        drain()
        val w0 = telemetry.snapshot._1
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d).count()
        val t = (System.nanoTime() - t0) / 1e9
        drain()
        (name, t, telemetry.snapshot._1 - w0)
      }
    }
    heads.foreach { name =>
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01").count() }
    val one = run(oneDir)
    val probe = run(probeDir)
    println(f"${"query"}%-26s ${"1x s"}%8s ${"10x s"}%8s ${"t-ratio"}%7s " +
      f"${"shufW 1x"}%10s ${"shufW 10x"}%10s ${"w-ratio"}%7s")
    one.zip(probe).foreach { case ((n, a, wa), (_, b, wb)) =>
      println(f"$n%-26s $a%8.2f $b%8.2f ${b / a}%7.2f " +
        f"$wa%10d $wb%10d ${if (wa > 0) wb.toDouble / wa else -1.0}%7.2f")
    }
    spark.stop()
  }
}
