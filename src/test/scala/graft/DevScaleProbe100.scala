package graft

import org.apache.spark.sql.SparkSession

/** Dev probe (r13, VERDICT r12 #5): ONE 100× rung for the linear-floor
  * heads. The 10× probes establish linearity at a single rung; this
  * run re-measures the two worst event/token-proportional heads one
  * decade further up — 10× → 100× of the sf0.1 shape, i.e. 1M → 10M
  * events (DevScaleProbeTS generator) and 50k → 500k documents
  * (DevScaleProbeTP generator) — to confirm no constant-factor cliff
  * (AQE coalesce floor, memory ceiling, broadcast limit) hides between
  * the probed rung and production scale. Heads:
  *
  *  - `ts_late_data_semantics` (worst ts/window t-ratio at 10×, 1.50×;
  *    shuffle ∝ events — the honest floor for event-keyed semantics);
  *  - `text_novelty_curve` (worst text/pipeline t-ratio at 10×, 3.84×;
  *    shuffle ∝ distinct winnow grams ∝ tokens).
  *
  * Pass = both 100×/10× wall and shuffle-write ratios ≤ the 10× data
  * ratio with headroom (no superlinear break), zero task failures.
  * Run: `Test/runMain graft.DevScaleProbe100` (results in BASELINE.md
  * "r13 100× rung").
  */
object DevScaleProbe100 {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // corpora: the SAME generators as the r12 10× probes, one decade up
    DevScaleProbeTS.synthEvents(spark, "/tmp/graft_tsprobe_10x", 10)
    DevScaleProbeTS.synthEvents(spark, "/tmp/graft_tsprobe_100x", 100)
    DevScaleProbeTP.synthDocs(spark, "/tmp/graft_tpprobe_10x", 10)
    DevScaleProbeTP.synthDocs(spark, "/tmp/graft_tpprobe_100x", 100)
    val telemetry = new Bench.ShuffleTelemetry
    spark.sparkContext.addSparkListener(telemetry)
    def drain(): Unit =
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    def run(name: String, d: String): (Double, Long, Long, Long, String) = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      drain()
      val (w0, r0, _, s0) = telemetry.snapshot
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, d)
      df.collect() // execute THIS query execution (count() plans its own)
      val t = (System.nanoTime() - t0) / 1e9
      drain()
      val (w1, r1, _, s1) = telemetry.snapshot
      // AQE-final join mix (inspect the EXECUTED df, not a fresh plan)
      val p = df.queryExecution.executedPlan.toString
      val joins = s"bhj=${"BroadcastHashJoin".r.findAllIn(p).size} " +
        s"smj=${"SortMergeJoin".r.findAllIn(p).size}"
      (t, w1 - w0, r1 - r0, s1 - s0, joins)
    }
    val heads = Seq(
      ("ts_late_data_semantics", "/tmp/graft_tsprobe_10x",
        "/tmp/graft_tsprobe_100x"),
      ("text_novelty_curve", "/tmp/graft_tpprobe_10x",
        "/tmp/graft_tpprobe_100x"))
    // JIT/codegen warm-up on the small testdata
    heads.foreach { case (n, _, _) =>
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").count() }
    println(f"${"query"}%-24s ${"10x s"}%8s ${"100x s"}%8s ${"t-ratio"}%8s " +
      f"${"shufW 10x"}%12s ${"shufW 100x"}%12s ${"b-ratio"}%8s " +
      f"${"rows 10x"}%11s ${"rows 100x"}%11s ${"r-ratio"}%8s ${"spill"}%10s")
    for ((name, d10, d100) <- heads) {
      val (tA, wA, rA, _, jA) = run(name, d10)
      val (tB, wB, rB, spB, jB) = run(name, d100)
      println(f"$name%-24s $tA%8.2f $tB%8.2f ${tB / tA}%8.2f " +
        f"$wA%12d $wB%12d ${if (wA > 0) wB.toDouble / wA else -1.0}%8.2f " +
        f"$rA%11d $rB%11d ${if (rA > 0) rB.toDouble / rA else -1.0}%8.2f " +
        f"$spB%10d")
      println(s"  joins 10x: $jA   joins 100x: $jB")
      assert(tB / tA <= 12.0,
        s"$name: wall grew superlinearly at the 100x rung (${tB / tA}x)")
      // superlinearity is judged on shuffle ROWS (byte ratios mix in
      // compression-ratio changes — a storage artifact, not a plan
      // property). Allowance past the data ratio: ONE broadcast->SMJ
      // flip at the bigger size legitimately re-counts one join
      // input's rows (the joins line above shows whether it happened);
      // 2x the data ratio still rejects anything quadratic-shaped.
      assert(rA == 0 || rB.toDouble / rA <= 20.0,
        s"$name: shuffle ROWS grew superlinearly at the 100x rung " +
          s"($rA -> $rB)")
    }
    println("100x rung: both heads within the linear envelope")
    spark.stop()
  }
}
