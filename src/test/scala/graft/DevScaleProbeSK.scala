package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r13, VERDICT r12 #3): SKEW-stress the join family.
  *
  * Every prior 10× probe scales UNIFORM generators; real joins hit
  * zipfian keys. This probe plants a ~100:1 hot key in each join
  * dimension and scales the corpus 10× with the SAME skew ratio
  * (per-key densities of the non-hot keys held constant — the
  * DevScaleProbeTS discipline), then measures the shuffle-join heads
  * at both rungs:
  *
  *  - a HOT ORDER: o_orderkey 1 carries ~10% of all lineitems (vs ~4
  *    for the median order) — skews lineitem ⋈ orders
  *    (join_multiway_star's fact join, join_skew_salted's subject);
  *  - a HOT CUSTOMER: o_custkey 0 places ~6.7% of all orders (100×
  *    the median customer's ~10) — skews orders ⋈ customer
  *    (join_inner_hash) and makes customer 0 the graph hub
  *    (graph_two_hop's wedge join; the supplier universe stays FIXED
  *    at 100 across rungs so hub wedges measure partition balance,
  *    not semantic output growth);
  *  - a HOT USER: user 0 carries ~100× the median user's events
  *    inside the same 30-day window — skews join_range_bucketed's
  *    bucketed self-join (in-bucket pair output grows with density²,
  *    so the hot user's DENSITY is held constant across rungs — the
  *    honest formulation; only key COUNTS scale).
  *
  * What must hold at 10×: every head's wall ratio stays ≤ ~data ratio
  * (no superlinear cliff from one straggler partition), AQE's skew
  * split ENGAGES on the planted fact join when thresholds are at
  * realistic proportions (checked via the executed plan's skew=true
  * markers under lowered advisory sizes — toy bytes, production
  * mechanism), and the salted join's result is row-identical to the
  * plain join on the same skewed corpus.
  *
  * Run: `Test/runMain graft.DevScaleProbeSK`. BASELINE.md "r13 skew
  * probe" records the measurement.
  */
object DevScaleProbeSK {

  /** m = scale multiplier (1 or 10). Fixed: 100 suppliers, 50 parts,
    * 5 nations / 2 regions (ASIA covers nations 0-2). */
  def synth(spark: SparkSession, dir: String, m: Int): Unit = {
    val fs = new java.io.File(dir)
    if (new java.io.File(fs, "orders.parquet").exists()) return
    fs.mkdirs()
    val nCust = 1500L * m
    val nOrd = 15000L * m
    val epoch0 = 788918400L // 1995-01-01 00:00:00 UTC
    // customers: c_custkey 0 is the planted hub
    spark.range(0, nCust).select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id")).as("c_name"),
        pmod(col("id"), lit(5L)).cast("int").as("c_nationkey"),
        (pmod(xxhash64(col("id")), lit(10000L)) / 10.0).as("c_acctbal"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
          lit("HOUSEHOLD"), lit("MACHINERY")),
          (pmod(col("id"), lit(5L)) + 1).cast("int")).as("c_mktsegment"))
      .repartition(8).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // orders: every 15th order belongs to the hot customer 0 (1000·m
    // orders ≈ 100× the ~10 of a median customer); dates uniform over
    // 1995-2001 so the multiway-star 1996-97 filter keeps ~1/3
    val orders = spark.range(0, nOrd).select(
      col("id").as("o_orderkey"),
      when(col("id") % 15 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id") * 7L), lit(nCust))).as("o_custkey"),
      lit("O").as("o_orderstatus"),
      (pmod(xxhash64(col("id") * 13L), lit(500000L)) / 1.0).as("o_totalprice"),
      timestamp_seconds(lit(epoch0) +
        pmod(xxhash64(col("id") * 31L), lit(57000L)) * 3600L).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (pmod(col("id"), lit(5L)) + 1).cast("int")).as("o_orderpriority"))
    orders.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    // lineitem: 4 rows per order + a 6000·m-row HOT ORDER (orderkey 1,
    // ~10% of the fact table vs the median order's 4 rows)
    val base = spark.range(0, nOrd * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"), col("id"))
    val hot = spark.range(0, 6000L * m).select(
      lit(1L).as("l_orderkey"), (col("id") + nOrd * 4).as("id"))
    base.unionByName(hot).select(
        col("l_orderkey"),
        pmod(xxhash64(col("id") * 3L), lit(50L)).as("l_partkey"),
        pmod(xxhash64(col("id") * 5L), lit(100L)).as("l_suppkey"),
        (pmod(col("id"), lit(7L)) + 1).cast("int").as("l_linenumber"),
        (pmod(xxhash64(col("id") * 11L), lit(50L)) + 1.0).as("l_quantity"),
        (pmod(xxhash64(col("id") * 17L), lit(100000L)) / 1.0)
          .as("l_extendedprice"),
        (pmod(xxhash64(col("id") * 19L), lit(10L)) / 100.0).as("l_discount"),
        (pmod(xxhash64(col("id") * 23L), lit(8L)) / 100.0).as("l_tax"),
        lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        timestamp_seconds(lit(epoch0) +
          pmod(xxhash64(col("id") * 29L), lit(57000L)) * 3600L).as("l_shipdate"))
      .repartition(8).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    // fixed dims: nations 0-2 sit in ASIA so the star filter matches
    import spark.implicits._
    Seq((0, "ASIA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    (0 until 5).map(n => (n, s"NATION_$n", if (n <= 2) 0 else 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.range(0, 100).select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id")).as("s_name"),
        pmod(col("id"), lit(5L)).cast("int").as("s_nationkey"),
        lit(0.0).as("s_acctbal"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    spark.range(0, 50).select(col("id").as("p_partkey"),
        concat(lit("part "), col("id")).as("p_name"),
        concat(lit("Brand#"), pmod(col("id"), lit(5L))).as("p_brand"),
        lit("STANDARD").as("p_type"), lit(1).as("p_size"),
        lit(100.0).as("p_retailprice"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    // events: users scale with m (per-user density constant); the hot
    // user keeps ~100× the median user's rows at BOTH rungs
    val nUser = 1500L * m
    val nEv = 100000L * m
    val hotEv = 6700L // constant density for the hot key
    val evBase = spark.range(0, nEv).select(col("id"),
      pmod(xxhash64(col("id") * 41L), lit(nUser)).as("user_id"))
    val evHot = spark.range(0, hotEv).select(
      (col("id") + nEv).as("id"), lit(0L).as("user_id"))
    evBase.unionByName(evHot).select(
        col("id").as("event_id"), col("user_id"),
        // NANOS long with the testdata convention (Tables rescales)
        ((pmod(xxhash64(col("id") * 43L), lit(2592000L)) +
          lit(1704067200L)) * lit(1000000000L)).as("ts"),
        element_at(array(lit("view"), lit("click"), lit("purchase"),
          lit("signup"), lit("error")),
          (pmod(col("id"), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id") * 47L), lit(1000L)) / 10.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("id"), lit(100L)), lit("}"))
          .as("props"))
      .repartition(8).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  val heads = Seq("join_inner_hash", "join_multiway_star",
    "join_range_bucketed", "graph_two_hop", "join_skew_salted")

  def main(args: Array[String]): Unit = {
    val d1 = "/tmp/graft_skprobe1"
    val d10 = "/tmp/graft_skprobe10"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    synth(spark, d1, 1); synth(spark, d10, 10)
    val telemetry = new Bench.ShuffleTelemetry
    spark.sparkContext.addSparkListener(telemetry)
    def run(d: String): Seq[(String, Double, Long)] = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      heads.map { case name =>
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val w0 = telemetry.writeBytes.get
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d).count()
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        (name, (System.nanoTime() - t0) / 1e9, telemetry.writeBytes.get - w0)
      }
    }
    heads.foreach(n => SparkEntry.queries(n)(spark, d1).count()) // warmup
    val a = run(d1)
    val b = run(d10)
    println(f"${"query"}%-22s ${"t_1x"}%7s ${"t_10x"}%7s ${"t-ratio"}%8s ${"shufW-ratio"}%12s")
    a.zip(b).foreach { case ((n, t1, w1), (_, t10, w10)) =>
      println(f"$n%-22s $t1%7.2f $t10%7.2f ${t10 / t1}%8.2f " +
        f"${w10.toDouble / math.max(w1, 1)}%12.2f")
    }
    // AQE skew-split engagement on the planted fact join: thresholds
    // lowered to toy-proportionate bytes (the corpus is MBs, not GBs)
    // so the PRODUCTION mechanism — split the straggler partition,
    // replicate the other side — is demonstrably what engages here
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    // broadcast would hide the shuffle join at toy size — disable for
    // the demonstration only
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // WIDE join rows (all lineitem measures survive to the agg) so
      // the hot partition's BYTES, not just its row count, stand out
      // the way a production fact join's would
      def factJoin() = Tables.lineitem(spark, d10)
        .join(Tables.orders(spark, d10),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev"), sum(col("l_quantity")).as("qty"),
          max(col("l_shipdate")).as("last_ship"))
      val j = factJoin()
      j.collect() // execute THIS query execution (count() would plan its own)
      val plan = j.queryExecution.executedPlan.toString
      val engaged = plan.contains("skew=true")
      println("AQE skew-join on the hot-order fact join: " +
        (if (engaged) "ENGAGED (skew=true in final plan)"
         else "DID NOT ENGAGE at default heuristics"))
      if (!engaged) {
        // isolate WHICH guard blocked it: force mode applies the split
        // even where Spark's no-extra-shuffle heuristic declines
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        try {
          val jf = factJoin(); jf.collect()
          val pf = jf.queryExecution.executedPlan.toString
          println("  force mode: " + (if (pf.contains("skew=true"))
            "split applies under forceOptimizeSkewedJoin (the default " +
              "declined only on the no-extra-shuffle heuristic)"
          else "still no split - partition stats under thresholds"))
        } finally
          spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
      }
      plan.linesIterator.filter(l => l.contains("Join") || l.contains("skew"))
        .foreach(l => println("  plan| " + l.trim.take(150)))
      // salted ≡ plain on the skewed corpus (row-identical aggregates)
      val salted = SparkEntry.queries("join_skew_salted")(spark, d10)
        .collect().map(_.toString).sorted
      val plain = Tables.lineitem(spark, d10)
        .join(Tables.orders(spark, d10),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.Stable.r4(graft.Stable.dsum(
            col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
        .collect().map(_.toString).sorted
      println("salted == plain on skewed corpus: " +
        (if (salted.sameElements(plain)) "row-identical" else "MISMATCH"))
    } finally {
      Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold")
        .foreach(spark.conf.unset)
    }
    spark.stop()
  }
}
