package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r10, VERDICT r9 #6): a 10×-sf0.1 ("sf1"-scale) graph
  * probe for the head queries. Synthesizes orders/lineitem at 10× the
  * sf0.1 row counts with the same shape conventions (sequential
  * orderkeys so the %-mod delta/eval slices hold, hash-uniform
  * cust/supp/part assignment at 10× the entity counts, ≤ 4 lineitems
  * per order so the coParts group-fanout assumption holds), then runs
  * the five most expensive graph queries and prints per-query seconds
  * next to the same code's sf0.1 numbers. What this verifies: the
  * partsFor row-count rule reaches full width instead of flat-lining
  * (6M lineitem rows / 40k = 150 → clamped to defaultParallelism),
  * the measured-count broadcast gates stay on the correct side
  * (1.6×10⁵ vertices ≪ stateCap 4M — broadcasts still legal;
  * the guard rails are exercised separately by GraphSpec's cap=0
  * equivalence tests), and no loop goes super-linear (wall-clock
  * ratio should sit near the ~12× data ratio, not explode).
  * Results recorded in BASELINE.md "r10 scale probe". */
object DevScaleProbe {

  def synth(spark: SparkSession, dir: String): Unit = {
    val fs = new java.io.File(dir)
    if (new java.io.File(fs, "lineitem.parquet").exists()) return
    fs.mkdirs()
    val ts = lit("2020-01-01 00:00:00").cast("timestamp")
    // 1.5M orders over 150k customers (10× sf0.1)
    spark.range(1, 1500001).select(
        col("id").as("o_orderkey"),
        (pmod(xxhash64(col("id")), lit(150000L)) + 1L).as("o_custkey"),
        lit("O").as("o_orderstatus"),
        (col("id") % 1000L * 1.0 + 10.0).as("o_totalprice"),
        ts.as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // 6M lineitems, 4 per order, 10k suppliers, 200k parts
    spark.range(1, 6000001).select(
        ((col("id") - 1L) / 4L + 1L).cast("long").as("l_orderkey"),
        (pmod(xxhash64(col("id") * 7L), lit(200000L)) + 1L).as("l_partkey"),
        (pmod(xxhash64(col("id") * 13L), lit(10000L)) + 1L).as("l_suppkey"),
        (col("id") % 4L + 1L).cast("int").as("l_linenumber"),
        lit(1.0).as("l_quantity"),
        (col("id") % 500L * 1.0 + 1.0).as("l_extendedprice"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"),
        lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        ts.as("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  val heads = Seq("graph_pagerank", "graph_cc_incremental",
    "graph_clustering_coefficient", "graph_ktruss",
    "graph_hyperball_error_audit")

  def main(args: Array[String]): Unit = {
    val probeDir = args.headOption.getOrElse("/tmp/graft_sfprobe1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    synth(spark, probeDir)
    def time(name: String, d: String): Double = {
      val t0 = System.nanoTime()
      operators.GraphOps.queries(name)(spark, d).count()
      (System.nanoTime() - t0) / 1e9
    }
    // codegen warmup at sf0.001, then memo-clear (the Bench discipline)
    val warmDir = "/root/testdata/sf0.001"
    heads.foreach(q => operators.GraphOps.queries(q)(spark, warmDir).count())
    val dims = operators.GraphOps
      .queries("graph_edges")(spark, probeDir).count()
    println(s"probe edges: $dims")
    for (rep <- 1 to 2) {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      heads.foreach { q =>
        val t1 = time(q, "/root/testdata/sf0.1")
        println(f"rep$rep $q%-34s sf0.1 $t1%7.2f s")
      }
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      System.gc()
      heads.foreach { q =>
        val t10 = time(q, probeDir)
        println(f"rep$rep $q%-34s 10x   $t10%7.2f s")
      }
    }
    spark.stop()
  }
}
