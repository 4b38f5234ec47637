package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r12, VERDICT r11 #3): the text/pipeline family at 10× —
  * the last unprobed family (graph was r10, dedup/vector r11). Unlike
  * the earlier probes this one synthesizes BOTH a 1× and a 10× corpus
  * from the identical generator (documents with DevScaleProbeDV's
  * conventions at 5k/50k docs; baskets with the TPC-H shape at
  * 600k/6M lineitem rows over 20k/200k parts, ~4 lines per order, 25
  * brands), so the wall-clock and shuffle-write ratios measure PURE
  * scaling — a sf0.1-vs-synthetic comparison would mix corpus-shape
  * differences (vocabulary, token-length distribution) into them.
  *
  * What it verifies at 10×, per head (wall-clock printed next to the
  * same code's sf0.1 numbers; shuffle-write bytes from the bench
  * telemetry listener so "shuffle ∝ bounded aggregates" is MEASURED,
  * not asserted):
  *  - text_novelty_curve: the winnow-gram census shuffle carries
  *    (gram, first-doc) partials — ∝ distinct grams, not doc bytes;
  *  - pipeline_pack_chunks: the global prefix sum runs the distributed
  *    bucket discipline — one bounded bucket-stats exchange;
  *  - pipeline_lm_perplexity: the bigram model is vocab-bounded; the
  *    scoring join carries (bigram, count) partials;
  *  - text_ngram_topk: (term, count) partials, vocab-bounded;
  *  - mine_itemsets_3: triples explode from per-basket brand SETS
  *    (bounded by basket size), never an item self-join.
  */
object DevScaleProbeTP {

  /** documents at `factor`× sf0.1 scale with DevScaleProbeDV's exact
    * generator conventions — a 1× and a 10× dir from the SAME
    * generator isolate pure scaling (comparing the synthetic against
    * sf0.1 itself would mix corpus-shape differences — vocabulary,
    * token-length distribution — into the shuffle ratios). */
  def synthDocs(spark: SparkSession, dir: String, factor: Int): Unit = {
    val fs = new java.io.File(dir)
    if (new java.io.File(fs, "documents.parquet").exists()) return
    fs.mkdirs()
    val vocab = Seq("spark", "batch", "part", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "query", "agg", "table",
      "hash", "key", "group", "stream", "filter", "customer", "vector",
      "slow", "join", "shuffle", "cache", "plan", "stage", "task",
      "merge", "bucket", "window", "state")
    val vocabArr = array(vocab.map(lit): _*)
    val langs = array(lit("en"), lit("en"), lit("zh"), lit("es"),
      lit("fr"), lit("de"))
    spark.range(0, 5000L * factor).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), pmod(col("id"), lit(40)) + 40),
          i => element_at(vocabArr,
            (pmod(xxhash64(col("id") * 1000003L + i), lit(vocab.size)) + 1)
              .cast("int")))).as("text"),
        element_at(langs,
          (pmod(xxhash64(col("id") * 31L), lit(6L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** baskets at `factor`× sf0.1 scale: 600k·f lineitem rows, 4 per
    * order, 20k·f parts hash-assigned over 25 brands (the TPC-H shape) */
  def synthBaskets(spark: SparkSession, dir: String, factor: Int): Unit = {
    val fs = new java.io.File(dir)
    if (new java.io.File(fs, "lineitem.parquet").exists()) return
    fs.mkdirs()
    val nParts = 20000L * factor
    spark.range(0, 600000L * factor).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (pmod(xxhash64(col("id") * 37L), lit(nParts)) + 1).as("l_partkey"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(1, nParts + 1).select(
        col("id").as("p_partkey"),
        concat(lit("Brand#"),
          pmod(xxhash64(col("id") * 13L), lit(25L))).as("p_brand"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  val heads: Seq[(String, String)] = Seq(
    "text_novelty_curve" -> "documents",
    "pipeline_pack_chunks" -> "documents",
    "pipeline_lm_perplexity" -> "documents",
    "text_ngram_topk" -> "documents",
    "mine_itemsets_3" -> "baskets")

  def main(args: Array[String]): Unit = {
    val oneDir = args.headOption.getOrElse("/tmp/graft_tpprobe_1x")
    val probeDir =
      args.drop(1).headOption.getOrElse("/tmp/graft_tpprobe_10x")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    synthDocs(spark, oneDir, 1); synthBaskets(spark, oneDir, 1)
    synthDocs(spark, probeDir, 10); synthBaskets(spark, probeDir, 10)
    val telemetry = new Bench.ShuffleTelemetry
    spark.sparkContext.addSparkListener(telemetry)
    def drain(): Unit =
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    def run(d: String): Seq[(String, Double, Long)] = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      heads.map { case (name, _) =>
        drain()
        val w0 = telemetry.snapshot._1
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, d).count()
        val t = (System.nanoTime() - t0) / 1e9
        drain()
        (name, t, telemetry.snapshot._1 - w0)
      }
    }
    // codegen warmup at sf0.01, then the two measured dirs — SAME
    // generator at 1× and 10×, so t/w ratios are pure scaling
    heads.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01").count() }
    val one = run(oneDir)
    val probe = run(probeDir)
    println(f"${"query"}%-24s ${"1x s"}%8s ${"10x s"}%8s ${"t-ratio"}%7s " +
      f"${"shufW 1x"}%10s ${"shufW 10x"}%10s ${"w-ratio"}%7s")
    one.zip(probe).foreach { case ((n, a, wa), (_, b, wb)) =>
      println(f"$n%-24s $a%8.2f $b%8.2f ${b / a}%7.2f " +
        f"$wa%10d $wb%10d ${if (wa > 0) wb.toDouble / wa else -1.0}%7.2f")
    }
    spark.stop()
  }
}
