package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r11, VERDICT r10 #5): the dedup/vector family at 10× —
  * 50k documents (sf0.1 has 5k) and 20k embeddings (sf0.1 has 2k),
  * synthesized with the corpus conventions (word-salad text over a
  * small vocabulary so shingles collide realistically, ~5 langs with
  * the en-heavy mix, 20 sources, planted exact duplicates ≈0.2% and
  * near-duplicates ≈0.5%; embeddings 64-dim float32 in 10
  * hash-assigned label clusters with per-cluster jitter, so IVF cells
  * and LSH buckets have real structure).
  *
  * What it verifies at 10× (wall-clock printed next to the same
  * code's sf0.1 numbers; the BASELINE.md "r11 scale probe" section
  * records the measurement):
  *  - dedup_cluster_lsh / dedup_embedding_cluster candidate volume
  *    stays BAND-bounded: runtime scales near the data ratio, not the
  *    all-pairs square;
  *  - vec_ann_ivf_trained keeps the ⌈√N⌉-cell discipline (cells grow
  *    √10×, probe work per query grows √10×);
  *  - pipeline_decontaminate's pool COUNT at 10× is measured against
  *    DecontamPoolMaxRows (2M): the production cap must sit on the
  *    legal side, and the session-overridden cap must refuse loudly
  *    just below the measured pool (the guard trips exactly where the
  *    count says it should).
  */
object DevScaleProbeDV {

  def synth(spark: SparkSession, dir: String): Unit = {
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
    // 50k docs; words hash-picked per (doc, position); doc length
    // 40 + doc%40 words ≈ the 44..577-char corpus band
    val base = spark.range(0, 50000).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), pmod(col("id"), lit(40)) + 40),
        i => element_at(vocabArr,
          (pmod(xxhash64(col("id") * 1000003L + i), lit(vocab.size)) + 1)
            .cast("int")))).as("text0"),
      element_at(langs,
        (pmod(xxhash64(col("id") * 31L), lit(6L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
    // plant exact dups (doc_id % 499 == 0 copies doc_id-1's text) and
    // near dups (doc_id % 211 == 0 appends one word to doc_id-1's text)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val docs = base
      .withColumn("prev", lag(col("text0"), 1).over(w))
      .select(col("doc_id"),
        when(col("doc_id") % 499 === 0 && col("prev").isNotNull, col("prev"))
          .when(col("doc_id") % 211 === 0 && col("prev").isNotNull,
            concat(col("prev"), lit(" spark")))
          .otherwise(col("text0")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // 20k embeddings: 10 clusters; centroid c has coord pattern
    // hash(c, dim); members jitter ±0.05 deterministically
    spark.range(0, 20000).select(
        col("id").as("vec_id"),
        (pmod(xxhash64(col("id") * 17L), lit(10L))).cast("int").as("label"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(col("label").cast("long") * 64L + d), lit(1000L))
              / lit(500.0) - 1.0) +
            (pmod(xxhash64(col("vec_id") * 64L + d), lit(100L))
              / lit(1000.0) - 0.05)).cast("float")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  val heads = Seq(
    ("dedup_cluster_lsh", (s: SparkSession, d: String) =>
      operators.DedupOps.queries("dedup_cluster_lsh")(s, d).count()),
    // the 10× synthetic's planted clusters push the candidate mass to
    // ~65M pairs — the r11 guard REFUSES at the 50M default (the probe
    // demonstrates that below); the timing row uses the documented
    // deliberate override so the join's scaling is still measured
    ("dedup_embedding_cluster", (s: SparkSession, d: String) => {
      s.conf.set(operators.DedupOps.EmbCandidateMaxPairsKey,
        Long.MaxValue.toString)
      try operators.DedupOps.queries("dedup_embedding_cluster")(s, d).count()
      finally s.conf.unset(operators.DedupOps.EmbCandidateMaxPairsKey)
    }),
    ("vec_ann_ivf_trained", (s: SparkSession, d: String) =>
      operators.VectorOps.queries("vec_ann_ivf_trained")(s, d).count()),
    ("pipeline_decontaminate", (s: SparkSession, d: String) =>
      operators.DedupOps.queries("pipeline_decontaminate")(s, d).count()))

  def main(args: Array[String]): Unit = {
    val probeDir = args.headOption.getOrElse("/tmp/graft_dvprobe1")
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
    def run(d: String): Seq[(String, Double)] = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      heads.map { case (name, fn) =>
        val t0 = System.nanoTime()
        fn(spark, d)
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    // codegen warmup at sf0.01, then the two measured dirs
    heads.foreach { case (_, fn) => fn(spark, "/root/testdata/sf0.01") }
    val sf01 = run("/root/testdata/sf0.1")
    val probe = run(probeDir)
    println(f"${"query"}%-26s ${"sf0.1"}%8s ${"10x"}%8s ratio")
    sf01.zip(probe).foreach { case ((n, a), (_, b)) =>
      println(f"$n%-26s $a%8.2f $b%8.2f ${b / a}%5.2f") }
    // embedding-LSH candidate mass at 10× (the r11 guard's number,
    // via its first-class audit query) vs the production cap
    val mass = operators.DedupOps.queries("dedup_lsh_bucket_audit")(spark, probeDir)
      .agg(sum(col("candidate_pairs"))).head().getLong(0)
    println(s"embedding-LSH candidate mass at 10x: $mass pairs " +
      s"(cap ${operators.DedupOps.EmbCandidateMaxPairs}) -> " +
      (if (mass <= operators.DedupOps.EmbCandidateMaxPairs) "legal side"
       else "OVER CAP"))
    // r12 (VERDICT r11 #2): the guard now WIDENS the banding before
    // refusing — at the production cap this dense corpus must COMPLETE
    // under a widened banding instead of refusing as it did in r11
    val embRefused =
      try { operators.DedupOps.queries("dedup_embedding_cluster")(spark, probeDir).count(); false }
      catch { case _: IllegalArgumentException => true }
    println(s"emb guard at the PRODUCTION cap on this density: " +
      (if (!embRefused)
         s"completed under adaptive re-banding (8-bit mass $mass)"
       else s"REFUSED (wrong - r12 widening should have found a legal banding)"))
    // decontam pool count at 10× vs the production cap
    val pool = operators.DedupOps.evalFpPool(spark, probeDir).count()
    val cap = operators.DedupOps.DecontamPoolMaxRows
    println(s"decontam pool at 10x: $pool rows (cap $cap) -> " +
      (if (pool <= cap) "legal side" else "OVER CAP"))
    // the guard must trip EXACTLY where the count says: cap just below
    // the measured pool refuses, just above runs
    spark.conf.set(operators.DedupOps.DecontamPoolMaxRowsKey,
      (pool - 1).toString)
    val refused =
      try { operators.DedupOps.queries("pipeline_decontaminate")(spark, probeDir).count(); false }
      catch { case e: IllegalArgumentException => true }
    spark.conf.unset(operators.DedupOps.DecontamPoolMaxRowsKey)
    println(s"guard trip just below measured pool: " +
      (if (refused) "refused (correct)" else "DID NOT TRIP (wrong)"))
    spark.stop()
  }
}
