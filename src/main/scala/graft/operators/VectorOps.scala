package graft.operators

import graft._
import graft.Stable._
import graft.functions.{CosineSimilarity, InnerProduct, PlaneDots}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** §2.11 similarity search over the embedding column.
  *
  * Three tiers, in increasing scalability:
  *  1. `vec_cosine_topk` — brute-force: small probe set × full corpus.
  *     Probes are broadcast, so the corpus is scanned exactly once
  *     with the codegen'd CosineSimilarity expression in the loop —
  *     the right baseline even at 100 TB when the probe set is small.
  *  2. `vec_knn_join_bucketed` — blocked kNN join: the label column
  *     partitions both sides, turning all-pairs into per-bucket pairs
  *     (the IVF-style coarse quantization pattern).
  *  3. `vec_ann_lsh` — sign-random-projection LSH: 16-bit bucket from
  *     fixed seeded hyperplanes, neighbors searched within the bucket
  *     only. Hash-based → no oracle; recall pinned by property test.
  *
  * All cosine math runs in double via the native expression; outputs
  * rounded to 4dp and ranked on the ROUNDED value so cross-engine
  * last-ulp differences cannot flip an ordering (SURVEY §2.0).
  */
object VectorOps {

  private def cosine(a: String, b: String) = expr(s"cosine_sim($a, $b)")

  /** vec_rp_project_audit: target dimension and source dimension of
    * the ±1 random projection, and the deterministic sign matrix —
    * s(j,d) from a fixed multiplicative hash computed ONCE here in
    * Scala and embedded as literals in BOTH engines (the
    * ts_dominant_period trig-table discipline: neither engine
    * evaluates the "randomness"). */
  val RpK = 16
  val RpDims = 64
  private[graft] def rpSign(j: Int, d: Int): Int =
    if ((((j * RpDims + d) * 2654435761L >> 16) & 1L) == 1L) 1 else -1

  /** the sign matrix as [[RpK]] plane rows */
  private lazy val rpPlanes: Array[Array[Int]] =
    Array.tabulate(RpK, RpDims)(rpSign)

  /** the full matrix as DuckDB VALUES rows (j, d, sg) */
  private def rpSignValues: String =
    (for { j <- 0 until RpK; d <- 0 until RpDims }
      yield s"($j, $d, ${rpSign(j, d)})").mkString(", ")

  val queries: Map[String, QFn] = Map(

    // Johnson–Lindenstrauss projection audit: project every embedding
    // 64 → 16 dims with the fixed ±1 sign matrix and report the
    // norm-distortion distribution ‖Pv‖²/k ÷ ‖v‖² — the check that
    // says whether the cheap sketch space is safe for the ANN
    // shortlists (ratios hugging 1 = yes). EXACT until the last step:
    // components quantize on the 1e-8 basis, each of the 16
    // projections is an exact integer plane dot (|p| ≤ 64·2e8 —
    // int64-safe), squares accumulate in DECIMAL(38,0)/HUGEINT, and
    // ONE IEEE division per vector closes before the 4dp quantize.
    // Shape: entirely pipeline-side per row (no explode, no sign-table
    // join — the 16 projections are one codegen'd PlaneDots call over
    // the constant matrix); the only shuffle is the final one-row
    // audit agg.
    "vec_rp_project_audit" -> ((s, d) => {
      val qarr = "transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE)" +
        " AS DECIMAL(20,8)) * 100000000 AS BIGINT))"
      val p2sum = (0 until RpK)
        .map(j => s"CAST(pj[$j] AS DECIMAL(38,0)) * pj[$j]").mkString(" + ")
      val n2 = "aggregate(qarr, CAST(0 AS DECIMAL(38,0)), " +
        "(a, x) -> a + CAST(x AS DECIMAL(38,0)) * x)"
      Tables.embeddings(s, d)
        .select(col("vec_id"), expr(qarr).as("qarr"))
        .select(col("vec_id"), expr(n2).as("n2"),
          PlaneDots(col("qarr"), rpPlanes).as("pj"))
        .filter(col("n2") > 0)
        .select(col("vec_id"),
          r4(expr(p2sum).cast(DoubleType) / RpK.toDouble /
            col("n2").cast(DoubleType)).as("ratio"))
        .agg(count(lit(1)).as("n_vectors"),
          r4(davg(col("ratio"))).as("mean_ratio"),
          min(col("ratio")).as("min_ratio"),
          max(col("ratio")).as("max_ratio"))
    }),

    // centroid drift per label between the even- and odd-id halves of
    // the corpus — the embedding-store health check ("did the last
    // ingest move the class centroids?"; here the halves are a
    // deterministic A/B split of the same corpus, so drift ≈ 1 is the
    // healthy reading). EXACT sufficient statistics: components
    // quantize through the engine-identical 1e-8 decimal cast, the
    // per-(label, dim) half-sums are BIGINT, and cosine runs between
    // the SUM vectors (scale-invariance makes mean vectors
    // unnecessary — no division before the final formula); dot and
    // per-dimension variance ranking — the embedding-store health
    // check that finds dead or dominating dimensions (the per-dim
    // complement of vec_truncation_audit's prefix-energy question).
    // Components quantize to 1e-8-unit BIGINTs (the established
    // basis); Σq and Σq² accumulate EXACTLY (squares in
    // DECIMAL(38,0)/HUGEINT — q² alone reaches 1e16, corpus sums far
    // past int64); variance closes in one IEEE expression and ranks
    // on the ROUNDED value with a dim tie-break. One explode + one
    // bounded 64-row agg.
    "vec_dim_variance_topk" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val q = Tables.embeddings(s, d)
        .selectExpr("posexplode(embedding) AS (dimn, x)")
        .select(col("dimn"),
          expr("CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)")
            .as("qx"))
      q.groupBy((col("dimn") + 1).as("dimn")) // 1-based like the oracle
        .agg(count(lit(1)).as("n"), sum(col("qx")).as("sq"),
          sum(col("qx").cast(dec) * col("qx").cast(dec)).as("sqq"))
        .select(col("dimn"), col("n"),
          r4((col("sqq").cast(DoubleType) -
            col("sq").cast(DoubleType) * col("sq").cast(DoubleType) / col("n")) /
            col("n") / 1e16).as("variance"),
          r4(col("sq").cast(DoubleType) / col("n") / 1e8).as("mean"))
        .orderBy(desc("variance"), col("dimn")).limit(10)
    }),

    // norms accumulate as DECIMAL(38,0)/HUGEINT. Shape: pipeline-side
    // explode feeds ONE (label, dim) hash agg — partial aggregation
    // collapses to labels×64 rows per partition before the only
    // shuffle; counts ride a second bounded agg.
    "vec_centroid_drift" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val q = Tables.embeddings(s, d)
        .selectExpr("label", "(vec_id % 2) = 0 AS ev",
          "posexplode(embedding) AS (dimn, x)")
        .select(col("label"), col("ev"), col("dimn"),
          expr("CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)")
            .as("qx"))
      val sums = q.groupBy(col("label"), col("dimn"))
        .agg(coalesce(sum(when(col("ev"), col("qx"))), lit(0L)).as("se"),
          coalesce(sum(when(!col("ev"), col("qx"))), lit(0L)).as("so"))
      val g = sums.groupBy(col("label"))
        .agg(sum(col("se").cast(dec) * col("so").cast(dec)).as("dot"),
          sum(col("se").cast(dec) * col("se").cast(dec)).as("n2e"),
          sum(col("so").cast(dec) * col("so").cast(dec)).as("n2o"))
      val cnt = Tables.embeddings(s, d).groupBy(col("label"))
        .agg(count_if(col("vec_id") % 2 === 0).as("n_even"),
          count_if(col("vec_id") % 2 =!= 0).as("n_odd"))
      g.join(cnt, Seq("label"))
        .filter(col("n_even") > 0 && col("n_odd") > 0)
        .select(col("label"), col("n_even"), col("n_odd"),
          r4(col("dot").cast(DoubleType) /
            (sqrt(col("n2e").cast(DoubleType)) * sqrt(col("n2o").cast(DoubleType))))
            .as("cos_drift"))
        .orderBy(col("label"))
    }),

    // label-separation audit: cosine between every PAIR of label
    // centroids — the confusion-risk screen ("which classes sit on
    // top of each other?") run before anyone trains on the labels.
    // Same exact machinery as vec_centroid_drift: per-(label, dim)
    // quantized BIGINT sums (one bounded hash agg), then all label
    // PAIRS — bounded by labels² — get exact DECIMAL(38,0) dot/norm
    // sums from a labels×64-row self-join. No corpus-side pair work
    // at any scale.
    "vec_label_separation" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val sums = Tables.embeddings(s, d)
        .selectExpr("label", "posexplode(embedding) AS (dimn, x)")
        .select(col("label"), col("dimn"),
          expr("CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)")
            .as("qx"))
        .groupBy(col("label"), col("dimn"))
        .agg(sum(col("qx")).as("sv"))
      val a = sums.select(col("label").as("la"), col("dimn"), col("sv").as("sa"))
      val b = sums.select(col("label").as("lb"), col("dimn"), col("sv").as("sb"))
      a.join(b, Seq("dimn")).filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(col("sa").cast(dec) * col("sb").cast(dec)).as("dot"),
          sum(col("sa").cast(dec) * col("sa").cast(dec)).as("n2a"),
          sum(col("sb").cast(dec) * col("sb").cast(dec)).as("n2b"))
        .select(col("la"), col("lb"),
          r4(col("dot").cast(DoubleType) /
            (sqrt(col("n2a").cast(DoubleType)) * sqrt(col("n2b").cast(DoubleType))))
            .as("centroid_cos"))
        .orderBy(col("la"), col("lb"))
    }),

    // truncation-quality audit (the Matryoshka question): how much of
    // each vector's energy survives keeping only the first 32 of 64
    // dims? cos(full, truncated) for a projection reduces to
    // ‖head‖/‖full‖ = √(Σ₁..32 q² / Σ q²) — per-vector EXACT integer
    // sums of 1e-8-quantized squares, ONE sqrt per vector, then the
    // per-label roll-up (decimal-exact mean of the 4dp values, exact
    // min). Answers "can I serve at half the dimension?" before
    // anyone re-embeds. One corpus scan, no join, no explode — the
    // sums fold in codegen'd aggregate lambdas.
    "vec_truncation_audit" -> ((s, d) => {
      def q2sum(sliceExpr: String) =
        s"""aggregate($sliceExpr, CAST(0 AS BIGINT), (a, x) ->
           |  a + CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8))
           |        * 100000000 AS BIGINT)
           |    * CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8))
           |        * 100000000 AS BIGINT))""".stripMargin
      Tables.embeddings(s, d)
        .select(col("label"),
          expr(q2sum("slice(embedding, 1, 32)")).as("h2"),
          expr(q2sum("embedding")).as("f2"))
        .select(col("label"),
          r4(sqrt(col("h2").cast(DoubleType) / col("f2").cast(DoubleType)))
            .as("c"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r4(davg(col("c"))).as("avg_cos"),
          min(col("c")).as("min_cos"))
        .orderBy(col("label"))
    }),

    "vec_norm_stats" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), expr(
          "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
          .as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r4(davg(col("nrm"))).as("avg_norm"),
          r4(min(col("nrm"))).as("min_norm"),
          r4(max(col("nrm"))).as("max_norm"))
        .orderBy(col("label"))
    }),

    // top-5 cosine neighbors for the 10 lowest vec_ids (brute force,
    // probes broadcast — corpus scanned once, spread across the cores)
    "vec_cosine_topk" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val probes = e.orderBy(col("vec_id")).limit(10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val w = Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc("vec_id"))
      spread(e).crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine("pe", "embedding"), 4).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // hubness audit over the probe set: the k-occurrence distribution
    // — how many probes' top-3 lists each corpus vector appears in —
    // plus the worst hub. Hubness is THE high-dimensional ANN
    // pathology (a few vectors become everyone's neighbor as
    // dimension grows, poisoning recall and diversity); a heavy tail
    // here says "normalize/re-rank before trusting the shortlists".
    // Same probe discipline as vec_cosine_topk (vec_id < 100), ranks
    // on (ROUNDED cosine, id) total orders; the census and histogram
    // are exact integers, bounded by probes × 3.
    "vec_hubness_audit" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(desc("cos"), asc("vec_id"))
      val top3 = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine("pe", "embedding"), 4).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      val occ = top3.groupBy(col("vec_id")).agg(count(lit(1)).as("k_occ"))
      val hub = occ.agg(max(struct(col("k_occ"),
        (-col("vec_id")).as("nv"))).as("m"))
      occ.groupBy(col("k_occ")).agg(count(lit(1)).as("n_vectors"))
        .crossJoin(broadcast(hub))
        .select(col("k_occ"), col("n_vectors"),
          (-col("m.nv")).as("top_hub"), col("m.k_occ").as("top_hub_occ"))
        .orderBy(col("k_occ"))
    }),

    // maximum-inner-product search (MIPS) — the retrieval scorer for
    // UNnormalized embeddings (recommender / reranker dot-product
    // models), where cosine's norm division is wrong by design. Same
    // broadcast-probe brute-force shape as vec_cosine_topk; the dot
    // product is the native `inner_product`, a left-to-right double
    // fold — the same evaluation order as DuckDB's list_inner_product,
    // so scores agree to the ulp and rank on the rounded value.
    "vec_mips_topk" -> ((s, d) => {
      InnerProduct.register(s)
      val e = Tables.embeddings(s, d)
      val probes = e.orderBy(col("vec_id")).limit(10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val w = Window.partitionBy(col("probe_id")).orderBy(desc("dot"), asc("vec_id"))
      spread(e).crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(expr("inner_product(pe, embedding)"), 4).as("dot"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // metric-choice agreement audit: for each probe, top-10 by
    // COSINE vs top-10 by raw DOT product, and the overlap between
    // the two lists — the "should we normalize?" decision made
    // measurable (agreement ≈ 1: norms are uniform and the cheaper
    // dot suffices; low agreement: unnormalized MIPS is silently
    // retrieving long vectors, not similar ones). Probe discipline
    // and total orders as vec_cosine_topk/vec_mips_topk (ROUNDED
    // score, id tie-break); overlap counts divide exact integers
    // once. Probe-bounded cost.
    "vec_metric_rank_agreement" -> ((s, d) => {
      CosineSimilarity.register(s)
      InnerProduct.register(s)
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("p"))
        .select(col("p"), col("vec_id").as("b"),
          round(cosine("pe", "embedding"), 4).as("cos"),
          round(expr("inner_product(pe, embedding)"), 4).as("dot"))
      val wc = Window.partitionBy(col("p")).orderBy(desc("cos"), asc("b"))
      val wd = Window.partitionBy(col("p")).orderBy(desc("dot"), asc("b"))
      val ranked = scored
        .withColumn("rc", row_number().over(wc))
        .withColumn("rd", row_number().over(wd))
      val m = ranked.filter(col("rc") <= 10 && col("rd") <= 10)
        .groupBy(col("p")).agg(count(lit(1)).as("ov"))
      val np = probes.agg(count(lit(1)).as("n_probes"))
      m.agg(sum(col("ov")).as("total_overlap"))
        .crossJoin(broadcast(np))
        .select(col("n_probes"), col("total_overlap"),
          r4(col("total_overlap").cast(DoubleType) /
            (col("n_probes") * 10).cast(DoubleType)).as("mean_overlap_10"))
    }),

    // PRODUCT QUANTIZATION with asymmetric distance computation (ADC)
    // — the third ANN tier after IVF (coarse cells) and LSH (hash
    // buckets): compress every vector to PqM subspace codes against a
    // deterministic per-subspace codebook (the PqK lowest vec_ids —
    // the data-derived-but-reproducible convention of vec_ann_ivf),
    // then score probe→corpus with the CODES ONLY: per probe, one
    // PqM×PqK distance table, and each corpus vector costs PqM table
    // lookups instead of a 64-dim scan — the memory-bandwidth shape
    // that makes billion-vector serving work (Jégou et al.'s PQ).
    // Scale: encoding is one corpus scan against a broadcast codebook
    // (shuffle carries (vec_id, ss, code) triples); the ADC join is
    // corpus-codes × a BROADCAST 10·PqM·PqK distance table on the
    // (subspace, code) key. Determinism: subspace squared-L2 is a
    // fixed left-to-right fold (the vec_mips discipline — the oracle
    // expands the same 8-term sum with explicit left association),
    // rounded to 4 dp; argmin ties → lowest code id; the ADC total is
    // an exact DECIMAL(18,4) sum of 4 dp terms.
    "vec_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cb = e.orderBy(col("vec_id")).limit(PqK)
        .select(col("vec_id").as("c_id"), col("emb").as("ce"))
      // one row per (id, subspace, 8-dim subvector)
      def subs(df: DataFrame, id: String, vec: String, outVec: String) =
        df.select(col(id), explode(expr(
          s"""transform(sequence(0, ${PqM - 1}),
             |  i -> struct(i AS ss, slice($vec, i * $PqD + 1, $PqD) AS sv))"""
            .stripMargin)).as("p"))
          .select(col(id), col("p.ss").as("ss"), col("p.sv").as(outVec))
      val cbsub = subs(cb, "c_id", "ce", "csub")
      val sq =
        """aggregate(zip_with(%s, %s, (x, y) -> (x - y) * (x - y)),
          |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin
      val codes = subs(e, "vec_id", "emb", "vsub")
        .join(broadcast(cbsub), Seq("ss"))
        .select(col("vec_id"), col("ss"),
          struct(round(expr(sq.format("vsub", "csub")), 4).as("dist"),
            col("c_id")).as("cand"))
        .groupBy(col("vec_id"), col("ss"))
        .agg(min(col("cand")).as("best")) // argmin, ties → lowest code
        .select(col("vec_id"), col("ss"), col("best.c_id").as("c_id"))
      val probes = e.orderBy(col("vec_id")).limit(10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
      val dt = subs(probes, "probe_id", "pe", "psub")
        .join(cbsub, Seq("ss"))
        .select(col("probe_id"), col("ss"), col("c_id"),
          round(expr(sq.format("psub", "csub")), 4).as("pd"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(asc("adc_dist"), asc("vec_id"))
      codes.join(broadcast(dt), Seq("ss", "c_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(dsum(col("pd")).as("adc_dist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // label-blocked kNN join: top-3 same-label neighbors per probe
    // (probe set bounded to vec_id < 100)
    "vec_knn_join_bucketed" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 100L)
        .select(col("label"), col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val w = Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc("vec_id"))
      e.join(probes, Seq("label"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("label"), col("vec_id"),
          round(cosine("pe", "embedding"), 4).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // IVF-style ANN: coarse quantization against a deterministic
    // centroid set, then exact search within the cell. Unlike the LSH
    // variant this is oracle-checkable end-to-end. The codebook is
    // ⌈√N⌉ cells (the ⌈√N⌉ lowest vec_ids — data-derived, fully
    // reproducible): with ~√N vectors per cell the per-cell all-pairs
    // search totals ~O(N^1.5) cosines, the classic IVF balance point.
    // Round 1's FIXED 16 cells left per-cell search O(N²/16) —
    // quadratic again at scale. A production variant would k-means the
    // codebook; lowest-ids keeps the query oracle-checkable.
    // At scale the cell assignment is a broadcast of the √N codebook
    // and one corpus scan.
    "vec_ann_ivf" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(  // footer-metadata N: action-free (ADVICE r4)
        GraphOps.tableRows(s, d, "embeddings").toDouble)).toInt
      val centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      perCellTop1(assignToCodebook(s, centroids, d)
        .select(col("vec_id"), col("embedding"), col("c_id").as("cell")))
    }),

    // IVF recall audit — the third sketch-vs-exhaustive meta-check
    // (after the LSH-dedup and langid audits): the SAME vec_ann_ivf
    // derivation scored against the TRUE global nearest neighbor.
    // Recall@1 is the number a serving team quotes; the mean cosine
    // gap is what recall hides (a miss that loses 0.0001 of cosine is
    // not a 0.62-recall problem). Truth is the all-pairs argmax as a
    // STRUCT MAX (no 25M-row window sort — one hash aggregate);
    // DECLARED quadratic: the audit is the one query allowed to pay
    // N² per run, which is exactly why pipelines audit on a schedule
    // instead of brute-forcing every query. Gaps quantize to 4dp
    // decimals before the exact mean.
    "vec_ivf_recall_audit" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(  // footer-metadata N: action-free (ADVICE r4)
        GraphOps.tableRows(s, d, "embeddings").toDouble)).toInt
      val centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val ivf = perCellTop1(assignToCodebook(s, centroids, d)
        .select(col("vec_id"), col("embedding"), col("c_id").as("cell")))
      val x = e.select(col("vec_id"), col("embedding").as("ex"))
      val y = e.select(col("vec_id").as("b"), col("embedding").as("ey"))
      val truth = x.join(y, col("vec_id") =!= col("b"))
        .select(col("vec_id"),
          struct(round(cosine("ex", "ey"), 4).as("cos"),
            (-col("b")).as("negb")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(max(col("sc")).as("best"))
        .select(col("vec_id"), (-col("best.negb")).as("t_nn"),
          col("best.cos").as("t_cos"))
      ivf.join(truth, Seq("vec_id"))
        .agg(count(lit(1)).as("n_vectors"),
          count_if(col("nn_id") === col("t_nn")).as("n_match"),
          r4(count_if(col("nn_id") === col("t_nn")).cast(DoubleType) /
            count(lit(1))).as("recall_at_1"),
          r4(sum((col("t_cos") - col("cos")).cast(DecimalType(18, 4)))
            .cast(DoubleType) / count(lit(1))).as("mean_cos_gap"))
    }),

    // recall@k curve of the IVF index over the probe set (vec_id <
    // 100, the knn-join probe convention): mean recall at k = 1 and
    // k = 5 against the brute-force truth — vec_ivf_recall_audit
    // scores the single nearest neighbor; real ANN serving returns a
    // SHORTLIST, and a system with fine recall@1 but poor recall@5
    // ships bad candidate lists. Determinism: both rankings order by
    // (ROUNDED cosine desc, id) — total orders; recalls divide exact
    // integers once. Cost is probe-bounded: the truth join is 100 ×
    // corpus, the IVF side rides the per-cell candidate relation.
    "vec_ivf_recall_at_k" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(  // footer-metadata N: action-free (ADVICE r4)
        GraphOps.tableRows(s, d, "embeddings").toDouble)).toInt
      val centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val asg = assignToCodebook(s, centroids, d)
        .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
      val probes = asg.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"), col("cell"))
      val wP = Window.partitionBy(col("p")).orderBy(desc("cos"), asc("b"))
      val ivf5 = probes
        .join(asg.select(col("vec_id").as("b"), col("embedding").as("be"),
          col("cell")), Seq("cell"))
        .filter(col("p") =!= col("b"))
        .select(col("p"), col("b"), round(cosine("pe", "be"), 4).as("cos"))
        .withColumn("rn", row_number().over(wP)).filter(col("rn") <= 5)
      val truth5 = probes.drop("cell")
        .join(e.select(col("vec_id").as("b"), col("embedding").as("be")),
          col("p") =!= col("b"))
        .select(col("p"), col("b"), round(cosine("pe", "be"), 4).as("cos"))
        .withColumn("tn", row_number().over(wP)).filter(col("tn") <= 5)
      val m = truth5.select(col("p"), col("b"), col("tn"))
        .join(ivf5.select(col("p"), col("b"), col("rn")), Seq("p", "b"))
      val np = probes.agg(count(lit(1)).as("n_probes"))
      val matched = m
        .select(col("tn"), col("rn"), explode(expr("array(1, 5)")).as("kk"))
        .filter(col("tn") <= col("kk") && col("rn") <= col("kk"))
        .groupBy(col("kk")).agg(count(lit(1)).as("n_matched"))
      np.select(explode(expr("array(1, 5)")).as("kk"), col("n_probes"))
        .join(matched, Seq("kk"), "left")
        .select(col("kk").as("k"), col("n_probes"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          r4(coalesce(col("n_matched"), lit(0L)).cast(DoubleType) /
            (col("kk") * col("n_probes")).cast(DoubleType))
            .as("mean_recall"))
        .orderBy(col("k"))
    }),

    // IVF recall-vs-nprobe tuning curve over the probe set: recall@1
    // and mean candidate count at nprobe = 1 and 2 — THE knob an IVF
    // serving deployment actually turns (more probed cells buy recall
    // with candidate volume; the curve says what a point of recall
    // COSTS). nprobe-2 candidates = corpus rows whose home cell is
    // among the probe's 2 nearest centroids; every ranking orders by
    // (ROUNDED cosine desc, id) — total orders, engine-identical.
    // Cost is probe-bounded: probes × codebook for the cell ranking,
    // probes' candidate cells for the search, probes × corpus ONLY in
    // the truth side (the declared audit quadratic, 100 rows wide).
    "vec_ann_recall_vs_probes" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(  // footer-metadata N: action-free (ADVICE r4)
        GraphOps.tableRows(s, d, "embeddings").toDouble)).toInt
      val centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val asg = assignToCodebook(s, centroids, d)
        .select(col("vec_id").as("b"), col("embedding").as("be"),
          col("c_id").as("cell"))
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"))
      val wC = Window.partitionBy(col("p")).orderBy(desc("ccos"), asc("c_id"))
      val pcells = probes.crossJoin(broadcast(centroids))
        .select(col("p"), col("pe"), col("c_id"),
          round(cosine("ce", "pe"), 4).as("ccos"))
        .withColumn("rk", row_number().over(wC))
        .filter(col("rk") <= 2)
        .select(col("p"), col("pe"), col("c_id").as("cell"), col("rk"))
      // each corpus vector lives in exactly ONE cell, so a candidate
      // (p, b) appears once, tagged with its cell's probe rank
      val cand = pcells.join(asg, Seq("cell"))
        .filter(col("p") =!= col("b"))
        .select(col("p"), col("b"), col("rk"),
          round(cosine("pe", "be"), 4).as("cos"))
      val truth = probes
        .join(e.select(col("vec_id").as("b"), col("embedding").as("be")),
          col("p") =!= col("b"))
        .select(col("p"),
          struct(round(cosine("pe", "be"), 4).as("cos"),
            (-col("b")).as("negb")).as("sc"))
        .groupBy(col("p")).agg(max(col("sc")).as("best"))
        .select(col("p"), (-col("best.negb")).as("t_nn"))
      val np = probes.agg(count(lit(1)).as("n_probes"))
      val wP = Window.partitionBy(col("nprobe"), col("p"))
        .orderBy(desc("cos"), asc("b"))
      val curve = cand
        .select(col("p"), col("b"), col("rk"), col("cos"),
          explode(expr("array(1, 2)")).as("nprobe"))
        .filter(col("rk") <= col("nprobe"))
      val hits = curve
        .withColumn("rn", row_number().over(wP)).filter(col("rn") === 1)
        .join(truth, Seq("p"))
        .groupBy(col("nprobe"))
        .agg(sum(when(col("b") === col("t_nn"), 1L).otherwise(0L))
          .as("n_hits"))
      val vol = curve.groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"))
      hits.join(vol, Seq("nprobe")).crossJoin(broadcast(np))
        .select(col("nprobe"), col("n_probes"), col("n_candidates"),
          r4(col("n_hits").cast(DoubleType) / col("n_probes"))
            .as("recall_at_1"),
          r4(col("n_candidates").cast(DoubleType) / col("n_probes"))
            .as("mean_candidates"))
        .orderBy(col("nprobe"))
    }),

    // int8 scalar quantization — the storage/bandwidth reduction an
    // embedding store applies before ANN serving (4× smaller vectors,
    // distance ≈ preserved): per-vector min/max affine scale, code =
    // floor((x-min)·255/(max-min)). Pure per-row higher-order
    // expressions (codegen'd, no UDF, no shuffle); floor of IEEE
    // double arithmetic on float-exact inputs is bit-deterministic
    // cross-engine, so the code checksum is oracle-checkable.
    "vec_quantize_int8" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        .select(col("vec_id"), col("e"),
          array_min(col("e")).as("mn"), array_max(col("e")).as("mx"))
        .select(col("vec_id"),
          r4(col("mn")).as("v_min"), r4(col("mx")).as("v_max"),
          expr("""CASE WHEN mx = mn THEN 0L ELSE
                 |  aggregate(transform(e,
                 |    x -> CAST(floor((x - mn) * 255 / (mx - mn)) AS BIGINT)),
                 |    0L, (acc, v) -> acc + v) END""".stripMargin)
            .as("code_sum"))
        .orderBy(col("vec_id"))
    }),

    // codebook balance audit — the health check run before IVF
    // serving: assign every vector to its max-cosine cell of a FIXED
    // 8-centroid codebook (the 8 lowest vec_ids) and report per-cell
    // population and cosine dispersion (a skewed histogram or low
    // min-cos means the codebook needs retraining). One broadcast +
    // one corpus scan; the argmax is a partial-agg max over a
    // (cos, -c_id) struct — no per-vector window sort, and the shuffle
    // carries one tiny row per vector. Ties → lower c_id, decided on
    // the ROUNDED cosine.
    "vec_cell_stats" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val centroids = e.filter(col("vec_id") < 8L)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val assigned = e.crossJoin(broadcast(centroids))
        .select(col("vec_id"),
          round(cosine("ce", "embedding"), 4).as("ccos"), col("c_id"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("ccos"), (-col("c_id")).as("neg_id"))).as("best"))
        .select(col("vec_id"), col("best.ccos").as("cos"),
          (-col("best.neg_id")).as("cell"))
      assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          r4(davg(col("cos"))).as("avg_cos"),
          r4(min(col("cos"))).as("min_cos"))
        .orderBy(col("cell"))
    }),

    // label purity of the coarse-quantizer cells — do the IVF cells
    // line up with the semantic labels? (high purity = the cell
    // routing is also a cheap classifier; low purity with high
    // avg_cos = labels crosscut geometry, not a codebook bug). Same
    // fixed-8-centroid assignment as vec_cell_stats; per cell the
    // MAJORITY label via the max(struct(cnt, −label)) total order
    // (ties → lower label), share = exact integer ratio, one close.
    // Shuffles: one per-vector argmax row + one (cell, label) agg.
    "vec_cell_label_purity" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = Tables.embeddings(s, d)
      val centroids = e.filter(col("vec_id") < 8L)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val assigned = e.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("label"),
          round(cosine("ce", "embedding"), 4).as("ccos"), col("c_id"))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(struct(col("ccos"), (-col("c_id")).as("neg_id"))).as("best"))
        .select(col("label"), (-col("best.neg_id")).as("cell"))
      val cl = assigned.groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      cl.groupBy(col("cell"))
        .agg(sum(col("cnt")).as("n"),
          max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("cell"), col("n"), (-col("m.nl")).as("top_label"),
          col("m.cnt").as("top_n"),
          r4(col("m.cnt").cast(DoubleType) / col("n")).as("purity"))
        .orderBy(col("cell"))
    }),

    // K-MEANS CODEBOOK TRAINING — the production IVF path round 1
    // lacked (its codebook is the √N lowest ids, chosen to stay
    // oracle-checkable): 3 Lloyd iterations with deterministic
    // lowest-id initialization. Every step is order-independent by
    // construction — assignment argmax on the ROUNDED cosine with
    // c_id tie-break, and centroid updates as exact DECIMAL(28,8)
    // component sums (float inputs are double-exact; the decimal sum
    // is associative) divided by exact counts — so the trained
    // codebook is bit-identical across runs, partitionings, and
    // cluster layouts, which is what makes the determinism double-run
    // gate passable for an ITERATIVE float computation. Per iteration:
    // one broadcast of k centroids + one corpus scan + a (cell, dim)
    // hash agg (shuffle ∝ k·64, never ∝ corpus). Output: per-cell
    // population and mean cosine-to-centroid after training.
    // Oracle-checked by unrolling the 3 decimal-exact Lloyd rounds as
    // DuckDB CTE stages (kmeansUnrolledSql) — possible because every
    // training step is deterministic arithmetic, not a fixpoint.
    // VectorMultimodalSpec additionally plants two separated direction
    // clusters and checks recovery.
    "vec_kmeans_cells" -> ((s, d) => {
      CosineSimilarity.register(s)
      assignToCodebook(s, trainedCodebook(s, d), d)
        .groupBy(col("c_id").as("cell"))
        .agg(count(lit(1)).as("n"), r4(davg(col("ccos"))).as("avg_cos"))
        .orderBy(col("cell"))
    }),

    // ANN search over the TRAINED codebook — the end-to-end production
    // IVF path: k-means cells (shared, memoized sample-based training)
    // + exact top-1 within each cell, same search shape as
    // `vec_ann_ivf` but with data-adapted cell boundaries instead of
    // lowest-id seeds. Oracle-checked through the same unrolled-Lloyd
    // CTE prefix as vec_kmeans_cells; VectorMultimodalSpec checks the
    // planted-cluster neighbors match brute force.
    "vec_ann_ivf_trained" -> ((s, d) => {
      CosineSimilarity.register(s)
      perCellTop1(assignToCodebook(s, trainedCodebook(s, d), d)
        .select(col("vec_id"), col("embedding"), col("c_id").as("cell")))
    }),

    // sign-random-projection ANN: 16 fixed ±1 hyperplanes → 16-bit
    // bucket; top-1 neighbor within the bucket. The scale path: bucket
    // populations are ~corpus/2^16, so candidate pairs grow linearly.
    // HASH-ORACLED since the sign-plane rewrite: each bucket bit is
    // the sign of an exact INTEGER sum — components quantize through
    // the engine-identical decimal cast (float widened to double
    // exactly, then DECIMAL(20,8), then 1e-8 units as BIGINT), so the
    // fold is order-independent, the accumulator type is stable, and
    // DuckDB recomputes the identical bucket for every vector.
    "vec_ann_lsh" -> ((s, d) => {
      CosineSimilarity.register(s)
      val e = lshBucketed(s, d)
      val x = e.select(col("bucket"), col("vec_id").as("a"), col("embedding").as("ea"))
      val y = e.select(col("bucket"), col("vec_id").as("b"), col("embedding").as("eb"))
      val w = Window.partitionBy(col("a")).orderBy(desc("cos"), asc("b"))
      x.join(y, Seq("bucket"))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("bucket"), col("b"), round(cosine("ea", "eb"), 4).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("vec_id"), col("bucket"), col("b").as("nn_id"), col("cos"))
        .orderBy(col("vec_id"))
    }),

    // multi-probe LSH (Lv et al., VLDB 2007) — the serving-side
    // recall knob the single-probe rung lacks: besides its own
    // bucket, each query probes the buckets reached by flipping its
    // [[LshProbeFlips]] LOWEST-MARGIN signature bits. The margin IS
    // the exact integer plane dot product (planeDotted — |dot|
    // measures distance to the separating hyperplane), so the bits
    // most likely to differ on a true neighbor are flipped first and
    // the whole probe schedule is deterministic and hash-oracled.
    // via_probe records which probe found the winner (0 = own
    // bucket). The 100 TB story: recall rises by probing T ≪ 2^bits
    // buckets per query instead of widening buckets (which grows
    // EVERY bucket's candidate set) — probe volume scales with the
    // query count, not the corpus. A query vector's (a, b) candidate
    // appears under at most ONE probe (b has one bucket; a's probes
    // are distinct), so the join needs no dedup.
    "vec_ann_lsh_multiprobe" -> ((s, d) => {
      CosineSimilarity.register(s)
      val dotted = planeDotted(s, d, planes, "dots")
        .withColumn("bucket", bucketOfDots(planes, "dots"))
      // probe list = own bucket, then the LshProbeFlips lowest-|dot|
      // bit flips in (|dot|, plane) order — ties break on the plane
      // index, mirrored in the oracle's ORDER BY abs(dot), p
      val probes = dotted.select(col("vec_id").as("a"),
          col("embedding").as("ea"), posexplode(expr(multiProbeSchedule)))
        .select(col("a"), col("ea"), col("pos").as("via_probe"),
          col("col").as("probe"))
      val corpus = lshBucketed(s, d)
        .select(col("bucket").as("probe"), col("vec_id").as("b"),
          col("embedding").as("eb"))
      val w = Window.partitionBy(col("a")).orderBy(desc("cos"), asc("b"))
      probes.join(corpus, Seq("probe"))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("via_probe"), col("b"),
          round(cosine("ea", "eb"), 4).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("vec_id"), col("b").as("nn_id"), col("cos"),
          col("via_probe"))
        .orderBy(col("vec_id"))
    }),

    // recall@1 as a function of the probe count — the LSH twin of
    // vec_ann_recall_vs_probes (IVF): for the bounded probe set
    // (vec_id < 100), compare the multi-probe winner at nprobe ∈
    // {1 = own bucket, 2, 3} against the exact brute-force nearest
    // neighbor. This is the number that PRICES the LshProbeFlips
    // knob: recall and candidate volume per probe level, so an
    // operator raises probes exactly until the recall target is met.
    // Truth side is probe-bounded (|probes| × corpus, the
    // vec_cosine_topk baseline shape) — never all-pairs.
    "vec_ann_multiprobe_recall_curve" -> ((s, d) => {
      CosineSimilarity.register(s)
      val dotted = planeDotted(s, d, planes, "dots")
        .withColumn("bucket", bucketOfDots(planes, "dots"))
      val pb = dotted.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"),
          posexplode(expr(multiProbeSchedule)))
        .select(col("p"), col("pe"), (col("pos") + 1).as("rk"),
          col("col").as("probe"))
      val corpus = dotted.select(col("bucket").as("probe"),
        col("vec_id").as("b"), col("embedding").as("be"))
      val cand = pb.join(corpus, Seq("probe"))
        .filter(col("p") =!= col("b"))
        .select(col("p"), col("b"), col("rk"),
          round(cosine("pe", "be"), 4).as("cos"))
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"))
      val truth = probes
        .join(e.select(col("vec_id").as("b"), col("embedding").as("be")),
          col("p") =!= col("b"))
        .select(col("p"),
          struct(round(cosine("pe", "be"), 4).as("cos"),
            (-col("b")).as("negb")).as("sc"))
        .groupBy(col("p")).agg(max(col("sc")).as("best"))
        .select(col("p"), (-col("best.negb")).as("t_nn"))
      val np = probes.agg(count(lit(1)).as("n_probes"))
      val wP = Window.partitionBy(col("nprobe"), col("p"))
        .orderBy(desc("cos"), asc("b"))
      // nprobe grid DERIVED from the declared knob (1..flips+1 — own
      // bucket alone, then each additional flip), so raising
      // LshProbeFlips extends the curve in engine and oracle together
      // (r8 ADVICE: a hardcoded grid would silently truncate it)
      val grid = (1 to LshProbeFlips + 1).mkString(", ")
      val curve = cand
        .select(col("p"), col("b"), col("rk"), col("cos"),
          explode(expr(s"array($grid)")).as("nprobe"))
        .filter(col("rk") <= col("nprobe"))
      val hits = curve
        .withColumn("rn", row_number().over(wP)).filter(col("rn") === 1)
        .join(truth, Seq("p"))
        .groupBy(col("nprobe"))
        .agg(sum(when(col("b") === col("t_nn"), 1L).otherwise(0L))
          .as("n_hits"))
      val vol = curve.groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"))
      hits.join(vol, Seq("nprobe")).crossJoin(broadcast(np))
        .select(col("nprobe"), col("n_probes"), col("n_candidates"),
          r4(col("n_hits").cast(DoubleType) / col("n_probes"))
            .as("recall_at_1"),
          r4(col("n_candidates").cast(DoubleType) / col("n_probes"))
            .as("mean_candidates"))
        .orderBy(col("nprobe"))
    }),

    // the SERVING POINT (r13, VERDICT r12 #4): the single recall-vs-
    // probes curve is a diagnostic; a training pipeline needs the ONE
    // configuration that actually reaches its recall target, priced.
    // Measured across the (tables × bits × flips) grid on this corpus
    // (DevAnnServe, r13): one table tops out at recall 0.60 no matter
    // how many bit flips — the corpus's true nearest neighbors sit at
    // cosine ~0.3–0.48 (weakly correlated), so a single table's
    // collision coverage saturates. INDEPENDENT tables multiply
    // coverage (recall = 1 − Π(1 − p_t)): [[ServingTables]] tables ×
    // [[ServingBandBits]] bits × [[ServingProbeFlips]] lowest-margin
    // flips per table measures recall@1 ≈ 0.88–0.89 at both sf0.01
    // and sf0.1, at a mean candidate volume of ~48% of this corpus —
    // the honest price of 0.8+ recall at cosine-0.4 neighbor strength
    // (at production dup-similarity 0.9+ the same config collides
    // near-certainly per table and the candidate fraction collapses).
    // Output = ONE priced row: the config, probe count, candidate
    // volume, recall@1 vs exact brute force, and whether the mean
    // candidate volume sits under [[ServingCandidateCap]]. The 100 TB
    // shape: the corpus is bucketed T times (one shuffle each at
    // build, amortized across every query batch), probes join on the
    // (table, bucket) equi-key — never all-pairs; the truth side is
    // probe-bounded (the vec_cosine_topk baseline shape).
    "vec_ann_serving_point" -> ((s, d) => {
      CosineSimilarity.register(s)
      val T = ServingTables; val bits = ServingBandBits
      var df = planeDotted(s, d, servingPlanes, "dots")
      for (t <- 0 until T) {
        val base = t * bits
        df = df.withColumn(s"bk$t", expr(
          s"""aggregate(sequence(0, ${bits - 1}), CAST(0 AS BIGINT),
             |  (acc, i) -> acc + IF(element_at(dots, $base + i + 1) > 0,
             |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""
            .stripMargin))
      }
      df = df.cache() // corpus buckets + probe schedules read it twice
      // corpus side: (table, bucket, b) — every vector, every table
      val corpus = df.select(col("vec_id").as("b"), explode(expr(
          (0 until T).map(t => s"struct($t AS t, bk$t AS probe)")
            .mkString("array(", ", ", ")"))).as("tb"))
        .select(col("tb.t").as("t"), col("tb.probe").as("probe"), col("b"))
      // probe side: own bucket + the ServingProbeFlips lowest-|dot|
      // single-bit flips per table (ties on the local plane index —
      // the multiProbeSchedule discipline, per table)
      def sched(t: Int): String = {
        val base = t * bits
        s"""transform(concat(array(bk$t),
           |  transform(slice(transform(array_sort(
           |      transform(slice(dots, $base + 1, $bits),
           |        (x, i) -> struct(abs(x) AS m, i AS i))),
           |    q -> q.i), 1, $ServingProbeFlips),
           |  f -> bk$t ^ shiftleft(CAST(1 AS BIGINT), f))),
           |  pr -> struct($t AS t, pr AS probe))""".stripMargin
      }
      val pb = df.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), explode(expr(
          (0 until T).map(sched).mkString("concat(", ", ", ")"))).as("tp"))
        .select(col("p"), col("tp.t").as("t"), col("tp.probe").as("probe"))
      val cand = pb.join(corpus, Seq("t", "probe"))
        .filter(col("p") =!= col("b"))
        .select(col("p"), col("b")).distinct()
      val e = Tables.embeddings(s, d)
      val scored = cand
        .join(e.select(col("vec_id").as("p"), col("embedding").as("pe")),
          Seq("p"))
        .join(e.select(col("vec_id").as("b"), col("embedding").as("be")),
          Seq("b"))
        .select(col("p"), col("b"), round(cosine("pe", "be"), 4).as("cos"))
      val wS = Window.partitionBy(col("p")).orderBy(desc("cos"), asc("b"))
      val win = scored.withColumn("rn", row_number().over(wS))
        .filter(col("rn") === 1).select(col("p"), col("b"))
      val probes = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("p"), col("embedding").as("pe"))
      val truth = probes
        .join(e.select(col("vec_id").as("b"), col("embedding").as("be")),
          col("p") =!= col("b"))
        .select(col("p"), struct(round(cosine("pe", "be"), 4).as("cos"),
          (-col("b")).as("negb")).as("sc"))
        .groupBy(col("p")).agg(max(col("sc")).as("best"))
        .select(col("p"), (-col("best.negb")).as("t_nn"))
      val np = probes.agg(count(lit(1)).as("n_probes"))
      val hits = win.join(truth, Seq("p"))
        .agg(sum(when(col("b") === col("t_nn"), 1L).otherwise(0L))
          .as("n_hits"))
      val vol = cand.agg(count(lit(1)).as("n_candidates"))
      hits.crossJoin(broadcast(vol)).crossJoin(broadcast(np))
        .select(lit(T).as("n_tables"), lit(bits).as("band_bits"),
          lit(ServingProbeFlips).as("n_flips"), col("n_probes"),
          col("n_candidates"),
          r4(col("n_hits").cast(DoubleType) / col("n_probes"))
            .as("recall_at_1"),
          r4(col("n_candidates").cast(DoubleType) / col("n_probes"))
            .as("mean_candidates"),
          (col("n_candidates").cast(DoubleType) / col("n_probes")
            <= ServingCandidateCap).as("under_serving_cap"))
    }),

    // second-moment (Gram) matrix of the embedding corpus — the
    // mergeable statistic behind PCA whitening, covariance drift
    // monitoring, and dimensionality audits of an embedding store.
    // Shape is the one that survives 100 TB: each partition folds its
    // rows into ONE exact d²/2-cell accumulator (see gramInt), so the
    // only shuffle carries O(d²·partitions) partial rows regardless
    // of corpus size. Exactness: components quantize through the
    // engine-identical 1e-8 decimal cast (the vec_ann_lsh basis),
    // products are exact integers, and sums accumulate as
    // DECIMAL(38,0) — order-independent, so the matrix is
    // bit-identical across engines and partitionings and the query
    // carries a full oracle.
    "vec_gram_matrix" -> ((s, d) => {
      gramInt(s, d)
        .select(col("i"), col("j"),
          r4(col("gi").cast(DoubleType) / GramUnit / GramUnit).as("gram"))
        .orderBy(col("i"), col("j"))
    }),

    // top principal direction by power iteration — the spectral
    // summary (dominant variance axis) of the embedding corpus. The
    // distributed work is exactly one Gram aggregation (see
    // vec_gram_matrix: one scan, one bounded shuffle); the iteration
    // itself runs on the d×d matrix, which is driver-sized BY
    // CONSTRUCTION (d=64 → 4096 entries — the same bounded-scalar
    // pattern as the k-means codebook), so no per-round corpus pass
    // exists to optimize. Every round is exact: the matrix-vector
    // product multiplies DECIMAL(38,0) Gram entries by 1e-12-unit
    // integer components (order-independent integer sums), the
    // normalizer is the SIGNED max-abs component (tie → lowest i,
    // making the sign convention deterministic: the peak component
    // converges to +1), and requantization rounds the double ratio at
    // 12 dp — the proven double→decimal cast discipline. DuckDB
    // replays the identical [[PowerRounds]] rounds as unrolled CTEs,
    // so an ITERATIVE eigensolve is hash-oracled.
    "vec_pca_power" -> ((s, d) => {
      val rows = gramInt(s, d).collect()
      val dim = rows.iterator.map(_.getInt(0)).max
      val g = Array.fill(dim + 1, dim + 1)(BigInt(0))
      rows.foreach { r =>
        g(r.getInt(0))(r.getInt(1)) = BigInt(r.getDecimal(2).toBigInteger)
      }
      var v = Array.fill(dim + 1)(BigInt(PowerScale))
      for (_ <- 1 to PowerRounds) {
        val u = Array.tabulate(dim + 1) { i =>
          if (i == 0) BigInt(0)
          else (1 to dim).map(j => g(i)(j) * v(j)).sum
        }
        var um = BigInt(0) // signed max-abs, tie → lowest i (strict >)
        for (i <- 1 to dim) if (u(i).abs > um.abs) um = u(i)
        require(um != 0, "power iteration hit the zero vector")
        val umD = um.toDouble
        v = Array.tabulate(dim + 1) { i =>
          if (i == 0) BigInt(0)
          else BigInt(new java.math.BigDecimal(u(i).toDouble / umD)
            .setScale(12, java.math.RoundingMode.HALF_UP)
            .movePointRight(12).longValueExact())
        }
      }
      import s.implicits._
      (1 to dim).map(i => (i, v(i).toDouble / PowerScale))
        .toDF("i", "pc1raw")
        .select(col("i"), r4(col("pc1raw")).as("pc1"))
        .orderBy(col("i"))
    }))

  /** exact top-1 neighbor within each cell of a (cell, vec_id,
    * embedding) assignment — the per-cell search shared by both IVF
    * variants (one tie-break/rounding definition, not three copies) */
  private def perCellTop1(assigned: DataFrame): DataFrame = {
    val x = assigned.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
    val y = assigned.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"))
    val wNn = Window.partitionBy(col("a")).orderBy(desc("cos"), asc("b"))
    x.join(y, Seq("cell"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("cell"), col("b"),
        round(cosine("ea", "eb"), 4).as("cos"))
      .withColumn("rn", row_number().over(wNn))
      .filter(col("rn") === 1)
      .select(col("a").as("vec_id"), col("cell"), col("b").as("nn_id"), col("cos"))
      .orderBy(col("vec_id"))
  }

  /** assign every row of `vectors` to its max-cosine codebook cell
    * (tie → lower c_id, decided on the ROUNDED cosine) — shared by the
    * k-means consumers AND the lowest-id IVF variant; takes the vector
    * set explicitly so training can assign its SAMPLE while serving
    * assigns the full corpus */
  private def assignVectors(vectors: DataFrame, codebook: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("ccos"), asc("c_id"))
    vectors.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        round(cosine("ce", "embedding"), 4).as("ccos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  private def assignToCodebook(s: SparkSession, codebook: DataFrame,
      d: String): DataFrame =
    assignVectors(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), codebook)

  /** K-MEANS CODEBOOK TRAINING — the production IVF path round 1
    * lacked (its oracle-checkable codebook is the √N lowest ids):
    * 3 Lloyd iterations from deterministic lowest-id initialization.
    * Every step is order-independent by construction — assignment
    * argmax on the ROUNDED cosine with c_id tie-break, and centroid
    * updates as exact DECIMAL(28,8) component sums (float inputs are
    * double-exact; decimal addition is associative) divided by exact
    * counts — so the trained codebook is bit-identical across runs,
    * partitionings, and cluster layouts: that is what makes the
    * determinism gate passable for an ITERATIVE float computation.
    * Per iteration: one k-row broadcast + one corpus scan + a
    * (cell, dim) hash agg — shuffle ∝ k·64, never ∝ corpus.
    * Memoized per (session, dir): two declared queries consume the
    * same training. */
  private val codebookMemo = SessionMemo[DataFrame]("codebook")

  /** only the benchmark harness calls this; see [[SessionMemo.clear]] */
  private[graft] def clearMemos(s: SparkSession): Unit = SessionMemo.clear(s)

  /** Lloyd round count and training-sample size factor — shared by the
    * engine loop and the unrolled oracle SQL so they cannot drift */
  val LloydRounds = 3
  val TrainSampleFactor = 20

  /** vec_pq_adc parameters — shared with the oracle SQL so the two
    * cannot drift: PqM subspaces of PqD dims (PqM·PqD = the embedding
    * width), PqK codes per subspace (the PqK lowest vec_ids). */
  val PqM = 8
  val PqD = 8
  val PqK = 16

  /** the oracle twin of the engine's left-fold subspace squared-L2:
    * the PqD difference-square terms summed with EXPLICIT left
    * association, the exact evaluation order of
    * `aggregate(zip_with(...), 0.0, (a, v) -> a + v)`. `off` is a
    * 0-based subspace column reference; DuckDB lists are 1-based. */
  private def sqL2Sql(a: String, b: String, off: String): String =
    (1 to PqD).map { j =>
      s"($a[$off*$PqD+$j] - $b[$off*$PqD+$j]) * ($a[$off*$PqD+$j] - $b[$off*$PqD+$j])"
    }.mkString("(", " + ", ")")

  private def trainedCodebook(s: SparkSession, d: String): DataFrame =
    codebookMemo(s, d) {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val k = math.ceil(math.sqrt(  // footer-metadata N: action-free (ADVICE r4)
        GraphOps.tableRows(s, d, "embeddings").toDouble)).toInt
      // SAMPLE-BASED training (VERDICT r3 #4), the production IVF
      // shape: Lloyd iterates over a deterministic bounded sample (the
      // k·TrainSampleFactor lowest vec_ids — ⌈√N⌉·20 rows, ~√N× smaller
      // than the corpus), and only the final single-pass ASSIGNMENT
      // touches every vector. Deterministic sampling keeps the whole
      // computation oracle-expressible, unlike a random sample. The
      // lazy localCheckpoint truncates the sample's lineage so the
      // 3-round plan references one materialized ≤k·20-row relation
      // instead of re-deriving the sort-limit per round.
      val sample = e.orderBy(col("vec_id")).limit(k * TrainSampleFactor)
        .localCheckpoint(false)
      var centroids = e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").cast("int").as("c_id"), col("embedding").as("ce"))
      for (_ <- 1 to LloydRounds) {
        val members = assignVectors(sample, centroids)
          .select(col("c_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        // exact decimal mean per (cell, dimension) — order-independent
        // (the final double→float narrowing is deterministic rounding).
        // float → double (exact) → decimal: both engines round the
        // same double to DECIMAL(28,8), not a float, keeping the cast
        // discipline identical to the oracle's
        val dims = members.groupBy(col("c_id"), col("pos"))
          .agg((sum(col("x").cast("double").cast(DecimalType(28, 8)))
            .cast("double") / count(lit(1))).as("m"))
        val updated = dims.groupBy(col("c_id"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)")
            .cast("array<float>").as("ce_new"))
        // carry forward centroids whose cell went empty (duplicate
        // seed vectors lose every member to the lower c_id on the
        // rounded-cosine tie) — the codebook must stay k cells wide,
        // not silently shrink.
        // LATCHED per round (r14, guide §1.2/§5): centroids is
        // referenced twice per round (the assignment broadcast + this
        // carry-forward join), so the lazy chain doubled per round and
        // each nested broadcast re-executed the earlier rounds'
        // subtrees — measured 33 jobs for the cold ivf_trained chain.
        // The latch is a ≤k-row materialization (√N centroids), one
        // tiny job per round, and the chain stays linear. Plan-only
        // audit sessions keep the action-free lazy cache via latch's
        // planOnly branch.
        centroids = GraphOps.latch(s,
          centroids.join(updated, Seq("c_id"), "left")
            .select(col("c_id"), coalesce(col("ce_new"), col("ce")).as("ce")))
      }
      centroids.cache()
    }

  /** 16 fixed 64-dim ±1 SIGN hyperplanes from the Md5Hash constant
    * stream (indices 200+, disjoint from the MinHash/Count-Min seed
    * ranges) — pure data emitted as identical literals into the Spark
    * expression and the DuckDB oracle. Sign projections are the
    * classic SimHash-for-vectors variant of random projection
    * (preserves the cosine-LSH guarantee), and their dot products
    * accumulate as EXACT decimals of exactly-widened floats — so
    * every bucket bit is engine-identical and vec_ann_lsh is
    * hash-oracled, where the former real-valued planes' double fold
    * was association-order-dependent. */
  /** a family of k random sign planes over the 64 embedding dims,
    * derived from the md5 permutation constants at `base` — each
    * family (ANN buckets, cluster bands) gets a disjoint base */
  private def planesFor(base: Int, k: Int): Array[Array[Int]] =
    Array.tabulate(k, 64)((i, j) =>
      if (((graft.functions.Md5Hash.permA(base + i * 64 + j) >> 7) & 1L) == 1L) 1
      else -1)

  lazy val planes: Array[Array[Int]] = planesFor(200, 16)

  /** vec_ann_lsh_multiprobe: extra buckets probed per query = the
    * [[LshProbeFlips]] lowest-margin bit flips (shared with the
    * oracle SQL) */
  val LshProbeFlips = 2

  /** the multi-probe schedule as a SQL expression over (bucket, dots):
    * own bucket first, then the [[LshProbeFlips]] lowest-|dot| bit
    * flips in (|dot|, plane) order — ties break on the plane index,
    * mirrored in the oracle's ORDER BY abs(dot), p. Shared by
    * vec_ann_lsh_multiprobe and its recall curve. */
  private def multiProbeSchedule: String =
    s"""concat(array(bucket),
       |  transform(slice(transform(array_sort(
       |      transform(dots, (x, i) -> struct(abs(x) AS m, i AS i))),
       |    t -> t.i), 1, $LshProbeFlips),
       |  f -> bucket ^ shiftleft(CAST(1 AS BIGINT), f)))""".stripMargin

  /** the dedup_embedding_cluster signature family: 32 planes = 4
    * bands × 8 bits (base 5000, disjoint from the 200-family) */
  lazy val clusterPlanes: Array[Array[Int]] = planesFor(5000, 32)

  /** vec_ann_serving_point configuration (r13, VERDICT r12 #4) — the
    * measured (tables × bits × flips) point that reaches recall@1 ≥
    * 0.8 on this corpus (DevAnnServe sweep: 0.88–0.89 at sf0.01 and
    * sf0.1; one table saturates at 0.60). Cap = mean candidates per
    * query the serving config may cost before the point is declared
    * over budget (the EmbCandidateMaxPairs pricing discipline applied
    * to query-side fan-out). */
  val ServingTables = 8
  val ServingBandBits = 6
  val ServingProbeFlips = 5
  val ServingCandidateCap = 2048L

  /** serving-table plane family: [[ServingTables]]·[[ServingBandBits]]
    * = 48 planes at base 9000 — disjoint from the 200- and
    * 5000-families */
  lazy val servingPlanes: Array[Array[Int]] =
    planesFor(9000, ServingTables * ServingBandBits)

  /** `df` round-robin repartitioned to one partition per core. Each
    * sf-scale table is a single parquet split, so a kernel that reads
    * one directly runs as a single task. */
  private[operators] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** embeddings with the exact integer plane dot products of family
    * `ps` as an array<bigint> column — the shared basis of both the
    * signature sign bits ([[signedProjected]]) and the multi-probe
    * bit-flip margins (vec_ann_lsh_multiprobe: |dot| IS the distance
    * to the plane, so the lowest-|dot| bits are the ones most likely
    * flipped on a true neighbor). Quantization runs ONCE per row (the
    * DECIMAL(20,8) cast chain, a higher-order `transform` that
    * evaluates interpreted), and all k dots are one codegen'd
    * [[PlaneDots]] call over it. The corpus is spread across the
    * cores first. */
  private[operators] def planeDotted(
      s: SparkSession, d: String, ps: Array[Array[Int]],
      colName: String): DataFrame =
    spread(Tables.embeddings(s, d))
      .withColumn("_q", expr(
        """transform(embedding, x ->
          |  CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8))
          |       * 100000000 AS BIGINT))""".stripMargin))
      .withColumn(colName, PlaneDots(col("_q"), ps))
      .drop("_q")

  /** the k-bit signature from [[planeDotted]]'s sign bits */
  private[operators] def bucketOfDots(
      ps: Array[Array[Int]], dotsCol: String): Column =
    ps.indices.map { i =>
      when(element_at(col(dotsCol), i + 1) > 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** embeddings with the k-bit signed-random-projection signature of
    * plane family `ps` in column `colName`. Each signature bit is the
    * sign of an exact INTEGER dot product (components quantized
    * through the engine-identical DECIMAL(20,8) → 1e-8-unit BIGINT
    * cast), so the fold is order-independent and DuckDB recomputes
    * the identical signature per vector ([[signatureCtesSql]] is the
    * oracle-side twin). No cache: the signature is one codegen'd
    * kernel call per row, cheaper to recompute on each side of a
    * self-join than to pin the bucketed corpus in storage memory for
    * the session (the round-1 per-call cache was never unpersisted). */
  private[operators] def signedProjected(
      s: SparkSession, d: String, ps: Array[Array[Int]],
      colName: String): DataFrame =
    planeDotted(s, d, ps, "_dots")
      .withColumn(colName, bucketOfDots(ps, "_dots"))
      .drop("_dots")

  /** embeddings with their 16-bit LSH `bucket` (the vec_ann_lsh
    * single-probe basis, 200-family planes) */
  private[operators] def lshBucketed(s: SparkSession, d: String): DataFrame =
    signedProjected(s, d, planes, "bucket")

  /** the DuckDB CTE block rebuilding a [[signedProjected]] signature
    * per vector (`pl`/`dims`/`bits` → `bk(vec_id, bucket)`) for plane
    * family `ps` — spliced into every oracle that blocks on a
    * sign-plane signature */
  private[operators] def signatureCtesSql(ps: Array[Array[Int]]): String = {
    val rows = ps.indices.flatMap(i => (0 until 64).map(j =>
      s"($i, $j, ${ps(i)(j)})")).mkString(", ")
    s"""pl(p, j, s) AS (VALUES $rows),
       |dims AS (
       |  SELECT vec_id, j.j AS j,
       |    CAST(CAST(CAST(embedding[j.j + 1] AS DOUBLE) AS DECIMAL(20,8))
       |         * 100000000 AS BIGINT) AS d
       |  FROM embeddings CROSS JOIN (SELECT range AS j FROM range(64)) j),
       |bits AS (
       |  SELECT d.vec_id, pl.p,
       |    CASE WHEN sum(d.d * pl.s) > 0
       |      THEN CAST(1 AS BIGINT) << pl.p ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM dims d JOIN pl ON pl.j = d.j
       |  GROUP BY d.vec_id, pl.p),
       |bk AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
       |       FROM bits GROUP BY vec_id)""".stripMargin
  }

  /** [[signatureCtesSql]] for the vec_ann_lsh 16-bit bucket family */
  private[operators] def lshBucketCtesSql: String = signatureCtesSql(planes)

  /** 1e-8 component quantization unit (the vec_ann_lsh integer basis)
    * and the 1e-12 power-iteration vector scale — shared with the
    * oracle SQL so the two sides can never drift */
  val GramUnit = 1e8
  val PowerScale = 1000000000000L
  val PowerRounds = 6

  /** memo for the exact integer Gram matrix (i, j, gi): gi = Σ_rows
    * xi·xj in 1e-16 units, both indexes 1-based — two declared
    * queries consume the same matrix */
  private val gramMemo = SessionMemo[DataFrame]("gram")

  /** Why mapPartitions (policy exception (d), like the multimodal
    * decoders): the Gram is a per-partition ACCUMULATION — O(d²)
    * state updated by every row, shuffling only d²/2 partial rows per
    * partition, and the corpus is spread to one partition per core
    * (MLlib's computeGramianMatrix shape). The declarative
    * alternatives both lose: a nested higher-order `transform` emits
    * the d²/2 products per row through an INTERPRETED lambda (HOFs
    * have no doGenCode — measured 3.6 s at sf0.1 against 0.3 s for
    * this loop), and a component self-join shuffles the corpus-sized
    * (vec_id, i, xi) table. Exactness: upper-triangle partials
    * accumulate in a Long fast lane flushed into BigInt every
    * [[GramFlushRows]] rows (a Long would wrap past ~3.8e3 rows of
    * max-magnitude products), and each partial ships as exact
    * (quot, rem) 1e18-limb longs rebuilt into DECIMAL(38,0) — no
    * precision cliff at any corpus size. The lower triangle mirrors
    * the summed upper one in the same projection, so the partials
    * are computed once. Plan-only sessions cache instead of
    * checkpointing (the [[DedupOps]] embSig discipline). */
  private def gramInt(s: SparkSession, d: String): DataFrame =
    gramMemo(s, d) {
      import s.implicits._
      val limb = java.math.BigInteger.valueOf(1000000000000000000L)
      val partials = spread(Tables.embeddings(s, d).select(col("embedding")))
        .as[Seq[Float]]
        .mapPartitions { rows =>
          var dim = -1
          var q: Array[Long] = null          // quantized row components
          var fast: Array[Long] = null       // upper-triangle Long lane
          var slow: Array[java.math.BigInteger] = null
          var headroom = GramLongHeadroom    // |fast| bound until flush
          def flush(): Unit = {
            var t = 0
            while (t < fast.length) {
              if (fast(t) != 0L) {
                slow(t) = slow(t).add(java.math.BigInteger.valueOf(fast(t)))
                fast(t) = 0L
              }
              t += 1
            }
            headroom = GramLongHeadroom
          }
          rows.foreach { e =>
            if (dim < 0) {
              dim = e.length
              q = new Array[Long](dim)
              fast = new Array[Long](dim * (dim + 1) / 2)
              slow = Array.fill(fast.length)(java.math.BigInteger.ZERO)
            }
            var maxAbs = 0.0
            var i = 0
            while (i < dim) { // engine-identical 1e-8 quantization
              q(i) = new java.math.BigDecimal(e(i).toDouble)
                .setScale(8, java.math.RoundingMode.HALF_UP)
                .movePointRight(8).longValueExact()
              val a = math.abs(q(i).toDouble)
              if (a > maxAbs) maxAbs = a
              i += 1
            }
            // flush BEFORE accumulating once this row's worst-case
            // product could push any cell past the Long lane's bound
            headroom -= maxAbs * maxAbs
            if (headroom <= 0) {
              flush()
              headroom -= maxAbs * maxAbs
              require(headroom > 0, "single row exceeds the Gram Long lane")
            }
            var t = 0
            i = 0
            while (i < dim) {
              var j = i
              while (j < dim) {
                fast(t) += q(i) * q(j)
                t += 1; j += 1
              }
              i += 1
            }
          }
          if (dim < 0) Iterator.empty
          else {
            flush()
            var t = -1
            (for (i <- 1 to dim; j <- i to dim) yield {
              t += 1
              val Array(quot, rem) = slow(t).divideAndRemainder(limb)
              (i, j, quot.longValueExact(), rem.longValueExact())
            }).iterator
          }
        }.toDF("i", "j", "quot", "rem")
      val dec = DecimalType(38, 0)
      val upper = partials.groupBy(col("i"), col("j"))
        .agg(sum(col("quot").cast(dec) * lit(1000000000000000000L).cast(dec)
          + col("rem").cast(dec)).as("gi"))
      val full = upper
        .select(explode(array_distinct(array(struct(col("i"), col("j")),
          struct(col("j").as("i"), col("i").as("j"))))).as("c"), col("gi"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("gi"))
      // both consumers read the materialized matrix
      if (GraphOps.planOnly(s)) full.cache() else full.localCheckpoint()
    }

  /** Long-lane magnitude budget before a BigInt flush (half of
    * Long.MaxValue — headroom is decremented by each row's worst-case
    * |q|² product, an upper bound on any cell's growth) */
  private val GramLongHeadroom = 4.6e18

  /** the vec_ann_ivf oracle chain (⌈√N⌉ lowest-id centroids →
    * max-cosine assignment → within-cell top-1), ending in CTE
    * `ivf` = (vec_id, cell, nn_id, cos) — shared with the recall
    * audit so the audited derivation and the serving query cannot
    * drift */
  private val ivfCtesSql =
    """cents AS (
      |  SELECT vec_id AS c_id, embedding AS ce FROM (
      |    SELECT vec_id, embedding,
      |      row_number() OVER (ORDER BY vec_id) AS rn,
      |      ceil(sqrt(count(*) OVER ())) AS k
      |    FROM embeddings) t
      |  WHERE rn <= k),
      |assigned AS (
      |  SELECT vec_id, embedding, c_id AS cell FROM (
      |    SELECT e.vec_id, e.embedding, c.c_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
      |          CAST(e.embedding AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rn
      |    FROM embeddings e CROSS JOIN cents c) t
      |  WHERE rn = 1),
      |nn AS (
      |  SELECT x.vec_id, x.cell, y.vec_id AS b,
      |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |      CAST(y.embedding AS DOUBLE[])), 4) AS cos
      |  FROM assigned x JOIN assigned y
      |    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
      |ivf AS (
      |  SELECT vec_id, cell, b AS nn_id, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, b ASC) AS rn FROM nn) t
      |  WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of [[gramInt]] — CTE `g` = (i, j, gi HUGEINT) */
  private def gramSql: String =
    """ex AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) AS INT) AS i,
      |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
      |         * 100000000 AS BIGINT) AS xi
      |  FROM embeddings),
      |g AS (
      |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.xi AS HUGEINT) * b.xi) AS gi
      |  FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i)""".stripMargin

  /** CTE suffix unrolling the [[PowerRounds]] power-iteration rounds —
    * ends at CTE `v{PowerRounds}` = (j, vq) with vq the 1e-12-unit
    * integer component. Each round: exact HUGEINT mat-vec product,
    * signed max-abs normalizer (tie → lowest i), 12 dp double
    * requantization — the exact arithmetic the Spark side runs. */
  private def powerUnrolledSql: String = {
    val rounds = (1 to PowerRounds).map { r =>
      s"""u$r AS (
         |  SELECT g.i, SUM(g.gi * v.vq) AS u
         |  FROM g JOIN v${r - 1} v ON g.j = v.j GROUP BY g.i),
         |m$r AS (SELECT u AS um FROM u$r ORDER BY abs(u) DESC, i ASC LIMIT 1),
         |v$r AS (
         |  SELECT u$r.i AS j,
         |    CAST(CAST(CAST(u$r.u AS DOUBLE) / CAST(m$r.um AS DOUBLE)
         |         AS DECIMAL(14,12)) * $PowerScale AS HUGEINT) AS vq
         |  FROM u$r, m$r)""".stripMargin
    }
    s"""$gramSql,
       |v0 AS (SELECT DISTINCT i AS j, CAST($PowerScale AS HUGEINT) AS vq FROM g),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** CTE prefix unrolling the [[LloydRounds]] sample-based Lloyd
    * iterations in ANSI SQL — possible because every training step is
    * deterministic arithmetic with a total order: assignment is an
    * argmax on the ROUNDED cosine with c_id tie-break, and centroid
    * updates are exact DECIMAL(28,8) sums (of exactly-widened float
    * inputs) divided by counts, narrowed back to float. Ends at CTEs
    * `c3` (the trained codebook) and `afin` (the full-corpus
    * assignment with its rounded cosine). Shared by the
    * vec_kmeans_cells and vec_ann_ivf_trained oracles. */
  private def kmeansUnrolledSql: String = {
    val rounds = (1 to LloydRounds).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, embedding, c_id FROM (
         |    SELECT s.vec_id, s.embedding, c.c_id,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
         |          CAST(s.embedding AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rn
         |    FROM samp s CROSS JOIN c${i - 1} c) t
         |  WHERE rn = 1),
         |d$i AS (
         |  SELECT c_id, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS m
         |  FROM (
         |    SELECT c_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         |      generate_subscripts(embedding, 1) AS pos
         |    FROM a$i) u
         |  GROUP BY c_id, pos),
         |u$i AS (
         |  SELECT c_id, CAST(list(m ORDER BY pos) AS FLOAT[]) AS ce_new
         |  FROM d$i GROUP BY c_id),
         |c$i AS (
         |  SELECT c.c_id, coalesce(u.ce_new, c.ce) AS ce
         |  FROM c${i - 1} c LEFT JOIN u$i u USING (c_id))""".stripMargin
    }
    s"""par AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
       |ranked AS (
       |  SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |  FROM embeddings),
       |samp AS (SELECT vec_id, embedding FROM ranked, par
       |         WHERE rn <= k * $TrainSampleFactor),
       |c0 AS (SELECT CAST(vec_id AS INT) AS c_id, embedding AS ce
       |       FROM ranked, par WHERE rn <= k),
       |${rounds.mkString(",\n")},
       |afin AS (
       |  SELECT vec_id, embedding, c_id, ccos FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |      round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
       |        CAST(e.embedding AS DOUBLE[])), 4) AS ccos,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
       |          CAST(e.embedding AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN c$LloydRounds c) t
       |  WHERE rn = 1)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "vec_label_separation" ->
      """WITH u AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dimn,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, dimn,
        |    CAST(SUM(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8))
        |      * 100000000 AS BIGINT)) AS HUGEINT) AS sv
        |  FROM u GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    SUM(a.sv * b.sv) AS dot, SUM(a.sv * a.sv) AS n2a,
        |    SUM(b.sv * b.sv) AS n2b
        |  FROM sums a JOIN sums b ON a.dimn = b.dimn AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT la, lb,
        |  round(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 4)
        |    AS centroid_cos
        |FROM pr ORDER BY la, lb""".stripMargin,

    "vec_truncation_audit" ->
      s"""WITH q AS (
         |  SELECT label,
         |    list_sum(list_transform(embedding[1:32], x ->
         |      CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)
         |      * CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)))
         |      AS h2,
         |    list_sum(list_transform(embedding, x ->
         |      CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)
         |      * CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)))
         |      AS f2
         |  FROM embeddings),
         |c AS (
         |  SELECT label,
         |    round(sqrt(CAST(h2 AS DOUBLE) / CAST(f2 AS DOUBLE)), 4) AS c
         |  FROM q)
         |SELECT label, count(*) AS n,
         |  round(${dsumSql("c")} / COUNT(*), 4) AS avg_cos,
         |  min(c) AS min_cos
         |FROM c GROUP BY label ORDER BY label""".stripMargin,

    "vec_dim_variance_topk" ->
      """WITH u AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) AS INT) AS dimn,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (
        |  SELECT dimn,
        |    CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)
        |      AS qx
        |  FROM u),
        |st AS (
        |  SELECT dimn, count(*) AS n, CAST(sum(qx) AS BIGINT) AS sq,
        |    SUM(CAST(qx AS HUGEINT) * qx) AS sqq
        |  FROM q GROUP BY 1)
        |SELECT dimn, n,
        |  round((CAST(sqq AS DOUBLE)
        |    - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n / 1e16, 4)
        |    AS variance,
        |  round(CAST(sq AS DOUBLE) / n / 1e8, 4) AS mean
        |FROM st ORDER BY variance DESC, dimn LIMIT 10""".stripMargin,

    "vec_centroid_drift" ->
      """WITH u AS (
        |  SELECT label, vec_id % 2 = 0 AS ev,
        |    generate_subscripts(embedding, 1) AS dimn,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (
        |  SELECT label, ev, dimn,
        |    CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)) * 100000000 AS BIGINT)
        |      AS qx
        |  FROM u),
        |sums AS (
        |  SELECT label, dimn,
        |    CAST(coalesce(SUM(qx) FILTER (ev), 0) AS HUGEINT) AS se,
        |    CAST(coalesce(SUM(qx) FILTER (NOT ev), 0) AS HUGEINT) AS so
        |  FROM q GROUP BY 1, 2),
        |g AS (
        |  SELECT label, SUM(se * so) AS dot, SUM(se * se) AS n2e,
        |    SUM(so * so) AS n2o
        |  FROM sums GROUP BY 1),
        |cnt AS (
        |  SELECT label, count(*) FILTER (vec_id % 2 = 0) AS n_even,
        |    count(*) FILTER (vec_id % 2 <> 0) AS n_odd
        |  FROM embeddings GROUP BY 1)
        |SELECT label, n_even, n_odd,
        |  round(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(n2e AS DOUBLE)) * sqrt(CAST(n2o AS DOUBLE))), 4)
        |    AS cos_drift
        |FROM g JOIN cnt USING (label)
        |WHERE n_even > 0 AND n_odd > 0
        |ORDER BY label""".stripMargin,

    "vec_gram_matrix" ->
      s"""WITH $gramSql
         |SELECT i, j,
         |  round(CAST(gi AS DOUBLE) / $GramUnit / $GramUnit, 4) AS gram
         |FROM g ORDER BY i, j""".stripMargin,

    "vec_pca_power" ->
      s"""WITH $powerUnrolledSql
         |SELECT j AS i,
         |  round(CAST(vq AS DOUBLE) / $PowerScale, 4) AS pc1
         |FROM v$PowerRounds ORDER BY i""".stripMargin,

    "vec_kmeans_cells" ->
      s"""WITH $kmeansUnrolledSql
         |SELECT c_id AS cell, count(*) AS n,
         |  round(CAST(SUM(CAST(ccos AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
         |    AS avg_cos
         |FROM afin GROUP BY c_id ORDER BY cell""".stripMargin,

    "vec_ann_ivf_trained" ->
      s"""WITH $kmeansUnrolledSql,
         |nn AS (
         |  SELECT x.vec_id, x.c_id AS cell, y.vec_id AS b,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])), 4) AS cos
         |  FROM afin x JOIN afin y
         |    ON x.c_id = y.c_id AND x.vec_id <> y.vec_id)
         |SELECT vec_id, cell, b AS nn_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, b ASC) AS rn FROM nn) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "vec_norm_stats" ->
      """WITH n AS (
        |  SELECT label, sqrt(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  round(CAST(SUM(CAST(nrm AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_norm,
        |  round(min(nrm), 4) AS min_norm,
        |  round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "vec_mips_topk" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
        |  ORDER BY vec_id LIMIT 10),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_inner_product(
        |      CAST(p.pe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS dot
        |  FROM probes p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, vec_id, dot, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY dot DESC, vec_id ASC) AS INT) AS rank FROM scored) t
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "vec_pq_adc" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cb AS (
         |  SELECT vec_id AS c_id, emb AS ce FROM e ORDER BY vec_id LIMIT $PqK),
         |sub AS (SELECT unnest(range(0, $PqM)) AS ss),
         |codes AS (
         |  SELECT vec_id, ss, c_id FROM (
         |    SELECT e.vec_id, sub.ss, cb.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id, sub.ss
         |        ORDER BY round(${sqL2Sql("e.emb", "cb.ce", "sub.ss")}, 4) ASC,
         |          cb.c_id ASC) AS rn
         |    FROM e CROSS JOIN sub CROSS JOIN cb) t
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS probe_id, emb AS pe FROM e ORDER BY vec_id LIMIT 10),
         |dt AS (
         |  SELECT p.probe_id, sub.ss, cb.c_id,
         |    round(${sqL2Sql("p.pe", "cb.ce", "sub.ss")}, 4) AS pd
         |  FROM probes p CROSS JOIN sub CROSS JOIN cb),
         |adc AS (
         |  SELECT dt.probe_id, c.vec_id,
         |    CAST(SUM(CAST(pd AS DECIMAL(18,4))) AS DOUBLE) AS adc_dist
         |  FROM codes c JOIN dt ON dt.ss = c.ss AND dt.c_id = c.c_id
         |  WHERE c.vec_id <> dt.probe_id
         |  GROUP BY 1, 2)
         |SELECT probe_id, vec_id, adc_dist, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY adc_dist ASC, vec_id ASC) AS INT) AS rank FROM adc) t
         |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    "vec_cosine_topk" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
        |  ORDER BY vec_id LIMIT 10),
        |scored AS (
        |  SELECT p.probe_id, e.vec_id,
        |    round(list_cosine_similarity(
        |      CAST(p.pe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
        |  FROM probes p CROSS JOIN embeddings e WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, vec_id, cos, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM scored) t
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "vec_ann_ivf" ->
      s"""WITH $ivfCtesSql
         |SELECT vec_id, cell, nn_id, cos FROM ivf ORDER BY vec_id""".stripMargin,

    "vec_ivf_recall_audit" ->
      s"""WITH $ivfCtesSql,
         |truth AS (
         |  SELECT vec_id, nn_id AS t_nn, cos AS t_cos FROM (
         |    SELECT x.vec_id, y.vec_id AS nn_id,
         |      round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |        CAST(y.embedding AS DOUBLE[])), 4) AS cos,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |          CAST(y.embedding AS DOUBLE[])), 4) DESC,
         |        y.vec_id ASC) AS rn
         |    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id) t
         |  WHERE rn = 1)
         |SELECT count(*) AS n_vectors,
         |  count(*) FILTER (WHERE ivf.nn_id = truth.t_nn) AS n_match,
         |  round(CAST(count(*) FILTER (WHERE ivf.nn_id = truth.t_nn)
         |    AS DOUBLE) / count(*), 4) AS recall_at_1,
         |  round(CAST(SUM(CAST(truth.t_cos - ivf.cos AS DECIMAL(18,4)))
         |    AS DOUBLE) / count(*), 4) AS mean_cos_gap
         |FROM ivf JOIN truth USING (vec_id)""".stripMargin,

    "vec_ann_recall_vs_probes" ->
      s"""WITH $ivfCtesSql,
         |probes AS (
         |  SELECT vec_id AS p, embedding AS pe FROM embeddings
         |  WHERE vec_id < 100),
         |pc AS (
         |  SELECT p, pe, c_id AS cell, rk FROM (
         |    SELECT pr.p, pr.pe, c.c_id,
         |      row_number() OVER (PARTITION BY pr.p ORDER BY
         |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
         |          CAST(pr.pe AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rk
         |    FROM probes pr CROSS JOIN cents c) t
         |  WHERE rk <= 2),
         |cand AS (
         |  SELECT pc.p, a.vec_id AS b, pc.rk,
         |    round(list_cosine_similarity(CAST(pc.pe AS DOUBLE[]),
         |      CAST(a.embedding AS DOUBLE[])), 4) AS cos
         |  FROM pc JOIN assigned a ON pc.cell = a.cell AND pc.p <> a.vec_id),
         |truth AS (
         |  SELECT p, b AS t_nn FROM (
         |    SELECT pr.p, e.vec_id AS b,
         |      row_number() OVER (PARTITION BY pr.p ORDER BY
         |        round(list_cosine_similarity(CAST(pr.pe AS DOUBLE[]),
         |          CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id ASC)
         |        AS rn
         |    FROM probes pr JOIN embeddings e ON pr.p <> e.vec_id) t
         |  WHERE rn = 1),
         |np AS (SELECT count(*) AS n_probes FROM probes),
         |curve AS (
         |  SELECT c.p, c.b, c.cos, q.nprobe
         |  FROM cand c CROSS JOIN (SELECT unnest([1, 2]) AS nprobe) q
         |  WHERE c.rk <= q.nprobe),
         |hits AS (
         |  SELECT nprobe,
         |    CAST(SUM(CASE WHEN b = t_nn THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hits
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nprobe, p
         |      ORDER BY cos DESC, b ASC) AS rn
         |    FROM curve) t JOIN truth USING (p)
         |  WHERE rn = 1 GROUP BY 1),
         |vol AS (SELECT nprobe, count(*) AS n_candidates FROM curve
         |        GROUP BY 1)
         |SELECT h.nprobe, np.n_probes, v.n_candidates,
         |  round(CAST(h.n_hits AS DOUBLE) / np.n_probes, 4) AS recall_at_1,
         |  round(CAST(v.n_candidates AS DOUBLE) / np.n_probes, 4)
         |    AS mean_candidates
         |FROM hits h JOIN vol v USING (nprobe) CROSS JOIN np
         |ORDER BY h.nprobe""".stripMargin,

    "vec_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (
        |  SELECT vec_id, e, list_aggregate(e, 'min') AS mn,
        |    list_aggregate(e, 'max') AS mx FROM e)
        |SELECT vec_id, round(mn, 4) AS v_min, round(mx, 4) AS v_max,
        |  CASE WHEN mx = mn THEN 0 ELSE
        |    CAST(list_aggregate(list_transform(e,
        |      x -> CAST(floor((x - mn) * 255 / (mx - mn)) AS BIGINT)),
        |      'sum') AS BIGINT) END AS code_sum
        |FROM m ORDER BY vec_id""".stripMargin,

    "vec_cell_stats" ->
      """WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS ce FROM embeddings
        |  WHERE vec_id < 8),
        |assigned AS (
        |  SELECT vec_id, ccos AS cos, c_id AS cell FROM (
        |    SELECT e.vec_id, c.c_id,
        |      round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[])), 4) AS ccos,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1)
        |SELECT cell, count(*) AS n,
        |  round(CAST(SUM(CAST(cos AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
        |    AS avg_cos,
        |  round(min(cos), 4) AS min_cos
        |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin,

    "vec_metric_rank_agreement" ->
      """WITH probes AS (
        |  SELECT vec_id AS p, embedding AS pe
        |  FROM embeddings WHERE vec_id < 100),
        |scored AS (
        |  SELECT pr.p, e.vec_id AS b,
        |    round(list_cosine_similarity(CAST(pr.pe AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 4) AS cos,
        |    round(list_inner_product(CAST(pr.pe AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])), 4) AS dot
        |  FROM embeddings e CROSS JOIN probes pr
        |  WHERE e.vec_id <> pr.p),
        |ranked AS (
        |  SELECT p, b,
        |    row_number() OVER (PARTITION BY p ORDER BY cos DESC, b) AS rc,
        |    row_number() OVER (PARTITION BY p ORDER BY dot DESC, b) AS rd
        |  FROM scored),
        |m AS (
        |  SELECT p, count(*) AS ov FROM ranked
        |  WHERE rc <= 10 AND rd <= 10 GROUP BY 1),
        |np AS (SELECT count(*) AS n_probes FROM probes)
        |SELECT np.n_probes,
        |  CAST((SELECT sum(ov) FROM m) AS BIGINT) AS total_overlap,
        |  round(CAST((SELECT sum(ov) FROM m) AS DOUBLE)
        |    / CAST(np.n_probes * 10 AS DOUBLE), 4) AS mean_overlap_10
        |FROM np""".stripMargin,

    "vec_hubness_audit" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS pe
        |  FROM embeddings WHERE vec_id < 100),
        |top3 AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT p.probe_id, e.vec_id,
        |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
        |        round(list_cosine_similarity(CAST(p.pe AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])), 4) DESC,
        |        e.vec_id ASC) AS rank
        |    FROM embeddings e CROSS JOIN probes p
        |    WHERE e.vec_id <> p.probe_id) t
        |  WHERE rank <= 3),
        |occ AS (SELECT vec_id, count(*) AS k_occ FROM top3 GROUP BY 1),
        |hub AS (
        |  SELECT vec_id AS top_hub, k_occ AS top_hub_occ FROM occ
        |  ORDER BY k_occ DESC, vec_id ASC LIMIT 1)
        |SELECT k_occ, count(*) AS n_vectors, hub.top_hub, hub.top_hub_occ
        |FROM occ CROSS JOIN hub
        |GROUP BY 1, 3, 4 ORDER BY k_occ""".stripMargin,

    "vec_ivf_recall_at_k" ->
      s"""WITH $ivfCtesSql,
         |ivf5 AS (
         |  SELECT vec_id AS p, b, rn FROM (
         |    SELECT vec_id, b, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, b ASC) AS rn
         |    FROM nn WHERE vec_id < 100) t
         |  WHERE rn <= 5),
         |truth5 AS (
         |  SELECT p, b, tn FROM (
         |    SELECT x.vec_id AS p, y.vec_id AS b,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |          CAST(y.embedding AS DOUBLE[])), 4) DESC,
         |        y.vec_id ASC) AS tn
         |    FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
         |    WHERE x.vec_id < 100) t
         |  WHERE tn <= 5),
         |m AS (
         |  SELECT t.p, t.tn, i.rn FROM truth5 t
         |  JOIN ivf5 i ON t.p = i.p AND t.b = i.b),
         |np AS (SELECT count(*) AS n_probes FROM embeddings
         |       WHERE vec_id < 100),
         |ks AS (SELECT unnest([1, 5]) AS k)
         |SELECT CAST(ks.k AS INT) AS k, np.n_probes,
         |  (SELECT count(*) FROM m WHERE m.tn <= ks.k AND m.rn <= ks.k)
         |    AS n_matched,
         |  round(CAST((SELECT count(*) FROM m
         |      WHERE m.tn <= ks.k AND m.rn <= ks.k) AS DOUBLE)
         |    / CAST(ks.k * np.n_probes AS DOUBLE), 4) AS mean_recall
         |FROM ks CROSS JOIN np ORDER BY k""".stripMargin,

    "vec_cell_label_purity" ->
      """WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS ce FROM embeddings
        |  WHERE vec_id < 8),
        |assigned AS (
        |  SELECT vec_id, label, c_id AS cell FROM (
        |    SELECT e.vec_id, e.label, c.c_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round(list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])), 4) DESC, c.c_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |cl AS (SELECT cell, label, count(*) AS cnt
        |       FROM assigned GROUP BY 1, 2),
        |top AS (
        |  SELECT cell, CAST(SUM(cnt) OVER (PARTITION BY cell) AS BIGINT)
        |      AS n, label, cnt,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY cnt DESC, label ASC) AS rn
        |  FROM cl)
        |SELECT cell, n, CAST(label AS INT) AS top_label, cnt AS top_n,
        |  round(CAST(cnt AS DOUBLE) / n, 4) AS purity
        |FROM top WHERE rn = 1 ORDER BY cell""".stripMargin,

    "vec_knn_join_bucketed" ->
      """WITH probes AS (
        |  SELECT label, vec_id AS probe_id, embedding AS pe
        |  FROM embeddings WHERE vec_id < 100),
        |scored AS (
        |  SELECT p.probe_id, e.label, e.vec_id,
        |    round(list_cosine_similarity(
        |      CAST(p.pe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
        |  FROM probes p JOIN embeddings e ON e.label = p.label
        |  WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, label, vec_id, cos, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos DESC, vec_id ASC) AS INT) AS rank FROM scored) t
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // bucket bit p = sign of the exact integer sum Σ ±d_j (1e-8
    // units) — the same ±1 literals and the same exactly-widened
    // decimal quantization as the Spark expression, so buckets match
    // bit-for-bit
    "vec_ann_lsh" ->
      s"""WITH $lshBucketCtesSql,
         |e AS (SELECT b.vec_id, b.bucket, emb.embedding
         |      FROM bk b JOIN embeddings emb USING (vec_id)),
         |scored AS (
         |  SELECT x.vec_id AS a, x.bucket, y.vec_id AS b,
         |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |      CAST(y.embedding AS DOUBLE[])), 4) AS cos
         |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id)
         |SELECT a AS vec_id, bucket, b AS nn_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY a
         |    ORDER BY cos DESC, b ASC) AS rn FROM scored) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the raw dot products replay per (vec, plane) (dt — the same
    // arithmetic signatureCtesSql folds into sign bits), the probe
    // schedule via the identical (abs(dot), p) margin rank, and the
    // flipped buckets via xor
    "vec_ann_lsh_multiprobe" -> {
      val rows = planes.indices.flatMap(i => (0 until 64).map(j =>
        s"($i, $j, ${planes(i)(j)})")).mkString(", ")
      s"""WITH pl(p, j, s) AS (VALUES $rows),
         |dims AS (
         |  SELECT vec_id, j.j AS j,
         |    CAST(CAST(CAST(embedding[j.j + 1] AS DOUBLE) AS DECIMAL(20,8))
         |         * 100000000 AS BIGINT) AS d
         |  FROM embeddings CROSS JOIN (SELECT range AS j FROM range(64)) j),
         |dt AS (SELECT d.vec_id, pl.p, sum(d.d * pl.s) AS dot
         |       FROM dims d JOIN pl ON pl.j = d.j GROUP BY 1, 2),
         |bk AS (SELECT vec_id,
         |         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p
         |           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |       FROM dt GROUP BY 1),
         |mr AS (SELECT vec_id, p, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY abs(dot), p) AS rk
         |       FROM dt),
         |probes AS (
         |  SELECT vec_id AS a, CAST(0 AS INT) AS via_probe, bucket AS probe
         |  FROM bk
         |  UNION ALL
         |  SELECT mr.vec_id, CAST(mr.rk AS INT),
         |    xor(bk.bucket, CAST(1 AS BIGINT) << mr.p)
         |  FROM mr JOIN bk ON bk.vec_id = mr.vec_id
         |  WHERE mr.rk <= $LshProbeFlips),
         |scored AS (
         |  SELECT pr.a, pr.via_probe, c.vec_id AS b,
         |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |      CAST(eb.embedding AS DOUBLE[])), 4) AS cos
         |  FROM probes pr
         |  JOIN bk c ON c.bucket = pr.probe AND c.vec_id <> pr.a
         |  JOIN embeddings ea ON ea.vec_id = pr.a
         |  JOIN embeddings eb ON eb.vec_id = c.vec_id)
         |SELECT a AS vec_id, b AS nn_id, cos, via_probe FROM (
         |  SELECT *, row_number() OVER (PARTITION BY a
         |    ORDER BY cos DESC, b ASC) AS rn FROM scored) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },

    // same dot/margin/xor replay as vec_ann_lsh_multiprobe, plus the
    // vec_ann_recall_vs_probes curve scaffolding (brute-force truth
    // over the bounded probe set, per-nprobe top-1 vs t_nn)
    "vec_ann_multiprobe_recall_curve" -> {
      val rows = planes.indices.flatMap(i => (0 until 64).map(j =>
        s"($i, $j, ${planes(i)(j)})")).mkString(", ")
      s"""WITH pl(p2, j, s) AS (VALUES $rows),
         |dims AS (
         |  SELECT vec_id, j.j AS j,
         |    CAST(CAST(CAST(embedding[j.j + 1] AS DOUBLE) AS DECIMAL(20,8))
         |         * 100000000 AS BIGINT) AS d
         |  FROM embeddings CROSS JOIN (SELECT range AS j FROM range(64)) j),
         |dt AS (SELECT d.vec_id, pl.p2, sum(d.d * pl.s) AS dot
         |       FROM dims d JOIN pl ON pl.j = d.j GROUP BY 1, 2),
         |bk AS (SELECT vec_id,
         |         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p2
         |           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |       FROM dt GROUP BY 1),
         |mr AS (SELECT vec_id, p2, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY abs(dot), p2) AS mrk
         |       FROM dt),
         |pb AS (
         |  SELECT vec_id AS p, CAST(1 AS INT) AS rk, bucket AS probe
         |  FROM bk WHERE vec_id < 100
         |  UNION ALL
         |  SELECT mr.vec_id, CAST(mr.mrk + 1 AS INT),
         |    xor(bk.bucket, CAST(1 AS BIGINT) << mr.p2)
         |  FROM mr JOIN bk ON bk.vec_id = mr.vec_id
         |  WHERE mr.mrk <= $LshProbeFlips AND mr.vec_id < 100),
         |cand AS (
         |  SELECT pb.p, c.vec_id AS b, pb.rk,
         |    round(list_cosine_similarity(CAST(pe.embedding AS DOUBLE[]),
         |      CAST(be.embedding AS DOUBLE[])), 4) AS cos
         |  FROM pb
         |  JOIN bk c ON c.bucket = pb.probe AND c.vec_id <> pb.p
         |  JOIN embeddings pe ON pe.vec_id = pb.p
         |  JOIN embeddings be ON be.vec_id = c.vec_id),
         |probes AS (SELECT vec_id AS p, embedding AS pe FROM embeddings
         |           WHERE vec_id < 100),
         |truth AS (
         |  SELECT p, b AS t_nn FROM (
         |    SELECT pr.p, e.vec_id AS b,
         |      row_number() OVER (PARTITION BY pr.p ORDER BY
         |        round(list_cosine_similarity(CAST(pr.pe AS DOUBLE[]),
         |          CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id ASC)
         |        AS rn
         |    FROM probes pr JOIN embeddings e ON pr.p <> e.vec_id) t
         |  WHERE rn = 1),
         |np AS (SELECT count(*) AS n_probes FROM probes),
         |curve AS (
         |  SELECT c.p, c.b, c.cos, q.nprobe
         |  FROM cand c CROSS JOIN (
         |    SELECT unnest([${(1 to LshProbeFlips + 1).mkString(", ")}])
         |      AS nprobe) q
         |  WHERE c.rk <= q.nprobe),
         |hits AS (
         |  SELECT nprobe,
         |    CAST(SUM(CASE WHEN b = t_nn THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hits
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY nprobe, p
         |      ORDER BY cos DESC, b ASC) AS rn
         |    FROM curve) t JOIN truth USING (p)
         |  WHERE rn = 1 GROUP BY 1),
         |vol AS (SELECT nprobe, count(*) AS n_candidates FROM curve
         |        GROUP BY 1)
         |SELECT h.nprobe, np.n_probes, v.n_candidates,
         |  round(CAST(h.n_hits AS DOUBLE) / np.n_probes, 4) AS recall_at_1,
         |  round(CAST(v.n_candidates AS DOUBLE) / np.n_probes, 4)
         |    AS mean_candidates
         |FROM hits h JOIN vol v USING (nprobe) CROSS JOIN np
         |ORDER BY nprobe""".stripMargin
    },

    "vec_ann_serving_point" -> {
      // pl rows carry (table, local-plane, dim, sign): the oracle
      // rebuilds all ServingTables bucketings from one VALUES grid
      val rows = (0 until ServingTables).flatMap { t =>
        (0 until ServingBandBits).flatMap { lp =>
          val plane = servingPlanes(t * ServingBandBits + lp)
          (0 until 64).map(j => s"($t, $lp, $j, ${plane(j)})")
        }
      }.mkString(", ")
      s"""WITH pl(t, lp, j, s) AS (VALUES $rows),
         |dims AS (
         |  SELECT vec_id, j.j AS j,
         |    CAST(CAST(CAST(embedding[j.j + 1] AS DOUBLE) AS DECIMAL(20,8))
         |         * 100000000 AS BIGINT) AS d
         |  FROM embeddings CROSS JOIN (SELECT range AS j FROM range(64)) j),
         |dt AS (SELECT d.vec_id, pl.t, pl.lp, sum(d.d * pl.s) AS dot
         |       FROM dims d JOIN pl ON pl.j = d.j GROUP BY 1, 2, 3),
         |bk AS (SELECT vec_id, t,
         |         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << lp
         |           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |       FROM dt GROUP BY 1, 2),
         |mr AS (SELECT vec_id, t, lp, row_number() OVER (
         |         PARTITION BY vec_id, t ORDER BY abs(dot), lp) AS mrk
         |       FROM dt),
         |pb AS (
         |  SELECT vec_id AS p, t, bucket AS probe
         |  FROM bk WHERE vec_id < 100
         |  UNION ALL
         |  SELECT mr.vec_id, mr.t,
         |    xor(bk.bucket, CAST(1 AS BIGINT) << mr.lp)
         |  FROM mr JOIN bk ON bk.vec_id = mr.vec_id AND bk.t = mr.t
         |  WHERE mr.mrk <= $ServingProbeFlips AND mr.vec_id < 100),
         |cand AS (
         |  SELECT DISTINCT pb.p, c.vec_id AS b
         |  FROM pb JOIN bk c ON c.t = pb.t AND c.bucket = pb.probe
         |    AND c.vec_id <> pb.p),
         |scored AS (
         |  SELECT cand.p, cand.b,
         |    round(list_cosine_similarity(CAST(pe.embedding AS DOUBLE[]),
         |      CAST(be.embedding AS DOUBLE[])), 4) AS cos
         |  FROM cand
         |  JOIN embeddings pe ON pe.vec_id = cand.p
         |  JOIN embeddings be ON be.vec_id = cand.b),
         |win AS (
         |  SELECT p, b FROM (
         |    SELECT p, b, row_number() OVER (PARTITION BY p
         |      ORDER BY cos DESC, b ASC) AS rn FROM scored) t
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS p, embedding AS pe FROM embeddings
         |           WHERE vec_id < 100),
         |truth AS (
         |  SELECT p, b AS t_nn FROM (
         |    SELECT pr.p, e.vec_id AS b,
         |      row_number() OVER (PARTITION BY pr.p ORDER BY
         |        round(list_cosine_similarity(CAST(pr.pe AS DOUBLE[]),
         |          CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id ASC)
         |        AS rn
         |    FROM probes pr JOIN embeddings e ON pr.p <> e.vec_id) t
         |  WHERE rn = 1),
         |np AS (SELECT count(*) AS n_probes FROM probes),
         |hits AS (
         |  SELECT CAST(SUM(CASE WHEN w.b = tr.t_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits
         |  FROM win w JOIN truth tr USING (p)),
         |vol AS (SELECT count(*) AS n_candidates FROM cand)
         |SELECT CAST($ServingTables AS INT) AS n_tables,
         |  CAST($ServingBandBits AS INT) AS band_bits,
         |  CAST($ServingProbeFlips AS INT) AS n_flips,
         |  np.n_probes, vol.n_candidates,
         |  round(CAST(hits.n_hits AS DOUBLE) / np.n_probes, 4)
         |    AS recall_at_1,
         |  round(CAST(vol.n_candidates AS DOUBLE) / np.n_probes, 4)
         |    AS mean_candidates,
         |  (CAST(vol.n_candidates AS DOUBLE) / np.n_probes)
         |    <= $ServingCandidateCap AS under_serving_cap
         |FROM np CROSS JOIN vol CROSS JOIN hits""".stripMargin
    },

    "vec_rp_project_audit" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS d,
         |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,8))
         |      * 100000000 AS BIGINT) AS qx
         |  FROM embeddings),
         |signs(j, d, sg) AS (VALUES $rpSignValues),
         |pj AS (
         |  SELECT vec_id, j, CAST(SUM(qx * sg) AS BIGINT) AS p
         |  FROM q JOIN signs USING (d) GROUP BY 1, 2),
         |p2 AS (SELECT vec_id, SUM(CAST(p AS HUGEINT) * p) AS p2
         |       FROM pj GROUP BY 1),
         |n2 AS (SELECT vec_id, SUM(CAST(qx AS HUGEINT) * qx) AS n2
         |       FROM q GROUP BY 1),
         |r AS (
         |  SELECT p2.vec_id,
         |    round(CAST(p2 AS DOUBLE) / $RpK.0 / CAST(n2 AS DOUBLE), 4)
         |      AS ratio
         |  FROM p2 JOIN n2 USING (vec_id) WHERE n2 > 0)
         |SELECT count(*) AS n_vectors,
         |  round(${dsumSql("ratio")} / count(*), 4) AS mean_ratio,
         |  min(ratio) AS min_ratio, max(ratio) AS max_ratio
         |FROM r""".stripMargin)
}
