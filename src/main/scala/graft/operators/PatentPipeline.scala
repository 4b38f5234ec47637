package graft.operators

import graft._
import graft.Stable._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window

/** §2.13 — the patent-pipeline capstone (r13, VERDICT r12 #1): the
  * reference's reconstructed end-to-end shape (SURVEY §0.5 — ingest
  * weekly XML → parse records + cited edges → merge into the citation
  * graph → graph analytics → top-N serve) composed as ONE declared,
  * hash-oracled key instead of five separately-verified stages.
  *
  * The corpus carries no physical patent XML, so stage 1 synthesizes a
  * deterministic weekly-file record per order (the scalar_xml
  * discipline): patent id = o_orderkey (id ATTRIBUTE), classification
  * = o_orderpriority, grant date = o_orderdate, and one repeated
  * `<c>` element per cited patent — the canonical citation derivation
  * (distinct l_suppkey + SupplierVertexOffset per order, SURVEY §1.2).
  * Stage boundaries then exercise the real pipeline semantics:
  *
  *  - PARSE: `from_xml` fills the typed record back out of the marked-
  *    up string (fields are [-a-zA-Z0-9 "] by construction — no XML
  *    escaping exists to disagree on); the oracle re-extracts the same
  *    fields from the same strings with anchored regexps.
  *  - WEEKLY MERGE: the delta "file" carries the final month's new
  *    grants PLUS re-issued corrections (pid ≡ 0 mod [[ReissueMod]]:
  *    citation list corrected to even-cited entries only — a citation
  *    errata, the realistic weekly correction) and merges latest-wins
  *    by priority into the base snapshot — the
  *    pipeline_upsert_snapshot shape, ONE shuffle on the key.
  *  - GRAPH + RANK: cited edges explode from the MERGED records (so
  *    corrections visibly re-shape the graph) and feed the shared
  *    [[GraphOps.pageRank]] loop at [[RefreshPrRounds]] bounded rounds
  *    — decimal-exact contribution sums, so the rounds unroll as the
  *    same DuckDB CTE stages as graph_pagerank's oracle.
  *  - SERVE: top-[[RefreshTopN]] patents per classification by rank
  *    (the win_rank_topn_pergroup shape), with citation count, rank
  *    value and which file (base/delta) the serving row came from.
  *
  * Scale shape, stage by stage: orders and the lineitem (pid, cited)
  * pairs are each exchanged once, hash-partitioned on the patent key
  * into [[GraphOps.graphParts]] partitions; the citation aggregate,
  * the co-partitioned join, the markup and the per-row from_xml parse
  * then run in ONE stage of that many tasks, with no broadcast (see
  * records; one partition keeps the broadcast plan). The merge is one
  * shuffle on the parsed patent key (at 100 TB the inputs would be
  * bucketed on it — sources/Bucketed.scala — making the input
  * exchanges go away). PageRank latches its own src-partitioned edge
  * copy and the degree frame once, then shuffles vertex state only:
  * each round casts every vertex's rank share once and joins it to
  * the edges locally (see pageRank's comments). The serve window is
  * one shuffle on the 5-value class key after rank. No exchange ever
  * carries the markup.
  */
object PatentPipeline {

  /** the weekly-refresh split point: orders before this are the base
    * snapshot, orders on/after it are the incoming "weekly file"
    * (the corpus spans 1995-01-01 → 2001-08-01, so this is its final
    * month). Shared with the oracle SQL. */
  val RefreshCutoff = "2001-07-01 00:00:00"

  /** base patents re-issued by the delta file with a corrected
    * (even-cited-only) citation list — sparse by construction */
  val ReissueMod = 97L

  /** bounded refresh-rank rounds — a weekly refresh re-ranks with a
    * few power-iteration rounds over the merged graph, not a full
    * convergence run (graph_pagerank's PrRounds=10 is the standalone
    * analytic; 4 rounds keep the capstone's oracle CTE chain and the
    * per-refresh cost proportionate). Shared with the oracle. */
  val RefreshPrRounds = 4

  /** served rows per classification */
  val RefreshTopN = 5

  /** the synthesized weekly-XML record — built from (pid, cl, d, cs)
    * columns; kept as ONE expression so every file variant (base,
    * delta-new, re-issue) marks up through the identical path */
  private def xmlCol: Column = concat(
    lit("<pat id=\""), col("pid"), lit("\"><cl>"), col("cl"),
    lit("</cl><d>"), col("d"), lit("</d>"),
    array_join(transform(col("cs"),
      c => concat(lit("<c>"), c.cast("string"), lit("</c>"))), ""),
    lit("</pat>"))

  /** one pre-markup record per order: id, class, grant date, sorted
    * distinct citation list (empty array when the order has no
    * lineitems — a patent citing nothing parses to zero edges).
    *
    * Both inputs are hash-partitioned on pid into `parts` partitions
    * and joined as a co-partitioned shuffled hash join, so the
    * citation aggregate, the join and everything the snapshot layers
    * on top (markup, from_xml) run in one stage of `parts` tasks. Left
    * to the planner, the join broadcast the aggregate into the orders
    * scan: one task for the whole parse (sf0.01 orders is one parquet
    * split) plus a broadcast-build job.
    *
    * Trade-off: the lineitem pairs are exchanged raw, so the
    * aggregate no longer combines them map-side before the shuffle
    * (sf0.01: 60,000 pairs exchanged, where 14,743 pre-grouped rows
    * were). The aggregate's own exchange runs at the session's
    * shuffle width, so it would line up with orders only where that
    * width equals `parts`. The pairs are two longs each; the refresh's
    * measured gain includes their exchange.
    *
    * With one partition the planner's plan stays. The gate keeps the
    * merge window's exchange on the parsed pid and the partial
    * limit-1 bound below it, which PlanAuditSpec's rank-limit
    * pushdown test pins: a single-partition parse would satisfy the
    * window's clustering and drop both. */
  private def records(s: SparkSession, d: String, parts: Int): DataFrame = {
    val coPart = parts > 1
    def byPid(df: DataFrame) =
      if (coPart) df.repartition(parts, col("pid")) else df
    // ONE exchange for the citation list (r14, guide §2.3/§2.4): the
    // old distinct() + collect_list paid two shuffles of the same
    // (pid, cited) pairs — collect_set dedups inside the aggregation
    // buffer (bounded: distinct suppliers per order ≤ lineitems per
    // order), and sort_array makes the set order-canonical exactly as
    // before. Co-partitioned, that exchange is the pid repartition.
    val agg = byPid(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("pid"),
        (col("l_suppkey") + GraphOps.SupplierVertexOffset).as("cited")))
      .groupBy(col("pid"))
      .agg(sort_array(collect_set(col("cited"))).as("cs"))
    byPid(Tables.orders(s, d)
      .select(col("o_orderkey").as("pid"), col("o_orderpriority").as("cl"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_orderdate").as("od")))
      .join(if (coPart) agg.hint("shuffle_hash") else agg, Seq("pid"), "left")
      .withColumn("cs",
        coalesce(col("cs"), expr("CAST(array() AS ARRAY<BIGINT>)")))
  }

  /** the parsed-and-merged weekly snapshot, memoized + cached per
    * (session, dir) as a [[SessionMemo]]: [[SessionMemo.clear]] and
    * the dead-session sweep evict it and unpersist its blocks, like
    * every other shared memo. Consumed twice per refresh: edge build +
    * the serving class join. */
  private val mergedMemo = SessionMemo[DataFrame]("patentMerged")

  private def mergedSnapshot(s: SparkSession, d: String): DataFrame =
    mergedMemo(s, d)(snapshot(s, d, GraphOps.graphParts(s, d)).cache())

  /** the merged snapshot's plan, parsed from records hash-partitioned
    * into `parts` partitions (see [[records]]) */
  private[graft] def snapshot(s: SparkSession, d: String,
      parts: Int): DataFrame = {
    val rec = records(s, d, parts)
    val cut = lit(RefreshCutoff).cast("timestamp")
    // ONE pass over the records (r14, guide §1.2 "don't compute
    // things you throw away"): the old three-branch union referenced
    // `rec` three times, so every action re-ran the lineitem⋈orders
    // scan + citation aggregate once PER BRANCH. Each record instead
    // explodes pipeline-side into its file variants — base rows
    // before the cutoff (plus the corrected re-issue delta for
    // pid ≡ 0 mod ReissueMod), delta rows on/after it — exactly the
    // same (x, pri, src) rows the union produced, from one scan.
    // NON-NULL assumption (ADVICE r14 #3): `od` is o_orderdate,
    // NOT NULL by the TPC-H schema. A null od would fall into the
    // otherwise() branch (delta) where the old three-filter union
    // dropped it everywhere — if this pipeline is ever pointed at a
    // source with nullable dates, guard the otherwise branch with
    // an explicit od >= cut.
    val variants = rec.select(col("pid"), col("cl"), col("d"),
      explode(when(col("od") < cut,
        when(col("pid") % ReissueMod === 0,
          array(
            struct(col("cs").as("vcs"), lit(0).as("pri"),
              lit("base").as("src")),
            struct(expr("filter(cs, c -> c % 2 = 0)").as("vcs"),
              lit(1).as("pri"), lit("delta").as("src"))))
        .otherwise(array(
          struct(col("cs").as("vcs"), lit(0).as("pri"),
            lit("base").as("src")))))
      .otherwise(array(
        struct(col("cs").as("vcs"), lit(1).as("pri"),
          lit("delta").as("src"))))).as("f"))
    val files = variants
      .select(col("pid"), col("cl"), col("d"), col("f.vcs").as("cs"),
        col("f.pri").as("pri"), col("f.src").as("src"))
      .select(xmlCol.as("x"), col("pri"), col("src"))
    // PARSE back out of the markup — the typed record (attribute id
    // via the `_` convention, repeated <c> as ARRAY<BIGINT>); a
    // no-citation record parses its c array to NULL → empty
    val parsed = files
      .select(expr(
        "from_xml(x, '_id BIGINT, cl STRING, d STRING, c ARRAY<BIGINT>')")
        .as("px"), col("pri"), col("src"))
      .select(col("px._id").as("pid"), col("px.cl").as("cl"),
        coalesce(col("px.c"), expr("CAST(array() AS ARRAY<BIGINT>)"))
          .as("cs"),
        col("pri"), col("src"))
    // WEEKLY MERGE, latest-wins by file priority: ≤2 rows per pid
    // (one base, at most one delta), pri is a total order per key
    val wm = Window.partitionBy(col("pid")).orderBy(desc("pri"))
    parsed.withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("pid"), col("cl"), col("cs"),
        size(col("cs")).cast("long").as("n_cited"), col("src"))
  }

  val queries: Map[String, QFn] = Map(
    "pipeline_patent_refresh" -> ((s, d) => {
      val merged = mergedSnapshot(s, d)
      // GRAPH from the merged snapshot (corrections re-shape it), then
      // the shared bounded-round PageRank — decimal-exact, oracle-
      // unrollable, vertex-state-only shuffles per round
      val edges = merged
        .select(col("pid").as("src"), explode(col("cs")).as("dst"))
      val pr = GraphOps.pageRank(edges, iters = RefreshPrRounds,
        symmetrized = false, numParts = GraphOps.graphParts(s, d))
      // SERVE: top-N per classification; pr doubles are engine-exact
      // (decimal contribution sums), pid breaks residual ties
      val wr = Window.partitionBy(col("cl"))
        .orderBy(desc("pr"), asc("pid"))
      pr.join(merged, pr("v") === merged("pid"))
        .select(col("cl"), col("pid"), col("pr"), col("n_cited"),
          col("src"))
        .withColumn("rnk", row_number().over(wr))
        .filter(col("rnk") <= RefreshTopN)
        .select(col("cl"), col("rnk"), col("pid"), r4(col("pr")).as("pr"),
          col("n_cited"), col("src"))
        .orderBy(col("cl"), col("rnk"))
    }))

  /** the whole pipeline as one DuckDB CTE chain: XML synthesis via
    * string_agg, regexp re-extraction (the scalar_xml oracle
    * discipline), latest-wins merge, the graph_pagerank unrolled-round
    * shape at [[RefreshPrRounds]], and the serving window.
    *
    * edges0/edges (r13): `unnest` stays TOP-LEVEL in its own select —
    * the transpiled Spark `explode` cannot nest inside expressions
    * (UNSUPPORTED_GENERATOR), so the BIGINT cast lives one CTE level
    * out. No SQL comments in this text: the transpiler's literal
    * scanner treats an apostrophe inside a `--` comment as a quote. */
  private def refreshSql: String = {
    val off = GraphOps.SupplierVertexOffset
    val rounds = (1 to RefreshPrRounds).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS v,
         |    CAST(SUM(CAST(p.pr / e.odeg AS DECIMAL(28,12))) AS DOUBLE) AS sc
         |  FROM ew e JOIN p${i - 1} p ON e.src = p.v
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT d.src AS v, CAST(0.15 AS DOUBLE)
         |      + CAST(0.85 AS DOUBLE) * coalesce(s.sc, 0) AS pr
         |  FROM deg d LEFT JOIN s$i s ON d.src = s.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH cit AS (
       |  SELECT DISTINCT l_orderkey AS pid, l_suppkey + $off AS cited
       |  FROM lineitem),
       |xagg AS (
       |  SELECT pid,
       |    string_agg('<c>' || cited || '</c>', '' ORDER BY cited) AS cs
       |  FROM cit GROUP BY pid),
       |xcorr AS (
       |  SELECT pid,
       |    string_agg('<c>' || cited || '</c>', '' ORDER BY cited) AS cs
       |  FROM cit WHERE cited % 2 = 0 GROUP BY pid),
       |rec AS (
       |  SELECT o.o_orderkey AS pid, o.o_orderpriority AS cl,
       |    strftime(o.o_orderdate, '%Y-%m-%d') AS d, o.o_orderdate AS od,
       |    coalesce(x.cs, '') AS cs
       |  FROM orders o LEFT JOIN xagg x ON o.o_orderkey = x.pid),
       |files AS (
       |  SELECT '<pat id="' || pid || '"><cl>' || cl || '</cl><d>' || d ||
       |      '</d>' || cs || '</pat>' AS x, 0 AS pri, 'base' AS src
       |  FROM rec WHERE od < TIMESTAMP '$RefreshCutoff'
       |  UNION ALL
       |  SELECT '<pat id="' || pid || '"><cl>' || cl || '</cl><d>' || d ||
       |      '</d>' || cs || '</pat>', 1, 'delta'
       |  FROM rec WHERE od >= TIMESTAMP '$RefreshCutoff'
       |  UNION ALL
       |  SELECT '<pat id="' || r.pid || '"><cl>' || r.cl || '</cl><d>' ||
       |      r.d || '</d>' || coalesce(c.cs, '') || '</pat>', 1, 'delta'
       |  FROM rec r LEFT JOIN xcorr c ON r.pid = c.pid
       |  WHERE r.od < TIMESTAMP '$RefreshCutoff'
       |    AND r.pid % $ReissueMod = 0),
       |parsed AS (
       |  SELECT CAST(regexp_extract(x, 'id="([0-9]+)"', 1) AS BIGINT) AS pid,
       |    regexp_extract(x, '<cl>([^<]*)</cl>', 1) AS cl,
       |    regexp_extract_all(x, '<c>([0-9]+)</c>', 1) AS cs,
       |    pri, src
       |  FROM files),
       |merged AS (
       |  SELECT pid, cl, cs, src
       |  FROM (SELECT *, row_number() OVER (PARTITION BY pid
       |          ORDER BY pri DESC) AS rn FROM parsed) t
       |  WHERE rn = 1),
       |edges0 AS (
       |  SELECT pid AS src, unnest(cs) AS c FROM merged),
       |edges AS (
       |  SELECT src, CAST(c AS BIGINT) AS dst FROM edges0),
       |sym AS (SELECT src, dst FROM edges
       |        UNION SELECT dst AS src, src AS dst FROM edges),
       |deg AS (SELECT src, count(*) AS odeg FROM sym GROUP BY src),
       |ew AS (SELECT s.src, s.dst, d.odeg FROM sym s JOIN deg d USING (src)),
       |p0 AS (SELECT src AS v, CAST(1.0 AS DOUBLE) AS pr FROM deg),
       |$rounds,
       |ranked AS (
       |  SELECT m.cl, p.v AS pid, p.pr, len(m.cs) AS n_cited, m.src,
       |    row_number() OVER (PARTITION BY m.cl
       |      ORDER BY p.pr DESC, p.v) AS rnk
       |  FROM p$RefreshPrRounds p JOIN merged m ON p.v = m.pid)
       |SELECT cl, CAST(rnk AS INT) AS rnk, pid, round(pr, 4) AS pr,
       |  CAST(n_cited AS BIGINT) AS n_cited, src
       |FROM ranked WHERE rnk <= $RefreshTopN ORDER BY cl, rnk""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "pipeline_patent_refresh" -> refreshSql)
}
