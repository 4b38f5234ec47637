package graft

/** Hand-authored Spark-dialect SQL for §2 keys whose DuckDB oracle text
  * is structurally out of [[SparkDialect.fromDuckDb]]'s reach, plus
  * surgical per-key patches applied on top of the transpiled text.
  * Every text and patch result is verified row-identical to the key's
  * DataFrame plan by SqlSweepSpec — same guarantee as a transpiled
  * text. A patch whose needle stops matching fails loudly
  * (SparkDialect.sparkSqlFor), so these can't silently rot.
  */
object SparkDialectOverrides {

  /** Full replacement texts. The ASOF keys use the engine's own SQL
    * spelling for the native as-of join — the documented
    * `/*+ ASOF_JOIN */` hint (plans.NativeJoinHints) — or, for the
    * forward/tolerance flavors the backward-only hint doesn't cover,
    * correlated scalar subqueries (the ANSI spelling of "nearest
    * preceding/following match"). */
  val texts: Map[String, String] = Map(
    // DuckDB `ASOF LEFT JOIN` (backward): the engine's native spelling.
    "join_asof" ->
      """WITH rt AS (
        |  SELECT o_custkey AS k, o_orderdate AS t, max(o_totalprice) AS price
        |  FROM orders GROUP BY 1, 2)
        |SELECT /*+ ASOF_JOIN */ e.event_id, e.user_id, e.ts,
        |  rt.price AS asof_price
        |FROM events e LEFT JOIN rt ON e.user_id = rt.k AND rt.t <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "join_asof_native" ->
      """WITH rt AS (
        |  SELECT o_custkey AS k, o_orderdate AS t, max(o_totalprice) AS price
        |  FROM orders GROUP BY 1, 2)
        |SELECT /*+ ASOF_JOIN */ e.event_id, e.user_id, e.ts,
        |  rt.price AS asof_price
        |FROM events e LEFT JOIN rt ON e.user_id = rt.k AND rt.t <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "sql_asof_join_native" ->
      """WITH rt AS (
        |  SELECT o_custkey AS k, o_orderdate AS t, max(o_totalprice) AS price
        |  FROM orders GROUP BY 1, 2)
        |SELECT /*+ ASOF_JOIN */ e.event_id, e.user_id,
        |  unix_micros(e.ts) AS ts_us, rt.price AS asof_price
        |FROM events e LEFT JOIN rt ON e.user_id = rt.k AND rt.t <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    // forward as-of: earliest purchase at/after each view — the
    // backward-only hint doesn't apply; min() over a correlated filter
    // IS the forward as-of match.
    "join_asof_forward" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id AS k, ts AS t FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT v.event_id, v.user_id, v.ts,
        |    (SELECT min(p.t) FROM p WHERE p.k = v.user_id AND p.t >= v.ts)
        |      AS next_purchase_ts
        |  FROM v)
        |SELECT event_id, user_id, ts, next_purchase_ts,
        |  unix_micros(next_purchase_ts) - unix_micros(ts) AS gap_us
        |FROM m ORDER BY event_id""".stripMargin,
    // as-of with tolerance: latest purchase at/before each view (max()
    // over a correlated filter), re-joined on the (k, t)-unique p to
    // recover the purchase id, then the 1-hour expiry applied.
    "join_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id AS k, ts AS t, max(event_id) AS pid
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |v AS (SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'view'),
        |m AS (
        |  SELECT v.event_id, v.user_id, v.ts,
        |    (SELECT max(p.t) FROM p WHERE p.k = v.user_id AND p.t <= v.ts)
        |      AS mt
        |  FROM v),
        |j AS (
        |  SELECT m.event_id, m.user_id, m.ts, m.mt, p.pid
        |  FROM m LEFT JOIN p ON p.k = m.user_id AND p.t = m.mt)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN mt IS NOT NULL
        |        AND unix_micros(ts) - unix_micros(mt) <= 3600000000
        |       THEN pid ELSE -1 END AS attr_id,
        |  CASE WHEN mt IS NOT NULL
        |        AND unix_micros(ts) - unix_micros(mt) <= 3600000000
        |       THEN (unix_micros(ts) - unix_micros(mt)) DIV 1000000
        |       ELSE -1 END AS age_s
        |FROM j ORDER BY event_id""".stripMargin)

  /** Surgical patches applied to the TRANSPILED text, in order. Each is
    * (needle, replacement); a missing needle fails the build of the
    * text, not silently. */
  val patches: Map[String, Seq[(String, String)]] = Map(
    // DuckDB sum(BIGINT) silently widens to HUGEINT; Spark's stays
    // BIGINT and the HLL register sum (512 × up to 2^55) overflows —
    // widen the addend explicitly.
    "agg_hll_md5" -> Seq(
      "sum(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)))" ->
        "sum(CAST(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)) AS DECIMAL(38,0)))"),
    "agg_hll_md5_union" -> Seq(
      "sum(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)))" ->
        "sum(CAST(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)) AS DECIMAL(38,0)))"),
    "agg_hll_intersect" -> Seq(
      "sum(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)))" ->
        "sum(CAST(CAST(1 AS BIGINT) << (55 - CAST(m AS INT)) AS DECIMAL(38,0)))"),
    // cosine_sim takes the raw float arrays (it accumulates in double);
    // the DOUBLE[] cast is DuckDB typing ceremony.
    "pipeline_decontaminate_semantic" -> Seq(
      "CAST(embedding AS ARRAY<DOUBLE>) AS ee" -> "embedding AS ee"),
    // DuckDB zips parallel generators in one SELECT; Spark wants ONE
    // generator — posexplode yields (0-based position, value) in a
    // LATERAL VIEW, replacing the generate_subscripts/unnest pair.
    "vec_centroid_drift" -> Seq(
      "generate_subscripts(embedding, 1) AS dimn,\n    explode(embedding) AS x\n  FROM embeddings)" ->
        "pz + 1 AS dimn,\n    xz AS x\n  FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    "vec_dim_variance_topk" -> Seq(
      "CAST(generate_subscripts(embedding, 1) AS INT) AS dimn,\n    explode(embedding) AS x\n  FROM embeddings)" ->
        "CAST(pz + 1 AS INT) AS dimn,\n    xz AS x\n  FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    "vec_label_separation" -> Seq(
      "generate_subscripts(embedding, 1) AS dimn,\n    explode(embedding) AS x\n  FROM embeddings)" ->
        "pz + 1 AS dimn,\n    xz AS x\n  FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    "vec_gram_matrix" -> Seq(
      "CAST(generate_subscripts(embedding, 1) AS INT) AS i,\n    CAST(CAST(CAST(explode(embedding) AS DOUBLE) AS DECIMAL(20,8))\n         * 100000000 AS BIGINT) AS xi\n  FROM embeddings)" ->
        "CAST(pz + 1 AS INT) AS i,\n    CAST(CAST(CAST(xz AS DOUBLE) AS DECIMAL(20,8))\n         * 100000000 AS BIGINT) AS xi\n  FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    "vec_pca_power" -> Seq(
      "CAST(generate_subscripts(embedding, 1) AS INT) AS i,\n    CAST(CAST(CAST(explode(embedding) AS DOUBLE) AS DECIMAL(20,8))\n         * 100000000 AS BIGINT) AS xi\n  FROM embeddings)" ->
        "CAST(pz + 1 AS INT) AS i,\n    CAST(CAST(CAST(xz AS DOUBLE) AS DECIMAL(20,8))\n         * 100000000 AS BIGINT) AS xi\n  FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    "vec_rp_project_audit" -> Seq(
      "CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS d," ->
        "CAST(pz + 1 AS INT) - 1 AS d,",
      "CAST(CAST(CAST(explode(embedding) AS DOUBLE) AS DECIMAL(20,8))" ->
        "CAST(CAST(CAST(xz AS DOUBLE) AS DECIMAL(20,8))",
      "FROM embeddings)" ->
        "FROM embeddings LATERAL VIEW posexplode(embedding) pe AS pz, xz)"),
    // generator nested in ascii(): hoist to a LATERAL VIEW.
    "multimodal_features" -> Seq(
      "ascii(explode(split(text, '')))  DIV  16 AS nb\n  FROM documents)" ->
        "ascii(chz)  DIV  16 AS nb\n  FROM documents LATERAL VIEW explode(split(text, '')) che AS chz)"),
    "multimodal_source_stats" -> Seq(
      "ascii(explode(split(text, '')))  DIV  16 AS nb\n  FROM documents)" ->
        "ascii(chz)  DIV  16 AS nb\n  FROM documents LATERAL VIEW explode(split(text, '')) che AS chz)"),
    // DuckDB's `**` power operator (no Spark spelling); 2^(16·band)
    // ≤ 2^48 is exact in the double power() returns.
    "multimodal_phash_pairs" -> Seq(
      "CAST(2 ** (gs.id * 16) AS DECIMAL(38,0))" ->
        "CAST(power(2, gs.id * 16) AS DECIMAL(38,0))",
      "ascii(explode(split(text, '')))  DIV  16 AS nb\n  FROM documents)" ->
        "ascii(chz)  DIV  16 AS nb\n  FROM documents LATERAL VIEW explode(split(text, '')) che AS chz)"),
    // `tok` is a STRING (a word) — DuckDB len() is char count there,
    // not array size.
    "pipeline_bpe_first_merges" -> Seq(
      "WHEN size(tok) < 2" -> "WHEN length(tok) < 2",
      "sequence(1, (size(tok)) - 1)" -> "sequence(1, (length(tok)) - 1)"),
    // zipped generators in the Lloyd rounds: posexplode per round.
    "vec_kmeans_cells" -> kmeansRoundPatches,
    "vec_ann_ivf_trained" -> kmeansRoundPatches,
    // winnow chain: bind t and hs as LAMBDA VARIABLES (r15) — see
    // winnowFusePatch
    "text_winnow_fingerprint" -> winnowFusePatch(8),
    "dedup_winnow_pairs" -> winnowFusePatch(8),
    "dedup_containment_pairs" -> winnowFusePatch(8),
    "pipeline_decontaminate" -> winnowFusePatch(16))

  /** Fuse the transpiled winnow h/f CTE pair into ONE expression that
    * binds the lowered text and the k-gram hash array as LAMBDA
    * VARIABLES — the TextOps.winnowFpsOf evaluation-count discipline
    * (r15, VERDICT r14 next-round #1 follow-through). As plain
    * projection aliases, CollapseProject inlines `hs` (the full
    * md5-per-position transform) into the outer window lambda and `t`
    * (lower(text)) into every substr — O(len²·md5) per document;
    * measured 333–371 s PER KEY in the sf0.001 sweep vs ~7 s for the
    * DSL twin. A lambda variable evaluates exactly once per element
    * regardless of how the optimizer collapses the surrounding
    * projections, so the fused spelling is O(len·w) like the DSL.
    * Values are identical term for term. */
  private def winnowFusePatch(k: Int): Seq[(String, String)] = Seq(
    (s"""h AS (
        |  SELECT doc_id,
        |    transform(sequence(1, (length(t) - ${k - 2}) - 1), i -> CAST((conv(substr(md5(substr(t, i, $k)), 1, 15), 16, 10))
        |           AS BIGINT)) AS hs
        |  FROM base),
        |f AS (
        |  SELECT doc_id,
        |    array_sort(array_distinct(
        |      transform(sequence(1, (size(hs) - 2) - 1), j -> array_min(slice(hs, j, (j + 3) - (j) + 1))))) AS fps
        |  FROM h)""".stripMargin ->
      s"""f AS (
        |  SELECT doc_id,
        |    element_at(transform(array(t), tt ->
        |      element_at(transform(array(
        |          transform(sequence(1, (length(tt) - ${k - 2}) - 1), i -> CAST((conv(substr(md5(substr(tt, i, $k)), 1, 15), 16, 10))
        |           AS BIGINT))),
        |        hs -> array_sort(array_distinct(
        |          transform(sequence(1, (size(hs) - 2) - 1), j -> array_min(slice(hs, j, (j + 3) - (j) + 1)))))), 1)), 1) AS fps
        |  FROM base)""".stripMargin))

  /** The three Lloyd rounds share one zipped-generator shape over
    * assignment CTEs a1/a2/a3. */
  private lazy val kmeansRoundPatches: Seq[(String, String)] =
    Seq("a1", "a2", "a3").map { a =>
      (s"explode(CAST(embedding AS ARRAY<DOUBLE>)) AS x,\n      generate_subscripts(embedding, 1) AS pos\n    FROM $a)" ->
        s"CAST(xz AS DOUBLE) AS x,\n      pz + 1 AS pos\n    FROM $a LATERAL VIEW posexplode(embedding) pe AS pz, xz)")
    }
}
