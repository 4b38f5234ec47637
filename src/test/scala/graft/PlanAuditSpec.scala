package graft

/** Physical-plan regression tests: the scale-critical plan properties
  * SURVEY §4 promises must survive refactors, not just be observed
  * once in a manual explain. Each assertion names the property a
  * 1000-executor run depends on.
  *
  * Plans are inspected via executedPlan.toString — stable enough for
  * the coarse shape assertions here (operator names, PushedFilters,
  * ReadSchema), which is all we pin. */
class PlanAuditSpec extends SparkTestBase {

  // plan inspection never executes a query — keep the shared-memo
  // construction action-free for the suite's duration (r7: execution
  // paths latch the seed-BFS memos eagerly, VERDICT r6 #1; suites run
  // serialized — build.sbt — so the session-global pin cannot race)
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(operators.GraphOps.PlanOnlyKey, "true")
    // memos latched by an earlier suite in this JVM would hide the
    // plans the memo tests below inspect
    SessionMemo.clear(spark)
  }
  override def afterAll(): Unit = {
    spark.conf.unset(operators.GraphOps.PlanOnlyKey)
    // memos built under planOnly are unlatched cached frames — drop
    // them so execution suites latch fresh
    SessionMemo.clear(spark)
    super.afterAll()
  }

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.executedPlan.toString
  }

  test("scan_pruned_filter: predicate pushdown reaches the parquet scan") {
    val p = plan("scan_pruned_filter")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range must be pushed to the scan:\n$p")
  }

  test("scan_pruned_filter: column pruning — scan reads only needed columns") {
    val p = plan("scan_pruned_filter")
    // the lineitem scan must not read the 11-column table for a
    // 3-column aggregate input
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_extendedprice"),
      s"scan reads columns the query never uses: $read")
    assert(read.contains("l_shipdate"), s"missing filter column: $read")
  }

  test("join_broadcast: small dimension side is broadcast, not shuffled") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"nation-side join must broadcast the small dimension:\n$p")
  }

  test("join_multiway_star: nation/region broadcast from STATISTICS, not hints") {
    // VERDICT r9 #7 — the stats-informed planning demonstration: the
    // nation and region joins carry no broadcast() hint (see Joins),
    // so their BroadcastHashJoins below come from Spark's leaf-size
    // statistics (parquet bytes vs autoBroadcastJoinThreshold). One
    // ResolvedHint remains by design: customer's deliberate pin.
    val df = SparkEntry.queries("join_multiway_star")(spark, sf001)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1,
      s"exactly the customer hint expected, got ${hints.size}")
    val p = df.queryExecution.executedPlan.toString
    val nBcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBcast >= 3,
      s"customer, nation, AND region must all broadcast (nation/region " +
        s"from size statistics alone) — found $nBcast BroadcastHashJoins:\n$p")
  }

  test("scalar_xml: per-row parse is scan -> project, no shuffle, no UDF") {
    val df = SparkEntry.queries("scalar_xml")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // the only exchange allowed is the output ORDER BY's range
    // partitioning — the parse itself must not shuffle
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"XML parse must not shuffle (found $exchanges):\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"XML parse must stay native (from_xml/xpath), no UDF:\n$p")
    assert(p.contains("from_xml") || p.contains("FromXml") ||
      p.toLowerCase.contains("xpath"), s"expected the XML expressions in:\n$p")
  }

  test("topk_global: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("topk_global")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT over ORDER BY must plan as TakeOrderedAndProject:\n$p")
  }

  test("agg_pricing_summary: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("agg_pricing_summary")
    // two HashAggregate nodes (partial + final) around one exchange —
    // the shuffle carries combined per-partition state, not raw rows
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$p")
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti, not inner join + distinct") {
    assert(plan("join_semi").contains("LeftSemi"),
      "EXISTS must plan as a semi join (no row multiplication)")
    assert(plan("join_anti").contains("LeftAnti"),
      "NOT EXISTS must plan as an anti join")
  }

  test("join_range_bucketed: bucket keys become equi-join keys (no cartesian/BNLJ)") {
    val p = plan("join_range_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must stay a hash/merge join via the bucket equi-keys:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join operator:\n$p")
  }

  test("join_asof_nearest: entity equi-join, residual handled by the window argmin") {
    val p = plan("join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest-asof must join on the entity key, not all-pairs:\n$p")
    assert(p.contains("Window"), s"argmin must be a single window pass:\n$p")
  }

  test("ts_gap_fill: per-series fill is one window pass over the grid") {
    val p = plan("ts_gap_fill")
    // exactly one Window operator (the carry-forward), no per-gap joins
    assert(p.linesIterator.count(_.contains("Window")) >= 1, p)
    assert(!p.contains("CartesianProduct"),
      s"the type×calendar grid must broadcast, not cartesian-shuffle:\n$p")
  }

  test("agg_histogram_fixed / agg_bitwise: partial aggregation before the shuffle") {
    for (q <- Seq("agg_histogram_fixed", "agg_bitwise")) {
      val aggs = plan(q).linesIterator.count(_.contains("HashAggregate"))
      assert(aggs >= 2, s"$q: expected partial+final HashAggregate pair")
    }
  }

  test("text_pii_redact: pure codegen expressions, no UDF in the plan") {
    val p = plan("text_pii_redact")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"PII redaction must stay in codegen'd built-ins:\n$p")
  }

  test("join_full_outer: both sides pre-aggregate before one full outer join") {
    val p = plan("join_full_outer")
    assert(p.contains("FullOuter"), s"expected a FullOuter join:\n$p")
    // each side carries a partial+final HashAggregate pair, so the
    // join inputs are one row per key, never raw fact rows
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"both sides must aggregate before the join:\n$p")
  }

  test("set_intersect_all / set_except_all: bag ops plan as counted aggregates, not row-pair joins") {
    for (q <- Seq("set_intersect_all", "set_except_all")) {
      val p = plan(q)
      // Spark lowers INTERSECT/EXCEPT ALL to count aggregation +
      // Generate(replicate_rows) — shuffle ∝ distinct values
      assert(p.contains("Generate replicaterows") || p.contains("ReplicateRows") ||
        p.contains("replicaterows"),
        s"$q: expected the counted replicate_rows lowering:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian:\n$p")
    }
  }

  test("ts_ohlc_bars: one aggregate pass, no self-join for open/close") {
    val p = plan("ts_ohlc_bars")
    assert(!p.contains("Join"), s"min_by/max_by must avoid a first/last self-join:\n$p")
    assert(p.linesIterator.count(_.contains("Aggregate")) >= 2,
      s"expected partial+final aggregate pair:\n$p")
  }

  test("pipeline_inverted_index: posting cap applies before list collection") {
    val p = plan("pipeline_inverted_index")
    // the row_number window (cap) must appear below the collect_list
    // aggregate in the plan text (executed earlier = printed later)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("row_number"))
    val collectIdx = lines.indexWhere(_.contains("collect_list"))
    assert(winIdx >= 0 && collectIdx >= 0 && winIdx > collectIdx,
      s"row_number cap must be computed before collect_list:\n$p")
  }

  test("vec_cell_stats: codebook broadcasts; argmax is an aggregate, not a window sort") {
    val p = plan("vec_cell_stats")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 8-row codebook must broadcast:\n$p")
    assert(!p.contains("Window"), s"the per-vector argmax must be an aggregate:\n$p")
  }

  test("win_conditional_streak: one user-key shuffle feeds both window passes") {
    val p = plan("win_conditional_streak")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gaps-and-islands must not join at all:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) >= 2,
      s"expected the rn-pair and argmax window passes:\n$p")
    // the named property: hash-partitioning on user_id satisfies every
    // downstream (user, …) clustering, so ONE hash exchange serves
    // both window specs, the island aggregate, and the argmax (the
    // only other exchange is the final output range sort)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
  }

  test("ts_interval_union: interval merge is window passes, no self-join") {
    val p = plan("ts_interval_union")
    assert(!p.contains("Join"), s"coverage must not pair intervals via a join:\n$p")
    assert(p.contains("Window"), s"expected the running-max/island windows:\n$p")
  }

  test("agg_moments_mergeable: dimensions broadcast; two aggregate levels merge state") {
    val p = plan("agg_moments_mergeable")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"nation/region dims must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"expected partial+final pairs at both rollup levels:\n$p")
  }

  test("graph_degree_assortativity / graph_bfs_distance: equi-joins only, never a cartesian") {
    for (q <- Seq("graph_degree_assortativity", "graph_bfs_distance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay on hash/merge equi-joins:\n$p")
    }
  }

  test("vec_ann_ivf / vec_ann_ivf_trained: per-cell search joins on the cell equi-key") {
    for (q <- Seq("vec_ann_ivf", "vec_ann_ivf_trained")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: the per-cell search must never degrade to all-pairs:\n$p")
    }
  }

  test("graph_modularity: labeled-edge join is equi-keyed, no cartesian") {
    val p = plan("graph_modularity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"modularity must join labels on the vertex equi-keys:\n$p")
  }

  test("ts_late_data_semantics: no unpartitioned window over the raw event stream") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("ts_late_data_semantics")(spark, sf001)
      .queryExecution.sparkPlan
    val unpart = sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    // the two-pass prefix max may keep ONE unpartitioned window — the
    // bucket-boundary cumulative max — but only over the per-bucket
    // AGGREGATE (≤ PrefixMaxBuckets rows): every unpartitioned window
    // must have an aggregate below it, proving the raw stream never
    // funnels through a single WindowExec task (the r3 scale-killer)
    unpart.foreach { w =>
      val aggsBelow = w.child.collect { case a: BaseAggregateExec => a }
      assert(aggsBelow.nonEmpty,
        s"unpartitioned window runs over a non-aggregated input:\n$sp")
    }
    // and the within-bucket running max must exist as a PARTITIONED window
    assert(sp.collect { case w: WindowExec if w.partitionSpec.nonEmpty => w }.nonEmpty,
      s"expected the bucket-partitioned running-max window:\n$sp")
  }

  test("agg_quantile_hist: every window runs over the aggregated histogram, not rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("agg_quantile_hist")(spark, sf001)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // the cumulative/total windows must sit ABOVE the (group, bin)
    // hash aggregate — their input is the bounded histogram (≤ bins
    // rows per group), never the raw lineitem scan
    wins.foreach { w =>
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"window over non-aggregated input:\n$sp")
    }
  }

  test("win_global_share: broadcast scalar total — no WindowExec at all") {
    val p = plan("win_global_share")
    assert(!p.contains("Window"),
      s"the global total must be a broadcast scalar, not an empty-frame window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row total must broadcast:\n$p")
  }

  test("mine_assoc_rules: pair derivation is group-and-explode; totals broadcast; no cartesian") {
    val p = plan("mine_assoc_rules")
    assert(!p.contains("CartesianProduct"),
      s"basket pairs must explode from per-order sets, not an all-pairs join:\n$p")
    // brand totals and the one-row order count join back as broadcasts
    assert(p.contains("BroadcastExchange"),
      s"the bounded brand totals must broadcast:\n$p")
    assert(p.contains("Generate"),
      s"expected the pair explode (Generate) over the sorted brand sets:\n$p")
  }

  test("diag_key_skew: top-N is TakeOrderedAndProject; windows only over the bounded top rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("diag_key_skew")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"hot-key top-N must not globally sort the per-key counts:\n$p")
    // the cumulative-share windows are unpartitioned BUT bounded: they
    // must sit above the limit, never over the raw per-key aggregate
    val sp = df.queryExecution.sparkPlan
    sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.foreach { w =>
      assert(w.child.collect {
        case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l
        case g: org.apache.spark.sql.execution.GlobalLimitExec => g
      }.nonEmpty, s"unpartitioned window must run over the N-row limit:\n$sp")
    }
  }

  test("diag_column_profile: split aggregates — hash-agg distincts, no sorted expand") {
    val p = plan("diag_column_profile")
    // TWO column-pruned scans by design (DevColProfile: the fused
    // form put min/max(string)'s var-length buffers into the expanded
    // aggregate → SortAggregate with a 7-key sort of every expanded
    // row, 3× slower). The distinct side must stay hash-aggregated.
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders"))
    assert(scans == 2, s"expected the split two-aggregate shape, got $scans scans:\n$p")
    assert(p.contains("Expand"),
      s"multi-count-distinct must plan as an Expand-based aggregate:\n$p")
    // the Expand feeds HashAggregate dedup, never a sort of expanded rows
    val expandIdx = p.linesIterator.indexWhere(_.contains("Expand"))
    val sortedExpand = p.linesIterator.zipWithIndex.exists { case (l, i) =>
      l.contains("SortAggregate") && (i - expandIdx).abs <= 3 && expandIdx >= 0
    }
    assert(!sortedExpand, s"expanded distinct rows must hash-aggregate, not sort:\n$p")
  }

  test("agg_incremental_merge: both partials pre-aggregate before the merge level") {
    val p = plan("agg_incremental_merge")
    // base partial + delta partial + merge agg, each with its own
    // partial/final pair — at minimum 4 HashAggregate nodes; the merge
    // must never see raw order rows
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected partial+final aggregates at both levels:\n$p")
    assert(p.contains("Union"), s"expected the partial-state union:\n$p")
  }

  test("dedup_winnow_pairs: no cartesian; posting cap bounds the pair explode") {
    val p = plan("dedup_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow pairs must derive from postings, never an all-pairs join:\n$p")
    assert(p.contains("Generate"),
      s"expected the posting explode (Generate):\n$p")
  }

  test("join_bloom_prefilter: might_contain prunes BELOW the semi join; no second scan shuffle") {
    val p = plan("join_bloom_prefilter")
    assert(p.contains("might_contain"),
      s"probe side must carry the bloom pre-filter predicate:\n$p")
    assert(p.contains("LeftSemi"),
      s"exactness must come from the trailing semi join:\n$p")
    // the filter must be a scan-side Filter (below the join), not a
    // post-join residual: in the plan string the might_contain line
    // appears after (deeper than) the join operator line
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    val bloomIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      s"bloom filter must sit below the join in the plan tree:\n$p")
  }

  test("pipeline_quality_funnel: fingerprint window is md5-partitioned; flag fold is one keyless agg") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("pipeline_quality_funnel")(spark, sf001)
      .queryExecution.sparkPlan
    // the first-per-fingerprint window must partition by the
    // high-cardinality md5, never run unpartitioned over the corpus
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"fingerprint window must be partitioned:\n$sp")
    assert(!sp.toString.contains("CartesianProduct"),
      s"funnel must stay on equi-joins:\n$sp")
  }

  test("diag_chi2_independence: marginal joins broadcast; observed cells aggregate partially") {
    val p = plan("diag_chi2_independence")
    assert(!p.contains("CartesianProduct"),
      s"marginal grid must build from broadcast tiny sides:\n$p")
    // the corpus-side (lang, source) count must map-side combine:
    // partial + final HashAggregate around its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"observed-cell count must pre-aggregate before the shuffle:\n$p")
  }

  test("multimodal_phash_pairs: pairs derive from capped postings, never a bucket self-join") {
    val p = plan("multimodal_phash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin")
      && !p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
      s"pair fan-out must be the posting-list explode, not a join:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the posting-pair explode generator:\n$p")
  }

  test("vec_pq_adc: no cartesian anywhere; codebook and distance table broadcast") {
    val p = plan("vec_pq_adc")
    assert(!p.contains("CartesianProduct"),
      s"PQ encoding/scoring must join on (subspace, code) equi-keys:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the codebook subvectors and ADC distance table must broadcast:\n$p")
  }

  test("pipeline_lm_perplexity: model joins equi-keyed; V is a broadcast scalar") {
    val p = plan("pipeline_lm_perplexity")
    assert(!p.contains("CartesianProduct"),
      s"bigram model must join on the bigram key, not all-pairs:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row vocabulary count must broadcast:\n$p")
  }

  test("pipeline_source_mix: quota totals broadcast; no cartesian beyond the scalar") {
    val p = plan("pipeline_source_mix")
    assert(!p.contains("CartesianProduct"),
      s"quota and sample joins must be keyed on source:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row weight total must broadcast:\n$p")
  }

  test("win_running_distinct: windows run over the daily aggregate, never raw events") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("win_running_distinct")(spark, sf001)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$sp")
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"running-sum window must sit above the daily aggregate:\n$sp")
    }
  }

  test("join_asof_forward / ts_theil_sen: entity-partitioned window; equi-keyed pair join") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("join_asof_forward")(spark, sf001)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"asof window must partition by the entity key:\n$sp"))
    val p = plan("ts_theil_sen")
    assert(!p.contains("CartesianProduct"),
      s"slope pairs must equi-join on the series key:\n$p")
  }

  test("whole-stage codegen covers the relational hot path") {
    // AQE wraps the plan in AdaptiveSparkPlan and only materializes
    // codegen per query stage at runtime; disable it here so the
    // static plan shows the WholeStageCodegen spans being asserted
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val p = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("filter_conj")(spark, sf001)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    // simple-mode plan strings mark codegen stages as "*(n) Operator"
    assert(p.contains("*(1)"),
      s"filter/project pipeline must run inside codegen:\n$p")
  }

  // ---- round-4d additions ----

  test("sample_weighted_priority: top-k plans as TakeOrderedAndProject") {
    val p = plan("sample_weighted_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k winners must come from a bounded top-k, not a global sort:\n$p")
  }

  test("mine_item_cf_topk: pair derivation is group-and-explode, not a self-join") {
    val p = plan("mine_item_cf_topk")
    assert(!p.contains("CartesianProduct"),
      s"brand pairs must fan out from per-order sets, never all-pairs:\n$p")
    assert(p.contains("Generate"),
      s"expected the pipeline-side pair explode:\n$p")
  }

  test("mine_rfm_segments: customers score via broadcast edges, no shuffle join") {
    val p = plan("mine_rfm_segments")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"quintile edges must broadcast — a shuffle join re-exchanges the " +
        s"customer aggregate per dimension:\n$p")
  }

  test("graph_walk_sample: every step joins a broadcast frontier") {
    // audit the DERIVATION: the query itself serves the memoized
    // checkpoint (its plan is a bare RDD scan by design)
    val p = operators.GraphOps.walkDerive(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the one-row-per-seed frontier must broadcast against the edges:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"steps must equi-join on the current vertex:\n$p")
  }

  test("pipeline_shard_balance + text_hash_features: map-side combine before the shuffle") {
    for (q <- Seq("pipeline_shard_balance", "text_hash_features")) {
      val p = plan(q)
      val aggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(aggs >= 2, s"$q: expected partial+final HashAggregate pair:\n$p")
    }
  }

  // ---- round-4e additions ----

  test("mine_pareto_frontier + pipeline_pack_chunks: every unpartitioned window sits over an aggregate") {
    // the ts_late_data prefix-max/sum discipline on its two new
    // domains: the only unpartitioned windows allowed are the
    // ≤128-row bucket-boundary passes — each must have an aggregate
    // below it, so neither the distinct-price domain nor the corpus
    // ever funnels through one WindowExec task
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("mine_pareto_frontier", "pipeline_pack_chunks")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      val unpart = sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      unpart.foreach { w =>
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"$q: unpartitioned window over a non-aggregated input:\n$sp")
      }
      assert(sp.collect { case w: WindowExec if w.partitionSpec.nonEmpty => w }.nonEmpty,
        s"$q: expected the partitioned within-bucket window:\n$sp")
      assert(!sp.toString.contains("CartesianProduct"),
        s"$q: bounds must cross-join as a broadcast one-row scalar:\n$sp")
    }
  }

  test("sort_zorder_layout: z-sort is a bounded top-k, interleave is codegen'd") {
    val p = plan("sort_zorder_layout")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT over the z-order must plan as TakeOrderedAndProject:\n$p")
    // the "*(n)" operator prefix is the WholeStageCodegen marker in
    // executedPlan.toString — the Project computing zkey must carry it
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("zkey")),
      s"the mask-and-shift chain must stay inside codegen:\n$p")
  }

  test("win_drawdown + ts_cusum_alarm: windows run partitioned over the hourly aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("win_drawdown", "ts_cusum_alarm")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      assert(sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
        s"$q: no unpartitioned window may exist:\n$sp")
      val aggs = sp.toString.linesIterator.count(_.contains("HashAggregate"))
      assert(aggs >= 2, s"$q: the raw stream must pre-aggregate to hours:\n$sp")
    }
  }

  test("graph_avg_neighbor_degree: degree joins shuffle on the edge key, never all-pairs") {
    val p = plan("graph_avg_neighbor_degree")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the edge⋈degree joins must stay equi-joins:\n$p")
  }

  test("pipeline_compaction_bins: per-source aggregate bounds every window input") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("pipeline_compaction_bins")(spark, sf001)
      .queryExecution.sparkPlan
    sp.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"the cumulative window must run over the bounded source aggregate:\n$sp")
    }
  }

  test("top-k additions plan as TakeOrderedAndProject with broadcast scalars") {
    for (q <- Seq("text_bm25_topk", "mine_time_decay_score",
        "vec_dim_variance_topk", "pipeline_bpe_first_merges")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: bounded top-k, not a global sort:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: scalar/dim sides must broadcast:\n$p")
    }
  }

  test("graph_rich_club + mine_price_elasticity: censuses stay equi-join + bounded agg") {
    for (q <- Seq("graph_rich_club", "mine_price_elasticity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: no all-pairs anywhere:\n$p")
      val aggs = p.linesIterator.count(_.contains("HashAggregate"))
      assert(aggs >= 2, s"$q: partial+final aggregation expected:\n$p")
    }
  }

  test("mine_survival_km + mine_cohort_ltv: windows run over bounded aggregates") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("mine_survival_km", "mine_cohort_ltv")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      sp.collect { case w: WindowExec => w }.foreach { w =>
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"$q: window must see the bounded aggregate, never raw rows:\n$sp")
      }
    }
  }

  test("sort_zorder_layout: the interleave is the single native morton2 expression") {
    val p = plan("sort_zorder_layout")
    assert(p.contains("morton2"),
      s"zkey must come from the codegen'd MortonInterleave expression:\n$p")
    assert(!p.contains("shiftleft"),
      s"the Column-chain spelling must be gone from the plan:\n$p")
  }

  // ---- round-4f additions ----

  test("round-4f joins stay equi-join (no cartesian beyond broadcast scalars)") {
    for (q <- Seq("mine_hhi_concentration", "text_source_divergence",
        "text_novelty_curve", "graph_eccentricity_bounded")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$q: every join must be an equi-join:\n$p")
    }
  }

  test("ts_peak_concurrency + mine_gini_revenue: no unpartitioned window over raw rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("ts_peak_concurrency", "mine_gini_revenue")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      val bad = sp.collect { case w: WindowExec
          if w.partitionSpec.isEmpty => w }
        .filterNot { w =>
          // the one allowed serial window is the ≤128-row per-bucket
          // boundary aggregate — its child must aggregate first
          import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          w.child.collect { case a: BaseAggregateExec => a }.nonEmpty
        }
      assert(bad.isEmpty,
        s"$q: unpartitioned windows must only see the bucket aggregate:\n$sp")
    }
  }

  test("vec_rp_project_audit: pipeline-side folds — no explode, no sign join") {
    val p = plan("vec_rp_project_audit")
    assert(!p.contains("Generate"),
      s"the 16 projections must fold in codegen, not explode:\n$p")
    assert(!p.toLowerCase.contains("cartesian"),
      s"no sign-table join may appear:\n$p")
  }

  /** the physical plans of the cached memo frames a query reads (under
    * planOnly the memos cache instead of checkpointing) */
  private def cachedPlans(q: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan.collect {
      case m: InMemoryTableScanExec => m.relation.cachedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    }
  }

  /** whether `p` holds a round-robin exchange to one partition per core */
  private def spreadBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val parts = spark.sparkContext.defaultParallelism
    p.exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning == RoundRobinPartitioning(parts)
      case _ => false
    }
  }

  test("vec_gram_matrix: the Gram partials accumulate in ONE mapPartitions " +
      "pass under the memo") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    val cached = cachedPlans("vec_gram_matrix")
    assert(cached.size == 1, s"expected the one cached Gram memo: $cached")
    val mp = cached.head.collect { case m: MapPartitionsExec => m }
    assert(mp.size == 1,
      s"the mirrored cells must reuse the one partials pass:\n${cached.head}")
    assert(spreadBelow(mp.head),
      s"the partials must read the corpus spread across the cores:\n${cached.head}")
  }

  test("similarity kernels run on every core: dedup joins stream a " +
      "round-robin side, embSig projects above a round-robin exchange") {
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    for (q <- Seq("dedup_jaro_winkler", "dedup_edit_distance")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      assert(sp.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$q: the blocked join must not plan as a cartesian product:\n$sp")
      val joins = sp.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(joins.size == 1, s"$q: expected one broadcast NL join:\n$sp")
      val j = joins.head
      val streamed = if (j.buildSide == BuildRight) j.left else j.right
      assert(spreadBelow(streamed),
        s"$q: the streamed side must be spread across the cores:\n$sp")
    }
    val projections = cachedPlans("dedup_band_plan").flatMap(_.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(
        _.isInstanceOf[graft.functions.PlaneDots])) => p
    })
    assert(projections.nonEmpty, "embSig must project its plane dots natively")
    assert(projections.forall(spreadBelow),
      s"embSig's projection must sit above a round-robin exchange:\n$projections")
  }

  test("win_rolling_median: frames stay bounded (no unbounded-frame collect)") {
    val p = plan("win_rolling_median")
    assert(p.contains("specifiedwindowframe(RowFrame, -24, currentrow"),
      s"the collect_list frame must be the bounded 25-row frame:\n$p")
  }

  test("later round-4f joins stay equi-join (cartesian only as broadcast scalars)") {
    for (q <- Seq("graph_edge_support", "pipeline_ngram_contamination",
        "ts_mann_kendall", "text_boilerplate_prefixes", "mine_rank_rbo",
        "text_langid_kappa", "ts_hill_tail_index", "ts_forecast_backtest",
        "win_rolling_corr", "pipeline_epoch_shuffle")) {
      val p = plan(q)
      // BroadcastNestedLoopJoin appears ONLY as the one-row broadcast
      // scalar cross (the win_global_share pattern) — a true unbounded
      // cartesian would plan as CartesianProduct
      assert(!p.contains("CartesianProduct"),
        s"$q: no unbounded cartesian anywhere:\n$p")
    }
  }

  test("round-4f second wave: no unbounded cartesian anywhere") {
    for (q <- Seq("vec_cell_label_purity", "mine_markov_accuracy",
        "mine_itemsets_3", "diag_drift_ks", "mine_good_turing",
        "text_heaps_law", "text_source_lang_mix", "multimodal_format_sniff",
        "ts_obv", "multimodal_payload_entropy", "win_bollinger_breach",
        "mine_abc_classes", "agg_tail_ratio", "text_code_prose_ratio",
        "pipeline_gate_ablation", "ts_dow_anova", "mine_dau_mau",
        "mine_woe_iv", "mine_price_endings", "ts_seasonal_strength",
        "graph_centralization", "ts_forecast_backtest",
        "ts_mann_kendall", "mine_diff_in_diff")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: no unbounded cartesian (broadcast scalars excepted):\n$p")
    }
  }

  test("mine_abc_classes + diag_drift_ks: serial windows only over bucket aggregates") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("mine_abc_classes", "diag_drift_ks")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      val bad = sp.collect { case w: WindowExec
          if w.partitionSpec.isEmpty => w }
        .filterNot(_.child.collect {
          case a: BaseAggregateExec => a }.nonEmpty)
      assert(bad.isEmpty,
        s"$q: unpartitioned windows must only see the bucket aggregate:\n$sp")
    }
  }

  test("round-4f third wave: no unbounded cartesian anywhere") {
    for (q <- Seq("dedup_cross_source_matrix", "ts_profile_similarity",
        "text_pii_luhn", "agg_top5_other", "diag_json_key_profile",
        "mine_ratio_metric_ci", "ts_ljung_box", "mine_power_sample_size",
        "vec_hubness_audit", "diag_non_ascii_audit",
        "text_line_dedup_census", "mine_ab_srm", "ts_littles_law",
        "graph_triangle_participation", "vec_ivf_recall_at_k",
        "mine_growth_accounting", "ts_exceedance_runs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: no unbounded cartesian (broadcast scalars excepted):\n$p")
    }
  }

  test("round-4f closing ops: no unbounded cartesian anywhere") {
    for (q <- Seq("vec_metric_rank_agreement", "mine_icc_price",
        "ts_variance_ratio", "pipeline_split_balance")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: no unbounded cartesian (broadcast scalars excepted):\n$p")
    }
  }

  test("win_rolling_corr: the serial window sees only the joined hourly aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("win_rolling_corr")(spark, sf001)
      .queryExecution.sparkPlan
    sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"the frame windows must run over the hourly aggregate:\n$sp")
      }
  }

  // --- round-5 plan shapes ---

  test("triangle family: four queries share ONE cached oriented-triangle relation") {
    // VERDICT r4 #1: the shared derivation pin. After the first
    // consumer materializes the memoized relation, every other
    // consumer's plan scans an InMemoryTableScan instead of
    // re-deriving dir/adj/intersect — the plan must contain the cache
    // scan and must NOT contain a fresh array_intersect derivation.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    SessionMemo.clear(spark)
    spark.catalog.clearCache()
    SparkEntry.queries("graph_triangles")(spark, sf001).collect() // warms memo
    for (q <- Seq("graph_edge_support", "graph_triangle_participation")) {
      // tree traversal, not string: the string rendering includes the
      // cached relation's BUILD plan (which legitimately contains the
      // intersect), while .collect stops at the cache scan boundary
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      assert(sp.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"$q must consume the cached triangle relation:\n$sp")
      val fresh = sp.collect {
        case n if n.expressions.exists(_.toString.contains("array_intersect")) => n
      }
      assert(fresh.isEmpty,
        s"$q must not re-run the adjacency-intersect derivation:\n$sp")
    }
  }

  test("ts_mann_kendall: the bucketed pair decomposition is in the plan") {
    // VERDICT r4 #5 pin: the A term joins on (event_type, tb), the B
    // term on (event_type, vb), and the C term's grid windows
    // partition on the SAME two-column keys. The remaining
    // event_type-only joins (per-series min/max broadcast, dense-grid
    // dimension cross) have a bounded side by construction — the
    // hours² shape (both sides the raw hourly relation on event_type
    // alone) no longer exists, which Round5Spec pins semantically via
    // the brute-force equality.
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("ts_mann_kendall")(spark, sf001)
      .queryExecution.sparkPlan
    val joinKeys = sp.collect {
      case j: SortMergeJoinExec => j.leftKeys.map(_.sql).mkString(",")
      case j: ShuffledHashJoinExec => j.leftKeys.map(_.sql).mkString(",")
      case j: BroadcastHashJoinExec => j.leftKeys.map(_.sql).mkString(",")
    }
    assert(joinKeys.exists(k => k.contains("event_type") && k.contains("tb")),
      s"missing the same-week (event_type, tb) pair join:\n$joinKeys")
    assert(joinKeys.exists(k => k.contains("event_type") && k.contains("vb")),
      s"missing the cross-week same-bucket (event_type, vb) join:\n$joinKeys")
    val winParts = sp.collect { case w: WindowExec =>
      w.partitionSpec.map(_.sql).mkString(",") }
    assert(winParts.exists(p => p.contains("vb")) &&
      winParts.exists(p => p.contains("tb")),
      s"missing the grid cumulative windows:\n$winParts")
  }

  test("mine_spearman_corr: no window partitions on nothing over raw suppliers") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("mine_spearman_corr")(spark, sf001)
      .queryExecution.sparkPlan
    // the only unpartitioned windows are the ≤GiniBuckets boundary
    // cumulatives, which must sit over a bucket AGGREGATE — never the
    // raw per-supplier rows
    sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach { w =>
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"unpartitioned window must run over the bucket aggregate:\n$sp")
      }
  }

  test("pipeline_mixture_schedule: rank windows carry the bucket key") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("pipeline_mixture_schedule")(spark, sf001)
      .queryExecution.sparkPlan
    val rowNumWindows = sp.collect {
      case w: WindowExec if w.windowExpression.mkString.contains("row_number") => w
    }
    assert(rowNumWindows.nonEmpty, s"expected the within-bucket rank:\n$sp")
    rowNumWindows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"row_number must partition on (source, bucket), not source alone:\n$sp")
    }
  }

  test("NO query runs an unpartitioned window over unbounded raw rows") {
    // the r5 closing sweep over EVERY declared query: an unpartitioned
    // WindowExec may only sit over an aggregate (the ≤128-row boundary
    // discipline) or a limit/top-k (bounded by the declared output) —
    // the class of shapes that funnels data-volume-proportional rows
    // through one task must not exist anywhere. This is the invariant
    // the round-5 rewrites (rank_variants, percent_dist, ntile_deciles,
    // mixture_schedule, source_mix) closed; the sweep keeps it closed.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val sp = fn(spark, sf001).queryExecution.sparkPlan
      sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          val bounded = w.child.collect {
            case a: BaseAggregateExec => a
            case l: GlobalLimitExec => l
            case t: TakeOrderedAndProjectExec => t
          }.nonEmpty
          assert(bounded,
            s"$name: unpartitioned window over unbounded raw rows:\n$w")
        }
    }
  }

  test("graph_ktruss: final state carries positive in-truss supports") {
    // semantic pin next to the Round5Spec fixture: at sf0.001 the
    // 12-truss survivors (if any) all report support ≥ k−2
    val rows = SparkEntry.queries("graph_ktruss")(spark, sf001)
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= operators.GraphOps.KtrussK - 2,
        s"edge below declared support survived: $r")
    }
  }

  test("graph_cc_incremental: label remap broadcasts; no cartesian") {
    // the incremental contract: the remap table is the CC of a
    // ≤2·|delta|-vertex LABEL graph, declared broadcast — at scale
    // the refresh must never shuffle all V rows against it
    val p = plan("graph_cc_incremental")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"remap join must broadcast the contracted label table:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded cartesian in the refresh:\n$p")
  }

  test("graph_betweenness_sampled: pair table broadcast-bound before the v-join") {
    // the fan-out guard: σ rows join the ≤BwPairs pair table FIRST
    // (broadcast), so the per-vertex contribution explode is bounded
    // by sampled pairs, never seeds² — the property that keeps the
    // estimator's cost constant-per-vertex at any graph scale
    val p = plan("graph_betweenness_sampled")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"sampled pair table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded cartesian (the seed-pair cross is a bounded " +
        s"broadcast of ${operators.GraphOps.BwSeeds} rows):\n$p")
  }

  test("dedup_embedding_cluster / vec_ann_lsh_multiprobe: band/probe joins equi-keyed, no cartesian") {
    // the two r8 embedding operators must block on equi-keys (band
    // value / probe bucket) — the property that keeps candidate
    // volume bucket-bounded instead of all-pairs at corpus scale
    for (q <- Seq("dedup_embedding_cluster", "vec_ann_lsh_multiprobe")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate generation must be an equi-join:\n$p")
    }
  }

  test("graph_hyperball_error_audit: frontier expansion anti-joins the seen set; no cartesian") {
    // the r9 exact-walk shape: each round's candidates anti-join the
    // accumulated (seed, v) set so a vertex is expanded once per seed
    // — the declared audit_seeds × E bound (the accumulate-and-regroup
    // form re-aggregated the whole ball per round, measured 4.4× slower)
    val p = plan("graph_hyperball_error_audit")
    assert(p.contains("LeftAnti"),
      s"frontier must anti-join the seen set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian (the h-grid fans out a ≤H+1-row histogram, broadcast):\n$p")
  }

  test("pipeline_decontaminate: eval pool broadcasts against the train fingerprints") {
    // the 100 TB decontamination shape: the eval fingerprint pool
    // (~1/mod of the corpus) must broadcast — shuffling the exploded
    // train fingerprints against it would move the whole crawl
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval pool must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the pool join:\n$p")
  }

  test("pipeline_decontaminate_semantic: probe-bounded broadcast cross, never train x train") {
    // the brute-force baseline's declared shape: train × evals with
    // the ~1% eval side broadcast (BroadcastNestedLoopJoin IS the
    // intended bounded cross); an unplanned CartesianProduct would
    // mean the broadcast hint was lost and both sides shuffle
    val p = plan("pipeline_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast into the scoring cross:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the cross must ride the broadcast, not a cartesian shuffle:\n$p")
  }

  test("dedup_containment_pairs: posting-derived, no all-pairs join") {
    // same candidate-generation property as dedup_winnow_pairs — the
    // shared winnowPairRel must keep pair fan-out posting-bounded
    val p = plan("dedup_containment_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment pairs must derive from postings, never an all-pairs join:\n$p")
  }

  test("graph_effective_diameter: register merge is a partial (map-side) aggregate") {
    // HyperBall's 100 TB property: the round shuffle carries
    // PARTIALLY max-merged registers (∝ V·m), not one register row
    // per edge (∝ E·m) — the merge aggregate must have a partial
    // level below the exchange
    val p = plan("graph_effective_diameter")
    assert(p.contains("ObjectHashAggregate"),
      s"typed-Aggregator register merge must plan as ObjectHashAggregate:\n$p")
    assert(p.contains("partial_"),
      s"register merge must combine map-side before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian (the N(horizon) scalar is a broadcast single row):\n$p")
  }

  test("dedup_band_plan: the whole widening schedule prices join-free in " +
      "one pass (r12)") {
    // the adaptive guard's decision table must never pay a self-join:
    // a constant 12-rows-per-vector explode, two aggregate levels,
    // zero join operators of any kind
    val p = plan("dedup_band_plan")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin", "ShuffledHashJoin"))
      assert(!p.contains(j), s"band plan must be join-free, found $j:\n$p")
    assert(p.contains("partial_"),
      s"occupancy counts must combine map-side before the shuffle:\n$p")
  }

  test("pipeline_patent_refresh: no cartesian anywhere; every window " +
      "keyed (merge on pid, serve on cl) (r13 capstone)") {
    // the capstone composes five verified stages; its plan must keep
    // their shapes — the XML parse never shuffles markup (only keys
    // and fixed-width state cross exchanges), the latest-wins merge
    // and the serving rank both partition on their keys, and no stage
    // degenerates to an all-pairs join
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("pipeline_patent_refresh")(spark, sf001)
      .queryExecution.sparkPlan
    val p = sp.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"capstone must never all-pairs join:\n$p")
    sp.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"capstone windows must partition on their stage key:\n$w")
    }
  }

  test("pipeline_patent_refresh parse: one stage over pid-hashed orders " +
      "and citations, no broadcast") {
    // the citation aggregate, its join with orders, the markup and
    // from_xml run in ONE stage of `parts` tasks: both inputs arrive
    // through hashpartitioning(pid, parts) exchanges and are joined
    // co-partitioned, so no broadcast of the aggregate pins the parse
    // to the orders scan's single split
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      Exchange, ShuffleExchangeExec}
    val plan = operators.PatentPipeline.snapshot(spark, sf001, parts = 4)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val parse = plan.find(_.expressions.exists(
      _.exists(_.getClass.getSimpleName == "XmlToStructs")))
    assert(parse.isDefined, s"no from_xml in the snapshot plan:\n$plan")
    assert(parse.get.find(_.isInstanceOf[BroadcastExchangeExec]).isEmpty,
      s"a broadcast feeds the parse:\n$plan")
    // the exchanges the parse's stage reads
    def stageInputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case e: Exchange => Seq(e)
      case _ => p.children.flatMap(stageInputs)
    }
    def scans(p: SparkPlan, table: String) = p.collectLeaves().exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _ => false
    }
    val inputs = parse.get.children.flatMap(stageInputs)
    inputs.foreach { e =>
      assert(e match {
        case ShuffleExchangeExec(HashPartitioning(Seq(a: Attribute), 4), _, _, _) =>
          a.name == "pid"
        case _ => false
      }, s"the parse stage reads an exchange other than hash(pid, 4): $e")
    }
    for (t <- Seq("orders", "lineitem"))
      assert(inputs.exists(scans(_, t)),
        s"no hash(pid, 4) exchange of $t below the parse:\n$plan")
  }

  test("rank-limit pushdown: the serve shapes bound window state to " +
      "top-N BEFORE the shuffle (VERDICT r13 #3)") {
    // a `row_number() <= N` filter over a partitioned window must plan
    // a WindowGroupLimit PAIR — a Partial node below the exchange (so
    // each map task keeps only its local top-N rows per key; without
    // it a low-cardinality serve key sorts entire groups in single
    // reduce tasks at 100×) and a Final above it. Spark 4's
    // InferWindowGroupLimit infers both from the filter; this pin
    // keeps the serve stages honest against a rewrite that breaks the
    // rank-filter idiom the rule matches on.
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    def groupLimits(q: String): Seq[WindowGroupLimitExec] =
      SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
        .collect { case w: WindowGroupLimitExec => w }
    for (q <- Seq("win_rank_topn_pergroup", "join_lateral_topk")) {
      val ws = groupLimits(q)
      assert(ws.exists(_.toString.contains("Partial")),
        s"$q must bound per-partition window state map-side: $ws")
      assert(ws.exists(_.toString.contains("Final")),
        s"$q must re-bound after the shuffle: $ws")
    }
    // the capstone carries TWO rank windows — latest-wins merge on pid
    // (limit 1) and the serve rank on cl (limit RefreshTopN). The
    // serve pair sits in the outer plan; the merge pair lives INSIDE
    // the memoized snapshot's InMemoryRelation (node collection does
    // not recurse into cached plans), so it pins via the plan string.
    val capPlan = SparkEntry.queries("pipeline_patent_refresh")(spark, sf001)
      .queryExecution.sparkPlan
    val servN = operators.PatentPipeline.RefreshTopN
    val serve = capPlan.collect {
      case w: WindowGroupLimitExec if w.limit == servN => w }
    assert(serve.exists(_.toString.contains("Partial")) &&
      serve.exists(_.toString.contains("Final")),
      s"capstone serve window must push Partial+Final limit-$servN: $serve")
    val capStr = capPlan.toString
    for (mode <- Seq("Partial", "Final"))
      assert(capStr.contains(s"row_number(), 1, $mode"),
        s"capstone merge window must plan a $mode limit-1 bound:\n$capStr")
  }

  test("triangle scalars plan REAL aggregates under audit sessions " +
      "(VERDICT r12 #6)") {
    // pre-r13 these two computed eagerly in the constructor and
    // returned a LocalRelation — the one corner of the surface whose
    // physical plan the sweeps could not pin. Under planOnly they now
    // route through the lazy twin: the aggregate over the shared
    // triangle relation must be visible, nothing pre-computed may be
    // embedded, and the scalar close must broadcast.
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    for (q <- Seq("graph_triangles", "graph_clustering_coefficient")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      assert(sp.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"$q must plan its aggregate, not embed a pre-computed scalar:\n$sp")
      assert(sp.collect { case l: LocalTableScanExec => l }.isEmpty,
        s"$q under planOnly must not contain eagerly-computed results:\n$sp")
      assert(!sp.toString.contains("CartesianProduct"),
        s"$q: the single-row scalar close must broadcast:\n$sp")
    }
  }

  test("CBO-on plan sweep: enabling cbo + joinReorder degrades NO query's " +
      "plan shape (VERDICT r11 #8)") {
    // CboStatsSpec proves CBO reorders an ANALYZE'd catalog star join.
    // The engine's own queries read path-based parquet relations with
    // NO catalog column stats — so turning CBO on must be a NO-OP for
    // their plan shapes: broadcasts must not flip to shuffle joins,
    // no cartesian may appear, and the shuffle count must not grow.
    // A production deployment that ANALYZEs its tables therefore gets
    // CBO's reorders on ITS catalog without destabilizing any of the
    // engine's 370 shipped plans.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
    def shape(sp: SparkPlan): (Int, Int, Int, Int) = (
      sp.collect { case j: BroadcastHashJoinExec => j }.size,
      sp.collect { case j: SortMergeJoinExec => j }.size,
      sp.collect { case j: CartesianProductExec => j }.size +
        sp.collect { case j: BroadcastNestedLoopJoinExec => j }.size,
      sp.collect { case e: ShuffleExchangeExec => e }.size)
    val cboKeys = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled")
    val baseline = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        name -> shape(fn(spark, sf001).queryExecution.sparkPlan)
    }
    val prior = cboKeys.map(k => k -> spark.conf.getOption(k))
    cboKeys.foreach(spark.conf.set(_, "true"))
    try {
      for ((name, (bhj0, smj0, cart0, shuf0)) <- baseline) {
        val (bhj1, smj1, cart1, shuf1) =
          shape(SparkEntry.queries(name)(spark, sf001)
            .queryExecution.sparkPlan)
        // degradation = a broadcast join FLIPPING to a shuffle join
        // (bhj down AND smj up). A bhj drop alongside an smj drop is a
        // legitimate reorder that eliminated a join — allowed (r13,
        // ADVICE r12 #4)
        assert(!(bhj1 < bhj0 && smj1 > smj0),
          s"$name: CBO flipped a broadcast join to a shuffle join " +
            s"(bhj $bhj0->$bhj1, smj $smj0->$smj1)")
        assert(cart1 <= cart0,
          s"$name: CBO introduced a cartesian/BNLJ ($cart0->$cart1)")
        assert(shuf1 <= shuf0,
          s"$name: CBO grew the shuffle count ($shuf0->$shuf1)")
      }
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
