package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for representative queries
  * so the scale-critical plan properties can be audited (SURVEY §4):
  * predicate pushdown reaching the parquet scan, column pruning in
  * ReadSchema, broadcast joins where a side is small, top-K planned as
  * TakeOrderedAndProject, wide WholeStageCodegen spans.
  *
  * Usage: runMain graft.ExplainAudit [sfDir] [query ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "scan_pruned_filter", "join_broadcast", "join_multiway_star",
      "topk_global", "win_rank_topn_pergroup", "agg_pricing_summary",
      "vec_cosine_topk", "ts_tumbling_window",
      // round-3 shapes worth auditing
      "join_range_bucketed", "join_asof_nearest", "ts_gap_fill",
      "text_pii_redact", "vec_quantize_int8", "multimodal_frame_sample",
      // round-4 shapes: keyed upsert (one key shuffle + one window),
      // distributed prefix max (no unpartitioned window over raw
      // events), broadcast-scalar share (no WindowExec at all)
      "pipeline_upsert_snapshot", "ts_late_data_semantics",
      "win_global_share",
      // round-4c shapes: PQ broadcast distance table, bigram-model
      // equi-joins + broadcast V, forward-asof partitioned window,
      // aggregate-input running-distinct window
      "vec_pq_adc", "pipeline_lm_perplexity", "join_asof_forward",
      "win_running_distinct",
      // round-4d shapes: bounded top-k sampling, broadcast quintile
      // edges, time-range frame, lateral top-N, sessionize single
      // WindowExec, group-and-explode CF pairs
      "sample_weighted_priority", "mine_rfm_segments",
      "win_time_range_sum", "join_lateral_topk", "win_sessionize_ids",
      "mine_item_cf_topk",
      // round-5 shapes: native band merge (no union/window), bucketed
      // Mann–Kendall (no hours² join), bucket-composed rank variants,
      // the nprobe curve's probe-bounded joins, seed-pair betweenness
      "join_range_native", "ts_mann_kendall", "win_rank_variants",
      "pipeline_mixture_schedule", "vec_ann_recall_vs_probes",
      "graph_betweenness_seeds",
      // round-8 shapes: broadcast label remap, broadcast pair table
      // before the contribution join, partial register max-merge,
      // band-bounded candidate equi-joins, probe-bucket equi-join
      "graph_cc_incremental", "graph_betweenness_sampled",
      "graph_effective_diameter", "dedup_embedding_cluster",
      "vec_ann_lsh_multiprobe",
      // round-9 shapes: frontier anti-join audit walk, broadcast eval
      // pool, broadcast scoring cross, improved-frontier Bellman–Ford
      // (graph_pagerank_weighted is audited via PlanAuditSpec-adjacent
      // pins only: the pageRank loop sizes its broadcast by a measured
      // count, so its construction is not action-free)
      "graph_hyperball_error_audit", "pipeline_decontaminate",
      "pipeline_decontaminate_semantic", "graph_sssp_seeds",
      // round-10 shapes: XML parse scan→project (no shuffle, no UDF),
      // URL canonicalization's single canonical-key window
      // (join_multiway_star's stats-driven broadcasts already audit
      // via the default-list entry above + the PlanAuditSpec pin)
      "scalar_xml", "dedup_url_canonical")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the native join strategies and hints: without them RangeJoinNode
      // has no physical plan and the asof plans are not the engine's
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // plan audit never executes — keep memo construction action-free
      .config(graft.operators.GraphOps.PlanOnlyKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
