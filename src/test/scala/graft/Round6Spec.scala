package graft

import org.apache.spark.sql.functions._

/** Round-6 pins: the unified weighted co-citation memo (VERDICT r5
  * #1), the Borůvka driver-side Kruskal endgame (VERDICT r5 #2), the
  * lazy graph memos (ADVICE r5 #2) and the oracle-cap guards (ADVICE
  * r5 #1). */
class Round6Spec extends SparkTestBase {

  /** driver-side replica of the weighted co-citation pair aggregate:
    * per customer with 2..MaxCoCiteDegree cited suppliers, every
    * s1 < s2 pair accumulates (count, Σ round(1e9/ln deg)) — the exact
    * integer semantics the memo declares. */
  private def coCiteReplica(dir: String): Map[(Long, Long), (Long, Long)] = {
    val cap = operators.GraphOps.MaxCoCiteDegree
    val off = operators.GraphOps.SupplierVertexOffset
    val byCust = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), (col("l_suppkey") + off).as("s"))
      .distinct().collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getLong(1)).sorted)
      .filter(ns => ns.length >= 2 && ns.length <= cap)
    val acc = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for (ns <- byCust) {
      val w9 = math.round(1.0e9 / math.log(ns.length.toDouble))
      for (i <- ns.indices; j <- (i + 1) until ns.length) {
        val k = (ns(i), ns(j))
        val (c, w) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (c + 1, w + w9)
      }
    }
    acc.toMap
  }

  test("graph_adamic_adar + graph_common_neighbors ride one weighted pair memo") {
    val rep = coCiteReplica(sf001)
    // common_neighbors top-20 under (n_common DESC, s1, s2)
    val expCn = rep.toSeq.map { case ((a, b), (c, _)) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    val gotCn = operators.GraphOps.queries("graph_common_neighbors")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotCn == expCn)
    // adamic top-20: score = half-up((aa9)/1e5)/1e4 under (score DESC, s1, s2)
    val expAa = rep.toSeq.map { case ((a, b), (_, w)) =>
      (a, b, ((w + 50000L) / 100000L).toDouble / 10000.0) }
      .sortBy { case (a, b, s) => (-s, a, b) }.take(20)
    val gotAa = operators.GraphOps.queries("graph_adamic_adar")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotAa == expAa)
  }

  test("co-citation family: adamic/jaccard consume the cached pair memo, no second wedge explode") {
    // VERDICT r5 #1 plan pin (the triangle-family construction): after
    // the first consumer materializes the weighted pair memo, the
    // other two consumers scan the cache — their plans must contain an
    // InMemoryTableScan and must NOT re-run the wedge explode (the
    // flatten(transform(...)) pair fan-out).
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    SessionMemo.clear(spark)
    spark.catalog.clearCache()
    SparkEntry.queries("graph_common_neighbors")(spark, sf001).collect()
    for (q <- Seq("graph_adamic_adar", "graph_neighbor_jaccard")) {
      val sp = SparkEntry.queries(q)(spark, sf001).queryExecution.sparkPlan
      assert(sp.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"$q must consume the cached weighted pair relation:\n$sp")
      val fresh = sp.collect {
        case n if n.expressions.exists(_.toString.contains("transform(slice")) => n
      }
      assert(fresh.isEmpty, s"$q must not re-run the wedge explode:\n$sp")
    }
  }

  test("boruvka kruskal endgame equals the pure distributed path at sf0.001") {
    // VERDICT r5 #2: the endgame collects the contracted multigraph
    // and finishes with Kruskal under the same (w, a, b) comparator —
    // the forest is unique given the total order, so set equality
    // against the cap-0 (never-collect) run is the full check.
    val capKey = operators.GraphOps.MstCollectMaxEdgesKey
    val viaEndgame = operators.GraphOps.queries("graph_mst_boruvka")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.conf.set(capKey, "0")
    try {
      val distributed = operators.GraphOps.queries("graph_mst_boruvka")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaEndgame == distributed,
        s"forest sizes: endgame ${viaEndgame.size}, distributed ${distributed.size}")
    } finally spark.conf.unset(capKey)
  }

  test("graph memo construction is action-free under planOnly (ADVICE r5 #2)") {
    // under graft.planOnly, building the betweenness / ktruss queries
    // must schedule ZERO Spark jobs — plan-audit paths get pure plan
    // construction. (Execution paths DO latch the seed-BFS memos
    // eagerly since r7 — VERDICT r6 #1 — which is exactly why the
    // audit paths need the conf.)
    SessionMemo.clear(spark)
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(operators.GraphOps.PlanOnlyKey, "true")
    try {
      SparkEntry.queries("graph_betweenness_seeds")(spark, sf001)
      SparkEntry.queries("graph_edge_support")(spark, sf001)
      SparkEntry.queries("graph_bfs_distance")(spark, sf001)
      // drain the async listener bus deterministically (ADVICE r6 #4:
      // a fixed sleep can miss a late event AND pads every run)
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"query construction scheduled ${jobs.get()} jobs; must be 0")
    } finally {
      spark.conf.unset(operators.GraphOps.PlanOnlyKey)
      spark.sparkContext.removeSparkListener(listener)
      // the memos latched under planOnly are UNLATCHED cached frames —
      // drop them so later tests latch fresh on first construction
      SessionMemo.clear(spark)
    }
  }

  test("kCore/kTruss oracle-round caps fail loudly when exhausted (ADVICE r5 #1)") {
    import spark.implicits._
    // a 6-path peels to empty at k=2 over several rounds — a cap of 1
    // must throw the bump instruction instead of returning a state the
    // unrolled oracle can't reproduce
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val e = intercept[IllegalStateException] {
      operators.GraphOps.kTruss(path.withColumnRenamed("a", "a"), k = 3,
        oracleRounds = Some(0)).collect()
    }
    assert(e.getMessage.contains("KtrussOracleRounds"))
    val edges = path.select(col("a").as("src"), col("b").as("dst"))
    val e2 = intercept[IllegalStateException] {
      operators.GraphOps.kCore(edges, k = 2, oracleRounds = Some(0)).collect()
    }
    assert(e2.getMessage.contains("KcoreOracleRounds"))
  }
}
