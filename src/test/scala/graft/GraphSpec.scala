package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** Hand-built-graph tests for the iterative operators (no oracle
  * exists for PageRank; CC's oracle only runs at sf0.01 — these pin
  * the algorithms themselves). */
class GraphSpec extends SparkTestBase {

  private def edgeDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("connectedComponents labels two separate components") {
    // component {1,2,3} and component {10,11}; 20 isolated via self-loop
    val cc = GraphOps.connectedComponents(edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on a chain converges past one iteration") {
    // 0-1-2-3-4-5: min label must walk the whole chain
    val chain = (0L until 5L).map(i => i -> (i + 1))
    val cc = GraphOps.connectedComponents(edgeDf(chain: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(0L))
    assert(cc.size == 6)
  }

  test("pageRank mass is conserved (sum ≈ N) and uniform on a cycle") {
    // directed 4-cycle symmetrized → regular graph → uniform PR = 1.0
    val pr = GraphOps.pageRank(edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 4)
    pr.values.foreach(v => assert(math.abs(v - 1.0) < 1e-9, s"non-uniform: $pr"))
  }

  test("pageRank matches GraphX staticPageRank on a small graph") {
    import org.apache.spark.graphx.{Edge, Graph}
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 1L, 2L -> 4L)
    // our implementation symmetrizes; hand GraphX the same symmetric set
    val sym = (pairs ++ pairs.map(_.swap)).distinct
    val ours = GraphOps.pageRank(edgeDf(pairs: _*), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gx = Graph.fromEdges(
      spark.sparkContext.parallelize(sym.map { case (a, b) => Edge(a, b, 1) }), 1)
      .staticPageRank(10).vertices.collect().toMap
    for ((v, p) <- ours)
      assert(math.abs(p - gx(v)) < 1e-6, s"vertex $v: ours=$p graphx=${gx(v)}")
  }

  test("cluster-scale shuffle path (caps=0) equals broadcast path: CC + PageRank") {
    // pin the operators to the co-partitioned shuffle join they use
    // once the vertex set outgrows the broadcast cap, and assert exact
    // result equivalence with the small-graph broadcast path
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 10L -> 11L)
    val ccB = GraphOps.connectedComponents(edgeDf(pairs: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prB = GraphOps.pageRank(edgeDf(pairs: _*), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    spark.conf.set(GraphOps.BroadcastStateMaxRowsKey, "0")
    try {
      val ccS = GraphOps.connectedComponents(edgeDf(pairs: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ccS == ccB)
      val prS = GraphOps.pageRank(edgeDf(pairs: _*), 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(prS.keySet == prB.keySet)
      prS.foreach { case (v, p) =>
        assert(math.abs(p - prB(v)) < 1e-9, s"vertex $v: shuffle=$p broadcast=${prB(v)}") }
    } finally spark.conf.unset(GraphOps.BroadcastStateMaxRowsKey)
  }

  /** PageRank with the per-EDGE share arithmetic: the degree-annotated
    * edge join and a cast of pr/odeg (or pr·w/odeg) on every edge row.
    * Uncached and without checkpoints; any partitioning gives the same
    * doubles, since the decimal sums are exact. */
  private def perEdgePageRank(edges: org.apache.spark.sql.DataFrame,
      iters: Int, seeds: Option[Seq[Long]], weighted: Boolean) = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val sym = if (weighted) edges
      else edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    val outDeg = sym.groupBy(col("src")).agg(
      (if (weighted) sum(col("w")) else count(lit(1))).as("odeg"))
    val withDeg = sym.join(outDeg, Seq("src"))
    val verts = outDeg.select(col("src").as("v"))
    val restart = seeds.map(ss => verts.select(col("v"),
      when(col("v").isin(ss: _*), lit(1.0)).otherwise(lit(0.0)).as("r0")))
    var pr = restart.fold(verts.select(col("v"), lit(1.0).as("pr")))(
      _.select(col("v"), col("r0").as("pr")))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(pr, withDeg("src") === pr("v"))
        .select(col("dst").as("v2"),
          (if (weighted) col("pr") * col("w") / col("odeg")
           else col("pr") / col("odeg")).cast(dec).as("c"))
        .groupBy(col("v2")).agg(sum(col("c")).cast("double").as("sc"))
      pr = restart.fold(verts.join(contrib, col("v") === col("v2"), "left")
          .select(col("v"), (lit(0.15) +
            lit(0.85) * coalesce(col("sc"), lit(0.0))).as("pr")))(rb =>
        rb.join(contrib, col("v") === col("v2"), "left")
          .select(col("v"), (lit(0.15) * col("r0") +
            lit(0.85) * coalesce(col("sc"), lit(0.0))).as("pr")))
    }
    pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pageRank's per-vertex rank share equals the per-edge arithmetic " +
      "exactly (uniform, personalized, weighted; 1 and 4 partitions)") {
    import spark.implicits._
    // hub 1 with five leaves, a triangle hanging off leaf 6, and a
    // chain off the triangle: out-degrees 1, 2, 3 and 6, and ranks
    // whose shares pr/odeg do not terminate in binary
    val pairs = (2L to 6L).map(1L -> _) ++
      Seq(6L -> 7L, 7L -> 8L, 6L -> 8L, 8L -> 9L, 9L -> 10L)
    val g = edgeDf(pairs: _*)
    val weights = pairs.map { case (a, b) => (a, b, 1 + (a * 7 + b * 3) % 5) }
    val wsym = (weights ++ weights.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    val seeds = Seq(3L, 9L)
    for (parts <- Seq(1, 4)) {
      val uni = GraphOps.pageRank(g, 7, numParts = parts)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(uni == perEdgePageRank(g, 7, None, weighted = false),
        s"uniform, $parts partitions")
      val ppr = GraphOps.pageRank(g, 7, numParts = parts,
          seeds = Some(seeds.toDF("v")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(ppr == perEdgePageRank(g, 7, Some(seeds), weighted = false),
        s"personalized, $parts partitions")
      val wpr = GraphOps.pageRank(wsym, 7, symmetrized = true,
          numParts = parts, weighted = true)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(wpr == perEdgePageRank(wsym, 7, None, weighted = true),
        s"weighted, $parts partitions")
    }
  }

  test("loopWidth: one partition per 15,000 source rows, clamped to " +
      "[1, cores]") {
    val table = Seq(
      (6000L, 4, 1),     // sf0.001 lineitem
      (60000L, 4, 4),    // sf0.01 lineitem on 4 cores
      (60000L, 2, 2),
      (600000L, 8, 8),   // sf0.1 lineitem on 8 cores
      (600000L, 64, 40),
      (0L, 4, 1))
    for ((rows, cores, parts) <- table)
      assert(GraphOps.loopWidth(rows, cores) == parts, s"$rows rows, $cores cores")
  }

  test("the loops' symmetrized edge copy: one exchange, src-partitioned, " +
      "each orientation once") {
    val g = edgeDf(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 4L, 3L -> 4L, 5L -> 5L)
    val sym = GraphOps.symmetrize(g, 3)
    try {
      val plan = sym.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator.count(_.contains("Exchange "))
      assert(exchanges == 1, s"expected one exchange below the cache:\n$plan")
      assert("Exchange hashpartitioning\\(src#\\d+L?, 3\\)".r
        .findFirstIn(plan).isDefined, s"not hash(src, 3)-partitioned:\n$plan")
      val rows = sym.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(rows.sorted == Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L,
        3L -> 4L, 4L -> 3L, 5L -> 5L))
      assert(sym.rdd.getNumPartitions == 3)
    } finally sym.unpersist()
  }

  test("pageRank rounds join the co-partitioned rank share locally: " +
      "no broadcast, no exchange of the edge side") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val g = edgeDf((2L to 6L).map(1L -> _) ++
      Seq(6L -> 7L, 7L -> 8L, 6L -> 8L, 8L -> 9L, 9L -> 10L): _*)
    spark.listenerManager.register(listener)
    try {
      assert(GraphOps.pageRank(g, 4, numParts = 4).count() == 10)
      // listener events arrive in order: once the count's is in, every
      // checkpoint's is too
      eventually(timeout(30.seconds)) {
        assert(seen.asScala.exists(_._1 == "count"))
      }
    } finally spark.listenerManager.unregister(listener)
    // the share join: the edges (src) against the rank share (v)
    def shareJoins(plan: SparkPlan) = plan.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "src")) => j
    }
    val rounds = seen.asScala.toSeq.collect {
      case ("localCheckpoint", qe) if shareJoins(qe.executedPlan).nonEmpty =>
        qe.executedPlan
    }
    assert(rounds.size == 2, s"expected the round-3 and round-4 checkpoints, " +
      s"got ${rounds.size}")
    for (plan <- rounds) {
      assert(plan.find(_.isInstanceOf[BroadcastExchangeExec]).isEmpty,
        s"a round broadcasts:\n$plan")
      shareJoins(plan).foreach(j => assert(j.left.find(_.isInstanceOf[Exchange]).isEmpty,
        s"the edge side is exchanged:\n$plan"))
    }
  }

  test("kCore: planted clique survives the peel, pendant chain does not") {
    // triangle {1,2,3} with pendant chain 3-4-5: the 2-core is exactly
    // the triangle (each vertex in-core degree 2); chain peels away
    val core2 = GraphOps.kCore(edgeDf(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core2")
    // a pure chain has NO 2-core
    val empty = GraphOps.kCore(edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L), k = 2).count()
    assert(empty == 0L)
    // k=1 keeps every non-isolated vertex
    val core1 = GraphOps.kCore(edgeDf(1L -> 2L, 3L -> 4L), k = 1).count()
    assert(core1 == 4L)
  }

  test("graph loops restore the loop conf and release their loop storage") {
    import spark.implicits._
    val sc = spark.sparkContext
    val loopConf = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def confNow = loopConf.map(spark.conf.getOption)
    // 0-1-…-6: seven CC rounds, so the initial and every-3rd-round
    // label checkpoints all get superseded
    val path = edgeDf((0L until 6L).map(i => i -> (i + 1)): _*)
    // triangle {1,2,3} with the pendant chain 3-4-…-8: the 2-core peel
    // runs five rounds, past kCore's every-3rd-round checkpoint
    val tailed = edgeDf(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L) ++
      (3L until 8L).map(i => i -> (i + 1)): _*)
    // K4 {1,2,3,4} plus triangle 4-5-6 and pendant 6-7: the 4-truss
    // peel drops the non-K4 edges in round 0 and stops in round 1
    val und = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
      3L -> 4L, 4L -> 5L, 4L -> 6L, 5L -> 6L, 6L -> 7L).toDF("a", "b")
    // weighted 6-cycle with two chords, run on the distributed path
    val wedges = Seq((1L, 2L, 4L), (2L, 3L, 1L), (3L, 4L, 6L), (4L, 5L, 2L),
      (5L, 6L, 5L), (1L, 6L, 3L), (1L, 4L, 7L), (2L, 5L, 8L)).toDF("a", "b", "w")
    def distributedMsf() = {
      spark.conf.set(GraphOps.MstCollectMaxEdgesKey, "0")
      try GraphOps.boruvkaMsf(wedges, numParts = 2)
      finally spark.conf.unset(GraphOps.MstCollectMaxEdgesKey)
    }
    // (loop, call, checkpoints the returned frame scans). numParts = 2
    // differs from the session width (4), so a leaked pin would show.
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("connectedComponents", () => GraphOps.connectedComponents(path, numParts = 2), 1),
      ("kCore", () => GraphOps.kCore(tailed, k = 2, numParts = 2), 1),
      ("kTruss", () => GraphOps.kTruss(und, k = 4, numParts = 2), 1),
      ("labelPropagation", () => GraphOps.labelPropagation(path, numParts = 2), 1),
      ("pageRank", () => GraphOps.pageRank(tailed, 5, numParts = 2), 1),
      ("boruvkaMsf", () => distributedMsf(), 1))
    val faults = cases.flatMap { case (name, call, scans) =>
      val conf = confNow
      val before = sc.getPersistentRDDs.keySet
      val out = call()
      val confFault = Option.when(confNow != conf)(
        s"$name left the loop conf at $confNow, found $conf")
      assert(out.count() > 0, s"$name returned no rows")
      val grown = sc.getPersistentRDDs.keySet -- before
      grown.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
      confFault ++ Option.when(grown.size > scans)(s"$name left " +
        s"${grown.size} persisted RDDs; its result scans $scans")
    }
    assert(faults.isEmpty, faults.mkString("; "))
    // a loop that throws still hands the conf back
    val conf = confNow
    val e = intercept[IllegalStateException] {
      GraphOps.connectedComponents(path, maxIters = 1, numParts = 2)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    assert(confNow == conf, "a failed connectedComponents left the loop conf pinned")
  }

  test("degree/two-hop/triangles agree with hand counts on a planted star graph") {
    val dir = tempDir()
    // orders 1..3 by customers 1..2; lineitems connect suppliers/parts
    import spark.implicits._
    writeFixture(dir, "orders", Seq(
      (1L, 1L, "O", 10.0, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), "1-URGENT"),
      (2L, 2L, "O", 20.0, java.sql.Timestamp.valueOf("2020-01-02 00:00:00"), "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    // order 1: parts 100,101,102 (forms a triangle); order 2: parts 100,101 (already an edge)
    def li(ok: Long, pk: Long, sk: Long, ln: Int) =
      (ok, pk, sk, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    writeFixture(dir, "lineitem", Seq(
      li(1L, 100L, 7L, 1), li(1L, 101L, 8L, 2), li(1L, 102L, 7L, 3),
      li(2L, 100L, 9L, 1), li(2L, 101L, 7L, 2))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))

    val tri = operators.GraphOps.queries("graph_triangles")(spark, dir)
      .collect()(0).getLong(0)
    assert(tri == 1L, s"expected exactly the {100,101,102} triangle, got $tri")

    // the cluster-scale closing path (wedge pre-aggregation + shuffle
    // semi join) must count the same triangles as the broadcast path.
    // Call the UNCACHED census directly: the query key serves the
    // per-(session, dir) scalar memo, which would short-circuit the
    // second path entirely
    spark.conf.set(GraphOps.BroadcastEdgeMaxRowsKey, "0")
    try {
      val triS = operators.GraphOps.triangleCountUncached(spark, dir)
      assert(triS == 1L, s"shuffle closing path diverged: $triS")
    } finally spark.conf.unset(GraphOps.BroadcastEdgeMaxRowsKey)

    val deg = operators.GraphOps.queries("graph_degree")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val off = operators.GraphOps.SupplierVertexOffset
    // edges: (1,off+7),(1,off+8),(2,off+9),(2,off+7)
    assert(deg.contains((1L, 2L, 0L)))        // customer 1: out 2
    assert(deg.contains((off + 7L, 0L, 2L)))  // supplier 7: in from both customers
  }

  test("graph_adamic_adar equals an independent self-join recompute at sf0.001") {
    // the query derives pairs by group-and-explode; this recomputes the
    // same declared semantics by the classic wedge SELF-JOIN and
    // compares the top-20 exactly (incl. the decimal-quantized weights)
    val got = operators.GraphOps.queries("graph_adamic_adar")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val e = operators.GraphOps.edges(spark, sf001)
    val okSrc = e.groupBy(col("src")).agg(count(lit(1)).as("cdeg"))
      .filter(col("cdeg") <= operators.GraphOps.MaxCoCiteDegree && col("cdeg") >= 2)
      .select(col("src"), round(lit(1.0e9) / log(col("cdeg").cast("double")), 0)
        .cast("long").as("w9"))
    val ec = e.join(okSrc, Seq("src"))
    val exp = ec.as("a").join(ec.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("s1"), col("b.dst").as("s2"))
      .agg(sum(col("a.w9")).as("aa9"))
      .select(col("s1"), col("s2"),
        (expr("(aa9 + 50000) DIV 100000").cast("double") / 10000.0).as("aa_score"))
      .orderBy(desc("aa_score"), col("s1"), col("s2")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == exp)
  }

  test("graph_katz_bounded equals a driver-side exact BigInt recompute at sf0.001") {
    val got = operators.GraphOps.queries("graph_katz_bounded")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e = operators.GraphOps.edges(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = (e ++ e.map(_.swap)).distinct
    val verts = sym.map(_._1).distinct
    var x = verts.map(v => v -> BigInt(1000000)).toMap
    for (_ <- 1 to operators.GraphOps.KatzRounds) {
      val sums = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map(ed => x(ed._1)).sum
      }
      x = verts.map(v => v -> (BigInt(1000000) + sums.getOrElse(v, BigInt(0)) / 20)).toMap
    }
    val exp = x.map { case (v, xi) =>
      // mirror the query's integer-space HALF_UP: (x + 50) div 100
      v -> ((xi + 50) / 100).toDouble / 10000.0
    }
    assert(got.keySet == exp.keySet)
    got.foreach { case (v, kz) =>
      assert(kz == exp(v), s"vertex $v: $kz vs ${exp(v)}") }
  }
}
