package graft

import org.apache.spark.sql.functions._

/** Round-9 pins: the convergence-detected HyperBall horizon (VERDICT
  * r8 weak #1 — the r8 fixed horizon of 3 silently reported
  * eff_diameter = 3 on any deeper graph).
  *
  * The load-bearing test is an EXACT replica: a planted path graph
  * whose true effective diameter exceeds the old fixed horizon, with
  * every expected output cell rebuilt driver-side from exact BFS
  * balls + the engine's own HllAgg registers + the shared estimate
  * formula ([[operators.GraphOps.hbEstimateValue]]) — so the test
  * pins the horizon rule, the shares, the eff_diameter readout and
  * the saturated flag value-for-value, not just structurally.
  */
class Round9Spec extends SparkTestBase {

  private val off = operators.GraphOps.SupplierVertexOffset

  /** orders/lineitem fixture rows in the GraphSpec shape */
  private def writeGraph(dir: String, pairs: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    writeFixture(dir, "orders", pairs.zipWithIndex.map { case ((c, _), i) =>
      ((i + 1).toLong, c, "O", 10.0, ts, "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))
    writeFixture(dir, "lineitem", pairs.zipWithIndex.map { case ((_, sp), i) =>
      ((i + 1).toLong, 100L + i, sp, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", ts)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))
  }

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** driver-side replica of the whole effective-diameter readout:
    * exact balls → HllAgg registers → estimate → DECIMAL(18,4) sums →
    * growth-rule horizon → shares → eff_diameter. Returns the
    * expected output rows (h, n_seeds, nf_approx, nf_share,
    * eff_diameter, saturated). */
  private def hbReplica(edges: Seq[(Long, Long)], seeds: Seq[Long])
      : Seq[(Long, Long, Double, Double, Long, Long)] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    def ballsOf(seed: Long): Iterator[Set[Long]] =
      Iterator.iterate(Set(seed))(b => b ++ b.flatMap(adj.getOrElse(_, Set.empty)))
    val hll = new functions.HllAgg(
      operators.GraphOps.HbM, operators.GraphOps.HbSeedIdx)
    def est(members: Set[Long]): Double = operators.GraphOps.hbEstimateValue(
      members.toSeq.map(_.toString).foldLeft(hll.zero)(hll.reduce).toSeq)
    val cap = operators.GraphOps.HbMaxRounds
    val perSeed = seeds.map(s => ballsOf(s).take(cap + 1).toSeq)
    val nfd = (0 to cap).map(h => perSeed.map(balls =>
      BigDecimal(est(balls(h))).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum)
    val eps = operators.GraphOps.HbGrowthEps
    val horizon = (1 to cap).find(h =>
      nfd(h).toDouble <= nfd(h - 1).toDouble * (1.0 + eps))
    val hMax = horizon.getOrElse(cap)
    val sat = if (horizon.isEmpty) 1L else 0L
    val shares = (0 to hMax).map(h => r4(nfd(h).toDouble / nfd(hMax).toDouble))
    val eff = (0 to hMax).find(h => shares(h) >= 0.9).get.toLong
    (0 to hMax).map(h => (h.toLong, seeds.size.toLong,
      r4(nfd(h).toDouble), shares(h), eff, sat))
  }

  test("graph_effective_diameter: convergence horizon reads a >3 diameter exactly") {
    // path c1-s1-c2-s2-c3-s3-c4 (7 vertices, true diameter 6): balls
    // stop growing at h = 6, so the growth rule MUST fire by h = 7 —
    // below the HbMaxRounds cap — and the planted effective diameter
    // sits beyond r8's fixed horizon of 3. Customers all pass the
    // mod-16 readout sample, suppliers all fail it.
    def isSeed(vstr: String): Boolean =
      functions.Md5Hash.hash60(s"hb|$vstr") % operators.GraphOps.HbSeedMod == 0
    val custs = Iterator.from(1).map(_.toLong)
      .filter(c => isSeed(c.toString)).take(4).toSeq
    val supps = Iterator.from(1).map(_.toLong)
      .filter(sp => !isSeed((sp + off).toString)).take(3).toSeq
    val pairs = (0 until 3).flatMap(i =>
      Seq((custs(i), supps(i)), (custs(i + 1), supps(i))))
    val dir = tempDir()
    writeGraph(dir, pairs)
    val got = operators.GraphOps.queries("graph_effective_diameter")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toSeq
    val edges = pairs.map { case (c, sp) => (c, sp + off) }
    val want = hbReplica(edges, custs)
    assert(got == want,
      s"engine vs replica:\n got=${got.mkString("\n     ")}\nwant=${want.mkString("\n     ")}")
    // and the round-9 contract itself: converged below the cap (no
    // saturation), with an effective diameter the r8 horizon could
    // never have reported
    assert(got.head._6 == 0L, "diameter-6 path must converge below the cap")
    assert(got.head._5 > 3L,
      s"eff_diameter must exceed the old fixed horizon: ${got.head._5}")
    assert(got.length < operators.GraphOps.HbMaxRounds + 1,
      "the loop must STOP at convergence, not run to the cap")
  }

  test("graph_pagerank_weighted matches a driver-side quantized replica " +
      "on a hand-weighted fixture") {
    // weights via REPEATED orders per (customer, supplier) pair:
    // c1–s1 ×3, c1–s2 ×1, c2–s2 ×2 — the skew makes the weighted walk
    // visibly different from the uniform one (c1 sends 3/4 of its rank
    // to s1, not 1/2)
    val mult = Seq((1L, 1L, 3), (1L, 2L, 1), (2L, 2L, 2))
    val pairs = mult.flatMap { case (c, sp, n) => Seq.fill(n)((c, sp)) }
    val dir = tempDir()
    writeGraph(dir, pairs) // one order per row → order count = multiplicity
    val got = operators.GraphOps.queries("graph_pagerank_weighted")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    // replica: the engine's exact recurrence — contribution pr·w/Σw
    // quantized to DECIMAL(28,12) HALF_UP, summed exactly, then
    // 0.15 + 0.85·sc in double
    val wEdges = mult.flatMap { case (c, sp, n) =>
      val s = sp + off
      Seq(((c, s), n.toLong), ((s, c), n.toLong))
    }.toMap
    val wsum = wEdges.groupBy(_._1._1).map { case (v, es) => v -> es.values.sum }
    val verts = wsum.keys.toSeq.sorted
    var pr = verts.map(_ -> 1.0).toMap
    for (_ <- 1 to operators.GraphOps.PrRounds) {
      val sc = verts.map { v =>
        val in = wEdges.collect { case ((u, t), w) if t == v =>
          BigDecimal(pr(u) * w / wsum(u))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }
        v -> (if (in.isEmpty) 0.0 else in.sum.toDouble)
      }.toMap
      pr = verts.map(v => v -> (0.15 + 0.85 * sc(v))).toMap
    }
    val want = pr.map { case (v, x) => v -> r4(x) }
    assert(got == want, s"engine $got vs replica $want")
    // and the semantics: same topology, different scores — the uniform
    // walk splits c1's rank 50/50 where the weighted one sends 3/4 to
    // s1, so the two rankings must diverge on this skewed fixture
    val uniform = operators.GraphOps.queries("graph_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got != uniform,
      "weighted ranks must differ from uniform on a skewed fixture")
  }

  test("graph_cc_incremental refuses a delta past the declared fraction") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    // explicit orderkeys: 10/20/30 land on the delta side (%10 == 0),
    // only orderkey 1 is base — delta edges 3 exceed
    // CcIncrementalMaxDeltaFrac (0.5) × 1 base edge
    val rows = Seq((10L, 1L, 1L), (20L, 2L, 2L), (30L, 3L, 3L), (1L, 4L, 4L))
    val dir = tempDir()
    writeFixture(dir, "orders", rows.map { case (o, c, _) =>
      (o, c, "O", 10.0, ts, "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))
    writeFixture(dir, "lineitem", rows.zipWithIndex.map { case ((o, _, sp), i) =>
      (o, 100L + i, sp, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", ts)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))
    val e = intercept[IllegalArgumentException] {
      operators.GraphOps.queries("graph_cc_incremental")(spark, dir)
    }
    assert(e.getMessage.contains("delta edge count"),
      s"expected the numeric-contract refusal, got: $e")
  }

  test("pipeline_decontaminate flags a planted eval quote; " +
      "dedup_containment_pairs scores the subset direction Jaccard misses") {
    import spark.implicits._
    val evalText = "held out benchmark question about catalyst optimizer " +
      "internals and the tungsten execution engine pipeline"
    // train doc 1 QUOTES a long span of the eval doc inside fresh text;
    // train doc 2 is clean; doc 3 is a SHORT doc fully contained in 1
    val quote = "benchmark question about catalyst optimizer internals"
    val d1 = s"a training document that leaked the $quote verbatim " +
      "surrounded by otherwise novel prose about distributed shuffles"
    val d2 = "completely clean text discussing parquet row groups, " +
      "bloom filters, and adaptive query execution at length"
    val dir = tempDir()
    writeFixture(dir, "documents", Seq(
      (100L, evalText, "en", "eval", evalText.length.toLong), // %100 = 0
      (1L, d1, "en", "train", d1.length.toLong),
      (2L, d2, "en", "train", d2.length.toLong),
      (3L, quote, "en", "train", quote.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dec = operators.DedupOps.queries("pipeline_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(4))).toMap
    assert(dec.get(1L).contains(true),
      s"the quoting doc must be flagged contaminated, got $dec")
    assert(!dec.contains(2L), "the clean doc must not even report a hit")
    // containment: doc 3 ⊂ doc 1 — every fingerprint of 3 appears in 1,
    // so the short side's containment is 1.0 while Jaccard (shared /
    // union) stays well below the near-dup bar
    val cp = operators.DedupOps.queries("dedup_containment_pairs")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val key = (1L, 3L)
    assert(cp.contains(key), s"planted subset pair missing: ${cp.keys}")
    val (_, containA, containB, containMax) = cp(key)
    assert(containB == 1.0,
      s"the contained doc's containment must be 1.0, got $containB")
    assert(containMax == 1.0 && containA < 1.0,
      "max flags the subset direction; the long side stays partial")
  }

  test("pipeline_decontaminate_semantic flags a planted paraphrase-neighbor " +
      "and tie-breaks the nearest eval toward the smallest id") {
    import spark.implicits._
    val dir = tempDir()
    writeFixture(dir, "embeddings", Seq(
      (100L, Array(1f, 0f, 0f, 0f), 0),   // eval A
      (200L, Array(0f, 0f, 1f, 0f), 0),   // eval B
      (1L, Array(0.999f, 0.045f, 0f, 0f), 1), // ~eval A: cos ≈ 0.999
      (2L, Array(0f, 1f, 0f, 0f), 1))     // orthogonal to both: cos 0
      .toDF("vec_id", "embedding", "label"))
    val rows = operators.DedupOps
      .queries("pipeline_decontaminate_semantic")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val (ne1, cos1, flag1) = rows(1L)
    assert(ne1 == 100L && flag1 && cos1 > 0.99,
      s"planted neighbor must flag against eval 100: ${rows(1L)}")
    val (ne2, cos2, flag2) = rows(2L)
    assert(ne2 == 100L && !flag2 && cos2 == 0.0,
      s"orthogonal vec: no flag, tie toward the smallest eval id: ${rows(2L)}")
  }

  test("graph_sssp_seeds matches a driver-side Bellman-Ford replica " +
      "on a hand-weighted fixture") {
    // c1—s1 ×3 orders (dist 333333), c1—s2 ×1 (1000000), c2—s2 ×2
    // (500000): the cheap 2-hop route c2→s2→c1 (1500000 — wait, via
    // s2: 500000 + 1000000) vs any alternative exercises the
    // multi-hop minimization
    val mult = Seq((1L, 1L, 3), (1L, 2L, 1), (2L, 2L, 2))
    val pairs = mult.flatMap { case (c, sp, n) => Seq.fill(n)((c, sp)) }
    val dir = tempDir()
    writeGraph(dir, pairs)
    val got = operators.GraphOps.queries("graph_sssp_seeds")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .sortBy(_._1).toSeq
    // replica: plain Bellman–Ford to SsspHops rounds over the
    // symmetric weighted edges, dist = 1e6 DIV order-count
    val wEdges = mult.flatMap { case (c, sp, n) =>
      val s2 = sp + off; val dw = 1000000L / n
      Seq(((c, s2), dw), ((s2, c), dw))
    }
    val verts = wEdges.map(_._1._1).distinct.sorted
    val seeds = verts.take(10)
    var dist = seeds.map(sd => (sd, sd) -> 0L).toMap
    for (_ <- 1 to operators.GraphOps.SsspHops) {
      val relaxed = for {
        ((u, v), dw) <- wEdges
        sd <- seeds
        du <- dist.get((sd, u))
      } yield (sd, v) -> (du + dw)
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    val want = dist.toSeq.sortBy(_._1)
    assert(got == want, s"engine\n  $got\nvs replica\n  $want")
    // the multi-hop minimization is really exercised: c2's distance
    // to s1 must be the 3-hop route c2→s2→c1→s1
    assert(dist((2L, 1L + off)) == 500000L + 1000000L + 333333L,
      "3-hop route must win for c2→s1")
    // weighted closeness rides the same memoized distances: replica =
    // the engine's exact quantization (round(1e12/dd) per term, exact
    // sum, /1e6 close, 4dp)
    val gotCl = operators.GraphOps
      .queries("graph_closeness_weighted")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    val wantCl = dist.toSeq.filter(_._2 > 0L).groupBy(_._1._1)
      .map { case (sd, es) =>
        val w12s = es.map(e => math.round(1e12 / e._2)).sum
        sd -> ((es.size.toLong,
          r4(w12s.toDouble / 1e6)))
      }
    assert(gotCl == wantCl, s"closeness engine $gotCl vs replica $wantCl")
    // weighted eccentricity: farthest cost per seed, tie toward the
    // lowest vertex id
    val gotEc = operators.GraphOps
      .queries("graph_eccentricity_weighted")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val wantEc = dist.toSeq.filter(_._2 > 0L).groupBy(_._1._1)
      .map { case (sd, es) =>
        val ecc = es.map(_._2).max
        sd -> ((ecc, es.size.toLong,
          es.collect { case ((_, v), dd) if dd == ecc => v }.min))
      }
    assert(gotEc == wantEc, s"eccentricity engine $gotEc vs replica $wantEc")
  }

  // ---- r8 ADVICE regressions ----

  test("recall-curve nprobe grid derives from LshProbeFlips in engine and oracle") {
    val flips = operators.VectorOps.LshProbeFlips
    val rows = operators.VectorOps
      .queries("vec_ann_multiprobe_recall_curve")(spark, sf001)
      .select(col("nprobe")).collect().map(_.getInt(0)).toSeq
    assert(rows == (1 to flips + 1),
      s"curve must span nprobe 1..${flips + 1}, got $rows")
    val grid = (1 to flips + 1).mkString(", ")
    assert(operators.VectorOps.oracle("vec_ann_multiprobe_recall_curve")
        .contains(s"unnest([$grid])"),
      "oracle SQL must splice the SAME knob-derived grid")
  }

  test("a query-level native-join hint over a UNION of joins refuses loudly") {
    SqlFrontend.register(spark, sf001)
    val e = intercept[Exception] {
      spark.sql(
        """SELECT /*+ ASOF_JOIN */ * FROM (
          |  SELECT e.event_id FROM events e LEFT JOIN events p
          |    ON e.user_id = p.user_id AND p.ts <= e.ts
          |  UNION ALL
          |  SELECT e.event_id FROM events e LEFT JOIN events p
          |    ON e.user_id = p.user_id AND p.ts <= e.ts) u""".stripMargin)
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("top-most joins"),
      s"expected the ambiguity refusal, got: $e")
  }

  test("memos build once, are reused, and SessionMemo.clear evicts and " +
      "releases them") {
    val sc = spark.sparkContext
    // (key, memo label, loop checkpoints the key persists that no memo
    // owns, so the clear leaves them: dedup_embedding_cluster's
    // returned connected-components label frame, the refresh's final
    // PageRank frame)
    val cases = Seq(
      ("dedup_embedding_cluster", "embSig", 1),
      ("vec_pca_power", "gram", 0),
      ("pipeline_patent_refresh", "patentMerged", 1))
    for ((key, label, kept) <- cases) {
      SessionMemo.clear(spark)
      SessionMemo.drainBuildTimes()
      val before = sc.getPersistentRDDs.keySet
      SparkEntry.queries(key)(spark, sf001).count()
      assert(SessionMemo.drainBuildTimes().contains(label),
        s"$key: first construction must BUILD the $label memo")
      val persisted = sc.getPersistentRDDs.keySet -- before
      assert(persisted.size > kept, s"$key: the builds persisted nothing")
      val b = SessionMemo.builds.get()
      SparkEntry.queries(key)(spark, sf001)
      assert(SessionMemo.builds.get() == b,
        s"$key: second construction in one session must reuse $label")
      SessionMemo.clear(spark)
      val left = sc.getPersistentRDDs.keySet.intersect(persisted)
      assert(left.size <= kept,
        s"$key: SessionMemo.clear left persisted RDDs ${left.toSeq.sorted}")
      SparkEntry.queries(key)(spark, sf001)
      assert(SessionMemo.drainBuildTimes().contains(label),
        s"$key: SessionMemo.clear must evict $label so the next " +
          "construction rebuilds")
    }
    SessionMemo.clear(spark)
  }
}
