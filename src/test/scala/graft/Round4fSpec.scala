package graft

import org.apache.spark.sql.functions.col

/** Round-4f additions: market-concentration (HHI) and the
  * sweep-line peak-concurrency operator. */
class Round4fSpec extends SparkTestBase {

  /** events fixture row: ts carried as NANOS (the driver parquet's
    * TIMESTAMP(NANOS) convention Tables normalizes) */
  private def evm(id: Long, user: Long, minute: Int) =
    (id, (1577836800L + minute * 60L) * 1000000000L, user, "view", 1.0, "{}")

  test("mine_hhi_concentration: monopoly scores 10000, duopoly 5000") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "nation", Seq((1, "MONO"), (2, "DUO"))
      .toDF("n_nationkey", "n_name"))
    writeFixture(dir, "supplier", Seq((10L, 1), (20L, 2), (21L, 2))
      .toDF("s_suppkey", "s_nationkey"))
    // nation 1: one firm; nation 2: two equal firms (discount halves
    // supplier 21's 200.0 gross to 100.0 net — net shares are equal)
    writeFixture(dir, "lineitem", Seq(
      (10L, 40.0, 0.0), (20L, 100.0, 0.0), (21L, 200.0, 0.5))
      .toDF("l_suppkey", "l_extendedprice", "l_discount"))
    val got = operators.MiningOps.queries("mine_hhi_concentration")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(("DUO", 2L, 5000.0, 0.5), ("MONO", 1L, 10000.0, 1.0)),
      s"got $got")
  }

  test("ts_peak_concurrency: overlap counts 2, merged islands once") {
    val dir = tempDir()
    import spark.implicits._
    // user 1 at :00 and :20 → ONE merged interval [0, 50m]; user 2 at
    // :10 → [10m, 40m]. Transitions (all hour 0): +1@0, +1@10, −1@40,
    // −1@50 → peak 2, n_transitions 4.
    writeFixture(dir, "events", Seq(
      evm(1, 1L, 0), evm(2, 1L, 20), evm(3, 2L, 10))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_peak_concurrency")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((4L, 2L)), s"got $got")
  }

  test("ts_peak_concurrency: an exact handoff never counts double") {
    val dir = tempDir()
    import spark.implicits._
    // user 1's interval ends at :30 exactly when user 2's starts: the
    // −1 sorts before the +1 at the same instant, so the running sum
    // touches 0 between them and the hour-0 peak stays 1
    writeFixture(dir, "events", Seq(evm(1, 1L, 0), evm(2, 2L, 30))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_peak_concurrency")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // hour 0: +1@0, (−1,+1)@30m → 3 transitions, peak 1;
    // hour 1: −1@60m → run 0
    assert(got == Seq((3L, 1L), (1L, 0L)), s"got $got")
  }

  test("win_rolling_median: lower median over the trailing frame") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // hourly sums 10, 5, 12, 3 → sorted frames [10] [5,10] [5,10,12]
    // [3,5,10,12] → lower medians 10, 5, 10, 5
    writeFixture(dir, "events", Seq(
      ev(1, 0, 10.0), ev(2, 1, 5.0), ev(3, 2, 12.0), ev(4, 3, 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.Windows.queries("win_rolling_median")(spark, dir)
      .collect().map(r => (r.getInt(2), r.getDouble(3))).toSeq
    assert(got == Seq((1, 10.0), (2, 5.0), (3, 10.0), (4, 5.0)), s"got $got")
  }

  test("graph_eccentricity_bounded: radius and witness on a path graph") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    // sym graph: 1:{S7,S8} 2:{S7} S7:{1,2} S8:{1} (the closeness fixture)
    writeFixture(dir, "orders", Seq(
      (1L, 1L, "O", 10.0, ts, "1-URGENT"), (2L, 2L, "O", 20.0, ts, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    writeFixture(dir, "lineitem", Seq(
      (1L, 7L), (1L, 8L), (2L, 7L)).toDF("l_orderkey", "l_suppkey"))
    val S = 1000000000000L
    val got = operators.GraphOps.queries("graph_eccentricity_bounded")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // seed 1: dists S7=1,S8=1,2=2 → ecc 2, witness 2;
    // seed 2: S7=1, 1=2, S8=3 → ecc 3, witness S8
    assert(got == Seq((1L, 2L, 3L, 2L), (2L, 3L, 3L, S + 8L)), s"got $got")
  }

  test("vec_rp_project_audit: one-hot vectors project with ratio exactly 1") {
    val dir = tempDir()
    import spark.implicits._
    // for e_d scaled by c: p_j = q·s(j,d), Σp² = 16q² → ratio ≡ 1.0
    // for EVERY sign matrix — the audit must read a perfect sketch
    val vecs = Seq(0, 17, 63).zipWithIndex.map { case (hot, i) =>
      (i.toLong, Array.tabulate(64)(d => if (d == hot) 0.5f else 0.0f), 0)
    }
    writeFixture(dir, "embeddings",
      vecs.toDF("vec_id", "embedding", "label"))
    val got = operators.VectorOps.queries("vec_rp_project_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((3L, 1.0, 1.0, 1.0)), s"got $got")
  }

  test("vec_rp_project_audit: matches a driver-side integer replica at sf0.001") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    val ratios = emb.flatMap { case (_, v) =>
      val q = v.map(x => BigDecimal(x.toDouble).setScale(8,
        BigDecimal.RoundingMode.HALF_UP).*(BigDecimal(100000000)).toLongExact)
      val n2 = q.map(x => BigInt(x) * BigInt(x)).sum
      if (n2 <= 0) None else {
        val p2 = (0 until operators.VectorOps.RpK).map { j =>
          val p = q.indices.map(d => q(d) * operators.VectorOps.rpSign(j, d)).sum
          BigInt(p) * BigInt(p)
        }.sum
        Some(BigDecimal(p2.toDouble / 16.0 / n2.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    // mean replicates davg EXACTLY: exact 4dp-decimal sum → double →
    // double divide → 4dp HALF_UP (Spark round-on-double semantics)
    val exp = (ratios.length.toLong,
      BigDecimal(ratios.map(BigDecimal(_)).sum.toDouble / ratios.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      ratios.min, ratios.max)
    val got = operators.VectorOps.queries("vec_rp_project_audit")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).head
    assert(got == exp, s"got $got exp $exp")
  }

  test("mine_gini_revenue: 0 on equal revenues, 0.25 on a 1:3 split") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ord(k: Long, c: Long, p: Double) = (k, c, "O", p, ts, "1-URGENT")
    writeFixture(dir, "orders", Seq(ord(1, 1, 5.0), ord(2, 2, 5.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val eq = operators.MiningOps.queries("mine_gini_revenue")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).head
    assert(eq == ((2L, 10.0, 0.0)), s"got $eq")
    writeFixture(dir, "orders", Seq(ord(1, 1, 1.0), ord(2, 2, 3.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val sk = operators.MiningOps.queries("mine_gini_revenue")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).head
    // G = 2·(1·1 + 2·3)/(2·4) − 3/2 = 0.25
    assert(sk == ((2L, 4.0, 0.25)), s"got $sk")
  }

  test("text_source_divergence: 0 on identical distributions, hand JS on a 2:1 flip") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "x x y", "en", "A", 5L), (2L, "x y y", "en", "B", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_source_divergence")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // shared x: ln(4/3)→0.2877, y: ln(2/3)→−0.4055 (4dp);
    // wa = wb = 2·0.2877 − 0.4055 = 0.1699 over n = 3, full coverage
    // → JS = 0.1699/3 → 0.0566
    assert(got == Seq(("A", "B", 2L, 0.0566)), s"got $got")
    writeFixture(dir, "documents", Seq(
      (1L, "x x y", "en", "A", 5L), (2L, "x x y", "en", "B", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val same = operators.TextOps.queries("text_source_divergence")(spark, dir)
      .collect().map(r => r.getDouble(3)).toSeq
    assert(same == Seq(0.0), s"got $same")
  }

  test("ts_sax_motifs: tertile symbols and sliding words on a 1..6 ramp") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // hourly 1..6 → tertile edges e1=2, e2=4 → symbols a a b b c c
    // → words aabb, abbc, bbcc (one each)
    writeFixture(dir, "events", (1 to 6).map(h => ev(h.toLong, h - 1, h.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_sax_motifs")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("aabb", 1L), ("abbc", 1L), ("bbcc", 1L)), s"got $got")
  }

  test("mine_rank_rbo: agreeing 3-supplier leaderboards match the term replica") {
    val dir = tempDir()
    import spark.implicits._
    def li(sup: Long, month: Int, price: Double) =
      (sup, java.sql.Timestamp.valueOf(f"2020-$month%02d-01 00:00:00"), price)
    // odd- and even-month revenues rank 3 > 2 > 1 identically
    val rows = (1 to 3).flatMap(k =>
      Seq(li(k.toLong, 1, k * 100.0), li(k.toLong, 2, k * 50.0)))
    writeFixture(dir, "lineitem",
      rows.toDF("l_suppkey", "l_shipdate", "l_extendedprice"))
    val got = operators.MiningOps.queries("mine_rank_rbo")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).head
    // X_d = min(d, 3); replicate the 8dp-per-term fold exactly
    val rbo = (1 to 20).map { dd =>
      BigDecimal(0.5 * math.pow(0.5, dd - 1) * math.min(dd, 3) / dd)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val exp = (3L, rbo.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got == exp, s"got $got exp $exp")
  }

  test("text_novelty_curve: repeats are stale, short docs emit nothing") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "a b c d", "en", "s", 7L),   // abc, bcd — both novel
      (2L, "a b c e", "en", "s", 7L),   // abc seen, bce novel
      (3L, "x", "en", "s", 1L))         // < 3 tokens → no grams
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_novelty_curve")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5)), s"got $got")
  }

  test("text_langid_kappa: 1 on a perfect balanced split, 0 when one class") {
    val dir = tempDir()
    import spark.implicits._
    // disjoint vocabularies → perfect predictions; balanced classes
    // → pe = 0.5 → kappa = 1
    writeFixture(dir, "documents", Seq(
      (1L, "x x", "aa", "s", 3L), (2L, "x x", "aa", "s", 3L),
      (3L, "y y", "bb", "s", 3L), (4L, "y y", "bb", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_langid_kappa")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).head
    assert(got == ((4L, 1.0, 0.5, 1.0)), s"got $got")
    // one class: po = 1 but pe = 1 exactly (pp = N²) → kappa 0 by
    // the declared convention, via the INTEGER compare
    writeFixture(dir, "documents", Seq(
      (1L, "x x", "aa", "s", 3L), (2L, "x y", "aa", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val one = operators.TextOps.queries("text_langid_kappa")(spark, dir)
      .collect().map(r => (r.getDouble(2), r.getDouble(3))).head
    assert(one == ((1.0, 0.0)), s"got $one")
  }

  test("ts_hill_tail_index: hand ln-ratios on a dyadic series, 0 on flat") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // values 8,4,2,1 → Σ round(ln(x/1),4) = 2.0794+1.3863+0.6931
    // = 4.1588 → α = 3/4.1588 → 0.7214
    writeFixture(dir, "events", Seq(
      ev(1, 0, 8.0), ev(2, 1, 4.0), ev(3, 2, 2.0), ev(4, 3, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_hill_tail_index")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).head
    assert(got == ((4L, 1.0, 0.7214)), s"got $got")
    writeFixture(dir, "events", Seq(ev(1, 0, 3.0), ev(2, 1, 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val flat = operators.TimeSeriesOps.queries("ts_hill_tail_index")(spark, dir)
      .collect().map(r => r.getDouble(3)).head
    assert(flat == 0.0, s"got $flat")
  }

  test("pipeline_temperature_weights: sqrt flattening boosts the small source") {
    val dir = tempDir()
    import spark.implicits._
    // 1 vs 4 docs: weights 1,2 → p = 1/3, 2/3; raw shares 0.2, 0.8
    val rows = Seq((1L, "t", "en", "A", 1L)) ++
      (2 to 5).map(i => (i.toLong, "t", "en", "B", 1L))
    writeFixture(dir, "documents",
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps
      .queries("pipeline_temperature_weights")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // boost from the EXACT pre-rounding ratio (r5, ADVICE r4 fix):
    // A: (1/3)/(1/5) = 5/3 → 1.6667, B: (2/3)/(4/5) = 5/6 → 0.8333 —
    // the true values; the old 1.6665/0.8334 were artifacts of
    // dividing the 4dp-rounded shares
    assert(got == Seq(("A", 1L, 0.2, 0.3333, 1.6667),
      ("B", 4L, 0.8, 0.6667, 0.8333)), s"got $got")
  }

  test("pipeline_ngram_contamination: span overlap flags at the ¼ threshold") {
    val dir = tempDir()
    import spark.implicits._
    def bucket(id: Long) =
      math.floorMod(math.floorMod(id, 100000000L) * 2654435761L, 100L)
    val trainId = (1L to 400L).find(bucket(_) < 80).get
    val testIds = (1L to 400L).filter(bucket(_) >= 90).take(2)
    writeFixture(dir, "documents", Seq(
      (trainId, "a b c d e f", "en", "s", 11L),
      // shares "a b c d e" with train → 1 of 2 grams hit → 0.5 ≥ ¼
      (testIds(0), "a b c d e x", "en", "s", 11L),
      // no shared 5-gram → 0 hits, clean
      (testIds(1), "p q r s t u", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.DedupOps
      .queries("pipeline_ngram_contamination")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
      .sortBy(_._1)
    val exp = Seq((testIds(0), 2L, 1L, 0.5, true),
      (testIds(1), 2L, 0L, 0.0, false)).sortBy(_._1)
    assert(got == exp, s"got $got exp $exp")
  }

  test("pipeline_source_manifest: digest equals the commutative md5 replica") {
    val dir = tempDir()
    import spark.implicits._
    val texts = Seq("alpha beta", "gamma delta epsilon")
    writeFixture(dir, "documents", texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    def h60(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val exp = ("s", 2L, texts.map(_.length.toLong).sum, 1L, 2L,
      (BigInt(h60(texts(0))) + BigInt(h60(texts(1)))).mod(
        BigInt(1152921504606846976L)).toLong)
    val got = operators.TextOps.queries("pipeline_source_manifest")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(got == exp, s"got $got exp $exp")
  }

  test("graph_edge_support: planted triangle + pendant edge histogram") {
    val dir = tempDir()
    import spark.implicits._
    // order 1 co-orders parts {1,2,3} → triangle; order 2 {3,4} →
    // pendant edge with support 0
    writeFixture(dir, "lineitem", Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey"))
    SessionMemo.clear(spark)
    val got = operators.GraphOps.queries("graph_edge_support")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L), (1L, 3L)), s"got $got")
  }

  test("text_boilerplate_prefixes: shared 8-token heads surface, short docs use full text") {
    val dir = tempDir()
    import spark.implicits._
    val tpl = "terms of use apply to this site always"
    writeFixture(dir, "documents", Seq(
      (1L, s"$tpl alpha", "en", "s", 1L),
      (2L, s"$tpl beta gamma", "en", "s", 1L),
      (3L, "tiny doc", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps
      .queries("text_boilerplate_prefixes")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((tpl, 2L, 0.6667), ("tiny doc", 1L, 0.3333)),
      s"got $got")
  }

  test("ts_mann_kendall: monotone ramp trends up, flat series reads 0") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // strictly increasing, 10 hours: S = 45, Var·18 = 10·9·25 = 2250,
    // z = 44/√125 → 3.9355 → increasing
    writeFixture(dir, "events",
      (1 to 10).map(h => ev(h.toLong, h - 1, h.toDouble))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val up = operators.TimeSeriesOps.queries("ts_mann_kendall")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4))).head
    val zExp = BigDecimal(44.0 / math.sqrt(2250.0 / 18.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(up == ((10L, 45L, zExp, "increasing")), s"got $up")
    // all-equal series: S = 0 and the tie correction empties Var
    writeFixture(dir, "events",
      (1 to 5).map(h => ev(h.toLong, h - 1, 2.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val flat = operators.TimeSeriesOps.queries("ts_mann_kendall")(spark, dir)
      .collect().map(r => (r.getLong(2), r.getDouble(3), r.getString(4))).head
    assert(flat == ((0L, 0.0, "no_trend")), s"got $flat")
  }

  test("mine_diff_in_diff: subtracts the control drift exactly") {
    val dir = tempDir()
    import spark.implicits._
    def ord(k: Long, c: Long, month: Int, p: Double) =
      (k, c, "O", p, java.sql.Timestamp.valueOf(f"2020-$month%02d-01 00:00:00"),
        "1-URGENT")
    // ctrl (odd cust): 10 → 20 (drift +10); treat (even): 10 → 35
    // → DiD = 25 − 10 = 15
    writeFixture(dir, "orders", Seq(
      ord(1, 1, 1, 10.0), ord(2, 1, 8, 20.0),
      ord(3, 2, 1, 10.0), ord(4, 2, 8, 35.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("mine_diff_in_diff")(spark, dir)
      .collect().map(r => (r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8))).head
    assert(got == ((10.0, 35.0, 10.0, 20.0, 15.0)), s"got $got")
  }

  test("ts_forecast_backtest: naive errors are the hand deltas") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // series 10, 12, 9: naive errors |2|, |3| → MAE 2.5,
    // RMSE = √((4+9)/2) = √6.5 → 2.5495; no 24-lag pairs exist
    writeFixture(dir, "events", Seq(ev(1, 0, 10.0), ev(2, 1, 12.0),
      ev(3, 2, 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps
      .queries("ts_forecast_backtest")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val rmse = BigDecimal(math.sqrt((4e8 + 9e8) / 2) / 10000.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("naive", 2L, 2.5, rmse)), s"got $got")
  }

  test("pipeline_padding_waste: bucket edges and waste on hand lengths") {
    val dir = tempDir()
    import spark.implicits._
    def doc(id: Long, n: Int) =
      (id, Seq.fill(n)("w").mkString(" "), "en", "s", 1L)
    // 100 and 128 tokens → edge 128 (waste (256−228)/256);
    // 300 tokens → edge 512; 3000 → edge 2048, 952 truncated
    writeFixture(dir, "documents", Seq(doc(1, 100), doc(2, 128),
      doc(3, 300), doc(4, 3000))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("pipeline_padding_waste")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (128L, 2L, 228L, 0L, 256L, 0.1094),
      (512L, 1L, 300L, 0L, 512L, 0.4141),
      (2048L, 1L, 2048L, 952L, 2048L, 0.0)), s"got $got")
  }

  test("win_rolling_corr: ±1 on exactly (anti-)linear aligned series") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, tpe: String, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, tpe, v, "{}")
    // view 1,2,3 vs click 6,4,2 → 1-row frame reads 0, then −1
    writeFixture(dir, "events", Seq(
      ev(1, 0, "view", 1.0), ev(2, 1, "view", 2.0), ev(3, 2, "view", 3.0),
      ev(4, 0, "click", 6.0), ev(5, 1, "click", 4.0), ev(6, 2, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.Windows.queries("win_rolling_corr")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 0.0), (2L, -1.0), (3L, -1.0)), s"got $got")
  }

  test("pipeline_epoch_shuffle: positions equal the md5 replica, epochs differ") {
    val dir = tempDir()
    import spark.implicits._
    val ids = (1L to 6L)
    writeFixture(dir, "documents", ids.map(i => (i, "t", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val exp = (1 to 3).flatMap { ep =>
      ids.map(i => (i, md5hex(s"$i:$ep"))).sortBy(p => (p._2, p._1))
        .take(10).zipWithIndex.map { case ((i, _), p) => (ep, p + 1, i) }
    }
    val got = operators.TextOps.queries("pipeline_epoch_shuffle")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == exp, s"got $got exp $exp")
    // the three epochs are genuinely different permutations
    val perms = got.groupBy(_._1).values.map(_.map(_._3)).toSet
    assert(perms.size == 3, s"epoch permutations collide: $perms")
  }

  test("vec_cell_label_purity: majority labels and shares per planted cell") {
    val dir = tempDir()
    import spark.implicits._
    // centroids 0=(1,0) lbl 1, 1=(0,1) lbl 2; three extra vectors
    // lean toward centroid 0 with labels 1,1,2
    writeFixture(dir, "embeddings", Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(0f, 1f), 2),
      (10L, Array(0.9f, 0.1f), 1), (11L, Array(0.8f, 0.2f), 1),
      (12L, Array(0.7f, 0.3f), 2))
      .toDF("vec_id", "embedding", "label"))
    val got = operators.VectorOps.queries("vec_cell_label_purity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq((0L, 4L, 1, 3L, 0.75), (1L, 1L, 2, 1L, 1.0)),
      s"got $got")
  }

  test("mine_markov_accuracy: majority baseline scores the hand chain") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, minute: Int, tpe: String) =
      (id, (1577836800L + minute * 60L) * 1000000000L, 1L, tpe, 1.0, "{}")
    // view→click ×2, view→error, click→view (interleaved sequence:
    // v c v e v c → transitions vc, cv, ve, ev, vc)
    writeFixture(dir, "events", Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "view"),
      ev(4, 3, "error"), ev(5, 4, "view"), ev(6, 5, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.MiningOps.queries("mine_markov_accuracy")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    // rows: click→view 1/1, error→view 1/1, view→{click 2, error 1}
    // → overall (1+1+2)/5 = 0.8
    assert(got == Seq(
      ("click", "view", 1L, 1L, 1.0, 0.8),
      ("error", "view", 1L, 1L, 1.0, 0.8),
      ("view", "click", 3L, 2L, 0.6667, 0.8)), s"got $got")
  }

  test("ts_seasonal_strength: 1 on a perfectly periodic series, 0 on flat") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // two identical days of an hour-of-day pattern → residuals
    // against the profile are exactly 0 → strength 1
    val period = (0 until 48).map(h => ev(h + 1L, h, (h % 24 + 1).toDouble))
    writeFixture(dir, "events", period
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps
      .queries("ts_seasonal_strength")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    assert(got == ((48L, 1.0)), s"got $got")
    writeFixture(dir, "events", (0 until 5).map(h => ev(h + 1L, h, 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val flat = operators.TimeSeriesOps
      .queries("ts_seasonal_strength")(spark, dir)
      .collect().map(r => r.getDouble(2)).head
    assert(flat == 0.0, s"got $flat")
  }

  test("graph_centralization: a perfect star scores exactly 1") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    writeFixture(dir, "orders", Seq(
      (1L, 1L, "O", 10.0, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    writeFixture(dir, "lineitem", Seq((1L, 7L), (1L, 8L), (1L, 9L))
      .toDF("l_orderkey", "l_suppkey"))
    SessionMemo.clear(spark)
    val got = operators.GraphOps.queries("graph_centralization")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
    assert(got == ((4L, 3L, 1.0)), s"got $got")
  }

  test("mine_itemsets_3: a planted bundle clears support with lift 1") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "part", Seq((1L, "BA"), (2L, "BB"), (3L, "BC"))
      .toDF("p_partkey", "p_brand"))
    // 20 orders each buying all three brands → support 20 = threshold,
    // totals 20 each, n = 20 → lift3 = 20·20²/20³ = 1
    writeFixture(dir, "lineitem",
      (1L to 20L).flatMap(ok => Seq((ok, 1L), (ok, 2L), (ok, 3L)))
        .toDF("l_orderkey", "l_partkey"))
    val got = operators.MiningOps.queries("mine_itemsets_3")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq(("BA", "BB", "BC", 20L, 1.0)), s"got $got")
  }

  test("diag_drift_ks: disjoint supports score 1 at the crossing value") {
    val dir = tempDir()
    import spark.implicits._
    def ord(k: Long, month: Int, p: Double) =
      (k, 1L, "O", p, java.sql.Timestamp.valueOf(f"2020-$month%02d-01 00:00:00"),
        "1-URGENT")
    writeFixture(dir, "orders", Seq(
      ord(1, 1, 1.0), ord(2, 1, 2.0), ord(3, 2, 3.0), ord(4, 2, 4.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("diag_drift_ks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).head
    assert(got == ((2L, 2L, 1.0, 2.0)), s"got $got")
  }

  test("mine_good_turing: frequency-of-frequencies and unseen mass by hand") {
    val dir = tempDir()
    import spark.implicits._
    // parts A,B once each; C twice → N₁=2, N₂=1, N=4
    writeFixture(dir, "lineitem", Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey"))
    val got = operators.MiningOps.queries("mine_good_turing")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // k*₁ = 2·N₂/N₁ = 1; k*₂ = 0 (no N₃); p₀ = 2/4
    assert(got == Seq((1L, 2L, 1.0, 0.5), (2L, 1L, 0.0, 0.5)), s"got $got")
  }

  test("text_heaps_law: one new token per doc fits beta exactly 1") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents",
      (1L to 10L).map(i => (i, s"w$i", "en", "s", 3L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_heaps_law")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == (1L to 10L).map(q => (q, q, q, q, 1.0, 0.0)), s"got $got")
  }

  test("text_source_lang_mix: majority, entropy 0 when monolingual") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "t", "en", "A", 1L), (2L, "t", "en", "A", 1L),
      (3L, "t", "en", "B", 1L), (4L, "t", "de", "B", 1L),
      (5L, "t", "fr", "B", 1L), (6L, "t", "de", "B", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_source_lang_mix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getDouble(5))).toSeq
    // B: counts en=1, de=2, fr=1 → majority de (2/4); entropy =
    // ln4 − (2·ln2)/4 with the 4dp per-term quantization
    val e = BigDecimal(math.log(4.0) -
      BigDecimal(2 * math.log(2.0)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble / 4)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("A", 2L, 1L, "en", 1.0, 0.0),
      ("B", 4L, 3L, "de", 0.5, e)), s"got $got")
  }

  test("multimodal_format_sniff: magic bytes route, short stubs stay opaque") {
    val dir = tempDir()
    import spark.implicits._
    val bmp = "BM" + ("x" * 60)
    writeFixture(dir, "documents", Seq(
      (1L, "P6 2 2 255 rest-of-ppm", "en", "s", 1L),
      (2L, bmp, "en", "s", 1L),
      (3L, "P6", "en", "s", 1L),     // 2-byte stub → opaque
      (4L, "hello world", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.MultimodalOps
      .queries("multimodal_format_sniff")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("bmp", 1L, 62L), ("opaque", 2L, 13L),
      ("ppm", 1L, 22L)), s"got $got")
  }

  test("mine_woe_iv: smoothed WoE and IV equal the two-bin replica") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    // two poor never-buyers (bin 0), two rich heavy-buyers (bin 9)
    writeFixture(dir, "customer", Seq(
      (1L, "c1", 1, 0.00, "B"), (2L, "c2", 1, 0.50, "B"),
      (3L, "c3", 1, 99.00, "B"), (4L, "c4", 1, 100.00, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"))
    writeFixture(dir, "orders",
      (1 to 14).flatMap(i => Seq(
        (i.toLong * 2, 3L, "O", 1.0, ts, "1-URGENT"),
        (i.toLong * 2 + 1, 4L, "O", 1.0, ts, "1-URGENT")))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("mine_woe_iv")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    def q(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (gd0, bd0) = (1.0 / 4, 3.0 / 4); val (gd9, bd9) = (3.0 / 4, 1.0 / 4)
    val w0 = q(math.log(gd0 / bd0), 4); val w9 = q(math.log(gd9 / bd9), 4)
    val iv = q(BigDecimal(q((gd0 - bd0) * w0, 8)).toDouble +
      BigDecimal(q((gd9 - bd9) * w9, 8)).toDouble, 4)
    assert(got == Seq((0, 2L, 0L, 2L, w0, iv), (9, 2L, 2L, 0L, w9, iv)),
      s"got $got")
  }

  test("mine_price_endings: cent endings count with shares") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ord(k: Long, p: Double) = (k, 1L, "O", p, ts, "1-URGENT")
    writeFixture(dir, "orders", Seq(
      ord(1, 1.99), ord(2, 2.99), ord(3, 99.99), ord(4, 5.50))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("mine_price_endings")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((99L, 3L, 0.75), (50L, 1L, 0.25)), s"got $got")
  }

  test("ts_obv: signed volume accumulates on exact vwap compares") {
    val dir = tempDir()
    import spark.implicits._
    def day(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-${n}%02d 00:00:00")
    // vwaps 10, 20 (+5 vol), 5 (−8 vol), 5 (tie → 0)
    writeFixture(dir, "lineitem", Seq(
      (1L, day(1), 10.0, 100.0), (2L, day(2), 5.0, 100.0),
      (3L, day(3), 8.0, 40.0), (4L, day(4), 2.0, 10.0))
      .toDF("l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"))
    val got = operators.TimeSeriesOps.queries("ts_obv")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == Seq((0L, 10.0, 0.0), (1L, 5.0, 5.0), (-1L, 8.0, -3.0),
      (0L, 2.0, -3.0)), s"got $got")
  }

  test("multimodal_payload_entropy: 0 bits constant, 1 bit for a fair pair") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "aaaa", "en", "s", 4L), (2L, "abab", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.MultimodalOps
      .queries("multimodal_payload_entropy")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq((1L, 4L, 1L, 0.0, false), (2L, 4L, 2L, 1.0, false)),
      s"got $got")
  }

  test("win_bollinger_breach: a spike breaches the zero-width prior band") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // 10,10,10,100 → warmup hours drop (n<2); h2 sits ON the flat
    // band (strict compare → no breach), h3 breaches upward
    writeFixture(dir, "events", Seq(
      ev(1, 0, 10.0), ev(2, 1, 10.0), ev(3, 2, 10.0), ev(4, 3, 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.Windows.queries("win_bollinger_breach")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).head
    assert(got == ((2L, 1L, 0L, 0.5)), s"got $got")
  }

  test("mine_abc_classes: 80/15/5 revenue cuts to A/B/C exactly") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "lineitem", Seq(
      (1L, 80.0, 0.0), (2L, 15.0, 0.0), (3L, 5.0, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount"))
    val got = operators.MiningOps.queries("mine_abc_classes")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // boundaries are STRICT: the 80-part is A, the part AT the 80%
    // line is B, the part at 95% is C
    assert(got == Seq(("A", 1L, 80.0, 0.8), ("B", 1L, 15.0, 0.15),
      ("C", 1L, 5.0, 0.05)), s"got $got")
  }

  test("agg_tail_ratio: integer-rank quantiles on a 1..100 ramp") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    writeFixture(dir, "events",
      (1 to 100).map(h => ev(h.toLong, h - 1, h.toDouble))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.Aggregates.queries("agg_tail_ratio")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).head
    assert(got == ((100L, 50.0, 95.0, 99.0, 1.98)), s"got $got")
  }

  test("text_code_prose_ratio: symbolic tokens trip the quarter gate") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "int x = 3 ;", "en", "s", 11L),   // 3/5 symbolic → code
      (2L, "hello gentle world", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_code_prose_ratio")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq((1L, 5, 3, 0.6, true), (2L, 3, 0, 0.0, false)),
      s"got $got")
  }

  test("pipeline_gate_ablation: each planted failure attributes to its gate") {
    val dir = tempDir()
    import spark.implicits._
    def words(tag: String) = (1 to 45).map(i => s"$tag$i").mkString(" ")
    writeFixture(dir, "documents", Seq(
      (1L, words("a"), "en", "s", 10L),   // short → min_chars only
      (2L, words("b"), "zh", "s", 200L),  // blocked lang only
      (3L, words("c"), "en", "s", 200L),  // clean, canonical copy
      (4L, words("c"), "en", "s", 200L))  // duplicate → exact_dedup only
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("pipeline_gate_ablation")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      ("min_chars", 1L, 1L, 0.25), ("lang_allow", 1L, 1L, 0.25),
      ("min_tokens", 0L, 0L, 0.0), ("repetition_cap", 0L, 0L, 0.0),
      ("exact_dedup", 1L, 1L, 0.25)), s"got $got")
  }

  test("ts_dow_anova: two weekday groups with within-noise score F = 8") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, date: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(s"$date 00:00:00").getTime * 1000000L,
        1L, "view", v, "{}")
    // Mondays 1, 3 (mean 2) vs Tuesdays 5, 7 (mean 6): SSW = 4,
    // SST = 20 → F = (16/1)/(4/2) = 8, η² = 0.8
    writeFixture(dir, "events", Seq(
      ev(1, "2024-01-01", 1.0), ev(2, "2024-01-08", 3.0),
      ev(3, "2024-01-02", 5.0), ev(4, "2024-01-09", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_dow_anova")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).head
    assert(got == ((4L, 2L, 8.0, 0.8)), s"got $got")
  }

  test("vec_ivf_recall_at_k: a single-cell corpus recalls everything available") {
    val dir = tempDir()
    import spark.implicits._
    // four identical vectors: every assignment ties → cell 0 for all,
    // IVF candidates = brute force. Only 3 neighbors exist, so
    // recall@1 = 4/4 and recall@5 = 12/20 (the declared k·n
    // denominator penalizes k beyond the corpus)
    writeFixture(dir, "embeddings",
      (0L to 3L).map(i => (i, Array(1f, 0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val got = operators.VectorOps.queries("vec_ivf_recall_at_k")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1, 4L, 4L, 1.0), (5, 4L, 12L, 0.6)), s"got $got")
  }

  test("mine_dau_mau: stickiness is avg-daily over monthly uniques") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, date: String, user: Long) =
      (id, java.sql.Timestamp.valueOf(s"$date 10:00:00").getTime * 1000000L,
        user, "view", 1.0, "{}")
    writeFixture(dir, "events", Seq(
      ev(1, "2024-01-01", 1L), ev(2, "2024-01-01", 2L),
      ev(3, "2024-01-02", 1L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.MiningOps.queries("mine_dau_mau")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).head
    assert(got == ((2L, 2L, 1.5, 0.75)), s"got $got")
  }

  test("mine_growth_accounting: the four-way decomposition balances") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, date: String, user: Long) =
      (id, java.sql.Timestamp.valueOf(s"$date 10:00:00").getTime * 1000000L,
        user, "view", 1.0, "{}")
    // u1 active Jan+Feb (retained), u2 Jan only (churns in Feb),
    // u3 Jan then Mar (resurrected), u4 joins Feb
    writeFixture(dir, "events", Seq(
      ev(1, "2024-01-05", 1), ev(2, "2024-01-06", 2), ev(3, "2024-01-07", 3),
      ev(4, "2024-02-05", 1), ev(5, "2024-02-06", 4),
      ev(6, "2024-03-05", 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.MiningOps
      .queries("mine_growth_accounting")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (2024, 1, 3L, 3L, 0L, 0L, 0L),
      (2024, 2, 2L, 1L, 1L, 0L, 2L),
      (2024, 3, 1L, 0L, 0L, 1L, 2L)), s"got $got")
    // identity: actives_t = actives_{t-1} + new + resurrected − churned
    got.sliding(2).foreach { case Seq(p, c) =>
      assert(c._3 == p._3 + c._4 + c._6 - c._7, s"identity broken at $c")
    }
  }

  test("ts_exceedance_runs: split runs above the exact p90 threshold") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // multiset [1×7, 9, 9, 20]: cum(9) = 9 ≥ ⌈0.9·10⌉ → p90 = 9 →
    // only the 20 exceeds → 1 episode of length 1
    writeFixture(dir, "events", ((0 to 5).map(h => ev(h + 1L, h, 1.0)) ++
      Seq(ev(7, 6, 9.0), ev(8, 7, 9.0), ev(9, 8, 1.0), ev(10, 9, 20.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps
      .queries("ts_exceedance_runs")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(5))).toSeq
    assert(got == Seq((1L, 1L, 1L, 0.1)), s"got $got")
    // 18×1, one 5, then 20,20 in CONSECUTIVE hours: p90 = 5, the two
    // exceeders merge into ONE episode of length 2
    writeFixture(dir, "events", ((0 to 17).map(h => ev(h + 1L, h, 1.0)) ++
      Seq(ev(19, 18, 5.0), ev(20, 19, 20.0), ev(21, 20, 20.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val two = operators.TimeSeriesOps
      .queries("ts_exceedance_runs")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(two == Seq((2L, 1L, 2L)), s"got $two")
  }

  test("dedup_cross_source_matrix: a shared fingerprint links the sources") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "mirror page", "en", "A", 1L), (2L, "unique a", "en", "A", 1L),
      (3L, "mirror page", "en", "B", 1L), (4L, "other", "en", "C", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.DedupOps
      .queries("dedup_cross_source_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // B (1 fp) is fully contained in A (2 fps); C shares nothing and
    // appears in no pair
    assert(got == Seq(("A", "B", 1L, 1.0)), s"got $got")
  }

  test("ts_profile_similarity: identical shapes read 0, half-disjoint 1") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, tpe: String) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, tpe, 1.0, "{}")
    // a and b: identical hod-0-only profiles → dist 0, sim 1;
    // a vs d share hod 0 but split the other half → dist 1, sim 0.5
    writeFixture(dir, "events", Seq(
      ev(1, 0, "a"), ev(2, 1, "a"),
      ev(3, 0, "b"), ev(4, 1, "b"),
      ev(5, 0, "d"), ev(6, 2, "d"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps
      .queries("ts_profile_similarity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(("a", "b", 2L, 0.0, 1.0), ("a", "d", 1L, 1.0, 0.5),
      ("b", "d", 1L, 1.0, 0.5)), s"got $got")
  }

  test("text_pii_luhn: the classic test number validates, a ramp does not") {
    val dir = tempDir()
    import spark.implicits._
    // 79927398713 is THE Luhn test number; 123456 fails the checksum
    writeFixture(dir, "documents", Seq(
      (1L, "card 79927398713 and id 123456", "en", "s", 1L),
      (2L, "no digits here", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps.queries("text_pii_luhn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3))).toSeq
    assert(got == Seq((1L, 2, 1, true)), s"got $got")
  }

  test("agg_top5_other: shares always sum to 1, OTHER absorbs the tail") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "part",
      (1 to 7).map(i => (i.toLong, s"B$i")).toDF("p_partkey", "p_brand"))
    writeFixture(dir, "lineitem",
      (1 to 7).map(i => (i.toLong, (80 - 10 * i).toDouble))
        .toDF("l_partkey", "l_extendedprice"))
    val got = operators.Aggregates.queries("agg_top5_other")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // revenues 70..10: top5 B1..B5, OTHER = B6+B7 = 30
    assert(got == Seq((1, "B1", 1L, 70.0), (2, "B2", 1L, 60.0),
      (3, "B3", 1L, 50.0), (4, "B4", 1L, 40.0), (5, "B5", 1L, 30.0),
      (6, "OTHER", 2L, 30.0)), s"got $got")
    val shares = operators.Aggregates.queries("agg_top5_other")(spark, dir)
      .collect().map(_.getDouble(4)).sum
    assert(math.abs(shares - 1.0) < 1e-9, s"shares sum to $shares")
  }

  test("diag_json_key_profile: key presence shares from planted props") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, props: String) =
      (id, 1577836800L * 1000000000L, 1L, "view", 1.0, props)
    writeFixture(dir, "events", Seq(
      ev(1, """{"a": 1}"""), ev(2, """{"a": 2}"""),
      ev(3, """{"a": 3, "b": 9}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.MiningOps
      .queries("diag_json_key_profile")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == Seq(("a", 3L, 1.0), ("b", 1L, 0.3333)), s"got $got")
  }

  test("mine_ratio_metric_ci: delta-method se equals the hand formula") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    // control custs 1, 3: one order each at 1.00 and 3.00 → R = 2.00,
    // vy = cxy = 0, vx = 10000 cent² → se = √(10000/2)/100
    writeFixture(dir, "orders", Seq(
      (1L, 1L, "O", 1.0, ts, "1-URGENT"),
      (2L, 3L, "O", 3.0, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("mine_ratio_metric_ci")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    def q4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val se = math.sqrt(10000.0 / 2)
    val exp = Seq(("control", 2L, 2.0, q4(se / 100),
      q4((200.0 - 1.96 * se) / 100), q4((200.0 + 1.96 * se) / 100)))
    assert(got == exp, s"got $got exp $exp")
  }

  test("ts_ljung_box: a half-split level shift is loudly NOT white noise") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // two days over 24 hods: day 1 all 10, day 2 all 20 → residuals
    // −5 ×24 then +5 ×24; ρ̂_k = (48 − 3k)/48 exactly
    writeFixture(dir, "events",
      (0 until 48).map(h => ev(h + 1L, h, if (h < 24) 10.0 else 20.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_ljung_box")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .head
    def q4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val q = 48.0 * 50 * (1 to 5).map { k =>
      val rho = q4((48.0 - 3 * k) / 48)
      rho * rho / (48 - k)
    }.sum
    assert(got == ((48L, q4(q), false)), s"got $got exp ${q4(q)}")
  }

  test("mine_power_sample_size: the 1%-MDE formula on a two-point sample") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    writeFixture(dir, "orders", Seq(
      (1L, 1L, "O", 1.0, ts, "1-URGENT"),
      (2L, 2L, "O", 3.0, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps
      .queries("mine_power_sample_size")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).head
    // σ² = 10000 c², δ = 2 c → n = ⌈2·10000·7.849/4⌉ = 39245
    assert(got == ((2L, 2.0, 1.0, 0.02, 39245L)), s"got $got")
  }

  test("vec_hubness_audit: a planted hub dominates every top-3 list") {
    val dir = tempDir()
    import spark.implicits._
    // vec 0 is every probe's nearest; 1..3 probe each other at lower
    // cos; all four are probes (< 100)
    writeFixture(dir, "embeddings", Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.9f, -0.1f), 0), (3L, Array(0.8f, 0.05f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = operators.VectorOps.queries("vec_hubness_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // every vector appears in all 3 other probes' top-3 (k=3 of 3
    // candidates) → one histogram row (3, 4); hub ties → lowest id 0
    assert(got == Seq((3L, 4L, 0L, 3L)), s"got $got")
  }

  test("diag_non_ascii_audit: planted mojibake flags, clean source reads 0") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "documents", Seq(
      (1L, "clean ascii text", "en", "A", 1L),
      (2L, "bad éé bytes", "en", "B", 1L),
      (3L, "also clean", "en", "B", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.MiningOps
      .queries("diag_non_ascii_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq(("A", 1L, 0L, 0L, 0.0), ("B", 2L, 1L, 2L, 0.5)),
      s"got $got")
  }

  test("text_line_dedup_census: a sentence shared across docs is repeated") {
    val dir = tempDir()
    import spark.implicits._
    // "terms apply" appears in docs 1 and 2; "unique one"/"unique two"
    // don't; the 1-token tail "x" is excluded
    writeFixture(dir, "documents", Seq(
      (1L, "terms apply. unique one", "en", "s", 1L),
      (2L, "terms apply. unique two. x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps
      .queries("text_line_dedup_census")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).head
    // 4 sentences kept, 2 instances repeated; chars: 11+10+11+10=42,
    // repeated mass 22/42
    assert(got == ((4L, 2L, 0.5, 0.5238)), s"got $got")
  }

  test("mine_ab_srm: a planted 3:1 imbalance trips the guardrail") {
    val dir = tempDir()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    def ord(k: Long, c: Long) = (k, c, "O", 1.0, ts, "1-URGENT")
    // 30 even customers vs 10 odd → z = 20/√40 → 3.1623 → SRM
    val rows = (1L to 30L).map(i => ord(i, i * 2)) ++
      (31L to 40L).map(i => ord(i, (i - 30) * 2 + 1))
    writeFixture(dir, "orders", rows
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
    val got = operators.MiningOps.queries("mine_ab_srm")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).head
    assert(got == ((30L, 10L, 3.1623, true)), s"got $got")
  }

  test("ts_littles_law: one user, two disjoint half-hour sessions") {
    val dir = tempDir()
    import spark.implicits._
    def evm(id: Long, minute: Int) =
      (id, (1577836800L + minute * 60L) * 1000000000L, 1L, "view", 1.0, "{}")
    // sessions [0, 30m] and [60m, 90m] → horizon 1.5 h, λ = 2/1.5,
    // W = 30 min, L = 60m/90m = 2/3
    writeFixture(dir, "events", Seq(evm(1, 0), evm(2, 60))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps.queries("ts_littles_law")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).head
    assert(got == ((2L, 1.5, 1.3333, 30.0, 0.6667)), s"got $got")
  }

  test("graph_triangle_participation: the pendant vertex stays out") {
    val dir = tempDir()
    import spark.implicits._
    // order 1 co-orders {1,2,3} (triangle); order 2 {3,4} (pendant 4)
    writeFixture(dir, "lineitem", Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey"))
    SessionMemo.clear(spark)
    val got = operators.GraphOps
      .queries("graph_triangle_participation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
    assert(got == ((4L, 3L, 0.75)), s"got $got")
  }

  test("vec_metric_rank_agreement: tiny corpora agree fully by construction") {
    val dir = tempDir()
    import spark.implicits._
    // 4 probes, 3 candidates each — both top-10 lists hold everything,
    // so overlap = 3 per probe and the mean is 12/40
    writeFixture(dir, "embeddings", Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.5f, 0.5f), 0), (3L, Array(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label"))
    val got = operators.VectorOps
      .queries("vec_metric_rank_agreement")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
    assert(got == ((4L, 12L, 0.3)), s"got $got")
  }

  test("mine_icc_price: constant per-supplier prices read icc exactly 1") {
    val dir = tempDir()
    import spark.implicits._
    writeFixture(dir, "lineitem", Seq(
      (1L, 100.0), (1L, 100.0), (2L, 300.0), (2L, 300.0))
      .toDF("l_suppkey", "l_extendedprice"))
    val got = operators.MiningOps.queries("mine_icc_price")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).head
    assert(got == ((4L, 2L, 1.0)), s"got $got")
    // a single group cannot explain anything: SSB = 0 → icc 0
    writeFixture(dir, "lineitem", Seq((1L, 100.0), (1L, 300.0))
      .toDF("l_suppkey", "l_extendedprice"))
    val one = operators.MiningOps.queries("mine_icc_price")(spark, dir)
      .collect().map(r => r.getDouble(2)).head
    assert(one == 0.0, s"got $one")
  }

  test("ts_variance_ratio: a period-2 oscillator is perfectly mean-reverting") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // 1,3,1,3,…: 1-hour deltas are ±2 (positive variance) but every
    // 4-hour delta is exactly 0 → VR₄ = 0 → mean_reverting
    writeFixture(dir, "events",
      (0 until 12).map(h => ev(h + 1L, h, if (h % 2 == 0) 1.0 else 3.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.TimeSeriesOps
      .queries("ts_variance_ratio")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getString(3)))
      .head
    assert(got == ((11L, 0.0, "mean_reverting")), s"got $got")
  }

  test("pipeline_split_balance: matched length distributions read KS 0") {
    val dir = tempDir()
    import spark.implicits._
    def bucket(id: Long) =
      math.floorMod(math.floorMod(id, 100000000L) * 2654435761L, 100L)
    val trainIds = (1L to 500L).filter(bucket(_) < 80).take(2)
    val testIds = (1L to 500L).filter(bucket(_) >= 90).take(2)
    // both splits hold one 2-token and one 4-token doc → identical
    // length CDFs → KS = 0
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("w").mkString(" "), "en",
      "s", 1L)
    writeFixture(dir, "documents", Seq(
      doc(trainIds(0), 2), doc(trainIds(1), 4),
      doc(testIds(0), 2), doc(testIds(1), 4))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = operators.TextOps
      .queries("pipeline_split_balance")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(5))).toSeq
    assert(got == Seq(("test", 2L, 3.0, 0.0), ("train", 2L, 3.0, 0.0)),
      s"got $got")
  }

  test("win_record_highs: strict records only, ties do not count") {
    val dir = tempDir()
    import spark.implicits._
    def ev(id: Long, hour: Int, v: Double) =
      (id, (1577836800L + hour * 3600L) * 1000000000L, 1L, "view", v, "{}")
    // 10, 12, 12, 8, 15 → records at hours 0, 1, 4 (the tie at h2 and
    // the dip at h3 are not records)
    writeFixture(dir, "events", Seq(ev(1, 0, 10.0), ev(2, 1, 12.0),
      ev(3, 2, 12.0), ev(4, 3, 8.0), ev(5, 4, 15.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = operators.Windows.queries("win_record_highs")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        r.getAs[java.time.LocalDateTime](4).toEpochSecond(
          java.time.ZoneOffset.UTC),
        r.getDouble(5))).head
    assert(got == ((5L, 3L, 1577836800L + 4 * 3600L, 0.6)), s"got $got")
  }

  test("mine_basket_size_dist: histogram and cumulative shares by hand") {
    val dir = tempDir()
    import spark.implicits._
    // orders of sizes 1, 1, 2, 3 → histogram (1,2)(2,1)(3,1)
    writeFixture(dir, "lineitem", Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey"))
    val got = operators.MiningOps
      .queries("mine_basket_size_dist")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1L, 2L, 0.5, 0.5), (2L, 1L, 0.25, 0.75),
      (3L, 1L, 0.25, 1.0)), s"got $got")
  }
}
