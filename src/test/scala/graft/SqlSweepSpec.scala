package graft

import org.apache.spark.sql.DataFrame

/** SQL-frontend SWEEP, two tiers (VERDICT r8 #8, widened per VERDICT
  * r10 #1): SqlFrontendSpec pins representative queries; this suite
  * executes EVERY oracle-carrying §2 key through `spark.sql` against
  * the registered views at sf0.001 and compares row-for-row with the
  * DSL plan.
  *
  *  - Tier 1 (shared dialect): the DuckDB oracle text itself happens to
  *    be Spark-parseable and runs unchanged. ~150 keys.
  *  - Tier 2 (Spark dialect): the oracle text is DuckDB-only, so the
  *    key's Spark spelling comes from [[SparkDialect]] — the
  *    deterministic DuckDB→Spark transpiler plus the hand-authored
  *    overrides/patches in [[SparkDialectOverrides]]. Tier 2 has NO
  *    skip headroom: every key not in [[SparkDialect.notExpressible]]
  *    MUST run and match the DSL exactly.
  *
  * The not-expressible set is pinned exactly (each entry carries its
  * documented reason — recursive-CTE UNION-distinct fixpoints, peel
  * rounds aggregating over the recursive reference, unrolled cascades
  * that require DuckDB's AS MATERIALIZED). A key may only join it by
  * editing SparkDialect with a reason; a key silently dropping out of
  * either tier fails here.
  */
class SqlSweepSpec extends SparkTestBase {

  /** engine-agnostic row fingerprint: columns sorted by name (the
    * driver's hash-compare convention), numerics through BigDecimal
    * at 6 dp (outputs are 4 dp-rounded upstream), arrays/structs
    * element-wise, rows sorted — so plans free to disagree on
    * partitioning and tie order still compare equal iff the result
    * SET is equal */
  private def norm(v: Any): String = v match {
    case null => "<null>"
    case d: java.math.BigDecimal =>
      d.setScale(6, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => norm(d.bigDecimal)
    case d: Double => norm(new java.math.BigDecimal(d))
    case f: Float => norm(new java.math.BigDecimal(f.toDouble))
    case n: Number => new java.math.BigDecimal(n.toString)
      .stripTrailingZeros.toPlainString
    case b: Boolean => b.toString
    case s: String => s
    // canonicalize the timestamp FAMILY: the DSL side often converts
    // to NTZ (LocalDateTime) where the SQL text keeps TIMESTAMP
    // (java.sql.Timestamp) — same instant under the UTC session tz,
    // different toString
    case t: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
        .toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case t: java.sql.Date => t.toString
    case t: java.time.LocalDate => t.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(norm).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${norm(k)}->${norm(x)}" }.toSeq.sorted
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(norm).mkString("(", ",", ")")
    case other => other.toString
  }

  private def fingerprint(df: DataFrame): Seq[String] = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    df.collect().map(r => order.map(i => norm(r.get(i))).mkString("|"))
      .sorted.toSeq
  }

  /** confs the Spark-dialect tier needs (deep recursive CTEs in the
    * hourly time-series texts, the 8-round unrolled Borůvka analyzer
    * depth) — set for the sweep, restored after */
  private val sweepConfs = Seq(
    "spark.sql.cteRecursionLevelLimit" -> "20000",
    "spark.sql.cteRecursionRowLimit" -> "10000000",
    "spark.sql.analyzer.maxIterations" -> "1000")

  /** the sweep's data dir — sf0.001 in the suite; the r12 sf0.01 latch
    * (VERDICT r11 #7: tie-order luck is the round-1 lesson, so dialect
    * parity is also latched once where ties actually bite) re-runs the
    * IDENTICAL sweep via
    * `sbt 'set Test/javaOptions += "-Dgraft.sweep.dir=/root/testdata/sf0.01"'
    *      'testOnly graft.SqlSweepSpec'`
    * — result recorded in BASELINE.md */
  private def sweepDir: String =
    sys.props.getOrElse("graft.sweep.dir", sf001)

  /** sweep worker count (r15, VERDICT r14 next-round #1): the serial
    * sweep was 1,715 s of the suite's 2,804 — 62% of the driver's
    * `sbt test` wall, and the capture window expired mid-suite. The
    * per-key work is dominated by DRIVER-side planning (deep
    * recursive-CTE analysis, catalyst per fresh plan) plus tiny
    * local[4] jobs, both of which overlap across threads (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially). Each worker gets its OWN SparkSession clone
    * (`newSession()`: isolated SQL conf, temp views, function
    * registry, shared SparkContext), so the iterative DSL paths that
    * pin session conf for their loop (pageRank/CC/kCore/…) pin the
    * worker's session only — no cross-thread conf races, no poisoned
    * restores. Results are accumulated in concurrent maps and
    * asserted exactly as before; the assertions and floors are
    * UNCHANGED. */
  private val SweepWorkers = 8

  test("every oracle key runs via spark.sql — shared or transpiled dialect — " +
      "and matches its DSL plan; not-expressible set pinned exactly") {
    val keys = SparkEntry.oracleSql.keys.toSeq.sorted
    val outcome =
      new java.util.concurrent.ConcurrentHashMap[String, (String, String)]
    val keyMs = new java.util.concurrent.ConcurrentHashMap[String, Long]
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]
    keys.foreach(queue.add)
    def work(): Unit = {
      val s = spark.newSession()
      SqlFrontend.register(s, sweepDir)
      sweepConfs.foreach { case (k, v) => s.conf.set(k, v) }
      // the worker's memos would otherwise stay cached on the shared
      // block manager for the rest of the suite
      try {
        var k = queue.poll()
        while (k != null) {
          val t0 = System.nanoTime()
          val dsl0 = () => fingerprint(SparkEntry.queries(k)(s, sweepDir))
          // tier 1: the oracle text as-is
          val tier1 =
            try Some(fingerprint(s.sql(SparkEntry.oracleSql(k))))
            catch { case scala.util.control.NonFatal(_) => None }
          tier1 match {
            case Some(viaSql) =>
              if (viaSql == dsl0()) outcome.put(k, ("shared", ""))
              else outcome.put(k, ("failed", "tier1 mismatch"))
            case None =>
              // tier 2: the engine's Spark-dialect spelling — mandatory
              SparkDialect.sparkSqlFor(k, SparkEntry.oracleSql(k)) match {
                case None => outcome.put(k, ("ne", ""))
                case Some(sql) =>
                  try {
                    val viaSql = fingerprint(s.sql(sql))
                    if (viaSql == dsl0()) outcome.put(k, ("transpiled", ""))
                    else outcome.put(k, ("failed", "tier2 mismatch"))
                  } catch {
                    case scala.util.control.NonFatal(e) =>
                      outcome.put(k, ("failed",
                        "tier2 " + e.getClass.getSimpleName +
                          ": " + Option(e.getMessage).getOrElse("")
                            .linesIterator.take(1).mkString.take(160)))
                  }
              }
          }
          keyMs.put(k, (System.nanoTime() - t0) / 1000000L)
          k = queue.poll()
        }
      } finally SessionMemo.clear(s)
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to SweepWorkers).map { i =>
      val t = new Thread(() => try work() catch {
        case e: Throwable => errs.add(e)
      }, s"sql-sweep-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    def of(kind: String): Seq[String] = keys.filter(k =>
      Option(outcome.get(k)).exists(_._1 == kind))
    val sh = of("shared"); val tr = of("transpiled"); val ne = of("ne")
    val bad = keys.flatMap(k => Option(outcome.get(k)).collect {
      case ("failed", why) => k -> why })
    info(s"tier1 shared-dialect ${sh.size}, tier2 Spark-dialect " +
      s"${tr.size}, not-expressible ${ne.size} of ${keys.size}")
    val slow = keyMs.entrySet().toArray(Array.empty[java.util.Map.Entry[
      String, Long]]).sortBy(-_.getValue).take(10)
    info("slowest keys: " + slow.map(e =>
      s"${e.getKey}=${e.getValue}ms").mkString(", "))
    assert(outcome.size == keys.size,
      s"sweep incomplete: ${outcome.size} of ${keys.size} keys finished")
    assert(bad.isEmpty, s"sweep failures:\n  ${bad.map { case (k, r) =>
      s"$k: $r" }.mkString("\n  ")}")
    // the not-expressible set is EXACT: every member must actually
    // fail tier 1 (else it should graduate out), and nothing may
    // land there undeclared
    assert(ne.toSet == SparkDialect.notExpressible.keySet,
      s"not-expressible drift: swept=$ne declared=" +
        s"${SparkDialect.notExpressible.keySet.toSeq.sorted}")
    // breadth floors RATCHETED to the r11 measurement: 151 shared
    // (unchanged since r10) + every remaining key transpiled. Tier 2
    // has zero headroom by construction (any error fails above), so
    // the floor only guards tier-1 keys regressing INTO tier 2.
    assert(sh.size >= 151,
      s"shared-dialect breadth regressed: ${sh.size} < 151")
    assert(sh.size + tr.size == keys.size - ne.size,
      "coverage accounting broke")
  }

  // ------------------------------------------------------------------
  // r12 (VERDICT r11 #6): the notExpressible boundary, MEASURED. The
  // declared reasons (UNION-distinct recursion, aggregation over the
  // recursive reference) were asserted until now; these pins make them
  // evidence — the exact Spark rejections, plus the one spelling that
  // IS legal and the measured reason it cannot graduate into the sweep.
  // ------------------------------------------------------------------

  test("notExpressible reason 1 measured: UNION-distinct recursion is " +
      "rejected by Spark (the CC fixpoint's termination device)") {
    // sanity: recursion itself works under UNION ALL
    val ok = spark.sql(
      """WITH RECURSIVE r(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 5)
        |SELECT sum(n) AS s FROM r""".stripMargin).head().getLong(0)
    assert(ok == 15L, "UNION ALL recursion is supported — the boundary " +
      "is the combining operator, not recursion itself")
    // the fixpoint spelling every CC oracle uses: per-round dedup via
    // UNION-distinct. Spark rejects it at analysis.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """WITH RECURSIVE r(n) AS (
          |  SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 5)
          |SELECT count(*) AS c FROM r""".stripMargin).collect()
    }
    info(s"pinned rejection: ${e.getCondition}: " +
      e.getMessage.linesIterator.take(1).mkString)
    // measured on this Spark: the engine names the exact limitation
    assert(e.getCondition == "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
      s"expected the pinned condition, got ${e.getCondition}: " +
        e.getMessage)
  }

  test("notExpressible reason 2 measured: aggregation over the recursive " +
      "reference is rejected (kcore's per-round degree recount)") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """WITH RECURSIVE r(n, c) AS (
          |  SELECT 1, 1L
          |  UNION ALL
          |  SELECT n + 1, count(*) FROM r WHERE n < 5 GROUP BY n
          |)
          |SELECT count(*) AS c FROM r""".stripMargin).collect()
    }
    info(s"pinned rejection: ${e.getCondition}: " +
      e.getMessage.linesIterator.take(1).mkString)
    // measured on this Spark: "Recursive references cannot be used ...
    // in aggregates, window functions or sorts"
    assert(e.getCondition == "INVALID_RECURSIVE_REFERENCE.PLACE",
      s"expected the pinned condition, got ${e.getCondition}: " +
        e.getMessage)
  }

  test("the legal UNION ALL spelling of bounded-round connected components " +
      "works — by enumerating WALKS, whose measured blowup is why it " +
      "cannot graduate into the sweep") {
    import spark.implicits._
    // planted graph: component A = path 1—2—3—4 (diameter 3),
    // component B = triangle 5—6—7 (a CYCLE — the case UNION-distinct
    // termination exists for)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (7L, 5L))
    (edges ++ edges.map(_.swap)).toDF("src", "dst")
      .createOrReplaceTempView("tiny_und_edges")
    val prior = spark.conf.getOption("spark.sql.cteRecursionRowLimit")
    spark.conf.set("spark.sql.cteRecursionRowLimit", "10000000")
    try {
      // walks of length ≤ diameter from every vertex; CC label =
      // min visited vertex, aggregated OUTSIDE the recursion (legal)
      val labels = spark.sql(
        """WITH RECURSIVE reach(v, u, round) AS (
          |  SELECT DISTINCT src, src, 0 FROM tiny_und_edges
          |  UNION ALL
          |  SELECT r.v, e.dst, r.round + 1
          |  FROM reach r JOIN tiny_und_edges e ON e.src = r.u
          |  WHERE r.round < 3
          |)
          |SELECT v, min(u) AS lbl FROM reach GROUP BY v ORDER BY v"""
          .stripMargin)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        5L -> 5L, 6L -> 5L, 7L -> 5L),
        s"bounded-walk CC must recover both components: $labels")
      // the measured reason it stays out of the sweep: the recursion
      // enumerates WALKS (not vertices) — on the 3-cycle the walk
      // count grows as degree^rounds, so this is exponential in the
      // round bound on any graph with cycles while the DSL loop's
      // per-round dedup keeps state linear in vertices
      val walks = spark.sql(
        """WITH RECURSIVE reach(v, u, round) AS (
          |  SELECT DISTINCT src, src, 0 FROM tiny_und_edges
          |  UNION ALL
          |  SELECT r.v, e.dst, r.round + 1
          |  FROM reach r JOIN tiny_und_edges e ON e.src = r.u
          |  WHERE r.round < 3
          |)
          |SELECT count(*) AS c FROM reach""".stripMargin)
        .head().getLong(0)
      info(s"walk rows $walks for 7 vertices at round bound 3 — " +
        "exponential in the bound on cyclic graphs")
      assert(walks > 7 * 3,
        "walk enumeration must exceed the per-round vertex state the " +
          "DSL loop carries — the measured inexpressibility gap")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.cteRecursionRowLimit", v)
      case None => spark.conf.unset("spark.sql.cteRecursionRowLimit")
    }
  }
}
