package graft

import org.apache.spark.sql.functions._

/** r15 (optimization round 2) — pins for the operator internals this
  * round restructured. Each optimization must be result-invisible;
  * these tests hold the replaced composition and the restructure to
  * byte-identical outputs on planted and randomized inputs.
  */
class Round15Spec extends SparkTestBase {
  import operators.GraphOps

  test("sorted_pairs ≡ the flatten/transform/slice composition " +
      "(long and string arrays, randomized + edge sizes)") {
    sortedPairsEquivalence()
  }

  test("sorted_triples ≡ the doubly-flattened composition " +
      "(randomized + edge sizes)") {
    sortedTriplesEquivalence()
  }

  test("sorted_intersect ≡ explode(array_intersect) on sorted long " +
      "arrays (randomized, including duplicates and empties)") {
    sortedIntersectEquivalence()
  }

  test("the three generator equivalences hold on the interpreted " +
      "Generate path (whole-stage codegen off)") {
    // GenerateExec without codegen pulls rows from the generators'
    // eval iterators, which reuse one row object per iterator
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
      import spark.implicits._
      graft.functions.SortedCombinations.register(spark)
      val plan = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("ds")
        .select(expr("sorted_pairs(ds)")).queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[GenerateExec]) &&
        !plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
        s"expected an interpreted GenerateExec:\n$plan")
      sortedPairsEquivalence()
      sortedTriplesEquivalence()
      sortedIntersectEquivalence()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("function register calls install each function once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val registers: Seq[(Seq[String], () => Unit)] = Seq(
      Seq("sorted_pairs", "sorted_triples", "sorted_intersect") ->
        (() => graft.functions.SortedCombinations.register(spark)),
      Seq("jaro_winkler") -> (() => graft.functions.JaroWinkler.register(spark)),
      Seq("cosine_sim") -> (() => graft.functions.CosineSimilarity.register(spark)),
      Seq("inner_product") -> (() => graft.functions.InnerProduct.register(spark)),
      Seq("morton2") -> (() => graft.functions.MortonInterleave.register(spark)),
      Seq("minhash_sig", "cm_sketch", "hll_reg") ->
        (() => graft.SqlFrontend.registerFunctions(spark)))
    for ((names, register) <- registers) {
      register()
      def infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
      val first = infos
      assert(first.forall(_.isDefined), s"$names not registered")
      register()
      // a replace would register a fresh ExpressionInfo
      assert(infos.zip(first).forall { case (b, a) => b.get eq a.get },
        s"a second register replaced $names")
    }
  }

  private def sortedPairsEquivalence(): Unit = {
    graft.functions.SortedCombinations.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // sorted distinct arrays of size 0..40 (collect_set+array_sort
    // upstream guarantees sorted distinct in every production use)
    val longArrs = (0 until 200).map { i =>
      val n = i % 41
      Seq.fill(n)(rnd.nextLong(1000000L)).distinct.sorted
    }
    val dfL = longArrs.map(Tuple1(_)).toDF("ds")
    val oldL = dfL.select(explode(expr(
      """flatten(transform(ds, (x, i) ->
        |  transform(slice(ds, i + 2, size(ds)), y ->
        |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val newL = dfL.select(expr("sorted_pairs(ds)").as(Seq("a", "b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(newL == oldL, s"long pairs differ: ${newL.size} vs ${oldL.size}")
    assert(oldL.size == longArrs.map(a => a.size * (a.size - 1) / 2).sum)

    val strArrs = (0 until 100).map { i =>
      val n = i % 11
      Seq.fill(n)(s"s${rnd.nextInt(100)}").distinct.sorted
    }
    val dfS = strArrs.map(Tuple1(_)).toDF("ds")
    val oldS = dfS.select(explode(expr(
      """flatten(transform(ds, (x, i) ->
        |  transform(slice(ds, i + 2, size(ds)), y ->
        |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a"), col("p.b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val newS = dfS.select(expr("sorted_pairs(ds)").as(Seq("a", "b")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(newS == oldS, s"string pairs differ: ${newS.size} vs ${oldS.size}")
  }

  private def sortedTriplesEquivalence(): Unit = {
    graft.functions.SortedCombinations.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val arrs = (0 until 120).map { i =>
      val n = i % 13
      Seq.fill(n)(s"b${rnd.nextInt(40)}").distinct.sorted
    }
    val df = arrs.map(Tuple1(_)).toDF("bs")
    val old3 = df.select(explode(expr(
      """flatten(flatten(transform(bs, (x, i) ->
        |  transform(slice(bs, i + 2, size(bs)), (y, j) ->
        |    transform(slice(bs, i + j + 3, size(bs)), z ->
        |      struct(x AS a, y AS b, z AS c))))))""".stripMargin)).as("t"))
      .select(col("t.a"), col("t.b"), col("t.c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val new3 = df.select(expr("sorted_triples(bs)").as(Seq("a", "b", "c")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(new3 == old3, s"triples differ: ${new3.size} vs ${old3.size}")
    assert(old3.size ==
      arrs.map(a => a.size * (a.size - 1) * (a.size - 2) / 6).sum)
  }

  private def sortedIntersectEquivalence(): Unit = {
    graft.functions.SortedCombinations.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    // sorted arrays WITH duplicates: set semantics must still match
    val arrs = (0 until 200).map { i =>
      val n = i % 17
      (Seq.fill(n)(rnd.nextLong(30L)).sorted,
       Seq.fill(i % 13)(rnd.nextLong(30L)).sorted)
    }
    val df = arrs.toDF("nu", "nv")
    val oldW = df.select(explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .collect().map(_.getLong(0)).toSeq
    val newW = df.select(expr("sorted_intersect(nu, nv)").as(Seq("w")))
      .collect().map(_.getLong(0)).toSeq
    assert(newW == oldW, s"witnesses differ: ${newW.size} vs ${oldW.size}")
    // nullable elements fail analysis instead of merging as 0
    val nullable = Seq((Seq(Some(1L), None), Seq(1L))).toDF("nu", "nv")
    intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(expr("sorted_intersect(nu, nv)"))
    }
  }

  test("mergeCcDelta driver union-find endgame ≡ the distributed CC " +
      "remap (measured delta under the cap)") {
    import spark.implicits._
    // base: {1,2} and {3,4} labeled by component-min; delta bridges
    // 2-3 (merging the two components) and introduces {5,6}; a second
    // delta edge 4-1 is redundant inside the merged component
    val base = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("v", "lbl")
    val delta = Seq((2L, 3L), (5L, 6L), (4L, 1L)).toDF("src", "dst")
    def run(deltaRows: Long) = GraphOps.mergeCcDelta(base, delta,
        labelParts = 1, deltaRows = deltaRows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 3L), (4L, 1L, 3L),
      (5L, 5L, -1L), (6L, 5L, -1L))
    // measured, under the cap → union-find endgame
    assert(run(deltaRows = 3L) == want)
    // unmeasured → distributed CC loop (the plan-only shape)
    assert(run(deltaRows = -1L) == want)
    // chain topology: labels must fully path-compress (1-2, 2-3, 3-4
    // as label edges resolves 4's root to 1 through two hops)
    val base2 = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("v", "lbl")
    val delta2 = Seq((4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val got2 = GraphOps.mergeCcDelta(base2, delta2,
        labelParts = 1, deltaRows = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)), s"$got2")
  }
}
