package graft

import graft.functions.{InnerProduct, PlaneDots}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native similarity kernels against the higher-order folds they
  * replace, compared with exact equality on every row: negative
  * components, a NULL element, a NULL vector and a 63-length vector
  * (zip_with's NULL padding), at 1 and 4 partitions with whole-stage
  * codegen on and off, and through the interpreted eval path. */
class SimilarityKernelSpec extends SparkTestBase {

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally prev.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `f` at 1 and 4 partitions, whole-stage codegen on and off */
  private def everyLayout(f: Int => Unit): Unit =
    for (wscg <- Seq("true", "false"); parts <- Seq(1, 4))
      withConf("spark.sql.codegen.wholeStage" -> wscg) {
        withClue(s"wholeStage=$wscg parts=$parts: ")(f(parts))
      }

  private def frame(schema: StructType, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .repartition(parts)

  // ---- plane dots ----------------------------------------------------

  private val qSchema = StructType(Seq(
    StructField("id", LongType), StructField("q", ArrayType(LongType))))

  private def lng(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

  private val qRows: Seq[Row] = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map(i => Row(i.toLong,
      Seq.fill(64)(lng(rnd.nextLong(400000000L) - 200000000L)))) ++ Seq(
      Row(100L, Seq.fill(64)(lng(-3L))),
      Row(101L, Seq.tabulate(64)(i => if (i == 17) null else lng(i - 30L))),
      Row(102L, Seq.tabulate(63)(i => lng(i * 1000L - 5000L))),
      Row(103L, null),
      Row(104L, Seq.empty[java.lang.Long]))
  }

  /** the ±1 cluster family plus planes with larger, mixed-sign weights */
  private val testPlanes: Array[Array[Int]] = {
    val rnd = new scala.util.Random(11)
    operators.VectorOps.clusterPlanes ++
      Array.fill(4, 64)(rnd.nextInt(2001) - 1000)
  }

  /** the k `aggregate(zip_with)` folds PlaneDots replaces */
  private def foldDots(q: String, planes: Array[Array[Int]]): Column =
    array(planes.toIndexedSeq.map(p => expr(
      s"""aggregate(zip_with($q, ${p.mkString("array(", ", ", ")")},
         |  (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)"""
        .stripMargin)): _*)

  private def sameDots(df: DataFrame, planes: Array[Array[Int]]): Unit = {
    val got = df.select(col("id"), PlaneDots(col("q"), planes).as("n"),
      foldDots("q", planes).as("h")).collect()
    assert(got.length == df.count())
    got.foreach(r => assert(r.get(1) == r.get(2), s"row ${r.getLong(0)}"))
  }

  test("plane dots equal the zip_with folds exactly") {
    everyLayout(parts => sameDots(frame(qSchema, qRows, parts), testPlanes))
  }

  test("plane dots' interpreted eval equals the zip_with folds") {
    val folded = frame(qSchema, qRows, 1)
      .select(col("id"), col("q"), foldDots("q", testPlanes).as("h"))
      .collect()
    val kernel = PlaneDots(BoundReference(0, ArrayType(LongType), nullable = true),
      testPlanes.toSeq.map(_.toSeq))
    folded.foreach { r =>
      val q = if (r.isNullAt(1)) null
        else new GenericArrayData(r.getSeq[Any](1).toArray)
      val dots = kernel.eval(InternalRow(q)).asInstanceOf[ArrayData]
        .toSeq[Any](LongType)
      assert(dots == r.getSeq[Any](2), s"row ${r.getLong(0)}")
    }
  }

  test("plane dots overflow exactly when the fold does (ANSI), and wrap " +
      "like it otherwise") {
    val big = Long.MaxValue / 2
    val ones = Array(Array.fill(64)(1))   // the third partial sum overflows
    val threes = Array(Array.fill(64)(3)) // every product overflows
    def row(q: Seq[java.lang.Long]) = Seq(Row(0L, q))
    val allBig = Seq.fill(64)(lng(big))
    val nullFirst = null +: Seq.fill(63)(lng(big))
    val nullSecond = lng(big) +: null +: Seq.fill(62)(lng(big))
    def overflows(df: => DataFrame): Boolean = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW"))
    }
    for (wscg <- Seq("true", "false"))
      withConf("spark.sql.codegen.wholeStage" -> wscg) {
        withConf("spark.sql.ansi.enabled" -> "true") {
          for ((q, planes) <- Seq(allBig -> ones, allBig -> threes,
              nullFirst -> threes)) {
            val df = frame(qSchema, row(q), 1)
            assert(overflows(df.select(foldDots("q", planes))))
            assert(overflows(df.select(PlaneDots(col("q"), planes))))
          }
          // a NULL product ends the sums before they overflow
          sameDots(frame(qSchema, row(nullSecond), 1), ones)
        }
        withConf("spark.sql.ansi.enabled" -> "false") {
          for (planes <- Seq(ones, threes))
            sameDots(frame(qSchema, row(allBig), 1), planes)
        }
      }
  }

  // ---- inner product -------------------------------------------------

  private val abSchema = StructType(Seq(StructField("id", LongType),
    StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))

  private def flt(v: Float): java.lang.Float = java.lang.Float.valueOf(v)

  private val abRows: Seq[Row] = {
    val rnd = new scala.util.Random(13)
    def vec(n: Int) = Seq.fill(n)(flt(rnd.nextFloat() * 2 - 1))
    (0 until 40).map(i => Row(i.toLong, vec(64), vec(64))) ++ Seq(
      Row(100L, Seq.fill(64)(flt(-0.25f)), vec(64)),
      Row(101L, vec(17) ++ (null +: vec(46)), vec(64)),
      Row(102L, vec(63), vec(64)),
      Row(103L, null, vec(64)),
      Row(104L, vec(64), null),
      Row(105L, Seq.empty[java.lang.Float], Seq.empty[java.lang.Float]))
  }

  private def foldDot(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b,
       |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
       |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)

  /** a double compared by its bits (NULL stays NULL) */
  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  test("inner_product equals the zip_with fold bit for bit") {
    InnerProduct.register(spark)
    everyLayout { parts =>
      val got = frame(abSchema, abRows, parts).select(col("id"),
        expr("inner_product(a, b)"), foldDot("a", "b")).collect()
      assert(got.length == abRows.length)
      got.foreach(r => assert(bits(r, 1) == bits(r, 2), s"row ${r.getLong(0)}"))
      val nulls = got.filter(_.isNullAt(1)).map(_.getLong(0)).sorted.toSeq
      assert(nulls == Seq(101L, 102L, 103L, 104L), s"NULL rows $nulls")
    }
  }

  test("inner_product's interpreted eval equals the zip_with fold") {
    val folded = frame(abSchema, abRows, 1)
      .select(col("id"), col("a"), col("b"), foldDot("a", "b")).collect()
    val kernel = InnerProduct(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      BoundReference(1, ArrayType(FloatType), nullable = true))
    def arr(r: Row, i: Int) =
      if (r.isNullAt(i)) null else new GenericArrayData(r.getSeq[Any](i).toArray)
    folded.foreach { r =>
      val v = kernel.eval(InternalRow(arr(r, 1), arr(r, 2)))
      val exp = if (r.isNullAt(3)) null else r.getDouble(3)
      assert(v == exp, s"row ${r.getLong(0)}")
    }
  }
}
