package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the exact integer dot product of one
  * array<bigint> against each of k constant integer planes, as an
  * array<bigint> of k dots — the signed-random-projection kernel of
  * the LSH signatures and the ±1 projection audit.
  *
  * It replaces k literal-heavy `aggregate(zip_with(q, array(...),
  * (x, y) -> x * y), 0L, (a, v) -> a + v)` folds, which the analyzer
  * resolved lambda by lambda and which evaluate interpreted (higher-
  * order functions have no doGenCode). The kernel is one static call
  * in the generated code, with the same results:
  *  - a NULL `q` gives k NULL dots (a non-NULL array, as array(...)
  *    of k NULL folds does);
  *  - a dot is NULL when `q` and the plane differ in length or any
  *    element of `q` is NULL (zip_with pads with NULL);
  *  - under ANSI mode a product or partial sum that overflows a long
  *    throws ARITHMETIC_OVERFLOW, exactly when the fold would: every
  *    product is checked, sums only until the first NULL product.
  *    Outside ANSI mode both wrap.
  *
  * `planes` is a nested immutable Seq, so two instances compare equal
  * by value and canonicalized plans over the same planes stay equal.
  */
case class PlaneDots(
    child: Expression,
    planes: Seq[Seq[Int]],
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  @transient private lazy val planeArrays: Array[Array[Int]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"plane_dots expects an array<bigint> argument, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "plane_dots"
  // the planes are thousands of literals; plans print their shape only
  override def toString: String =
    s"$prettyName($child, ${planes.length} planes)"

  override def eval(input: InternalRow): Any =
    PlaneDots.dots(child.eval(input).asInstanceOf[ArrayData],
      planeArrays, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val q = child.genCode(ctx)
    val ps = ctx.addReferenceObj("planes", planeArrays, "int[][]")
    ev.copy(code = code"""
      |${q.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.PlaneDots.dots(
      |    ${q.isNull} ? null : ${q.value}, $ps, $failOnError);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PlaneDots {

  /** `q` dotted with each of `planes` (a Column over an array<bigint>) */
  def apply(q: Column, planes: Array[Array[Int]]): Column =
    GraftSqlShim.column(
      PlaneDots(GraftSqlShim.expression(q), planes.map(_.toSeq).toSeq))

  /** static entry point shared by interpreted eval and generated code */
  def dots(q: ArrayData, planes: Array[Array[Int]], ansi: Boolean): ArrayData = {
    val k = planes.length
    val out = UnsafeArrayData.createFreshArray(k, 8)
    var p = 0
    while (p < k) {
      if (q == null) out.setNullAt(p)
      else {
        val plane = planes(p)
        val n = math.min(q.numElements(), plane.length)
        var acc = 0L
        var isNull = false // the fold's accumulator went NULL
        var i = 0
        while (i < n) {
          if (q.isNullAt(i)) isNull = true
          else {
            val x = q.getLong(i)
            val y = plane(i).toLong
            val prod = if (ansi) MathUtils.multiplyExact(x, y) else x * y
            if (!isNull) acc = if (ansi) MathUtils.addExact(acc, prod) else acc + prod
          }
          i += 1
        }
        // zip_with's NULL padding past the shorter side comes last
        if (isNull || q.numElements() != plane.length) out.setNullAt(p)
        else out.setLong(p, acc)
      }
      p += 1
    }
    out
  }
}
