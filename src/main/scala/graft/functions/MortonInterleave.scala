package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: the 2-D Morton (Z-order) key — the low
  * 16 bits of each BIGINT input bit-interleaved (a on even positions,
  * b on odd).
  *
  * Why an Expression: the mask-and-shift spreading chain written as
  * Column operations expands to a ~40-node expression tree PER KEY
  * (see sort_zorder_layout's plan before this existed) — it codegens,
  * but every generated stage re-derives the whole chain and the plan
  * string becomes unreadable. As a single expression it is one
  * codegen'd method call (straight-line Java, no branches), and the
  * layout sort reads `morton2(a, b)`.
  *
  * The arithmetic is identical to the documented 4-step chain (and to
  * the oracle SQL): all values non-negative and < 2^32, so every
  * engine computes the same BIGINT.
  */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"morton2 expects two bigint arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "morton2"

  @inline private def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    spread(a.asInstanceOf[Long]) | (spread(b.asInstanceOf[Long]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xa = ctx.freshName("xa")
      val xb = ctx.freshName("xb")
      s"""
         |long $xa = $a & 0xFFFFL;
         |$xa = ($xa | ($xa << 8)) & 0x00FF00FFL;
         |$xa = ($xa | ($xa << 4)) & 0x0F0F0F0FL;
         |$xa = ($xa | ($xa << 2)) & 0x33333333L;
         |$xa = ($xa | ($xa << 1)) & 0x55555555L;
         |long $xb = $b & 0xFFFFL;
         |$xb = ($xb | ($xb << 8)) & 0x00FF00FFL;
         |$xb = ($xb | ($xb << 4)) & 0x0F0F0F0FL;
         |$xb = ($xb | ($xb << 2)) & 0x33333333L;
         |$xb = ($xb | ($xb << 1)) & 0x55555555L;
         |${ev.value} = $xa | ($xb << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MortonInterleave {
  /** Register `morton2(a, b)` in the session's function registry.
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "morton2")(exprs => MortonInterleave(exprs(0), exprs(1)))
}
