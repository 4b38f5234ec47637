package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler string similarity.
  *
  * Semantics pinned to the classic definition as implemented by
  * DuckDB 1.0 (probed empirically, see DedupTextSpec):
  *  - either side empty → 0.0 (including both empty);
  *  - match window = max(len1, len2)/2 − 1, floored at 0;
  *  - transpositions = FLOOR(mismatched-position count / 2);
  *  - Winkler prefix boost sim + 0.1·prefix·(1−sim) applies only when
  *    the Jaro similarity exceeds 0.7, prefix capped at 4.
  * Comparison is per UTF-16 code unit (== code point == byte on the
  * ASCII document corpus, where the oracle comparison runs).
  *
  * Codegen: the O(len·window) scan lives in a static helper; the
  * generated code emits one static call — the Levenshtein pattern,
  * which keeps the surrounding WholeStageCodegen span intact (no
  * boxing, no closure dispatch).
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == StringType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects two string arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.jw($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** static entry point shared by interpreted eval and generated code */
  def jw(ua: UTF8String, ub: UTF8String): Double = {
    val s = ua.toString
    val t = ub.toString
    val l1 = s.length
    val l2 = t.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var matched = false
      while (j <= hi && !matched) {
        if (!m2(j) && s.charAt(i) == t.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var mism = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s.charAt(i) != t.charAt(k)) mism += 1
        k += 1
      }
      i += 1
    }
    val tr = mism / 2 // FLOOR division — the DuckDB/classic convention
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - tr) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val pMax = math.min(4, math.min(l1, l2))
    while (prefix < pMax && s.charAt(prefix) == t.charAt(prefix)) prefix += 1
    jaro + 0.1 * prefix * (1.0 - jaro)
  }

  /** Register `jaro_winkler(a, b)` in the session's function registry.
    * Idempotent. */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "jaro_winkler")(exprs => JaroWinklerExpr(exprs(0), exprs(1)))
}
