package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst GENERATORS: enumerate the i<j pairs (and i<j<k
  * triples) of a sorted array directly into the Generate operator's
  * output stream — zero intermediate allocation per combination.
  *
  * Why a Generator and not the SQL composition: the co-citation /
  * basket-pair fan-outs were written as
  *
  *   explode(flatten(transform(ds, (x, i) ->
  *     transform(slice(ds, i + 2, size(ds)), y -> struct(x, y)))))
  *
  * Higher-order functions do not participate in whole-stage codegen
  * (every lambda element evaluation is interpreted, re-binding the
  * lambda variables), and the composition allocates per SOURCE ROW:
  * one slice COPY of the array suffix per index i (O(n²) element
  * copies), one struct row per pair, one array per i, plus the final
  * flatten copy of everything — measured 317 s of CPU in ONE stage of
  * graph_adamic_adar's wedge explode at sf0.1 (VERDICT r14 #3). As a
  * Generator the pair stream is produced by two nested loop counters
  * over the ORIGINAL array (one reused output row; GenerateExec's
  * whole-stage-codegen template consumes it via
  * `codeGenIterableOnce`), and the downstream partial aggregation
  * consumes each pair in the same codegen span.
  *
  * Semantics are IDENTICAL to the composition above: for a sorted
  * array [a0..a(n-1)] it emits (ai, aj) for all 0 <= i < j < n in the
  * same lexicographic (i, j) order — explode order is irrelevant
  * anyway (every consumer aggregates or distincts the stream). Null /
  * sub-2-element arrays emit nothing, exactly like the old explode of
  * an empty flatten result (and the generators are only applied to
  * collect_set outputs, which are never null and contain no null
  * elements).
  */
private[graft] abstract class SortedCombGenerator extends UnaryExpression
    with Generator {
  protected def names: Seq[String]
  protected def mkIterable(arr: ArrayData): Iterable[InternalRow]

  // concrete here (not in the case classes) to reconcile
  // UnaryExpression's concrete `eval: Any` with Generator's narrowed
  // IterableOnce return type under trait linearization
  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    mkIterable(child.eval(input).asInstanceOf[ArrayData])

  protected lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array argument, got ${other.simpleString}")
  }

  override def elementSchema: StructType = {
    val cn = child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
    StructType(names.map(n => StructField(n, elemType, cn)))
  }

  protected def iterableClass: Class[_]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val etRef = ctx.addReferenceObj("elemType", elemType,
      classOf[DataType].getName)
    val cls = iterableClass.getName
    val value = ctx.freshName("combs")
    // GenerateExec.codeGenIterableOnce calls `.iterator()` on this
    // value and drains it in the generated while loop — the iterable
    // itself is one allocation per input row.
    val javaCode =
      code"""
         |${childGen.code}
         |$cls $value = new $cls(
         |  ${childGen.isNull} ? null : ${childGen.value}, $etRef);
       """.stripMargin
    ev.copy(code = javaCode, isNull = FalseLiteral,
      value = JavaCode.variable(value, iterableClass))
  }
}

case class SortedPairs(child: Expression) extends SortedCombGenerator {
  override protected def names: Seq[String] = Seq("x", "y")
  override def prettyName: String = "sorted_pairs"
  override protected def iterableClass: Class[_] = classOf[PairsIterable]
  override protected def mkIterable(arr: ArrayData): Iterable[InternalRow] =
    new PairsIterable(arr, elemType)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SortedTriples(child: Expression) extends SortedCombGenerator {
  override protected def names: Seq[String] = Seq("x", "y", "z")
  override def prettyName: String = "sorted_triples"
  override protected def iterableClass: Class[_] = classOf[TriplesIterable]
  override protected def mkIterable(arr: ArrayData): Iterable[InternalRow] =
    new TriplesIterable(arr, elemType)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Ordered-merge set intersection of two SORTED bigint arrays,
  * streamed as generator rows — replaces
  * `explode(array_intersect(nu, nv))` in the degree-oriented triangle
  * enumeration's witness step. array_intersect builds a hash set over
  * one side and materializes the intersection array per row (boxed
  * probes + one array allocation per directed edge, O(m^1.5) of them);
  * the merge scan walks both sorted arrays once with primitive long
  * comparisons and allocates nothing per witness. Output element SET
  * is identical (duplicates are skipped explicitly, so set semantics
  * hold even for non-distinct inputs); order is ascending, which is
  * array_intersect's order too for ascending-sorted inputs — and every
  * consumer aggregates, so order is immaterial anyway.
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends Expression with Generator {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "sorted_intersect"
  override def elementSchema: StructType =
    StructType(Seq(StructField("w", LongType, nullable = false)))

  // containsNull = false only: the merge scan reads primitive longs and
  // would turn a null slot into a 0 witness
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments without null " +
        s"elements, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    new MergeIntersectIterable(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGen = left.genCode(ctx)
    val rGen = right.genCode(ctx)
    val cls = classOf[MergeIntersectIterable].getName
    val value = ctx.freshName("mergeIntersect")
    val javaCode =
      code"""
         |${lGen.code}
         |${rGen.code}
         |$cls $value = new $cls(
         |  ${lGen.isNull} ? null : ${lGen.value},
         |  ${rGen.isNull} ? null : ${rGen.value});
       """.stripMargin
    ev.copy(code = javaCode, isNull = FalseLiteral,
      value = JavaCode.variable(value, classOf[MergeIntersectIterable]))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(left = newChildren(0), right = newChildren(1))
}

/** Streaming merge intersection of two sorted long arrays (set
  * semantics — duplicates skipped), same reused-row contract as
  * [[PairsIterable]]. */
final class MergeIntersectIterable(a: ArrayData, b: ArrayData)
    extends Iterable[InternalRow] {
  override def iterator: Iterator[InternalRow] =
    if (a == null || b == null || a.numElements() == 0 || b.numElements() == 0)
      Iterator.empty
    else new Iterator[InternalRow] {
      private[this] val na = a.numElements()
      private[this] val nb = b.numElements()
      private[this] var i = 0
      private[this] var j = 0
      private[this] var ready = false
      private[this] var cur = 0L
      private[this] val row = new GenericInternalRow(1)
      private def advance(): Unit = {
        while (!ready && i < na && j < nb) {
          val x = a.getLong(i)
          val y = b.getLong(j)
          if (x < y) i += 1
          else if (x > y) j += 1
          else {
            cur = x; ready = true
            i += 1; j += 1
            // set semantics: skip duplicates of the matched value
            while (i < na && a.getLong(i) == x) i += 1
            while (j < nb && b.getLong(j) == x) j += 1
          }
        }
      }
      override def hasNext: Boolean = { advance(); ready }
      override def next(): InternalRow = {
        advance()
        ready = false
        row.setLong(0, cur)
        row
      }
    }
}

/** Pair stream over one array: (arr(i), arr(j)) for 0 <= i < j < n.
  * The output row is REUSED across pairs — safe because GenerateExec
  * either copies it through an UnsafeProjection (interpreted path) or
  * reads its fields into codegen locals before the next iteration
  * (whole-stage path), the same contract the built-in explode of a
  * reused-backing-array relies on. */
final class PairsIterable(arr: ArrayData, et: DataType)
    extends Iterable[InternalRow] {
  override def iterator: Iterator[InternalRow] =
    if (arr == null || arr.numElements() < 2) Iterator.empty
    else new Iterator[InternalRow] {
      private[this] val n = arr.numElements()
      private[this] var i = 0
      private[this] var j = 1
      private[this] var x: Any = arr.get(0, et)
      private[this] val row = new GenericInternalRow(2)
      override def hasNext: Boolean = j < n
      override def next(): InternalRow = {
        row.update(0, x)
        row.update(1, arr.get(j, et))
        j += 1
        if (j == n) {
          i += 1
          j = i + 1
          if (j < n) x = arr.get(i, et)
        }
        row
      }
    }
}

/** Triple stream over one array: (arr(i), arr(j), arr(k)) for
  * 0 <= i < j < k < n, same reused-row contract as [[PairsIterable]]. */
final class TriplesIterable(arr: ArrayData, et: DataType)
    extends Iterable[InternalRow] {
  override def iterator: Iterator[InternalRow] =
    if (arr == null || arr.numElements() < 3) Iterator.empty
    else new Iterator[InternalRow] {
      private[this] val n = arr.numElements()
      private[this] var i = 0
      private[this] var j = 1
      private[this] var k = 2
      private[this] val row = new GenericInternalRow(3)
      override def hasNext: Boolean = k < n
      override def next(): InternalRow = {
        row.update(0, arr.get(i, et))
        row.update(1, arr.get(j, et))
        row.update(2, arr.get(k, et))
        k += 1
        if (k == n) {
          j += 1
          if (j == n - 1) { i += 1; j = i + 1 }
          k = j + 1
        }
        row
      }
    }
}

object SortedCombinations {
  /** Register `sorted_pairs(arr)` / `sorted_triples(arr)` in the
    * session's function registry. Idempotent. */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "sorted_pairs")(exprs => SortedPairs(exprs(0)))
    registerOnce(spark, "sorted_triples")(exprs => SortedTriples(exprs(0)))
    registerOnce(spark, "sorted_intersect")(
      exprs => SortedIntersect(exprs(0), exprs(1)))
  }
}
