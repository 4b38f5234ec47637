package graft.plans

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.StaticSQLConf

/** Catalyst optimizer rule: edit-distance length-band pruning.
  *
  * `levenshtein(a, b) <= k` implies `abs(length(a) - length(b)) <= k`
  * (deleting/inserting one char changes the length by at most one), so
  * any filter or join predicate carrying the O(len²) DP can be guarded
  * by an O(1) length comparison. This rule injects that necessary
  * condition as the FIRST conjunct — predicates evaluate left-to-right
  * in both codegen and interpreted mode, so far-length pairs
  * short-circuit before the DP runs. On a blocked dedup self-join this
  * is the difference between O(pairs · len²) and O(pairs) for the
  * (overwhelmingly common) non-matching pairs — the hand-written
  * blocking in `dedup_edit_distance`, applied automatically to every
  * query.
  *
  * Semantics-preserving by construction (a necessary condition of an
  * existing conjunct), and idempotent: the band is only added when no
  * semantically-equal conjunct is already present (the optimizer runs
  * rules to fixpoint, so a non-idempotent rewrite would grow the
  * predicate forever).
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) — the
  * SparkSessionExtensions path, no Spark-internal patching.
  */
object LevenshteinBandRule extends Rule[LogicalPlan] {

  /** the length-band guard for levenshtein(a, b) <= k */
  private def band(a: Expression, b: Expression, k: Expression): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k)

  private def addBands(cond: Expression): Expression = {
    // collect (a, b, k) for every levenshtein-threshold comparison
    val found = cond.collect {
      case LessThanOrEqual(Levenshtein(a, b, None), l @ Literal(_, _)) => (a, b, l)
      case LessThan(Levenshtein(a, b, None), l @ Literal(_, _)) => (a, b, l)
      case GreaterThanOrEqual(l @ Literal(_, _), Levenshtein(a, b, None)) => (a, b, l)
      case GreaterThan(l @ Literal(_, _), Levenshtein(a, b, None)) => (a, b, l)
    }
    val existing = cond.collect { case e => e }
    val missing = found
      .map { case (a, b, k) => band(a, b, k) }
      .filterNot(g => existing.exists(_.semanticEquals(g)))
      .distinct
    // guards FIRST so they short-circuit ahead of the DP
    missing.foldRight(cond)(And(_, _))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val next = addBands(cond)
      if (next.fastEquals(cond)) f else Filter(next, child)
    case j: Join if j.condition.isDefined =>
      val next = addBands(j.condition.get)
      if (next.fastEquals(j.condition.get)) j else j.copy(condition = Some(next))
  }
}

/** Session-extension entry point and the engine's install point: wire
  * with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  *
  * Besides the optimizer rule, planner strategies and SQL hints below,
  * installing the extension sizes Spark's generated-code cache
  * ([[GraftExtensions.sizeCodegenCache]]). Spark runs the extension
  * inside `getOrCreate`, before the first session copies the
  * SparkContext conf into its static SQL conf, and `CodeGenerator`
  * reads the cache size once, at its first use in the JVM. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    e.injectOptimizerRule(_ => LevenshteinBandRule)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectPlannerStrategy(_ => RangeJoinStrategy)
    // SQL-frontend hints for the native joins (r7): ASOF_JOIN /
    // RANGE_JOIN rewrite hinted SQL joins to the native nodes above
    e.injectResolutionRule(_ => NativeJoinHints)
  }
}

object GraftExtensions {

  /** Entries in Spark's generated-code cache. Spark's default, 100,
    * holds fewer classes than one pass over the declared keys
    * generates (3,507 distinct classes over all 373 keys at sf0.001 on
    * 4 cores), so under it a session re-issuing the same queries
    * recompiles most of them in every pass, and each recompiled class
    * starts again in the bytecode interpreter. 8,192 keeps a full key
    * pass with headroom: a whole `graft.Bench` run on 4 cores, its
    * sf0.001 warm-up and three sf0.1 passes, compiled 4,550 distinct
    * classes (not measured on 8 or 32 cores). */
  val CodegenCacheEntries = 8192

  /** Set the generated-code cache size unless the conf already names
    * one: a value the user set explicitly wins. */
  def sizeCodegenCache(conf: SparkConf): SparkConf =
    conf.setIfMissing(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      CodegenCacheEntries.toString)
}
