package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

import graft.plans.GraftExtensions

/** The engine's install point sizes Spark's generated-code cache, so a
  * session that re-issues its queries compiles each generated class
  * once. */
class CodegenCacheSpec extends SparkTestBase {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("sizing rule: an unset cache size gets the constant, an explicit one is kept") {
    val unset = GraftExtensions.sizeCodegenCache(new SparkConf(false))
    assert(unset.get(key) == GraftExtensions.CodegenCacheEntries.toString)
    val explicit = GraftExtensions.sizeCodegenCache(
      new SparkConf(false).set(key, "100"))
    assert(explicit.get(key) == "100")
  }

  test("re-running more distinct queries than Spark's default cache holds compiles nothing") {
    // each literal is inlined into its own whole-stage class: 200
    // distinct classes, twice Spark's default 100-entry cache
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 200).foreach { i =>
        val r = spark.range(3).selectExpr(s"id * $i + $i AS x").collect()
        assert(r.map(_.getLong(0)).toSeq == Seq(i.toLong, 2L * i, 3L * i))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(pass() >= 200)
    assert(pass() == 0)
  }
}
