package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {
  /** install `name` in the session's function registry unless the
    * session already has it. Queries call their functions' `register`
    * on every use, and replacing a registered function logs a WARN
    * each time. */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit =
    if (!registered(spark, name))
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")

  /** whether the session's function registry already has `name` */
  private[graft] def registered(spark: SparkSession, name: String): Boolean =
    spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
}
