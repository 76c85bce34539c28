package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column <-> catalyst Expression conversions —
  * the standard pattern for Spark extension libraries that ship custom
  * Catalyst expressions (Spark 4 moved Column onto ColumnNode; classic
  * conversions live behind private[sql]).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register an expression builder into an EXISTING session's function
    * registry (the runtime twin of `SparkSessionExtensions.injectFunction`,
    * which only applies at session build time). Registry access is
    * private[sql], hence the bridge.
    */
  def registerFunction(
      spark: SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** A DataFrame over catalyst rows an RDD already holds (no Row
    * conversion); `internalCreateDataFrame` is private[sql].
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
