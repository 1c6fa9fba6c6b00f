package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for Column <-> Catalyst Expression, which Spark 4 made
  * private[sql] (classic.ExpressionUtils). Needed to expose custom
  * codegen'd expressions (graft.functions.RollingHash) as user-facing
  * Columns.
  */
object GraftColumnShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Scala UDF applied to Catalyst children: the ScalaUDF that
    * `spark.udf.register` would build, for use in a function builder
    * (`toExpression` of a UDF column is only resolved on the DataFrame
    * path, not inside SQL analysis).
    */
  def udfExpression(udf: expressions.UserDefinedFunction,
      children: Seq[Expression]): Expression =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      udf.asInstanceOf[expressions.SparkUserDefinedFunction], children)

  /** Runtime registration of graft SQL functions on an existing session
    * (sessionState is private[sql] in Spark 4). For spark-submit users the
    * declarative path is `--conf spark.sql.extensions=graft.GraftExtensions`.
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/** Bridge for DataFrames over Catalyst's binary rows, which Spark 4 keeps
  * private[sql]. The ordered DataFrame operators (graft.operators.Positional)
  * cache and shuffle `InternalRow`s and hand them back here, so no row is
  * converted to or from an external `Row`.
  */
object GraftRowShim {
  def createFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}

/** Bridge to the scheduler's listener bus, whose drain Spark keeps
  * private[spark]. [[graft.operators.Release]] unpersists on the bus
  * thread, so a drain also waits for every release already triggered.
  */
object GraftBusShim {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(600000L)
}
