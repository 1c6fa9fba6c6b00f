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

  /** Materialize a DataFrame (cache + lineage truncation) AND return its
    * row count in ONE job — `localCheckpoint()` + `count()` costs two.
    * Iterative drivers (BFS & friends) use the count as their per-round
    * termination test, so this halves their fixed per-round job cost.
    * The InternalRow copy is required before caching (the scan reuses row
    * buffers); blocks are reclaimed by the ContextCleaner when the
    * returned frame's lineage goes unreachable.
    */
  def materializeWithCount(df: DataFrame): (DataFrame, Long) = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    (cdf.sparkSession.internalCreateDataFrame(rdd, df.schema), n)
  }
}
