package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator coverage map (one entry per implemented
  * operator family from SURVEY.md §2 plus the training-data-pipeline ops);
  * `oracleSql` carries the DuckDB-equivalent SQL for every query whose
  * semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped join+agg (customer ⋈ orders ⋈ lineitem → top revenue),
    * the reference's own acceptance workload shape
    * (/root/reference/examples/tpch/tpch_run.cpp:167-256).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_top_orders")(spark, "/root/testdata/sf0.001")

  /** Every gate builder runs inside one [[graft.operators.Release.scope]]:
    * the caches its operators hold go at the first Dataset action on the
    * returned frame (the harness's write, a test's count), never at an
    * action the builder runs itself.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Relational.queries ++
      graft.queries.PositionalQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.CorpusQueries.queries ++
      graft.queries.SourceQueries.queries ++
      graft.queries.FacadeQueries.queries).map { case (name, build) =>
        name -> ((spark: SparkSession, dir: String) =>
          graft.operators.Release.scope(spark)(build(spark, dir)))
      }

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.PositionalQueries.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.CorpusQueries.oracles ++
      graft.queries.SourceQueries.oracles ++
      graft.queries.FacadeQueries.oracles
}
