package graft

import java.nio.file.{Files, Paths}

/** Optimization-round deliverable helper: write `.explain("formatted")` of
  * declared queries to `<outDir>/<name>_<suffix>.txt`. Args: <sfDir>
  * <outDir> <suffix> <comma-separated query names>.
  *
  * r17 (VERDICT r16 #7): gates whose final frame is a collectEager local
  * relation used to dump a vacuous 8-line LocalTableScan. PlanDump now
  * arms [[graft.queries.FacadeQueries.eagerPlanCapture]] and RUNS the
  * query builder, so every pre-collect plan that executed inside the gate
  * is captured and written alongside the final frame's plan.
  *
  * The files are reproducible: [[stable]] masks every token that changes
  * from run to run, so two runs on one tree write byte-identical files and
  * a plan diff between two trees shows only plan changes.
  */
object PlanDump {
  /** Run-specific tokens of a formatted plan and their masks: expression
    * ids, exchange plan ids, AQE codegen-stage ids, AQE query-stage ids
    * (the `Arguments` of a `*QueryStage` node), AQE runtime statistics,
    * lambda variable names, RDD ids with their call-site lines, temp-dir
    * suffixes and parquet part names. Operator names and exchange nodes
    * are left as they are.
    */
  private val runSpecific: Seq[(String, String)] = Seq(
    "#\\d+" -> "#x",
    "plan_id=\\d+" -> "plan_id=x",
    "\\[codegen id : \\d+\\]" -> "[codegen id : x]",
    "(\\(\\d+\\) \\w*QueryStage\n(?:[^\n]+\n)*?Arguments: )\\d+" -> "$1x",
    "Statistics\\(sizeInBytes=[^)]*\\)" -> "Statistics(x)",
    "\\bx_\\d+" -> "x_x",
    "RDD\\[\\d+\\]" -> "RDD[x]",
    "\\.scala:\\d+" -> ".scala:x",
    "(/\\w+?_)\\d+(?=/)" -> "$1x",
    "part-\\d+-[0-9a-f-]{36}([.-]c\\d+)?" -> "part-x")

  /** `plan` with its run-specific tokens masked. */
  private[graft] def stable(plan: String): String =
    runSpecific.foldLeft(plan) { case (s, (re, mask)) => s.replaceAll(re, mask) }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val unknown = names.split(",").map(_.trim).filter(_.nonEmpty)
      .filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[plandump] unknown query names: " +
        unknown.sorted.mkString(", "))
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val fn = SparkEntry.queries(n)
      val eager = new StringBuilder
      graft.queries.FacadeQueries.eagerPlanCapture.set(eager)
      val plan = try {
        val df = fn(spark, sfDir)
        val fin = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        if (eager.isEmpty) fin
        else "== Eager pre-collect plan(s) captured during gate " +
          "execution ==\n\n" + eager.result() +
          "\n== Final (post-collect) frame ==\n\n" + fin
      } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      finally graft.queries.FacadeQueries.eagerPlanCapture.set(null)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), stable(plan))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
