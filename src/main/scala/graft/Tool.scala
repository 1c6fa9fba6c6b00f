package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one entry point for the tooling around the gates. Every
  * subcommand runs on the [[GraftSession]] the bench uses; `check` then
  * turns AQE off.
  *
  * {{{
  * runMain graft.Tool plans <sfDir> <outDir> <suffix> <q1,q2,...>
  * runMain graft.Tool check [q ...]          (SPARK_GRAFT_SF_DIR)
  * runMain graft.Tool micro <arm>            (SPARK_GRAFT_SF_DIR; arms: MicroBench.arms)
  * runMain graft.Tool trainbpe <sfDir> [numMerges]
  * }}}
  */
object Tool {
  private val usage = "usage: Tool plans <sfDir> <outDir> <suffix> <q1,q2,...>" +
    " | check [q ...] | micro <" + MicroBench.arms.keys.toSeq.sorted.mkString("|") +
    "> | trainbpe <sfDir> [numMerges]"

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    val run: Option[SparkSession => Int] = args.toSeq match {
      case Seq("plans", sf, outDir, suffix, names) =>
        val qs = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = qs.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) {
          System.err.println(s"[plans] unknown query names: " +
            unknown.sorted.mkString(", "))
          sys.exit(2)
        }
        Some(plans(_, sf, outDir, suffix, qs))
      case "check" +: names => Some(check(_, names))
      case Seq("micro", arm) if MicroBench.arms.contains(arm) =>
        Some { spark => MicroBench.arms(arm)(spark, sfDir); 0 }
      case "trainbpe" +: sf +: rest if rest.size <= 1 =>
        Some(trainBpe(_, sf, rest.headOption.map(_.toInt).getOrElse(40)))
      case _ => None
    }
    run match {
      case None => System.err.println(usage); sys.exit(2)
      case Some(f) =>
        val spark = GraftSession.get()
        val status = f(spark)
        spark.stop()
        sys.exit(status)
    }
  }

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

  /** `plans`: write `.explain("formatted")` of each named gate to
    * `<outDir>/<name>_<suffix>.txt`.
    *
    * r17 (VERDICT r16 #7): gates whose final frame is a collectEager local
    * relation used to dump a vacuous 8-line LocalTableScan. This arms
    * [[graft.queries.FacadeQueries.eagerPlanCapture]] and RUNS the query
    * builder, so every pre-collect plan that executed inside the gate is
    * captured and written alongside the final frame's plan.
    *
    * [[stable]] masks every token that changes from run to run, so two runs
    * on one tree write byte-identical files and a plan diff between two
    * trees shows only plan changes — unless an AQE runtime choice differs
    * between the runs (q_span_index_d3 dumped after the other span-index
    * gates flips one broadcast join's build side).
    */
  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Int = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val eager = new StringBuilder
      graft.queries.FacadeQueries.eagerPlanCapture.set(eager)
      val plan = try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val fin = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        if (eager.isEmpty) fin
        else "== Eager pre-collect plan(s) captured during gate " +
          "execution ==\n\n" + eager.result() +
          "\n== Final (post-collect) frame ==\n\n" + fin
      } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      finally graft.queries.FacadeQueries.eagerPlanCapture.set(null)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), stable(plan))
      println(s"[plans] $n -> $outDir/${n}_$suffix.txt")
      GraftSession.reset(spark)
    }
    0
  }

  /** `check`: the [[PlanInvariants]] denylist sweep over the named gates
    * (default: all of them; gates that act while constructing still have
    * an auditable final frame). Prints violations; status 1 on any.
    */
  private def check(spark: SparkSession, only: Seq[String]): Int = {
    // the sweep audits the STATIC plan (PlanInvariants scaladoc)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    val bad = names.count { q =>
      val vs = try PlanInvariants.check(SparkEntry.queries(q)(spark, sfDir),
        PlanInvariants.allow.getOrElse(q, Set.empty))
      catch { case e: Throwable => Seq(s"[error] ${e.getMessage}") }
      vs.foreach(v => println(s"VIOLATION $q $v"))
      vs.nonEmpty
    }
    println(s"== plan check: ${names.size - bad} clean, $bad with violations ==")
    if (bad > 0) 1 else 0
  }

  /** `trainbpe`: the committed BPE merges fixture
    * ([[graft.functions.BpeFixture]]) learned from `sfDir`'s documents,
    * printed as both Scala source and DuckDB `VALUES` rows, so the fixture
    * and the q_bpe oracle stay regenerable from the corpus with one
    * command.
    */
  private def trainBpe(spark: SparkSession, sfDir: String, numMerges: Int): Int = {
    val merges = graft.functions.Bpe.trainOnCorpus(
      Tables.documents(spark, sfDir), "text", numMerges)
    def q(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    println("// ---- Scala fixture ----")
    merges.foreach { case (a, b) => println(s"""    ("${q(a)}", "${q(b)}"),""") }
    println("// ---- DuckDB VALUES (rank, a, b) ----")
    def sq(s: String): String = s.replace("'", "''")
    println(merges.zipWithIndex
      .map { case ((a, b), i) => s"($i,'${sq(a)}','${sq(b)}')" }
      .mkString(",\n"))
    0
  }
}
