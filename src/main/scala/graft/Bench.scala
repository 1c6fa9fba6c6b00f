package graft

/** Driver-run benchmark: times every declared query at the given SF and
  * prints one JSON line. Each query is fully materialized via a noop-format
  * write (count() would let Catalyst prune computed columns and understate
  * the work).
  */
object Bench {

  /** Upper median — conservative for even counts (reports the slower of
    * the two middle runs rather than inventing a time between them).
    */
  private[graft] def upperMedian(xs: Seq[Double]): Double =
    xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // Untimed warm-up: JVM/codegen/parquet-footer caches, same as any
    // long-running cluster where these costs amortize to zero.
    SparkEntry.queries.get("q1_agg").foreach(_(spark, sfDir).count())
    // Optional comma-separated query-name filter for focused runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        // fail loudly: silently running nothing would report a plausible
        // all-zero bench for a typo'd name
        System.err.println(s"[bench] unknown SPARK_GRAFT_ONLY names: " +
          unknown.toSeq.sorted.mkString(", "))
        spark.stop()
        sys.exit(2)
      }
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_WARM=1: run each selected query once UNTIMED before its
    // timed run. The one-shot-JVM isolated mode otherwise measures cold
    // JIT of paths q1_agg never touches (codec chains read 22 s cold vs
    // 9.3 s warm — SCALE.md); warm mode makes cross-round comparisons of
    // those families honest. Self-cleaning gates (temp-dir indexes) are
    // safe to run twice — each run makes its own directory.
    val warm = sys.env.get("SPARK_GRAFT_WARM").contains("1")
    // SPARK_GRAFT_BENCH_REPEATS=n: every gate runs n times, median kept.
    // Gates are self-cleaning (per-run temp dirs), so re-running is safe
    // — the same property the warm mode already relies on. A speed-up is
    // claimed from paired parent/change runs (tools/ab.py), not from
    // this column.
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // repeats-mode gates that crashed on SOME runs but succeeded on
    // others: the median of successes is still the honest time, but the
    // partial failures must reach the machine-readable output (ADVICE
    // r14) — a flaky gate must not look clean in the JSON
    val flakyNames = scala.collection.mutable.ArrayBuffer[String]()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (warm) {
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // the timed run reports the error
        GraftSession.reset(spark)
      }
      def timedOnce(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        GraftSession.reset(spark) // untimed
        (elapsed, ok)
      }
      val runs = (1 to repeats).map(_ => timedOnce())
      val good = runs.filter(_._2).map(_._1)
      if (good.nonEmpty && good.size < runs.size) flakyNames += name
      val (elapsed, ok) =
        if (good.isEmpty) (runs.head._1, false)
        else (upperMedian(good), true)
      (name, elapsed, ok)
    }
    // A failed query reports -1, not its partial elapsed time, so the JSON
    // can't silently under-measure a crash as a fast run.
    val qs = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => k }
    val total = results.collect { case (_, v, true) => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flakyNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"flaky":$flakyJson,"repeats":$repeats,"sf":"$sfDir"}"""
    // The round driver parses this line; a file copy survives any stdout
    // mangling by the launcher.
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
