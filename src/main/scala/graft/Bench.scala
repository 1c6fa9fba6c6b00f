package graft

/** Driver-run benchmark: times every declared query at the given SF and
  * prints one JSON line. Each query is fully materialized via a noop-format
  * write (count() would let Catalyst prune computed columns and understate
  * the work).
  */
object Bench {

  /** Spike-retry predicate (round 14): re-run a gate when its time
    * exceeds `factor`× its committed reference AND an absolute 1 s floor
    * — sub-second gates jitter past any ratio without being spikes, and
    * a retry there costs more than it corrects. No reference, no retry.
    */
  private[graft] def shouldRetry(elapsed: Double, ref: Option[Double],
      factor: Double): Boolean =
    ref.exists(r => elapsed > math.max(factor * r, 1.0))

  /** Second-stage spike containment (round 15, VERDICT r14 #2): one
    * retry under-clears SUSTAINED contention — the r14 driver column
    * retried 10 gates once and still read 2.6–5.1× the same-code
    * committed reference on them. Retry while the best time so far
    * still reads as a spike, up to this many re-runs; keep the MIN
    * (a stall can only over-report). r17 (VERDICT r16 #8): raised 2 → 4
    * with a short inter-attempt backoff — the r16 driver column spent
    * both retries inside one sustained stall window and still posted
    * 16.7× ref on an untouched gate (1.1× at 8 cores, same session).
    */
  private[graft] val MaxSpikeRetries = 4

  /** Pause between spike re-runs (untimed — it runs OUTSIDE the timed
    * window) so back-to-back retries don't all land inside the same
    * short host-contention burst. Kept small: the worst case adds
    * MaxSpikeRetries × 2 s of wall per genuinely slow gate.
    */
  private[graft] val RetryBackoffMs = 2000L

  /** The full retry decision as a pure function (spec-pinned): walk up
    * to `maxRetries` re-runs while [[shouldRetry]] still fires on the
    * best time so far, keep the min of successful runs, and report how
    * many re-runs were spent. A failed first run never retries (the
    * failure is the result); a failed RE-run costs its attempt but
    * cannot degrade the kept time.
    */
  private[graft] def retryToFloor(first: (Double, Boolean),
      rerun: () => (Double, Boolean), ref: Option[Double], factor: Double,
      maxRetries: Int = MaxSpikeRetries): (Double, Boolean, Int) = {
    var (elapsed, ok) = first
    var spent = 0
    while (ok && spent < maxRetries && shouldRetry(elapsed, ref, factor)) {
      spent += 1
      val (e2, ok2) = rerun()
      if (ok2 && e2 < elapsed) elapsed = e2
    }
    (elapsed, ok, spent)
  }

  /** Upper median — conservative for even counts (reports the slower of
    * the two middle runs rather than inventing a time between them).
    */
  private[graft] def upperMedian(xs: Seq[Double]): Double =
    xs.sorted.apply(xs.length / 2)

  /** Two env-var spellings of the same file must compare equal — a
    * trailing slash or relative-vs-absolute mismatch silently disabling
    * spike retry was an ADVICE r14 finding.
    */
  private[graft] def samePath(a: String, b: String): Boolean =
    try java.nio.file.Paths.get(a).toAbsolutePath.normalize ==
      java.nio.file.Paths.get(b).toAbsolutePath.normalize
    catch { case _: Throwable => a == b }

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
    // Spike containment (round 14): this sandbox is a ±2× single-shot
    // instrument with occasional ×10-20 one-off stalls on individual
    // gates (three same-code in-suite runs spanned 310/363/492 s with
    // DISJOINT spike sets — SCALE.md round-13 variance protocol). The
    // driver's column is the one signal that can't be re-run away, so
    // Bench defends itself two ways, both visible in the output JSON:
    //  - per-gate spike retry (default on): a gate reading > max(3× its
    //    committed bench_ref.json time, 1 s) is re-run — up to
    //    MaxSpikeRetries times while the best time so far still reads
    //    as a spike (r14 showed one retry under-clears SUSTAINED
    //    contention) — and the MIN kept: a stall can only over-report,
    //    so min is the honest pick; only spiked gates pay the extra
    //    wall. Gates absent from the reference (new this round) never
    //    retry.
    //  - SPARK_GRAFT_BENCH_REPEATS=n: every gate runs n times, median
    //    kept (the A/B-grade mode; off by default — n× wall).
    // Gates are self-cleaning (per-run temp dirs), so re-running is safe
    // — the same property the warm mode already relies on.
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val spikeFactor = sys.env.get("SPARK_GRAFT_SPIKE_FACTOR")
      .flatMap(_.toDoubleOption).getOrElse(3.0)
    // the retry reference must be IMMUTABLE across runs: bench_ref.json
    // is a committed copy of a clean full run that Bench never writes,
    // so back-to-back runs can't ratchet the baseline down through the
    // min-kept output (ADVICE r14). If someone points the ref at the
    // OUTPUT file anyway, skip retry rather than self-compare.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_ref.json")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val refTimes: Map[String, Double] =
      if (spikeFactor <= 0) Map.empty
      else if (samePath(refPath, outPath)) {
        System.err.println(s"[bench] spike-retry disabled: reference " +
          s"'$refPath' is this run's own output file")
        Map.empty
      } else try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(new java.io.File(refPath))
        val node = root.get("queries")
        // a reference measured at a DIFFERENT scale factor is not a spike
        // baseline — comparing an sf1 run against sf0.1 times would
        // spuriously retry every gate and double the column's wall time.
        // Compare NORMALIZED paths: a trailing slash or relative spelling
        // of the same data dir must not silently disable retry.
        val refSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
        if (node == null || !samePath(refSf, sfDir)) {
          if (node != null) System.err.println(s"[bench] spike-retry " +
            s"reference ignored: measured at sf '$refSf', this run is " +
            s"'$sfDir'")
          Map.empty
        } else {
          import scala.jdk.CollectionConverters._
          node.fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble())
            .filter(_._2 > 0).toMap
        }
      } catch { case _: Throwable => Map.empty }
    val retriedNames = scala.collection.mutable.ArrayBuffer[String]()
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
      val (elapsed, ok) =
        if (repeats == 1) {
          // backoff lives in the rerun closure, not in retryToFloor, so
          // the decision function stays pure and spec-pinned
          val (e, o, spent) = retryToFloor(timedOnce(),
            () => { Thread.sleep(RetryBackoffMs); timedOnce() },
            refTimes.get(name), spikeFactor)
          // one entry per re-run spent: the list length is the column's
          // total retry bill, its distinct names the affected gates
          (1 to spent).foreach(_ => retriedNames += name)
          (e, o)
        } else {
          val runs = (1 to repeats).map(_ => timedOnce())
          val good = runs.filter(_._2).map(_._1)
          if (good.nonEmpty && good.size < runs.size) flakyNames += name
          if (good.isEmpty) (runs.head._1, false)
          else (upperMedian(good), true)
        }
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
    val retriedJson = retriedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flakyNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"retried":$retriedJson,"flaky":$flakyJson,"repeats":$repeats,"sf":"$sfDir"}"""
    // The round driver parses this line; a file copy survives any stdout
    // mangling by the launcher.
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
