package thrillbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.BenchShim
import org.apache.spark.sql.SparkSession

/** Runs one workload: repeated set-ups, an untimed oracle check, then
  * timed passes until the measuring time is spent. Prints one JSON result
  * line (end-to-end metrics untraced; per-layer metrics with `--trace 1`)
  * and writes it under `--out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <dir>
  */
object Main {
  /** Fixed session shape: the same on every host that has the cores. */
  val Cores = 4
  val ShufflePartitions = 8
  val SetUps = 2
  val MinPasses = 3
  private val Mb = 1024.0 * 1024.0

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("thrillbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      // fixed task counts: partition coalescing would follow content sizes
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // bounded status-store retention: driver heap plateaus across passes
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "400")
      .config("spark.ui.retainedTasks", "4000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // warm passes reuse generated code instead of recompiling it
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Same starting state for every pass: no cached data, no pending
    * release callbacks, no queued events, and a collected heap. Returns
    * the number of failed unpersists.
    */
  def reset(spark: SparkSession): Int = {
    var races = 0
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(blocking = true)
      catch { case NonFatal(e) => races += 1; log(s"unpersist: $e") }
    }
    spark.listenerManager.clear()
    BenchShim.drainListenerBus(spark.sparkContext)
    System.gc()
    races
  }

  private def log(msg: String): Unit = System.err.println(s"[thrillbench] $msg")

  final case class Measured(out: PassOut, wall: Double,
      layers: Option[Map[String, Double]])

  /** One pass of `wl`; a traced pass also yields its per-layer report. */
  def measure(spark: SparkSession, wl: Workload, traced: Boolean): Measured = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, traced)
    val listener = new PassListener
    if (traced) sc.addSparkListener(listener)
    try {
      val jvm0 = PassReport.jvmNow()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = wl.pass(spark, tracer)
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      val jvm1 = PassReport.jvmNow()
      BenchShim.drainListenerBus(sc)
      val layers = if (!traced) None else Some(PassReport(listener, tracer.spans.toSeq,
        ms0, ms1, wall, Cores, jvm0, jvm1, sc.getRDDStorageInfo.map(_.numCachedPartitions).sum))
      Measured(out, wall, layers)
    } finally if (traced) sc.removeSparkListener(listener)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def heapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload.all(opt("workload"))()
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val out = new File(opt("out"))
    out.mkdirs()

    var attempted = 0
    var failed = 0
    var races = 0
    val failures = Seq.newBuilder[String]
    def fail(what: String): Unit = { failed += 1; failures += what }

    // ---- set-up, repeated: session start, input generation, warm-up pass
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = Seq.newBuilder[Double]
    var spark: SparkSession = null
    var warm: PassOut = null
    for (k <- 0 until SetUps) {
      val t0 = if (k == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(work)
      wl.generate(seed)
      races += reset(spark)
      attempted += 1
      warm = measure(spark, wl, traced = false).out
      setups += (System.currentTimeMillis() - t0) / 1000.0
      log(f"set-up $k: ${(System.currentTimeMillis() - t0) / 1000.0}%.2f s")
    }

    // ---- oracle, untimed, over the last warm-up pass' outputs
    val c0 = System.nanoTime()
    for ((name, err) <- wl.check(spark, warm)) {
      attempted += 1
      err.foreach(e => fail(s"check $name: $e"))
    }
    log(f"oracle: ${(System.nanoTime() - c0) / 1e9}%.2f s")

    // ---- timed passes; with tracing, traced and untraced passes alternate
    val walls = Seq.newBuilder[Double]
    val tracedWalls = Seq.newBuilder[Double]
    val heaps = Seq.newBuilder[Double]
    val figures = Seq.newBuilder[Map[String, Double]]
    val layers = Seq.newBuilder[Map[String, Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var stop = false
    while (!stop && (i < MinPasses || System.nanoTime() < deadline)) {
      val traced = trace && i % 2 == 0
      races += reset(spark)
      attempted += 1
      try {
        val m = measure(spark, wl, traced)
        log(f"pass $i${if (traced) " (traced)" else ""}: ${m.wall}%.3f s")
        m.layers match {
          case Some(l) => tracedWalls += m.wall; layers += l
          case None => walls += m.wall
        }
        heaps += heapMb()
        if (m.out.digest != warm.digest)
          fail(s"pass $i: digest ${m.out.digest} != checked ${warm.digest}")
        figures += m.out.figures
      } catch { case NonFatal(e) => fail(s"pass $i: $e"); stop = true }
      i += 1
    }
    races += reset(spark)
    spark.stop()

    val figs = figures.result()
    val metrics: Seq[(String, Double)] = if (!trace) {
      Seq("wall_s" -> median(walls.result()),
        "setup_s" -> median(setups.result()),
        "peak_heap_mb" -> median(heaps.result()))
    } else {
      val ls = layers.result()
      val extra = Map(
        "trace.overhead_s" -> (median(tracedWalls.result()) - median(walls.result())),
        "bench.cleanup_races" -> races.toDouble)
      Metrics.perLayer.map { k =>
        k -> extra.getOrElse(k, median((ls ++ figs).flatMap(_.get(k))))
      }
    }
    val json = Metrics.json(failed == 0, attempted, failed, metrics)
    failures.result().foreach(f => log(s"FAILED $f"))
    val name = s"${wl.name}-seed$seed${if (trace) ".trace" else ""}.json"
    java.nio.file.Files.writeString(new File(out, name).toPath, json + "\n")
    println(json)
  }
}
