package thrillbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program. Untraced, a span
  * only runs its body. Traced, it records its interval and tags the work
  * it starts: the job group (jobs started inside it) and the call site
  * (RDDs created inside it, so stages that run lazily in a later call are
  * still attributed to the call that built them).
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer[Span]()

  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val ms0 = System.currentTimeMillis()
      sc.setJobGroup(name, name)
      sc.setCallSite(name)
      try body
      finally {
        sc.clearJobGroup()
        sc.clearCallSite()
        spans += Span(name, ms0, System.currentTimeMillis())
      }
    }
}

object Tracer {
  final case class Span(name: String, startMs: Long, endMs: Long)

  /** Layer of an operation name: `dia.sort` -> `dia`. */
  def layer(op: String): String = op.takeWhile(_ != '.')

  /** Operations the workloads time, per layer metric prefix. */
  val Ops: Seq[String] = Seq(
    "dia.sort", "dia.zip_with_index", "dia.prefix_sum", "dia.window",
    "dia.merge", "dia.zip", "dia.sum",
    "functions.dedup.sign", "functions.dedup.candidates",
    "functions.dedup.verify", "operators.cc.labels")
}

/** Collects jobs, stages, tasks and block updates of one traced pass. */
final class PassListener extends SparkListener {
  import PassListener._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val stageJob = mutable.Map[Int, Int]()
  // RDD blocks held in memory, for the storage peak
  private val blockMem = mutable.Map[(Int, Int), Long]()
  private var memNow = 0L
  var memPeak = 0L
  var evicted = 0

  private def known(callSite: String): Option[String] =
    Some(callSite).filter(Tracer.Ops.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val tags = i.rddInfos.flatMap(r => known(r.callSite)).toSet ++ known(i.name)
    val s = new Stage(tags, stageJob.get(i.stageId))
    s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages((i.stageId, i.attemptNumber())) = s
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(
      _.end = i.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get((e.stageId, e.stageAttemptId)); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  // Unpersist removes blocks without reporting them; eviction and drops
  // to disk report, so a reported block leaving memory is an eviction.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    u.blockId match {
      case org.apache.spark.storage.RDDBlockId(rdd, part) =>
        val key = (rdd, part)
        val before = blockMem.getOrElse(key, 0L)
        val after = if (u.storageLevel.isValid) u.memSize else 0L
        if (before > 0 && after == 0) evicted += 1
        if (after > 0) blockMem(key) = after else blockMem.remove(key)
        memNow += after - before
        memPeak = math.max(memPeak, memNow)
      case _ =>
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockMem.keys.filter(_._1 == e.rddId).toSeq.foreach { k =>
      memNow -= blockMem.remove(k).getOrElse(0L)
    }
  }
}

object PassListener {
  final case class Job(group: Option[String], start: Long, var end: Long = -1L)
  final class Stage(val tags: Set[String], val job: Option[Int]) {
    var start = -1L; var end = -1L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
}

/** Turns one traced pass into per-layer metrics.
  *
  * Self time partitions the pass' wall clock: an instant where stages run
  * is shared equally by the running stages, and a stage's share equally by
  * the operations that built its RDDs; an instant inside a job with no
  * stage running is the scheduler's (`spark_driver`); any other instant
  * belongs to the innermost open span, or to the harness outside all
  * spans.
  */
object PassReport {
  private val Mb = 1024.0 * 1024.0

  final case class Jvm(gcMs: Long, jitMs: Long)
  def jvmNow(): Jvm = Jvm(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L))

  def apply(l: PassListener, spans: Seq[Tracer.Span], startMs: Long,
      endMs: Long, wallS: Double, cores: Int, jvm0: Jvm, jvm1: Jvm,
      blocksLeft: Int): Map[String, Double] = l.synchronized {
    val opTime = mutable.Map[String, Double]().withDefaultValue(0.0)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    val opShuffle = mutable.Map[String, Double]().withDefaultValue(0.0)
    var driverOnly = 0.0

    val jobs = l.jobs.values.filter(j => j.end >= startMs && j.start <= endMs).toSeq
    val stages = l.stages.values.filter(s => s.end >= startMs && s.start <= endMs).toSeq
    def opsOf(s: PassListener.Stage): Seq[String] =
      if (s.tags.nonEmpty) s.tags.toSeq.sorted
      else s.job.flatMap(l.jobs.get).flatMap(_.group).toSeq
    for (s <- stages; ops = opsOf(s); op <- ops)
      opShuffle(op) += s.shuffleWrite.toDouble / ops.size

    val clip = (t: Long) => math.min(math.max(t, startMs), endMs)
    val cuts = (Seq(startMs, endMs) ++ jobs.flatMap(j => Seq(j.start, j.end)) ++
      stages.flatMap(s => Seq(s.start, s.end)) ++
      spans.flatMap(s => Seq(s.startMs, s.endMs))).map(clip).distinct.sorted
    for (Seq(t0, t1) <- cuts.sliding(2) if t1 > t0) {
      val dt = (t1 - t0) / 1000.0
      val mid = (t0 + t1) / 2.0
      val running = stages.filter(s => s.start <= mid && s.end >= mid)
      val inJob = jobs.exists(j => j.start <= mid && j.end >= mid)
      if (!inJob) driverOnly += dt
      if (running.nonEmpty) {
        for (s <- running) {
          val ops = opsOf(s)
          if (ops.isEmpty) self("bench") += dt / running.size
          for (op <- ops) {
            opTime(op) += dt / running.size / ops.size
            self(Tracer.layer(op)) += dt / running.size / ops.size
          }
        }
      } else if (inJob) self("spark_driver") += dt
      else spans.filter(s => s.startMs <= mid && s.endMs >= mid)
          .lastOption match {
        case Some(s) =>
          opTime(s.name) += dt; self(Tracer.layer(s.name)) += dt
        case None => self("bench") += dt
      }
    }

    def jobsIn(prefix: String): Double =
      jobs.count(_.group.exists(_.startsWith(prefix))).toDouble
    def shuffleIn(prefix: String): Double =
      opShuffle.filter(_._1.startsWith(prefix)).values.sum / Mb
    val taskRun = stages.map(_.runMs).sum / 1000.0
    val selfSum = self.values.sum
    val windowS = (endMs - startMs) / 1000.0

    val m = mutable.LinkedHashMap[String, Double]()
    for (op <- Tracer.Ops) m(op + "_s") = opTime(op)
    m("dia.jobs") = jobsIn("dia.")
    m("dia.shuffle_mb") = shuffleIn("dia.")
    m("operators.cc.jobs") = jobsIn("operators.cc.")
    m("operators.cc.shuffle_mb") = shuffleIn("operators.cc.")
    m("cache.blocks_left_at_pass_end") = blocksLeft
    m("cache.evicted_blocks") = l.evicted
    m("cache.storage_peak_mb") = l.memPeak / Mb
    m("spark.jobs") = jobs.size
    m("spark.stages") = stages.size
    m("spark.tasks") = stages.map(_.tasks).sum
    m("spark.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / Mb
    m("spark.shuffle_read_mb") = stages.map(_.shuffleRead).sum / Mb
    m("spark.spill_mb") = stages.map(_.spill).sum / Mb
    m("spark.task_run_s") = taskRun
    m("spark.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = stages.map(_.gcMs).sum / 1000.0
    m("spark.core_busy") = if (windowS > 0) taskRun / (windowS * cores) else 0.0
    m("spark.driver_only_s") = driverOnly
    m("jvm.gc_s") = (jvm1.gcMs - jvm0.gcMs) / 1000.0
    m("jvm.jit_s") = (jvm1.jitMs - jvm0.jitMs) / 1000.0
    for (k <- Seq("bench", "dia", "functions", "operators", "spark_driver"))
      m(s"self.${k}_s") = self(k)
    m("trace.selftime_err") = if (wallS > 0) math.abs(selfSum - wallS) / wallS else 0.0
    m.toMap
  }
}
