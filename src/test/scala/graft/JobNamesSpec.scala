package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.dia.DIA
import graft.functions.Corpus
import graft.operators.{ConnectedComponents, Jobs, Positional}

/** The jobs an operator runs eagerly carry an `<operator>:<phase>`
  * description, and the caller's own description survives the call.
  */
class JobNamesSpec extends SparkSpec {
  import spark.implicits._
  import Jobs.Description

  /** Descriptions of the jobs `body` starts, in start order ("" for none).
    * A marker job before and after `body` bounds the window: the listener
    * bus delivers job starts in order, so everything between the markers
    * was started by `body`.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(Description)))
          .getOrElse(""))
    }
    def marker(name: String): Unit =
      Jobs.named(sc, name)(sc.parallelize(Seq(1), 1).count())
    def until(name: String): Seq[String] = Iterator.continually {
      val d = seen.poll(60, TimeUnit.SECONDS)
      assert(d != null, s"no job start event for $name within 60 s")
      d
    }.takeWhile(_ != name).toSeq
    sc.addSparkListener(listener)
    try {
      marker("spec:start")
      until("spec:start")
      body
      marker("spec:end")
      until("spec:end")
    } finally sc.removeSparkListener(listener)
  }

  test("eager jobs of zip and labelsWithRounds are named dia:/cc:") {
    val a = new DIA(spark.createDataset(1L to 200L).repartition(3))
    val b = new DIA(spark.createDataset(1L to 150L).repartition(2))
    val zipJobs = jobsOf(a.zip(b)(_ + _))
    assert(zipJobs.nonEmpty)
    assert(zipJobs.forall(_.startsWith("dia:")), zipJobs)

    val edges = (0L until 9L).map(i => (i + 1, i)).toDF("src", "dst")
    val ccJobs = jobsOf(ConnectedComponents.labelsWithRounds(edges))
    assert(ccJobs.nonEmpty)
    assert(ccJobs.forall(_.startsWith("cc:")), ccJobs)
    // the 9-edge chain: the initial distinct's exchange and its cc:round,
    // then 5 rounds of 3 exchanges and one cc:round each, and the
    // confirmation's 2 jobs
    assert(ccJobs.size === 24, ccJobs)
    assert(ccJobs.count(_ == "cc:round") === 6, ccJobs)
    assert(ccJobs.contains("cc:confirm") && !ccJobs.contains("cc:signature"), ccJobs)
  }

  test("scan, window and sample over a shuffled input name its exchange jobs too") {
    // with AQE on, `ds.rdd` of a repartitioned input runs its exchange as
    // a job, before the operator's own metadata pass
    def shuffled = new DIA(spark.createDataset(1L to 120L).repartition(3))
    for ((op, run) <- Seq[(String, DIA[Long] => Any)](
        "prefixSum" -> (_.prefixSum(_ + _)),
        "window" -> (_.window(3)((_, w) => w.sum)),
        "sample" -> (_.sample(10)),
        "windowDisjoint" -> (_.windowDisjoint(3)((_, w) => w.sum)),
        "sortStableBy" -> (_.sortStableBy(x => x % 7)),
        "concat" -> (_.concat(shuffled)),
        "zipLocal" -> (_.zipLocal(shuffled)(_ + _)))) {
      val jobs = jobsOf(run(shuffled))
      assert(jobs.size >= 2, s"$op: $jobs")
      assert(jobs.forall(_.startsWith("dia:")), s"$op: $jobs")
    }
    // the exchange, then the count pass that fills the index's cache
    assert(jobsOf(shuffled.zipWithIndex((_, i) => i)) ===
      Seq("dia:zip_with_index", "dia:zip_with_index"))
    // RunMerge names its own sampling job merge:range_sample
    val mergeJobs = jobsOf(shuffled.merge(shuffled)(identity))
    assert(mergeJobs.count(_ == "dia:merge_inputs") === 2, mergeJobs)
    assert(mergeJobs.forall(j => j.startsWith("dia:") || j.startsWith("merge:")), mergeJobs)
    // the DataFrame ops: an exchange job, then the op's own pass
    def df(name: String) = spark.range(0, 120).select($"id".as(name)).repartition(3)
    for ((op, run) <- Seq[(String, () => Any)](
        "zipWithIndex" -> (() => Positional.zipWithIndex(df("v"))),
        "prefixSumLong" -> (() => Positional.prefixSumLong(df("v"), "v", "s")),
        "slidingSumLong" -> (() => Positional.slidingSumLong(df("v"), "v", 3, "s")),
        "zipByIndex" -> (() => Positional.zipByIndex(df("v"), df("w"))),
        "zipByIndex pad" -> (() => Positional.zipByIndex(df("v"), df("w"), pad = true)),
        "zipAllByIndex" -> (() => Positional.zipAllByIndex(Seq(df("v"), df("w")))),
        "concatOrdered" -> (() => Positional.concatOrdered(Seq(df("v"), df("v")))),
        "rebalance" -> (() => Positional.rebalance(df("v"), 4)),
        "mergeSortedNoResort" ->
          (() => Positional.mergeSortedNoResort(Seq(df("v"), df("v")), Seq("v"))))) {
      val jobs = jobsOf(run())
      assert(jobs.size >= 2, s"$op: $jobs")
      assert(jobs.forall(j => j.startsWith("positional:") || j.startsWith("merge:")),
        s"$op: $jobs")
    }
  }

  test("zip reads each input once before its output action") {
    // no exchange below the inputs: every job is the zip's own
    val a = DIA.generate(spark, 200L, numSlices = 3)(identity)
    val b = DIA.generate(spark, 150L, numSlices = 2)(identity)
    var zipped: DIA[Long] = null
    assert(jobsOf { zipped = a.zip(b)(_ + _) } === Seq("dia:align_counts", "dia:align_counts"))
    assert(zipped.allGather() === (0L until 150L).map(_ * 2))
  }

  test("zipWithIndex of a one-partition input runs no job and caches nothing") {
    // its only start offset is 0: no count pass, no cache to fill
    val one = spark.range(0, 50, 1, 1).toDF("v")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    var indexed: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { indexed = Positional.zipWithIndex(one) } === Seq())
    var indexedDia: DIA[(Long, Long)] = null
    assert(jobsOf {
      indexedDia = DIA.generate(spark, 50L, numSlices = 1)(identity).zipWithIndex((v, i) => (v, i))
    } === Seq())
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
    assert(indexed.as[(Long, Long)].collect().toSeq === (0L until 50L).map(i => (i, i)))
    assert(indexedDia.allGather() === (0L until 50L).map(i => (i, i)))
  }

  test("contaminatedDocsBloom names its eager bench-side jobs corpus:") {
    val train = Seq((1L, "the quick brown fox jumps"), (2L, "lorem ipsum dolor"))
      .toDF("doc_id", "text")
    val bench = Seq("quick brown fox", "nothing shared here").toDF("text")
    val jobs = jobsOf(Corpus.contaminatedDocsBloom(train, "doc_id", "text", bench, "text", 2))
    assert(jobs.contains("corpus:bench_grams") && jobs.contains("corpus:bloom"), jobs)
    assert(jobs.forall(_.startsWith("corpus:")), jobs)
  }

  test("the caller's job description is restored, also when the body throws") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val a = new DIA(spark.createDataset(1L to 50L).repartition(2))
      val zipped = a.zip(a)(_ + _)
      assert(sc.getLocalProperty(Description) === "caller")
      // the caller's action runs under the caller's name
      assert(jobsOf(zipped.size).forall(_ == "caller"))
      intercept[IllegalStateException](
        Jobs.named(sc, "dia:fails")(throw new IllegalStateException("boom")))
      assert(sc.getLocalProperty(Description) === "caller")
    } finally sc.setJobDescription(null)
    Jobs.named(sc, "dia:x")(())
    assert(sc.getLocalProperty(Description) === null)
  }
}
