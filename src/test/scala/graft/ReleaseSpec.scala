package graft

import graft.dia.DIA
import graft.functions.Dedup
import graft.operators.{Positional, Release}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.GraftBusShim
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scope contract of [[Release]]: operator-local caches go at the
  * first Dataset action after their outermost scope returns — never at an
  * RDD action or at `Dataset.rdd`, never at a Dataset action inside the
  * scope. Releases block on the listener-bus thread, so one bus drain
  * after an action is enough to observe them; no polling.
  */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def drain(): Unit = GraftBusShim.drain(spark)

  /** Every id persisted since `pre` is gone once the bus is drained. */
  private def awaitReleased(pre: Set[Int]): Unit = {
    drain()
    val leaked = persistedIds -- pre
    assert(leaked.isEmpty, s"persisted RDDs leaked past the action: $leaked")
  }

  private def cachedFrame() = {
    val df = spark.range(0, 2000).select($"id".as("v")).persist()
    df.count()
    df
  }

  /** A driver-only broadcast that records its unpersist. */
  private final class Recorded extends Broadcast[Int](-1L) {
    @volatile var unpersisted = false
    override protected def getValue(): Int = 1
    override protected def doUnpersist(blocking: Boolean): Unit = unpersisted = true
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  test("a hold is not released by an RDD action") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 4).cache()
    rdd.count()
    Release.hold(spark, rdd)
    rdd.count()
    drain()
    assert(rdd.getStorageLevel.useMemory, "RDD action must not release")
    spark.range(5).count()
    drain()
    assert(!rdd.getStorageLevel.useMemory)
  }

  test("a hold is not released by `Dataset.rdd`") {
    // Spark reports building a Dataset's RDD to the listeners as "rdd";
    // every positional op builds its input that way
    val rdd = spark.sparkContext.parallelize(1 to 100, 4).cache()
    rdd.count()
    Release.hold(spark, rdd)
    spark.range(0, 10).select(($"id" * 2).as("w")).as[Long].rdd
    drain()
    assert(rdd.getStorageLevel.useMemory, "Dataset.rdd must not release")
    spark.range(3).count()
    drain()
    assert(!rdd.getStorageLevel.useMemory)
  }

  test("a hold is not released by any Dataset action inside its scope") {
    val cached = cachedFrame()
    val out = Release.scope(spark) {
      Release.hold(cached)
      spark.range(7).count()
      // an action whose plan contains the held frame
      assert(cached.agg(sum($"v")).head().getLong(0) === 1999L * 2000L / 2)
      drain()
      assert(cached.storageLevel.useMemory, "an action inside the scope released")
      cached.select(($"v" * 2).as("w"))
    }
    drain()
    assert(cached.storageLevel.useMemory, "the scope's return released")
    assert(out.count() === 2000L)
    drain()
    assert(!cached.storageLevel.useMemory,
      "the first Dataset action after the scope returns must release")
  }

  test("a nested scope hands off once, at the outermost return") {
    val cached = cachedFrame()
    Release.scope(spark) {
      Release.scope(spark)(Release.hold(cached))
      spark.range(3).count()
      drain()
      assert(cached.storageLevel.useMemory, "the inner scope handed off")
    }
    spark.range(3).count()
    drain()
    assert(!cached.storageLevel.useMemory)
  }

  test("RDD, Dataset and broadcast holds are all released") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 2).cache()
    rdd.count()
    val cached = cachedFrame()
    val bc = new Recorded
    Release.scope(spark) {
      Release.hold(spark, rdd)
      Release.hold(cached)
      Release.hold(spark, bc)
    }
    assert(!bc.unpersisted)
    spark.range(3).count()
    drain()
    assert(!rdd.getStorageLevel.useMemory)
    assert(!cached.storageLevel.useMemory)
    assert(bc.unpersisted)
  }

  test("a failed consuming action releases; a throwing scope releases at once") {
    val cached = cachedFrame()
    Release.hold(cached)
    val boom = udf((x: Long) => { if (x >= 0) throw new RuntimeException("boom"); x })
    intercept[Exception](spark.range(3).select(boom($"id")).collect())
    drain()
    assert(!cached.storageLevel.useMemory, "a failed action must release")

    val again = cachedFrame()
    intercept[IllegalStateException](Release.scope(spark) {
      Release.hold(again)
      throw new IllegalStateException("body failed")
    })
    assert(!again.storageLevel.useMemory, "a throwing scope must release at once")
  }

  test("dupClusters keeps the staged parts through CC's own actions") {
    // three near-dup chains (one word changed per step) and singletons:
    // the staged path verifies star pairs, then runs CC, whose fixed-point
    // confirmation is a Dataset action
    val words = (0 until 30).map(i => s"w$i")
    val chains = for (c <- 0 until 3; k <- 0 until 4) yield
      (c * 10L + k, words.updated(k, s"c${c}x$k").map(w => s"$c$w").mkString(" "))
    val singles = (0 until 3).map(i => (100L + i, s"lone doc $i with its own words only"))
    val docs = (chains ++ singles).toDF("doc_id", "text")
    val pre = persistedIds
    val labels = Dedup.dupClusters(docs, "doc_id", "text", 0.7, staged = Some(true))
    drain()
    // bt, capped, sets and starHits, and the text groups' keyed and grp
    val held = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !pre(id) }.values
    assert(held.size >= 6, s"staged parts released by an action inside the call: $held")
    assert(held.exists(_.getStorageLevel == StorageLevel.DISK_ONLY),
      "the DISK_ONLY shingle-set snapshot was released by CC")
    val byLabel = labels.as[(Long, Long)].collect().groupBy(_._2).values
      .map(_.map(_._1).toSet).toSet
    assert(byLabel === (0 until 3).map(c => (0 until 4).map(c * 10L + _).toSet).toSet ++
      (0 until 3).map(i => Set(100L + i)))
    awaitReleased(pre)
  }

  test("positional/zip/window/sample ops leave no persisted blocks behind") {
    val d = DIA.generate(spark, 10000L, numSlices = 4)(identity)

    var pre = persistedIds
    assert(d.prefixSum(_ + _).size === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.exPrefixSum(0L)(_ + _).size === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.window(3)((_, w) => w.sum).size === 9998L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.sample(100).size === 100L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.zip(d)(_ + _).size === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.zipPad(d.filter(_ < 5000L), -1L, -1L)(_ + _).size === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.zip3(d, d)(_ + _ + _).size === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.zipWindow(d, 2, 5)((a, b) => a.sum + b.sum).size === 2000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(d.rebalance(8).size === 10000L)
    awaitReleased(pre)
  }

  test("DataFrame-level ops (sliding sum, prefix sum, concat) release too") {
    val df = spark.range(0, 5000).select($"id".as("v")).repartition(4)

    var pre = persistedIds
    assert(Positional.slidingSumLong(df, "v", 7, "s").count() === 5000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.prefixSumLong(df, "v", "s").count() === 5000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.concatOrdered(Seq(df, df)).count() === 10000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.zipWithIndex(df).count() === 5000L)
    awaitReleased(pre)

    val other = df.select($"v".as("w"))
    pre = persistedIds
    assert(Positional.zipByIndex(df, other).count() === 5000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.zipByIndex(df, other.limit(100), pad = true).count() === 5000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.zipAllByIndex(Seq(df, other)).count() === 5000L)
    awaitReleased(pre)

    pre = persistedIds
    assert(Positional.rebalance(df, 3).count() === 5000L)
    awaitReleased(pre)

    // cached DATASET release (the q_pipeline shape): persist, consume, gone
    pre = persistedIds
    val cached = df.withColumn("w", $"v" * 2).persist()
    Release.hold(cached)
    assert(cached.agg(sum($"w")).head().getLong(0) === 4999L * 5000L)
    awaitReleased(pre)
  }
}
