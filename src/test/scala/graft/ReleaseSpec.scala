package graft

import graft.dia.DIA
import graft.operators.{Positional, Release}
import org.apache.spark.sql.functions._

/** Round-5 persist discipline: operator-local caches must be released
  * shortly after the action that consumed the operator's output — no
  * ContextCleaner reliance, no session-lifetime block accumulation.
  * Release is asynchronous (listener bus), hence the polling asserts.
  */
class ReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Poll until every id persisted since `pre` is gone (release is async). */
  private def awaitReleased(pre: Set[Int]): Unit = {
    val deadline = System.currentTimeMillis + 20000
    var leaked = persistedIds -- pre
    while (leaked.nonEmpty && System.currentTimeMillis < deadline) {
      Thread.sleep(100)
      leaked = persistedIds -- pre
    }
    assert(leaked.isEmpty, s"persisted RDDs leaked past the action: $leaked")
  }

  test("Release.afterNextAction fires on the next Dataset action only") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 4).cache()
    rdd.count()
    assert(rdd.getStorageLevel.useMemory)
    Release.afterNextAction(spark, rdd)
    // an RDD action must NOT fire it (operators' internal passes)
    rdd.count()
    Thread.sleep(300)
    assert(rdd.getStorageLevel.useMemory, "RDD action must not trigger release")
    spark.range(5).count() // a Dataset action does
    val deadline = System.currentTimeMillis + 20000
    while (rdd.getStorageLevel.useMemory && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(!rdd.getStorageLevel.useMemory)
  }

  test("datasetAfterConsumingAction: unrelated actions do NOT release; " +
      "the consuming action does") {
    val cached = spark.range(0, 2000).select($"id".as("v")).persist()
    cached.count() // materialize
    Release.datasetAfterConsumingAction(cached)
    // unrelated Dataset actions (plan does not contain the cached frame)
    spark.range(7).count()
    spark.range(9).agg(sum($"id")).head()
    Thread.sleep(500)
    assert(cached.storageLevel.useMemory,
      "unrelated action must not release the consumed-by cache")
    // a DERIVED frame's action contains the cached plan -> releases
    assert(cached.agg(sum($"v")).head().getLong(0) === 1999L * 2000L / 2)
    val deadline = System.currentTimeMillis + 20000
    while (cached.storageLevel.useMemory && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(!cached.storageLevel.useMemory, "consuming action must release")
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
    Release.datasetAfterNextAction(cached)
    assert(cached.agg(sum($"w")).head().getLong(0) === 4999L * 5000L)
    awaitReleased(pre)
  }
}
