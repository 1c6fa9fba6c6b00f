package graft

import org.apache.spark.sql.{CacheCountShim, GraftBusShim}

/** Smoke: every declared query runs end-to-end on sf0.001 and the flagship
  * returns rows. Value-level correctness is the DuckDB oracle gate
  * (tools/check_oracles.py, driven by graft.Verify).
  */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every query has either an oracle or a documented rows-only check") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep the rows-only set deliberate and small
    assert(noOracle.subsetOf(
      Set("q_hll", "q_simhash", "q_lang_id", "q_ann_topk", "q_ann_ivf",
        "q_pagerank")), noOracle)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Each gate is one Release scope: its consuming action must leave no
  // RDD persisted and no Dataset cached while the gate was built. Local
  // checkpoints are not caches: their blocks ARE a frame's data, and they
  // go with the frame.
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val cached = CacheCountShim.entries(spark)
      val df = fn(spark, sf)
      assert(df.count() >= 0)
      GraftBusShim.drain(spark)
      val left = spark.sparkContext.getPersistentRDDs
        .collect { case (id, r) if !rdds(id) && !r.isCheckpointed => id }
      assert(left.isEmpty, s"$name leaves persisted RDDs $left")
      val cachedNow = CacheCountShim.entries(spark)
      assert(cachedNow <= cached, s"$name leaves ${cachedNow - cached} cached Datasets")
    }
  }
}
