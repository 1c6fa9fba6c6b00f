package graft

/** The one session config: the `SPARK_GRAFT_EXTRA_CONF` parse, the conf
  * table, and the suite session carrying that table.
  */
class GraftSessionSpec extends SparkSpec {

  test("extra conf parse: pairs, a keyless pair dropped, values keep '='") {
    assert(GraftSession.parseExtraConf("k=v;k2=v2") === Seq("k" -> "v", "k2" -> "v2"))
    assert(GraftSession.parseExtraConf("=v;k=v") === Seq("k" -> "v"))
    assert(GraftSession.parseExtraConf("novalue;;k=") === Seq("k" -> ""))
    assert(GraftSession.parseExtraConf("a=b=c") === Seq("a" -> "b=c"))
  }

  test("conf table: shuffle partitions = cpus, 1m splits, UTC, bloom filter on") {
    val c = GraftSession.conf(6).toMap
    assert(c("spark.sql.shuffle.partitions") === "6")
    assert(c("spark.sql.files.maxPartitionBytes") === "1m")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.sql.optimizer.runtime.bloomFilter.enabled") === "true")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.ui.enabled") === "false")
  }

  test("the suite session carries the conf table apart from its 7 partitions") {
    assert(spark.sparkContext.master === "local[4]")
    val want = (GraftSession.conf(4) ++ GraftSession.extraConf).toMap +
      ("spark.sql.shuffle.partitions" -> "7")
    want.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }
}
