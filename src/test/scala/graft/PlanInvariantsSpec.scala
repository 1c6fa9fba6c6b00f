package graft

/** Suite-wide physical-plan regression net: every declared query's
  * pre-execution plan must satisfy the [[PlanInvariants]] denylist — no
  * CartesianProduct, no unbounded BroadcastNestedLoopJoin, no
  * empty-partition Window, no over-bound planned broadcast. The per-op
  * plan asserts (FunctionsSpec, CorpusSpec) pin individual operators;
  * this sweep catches the NEXT eager-broadcast-trap-shaped regression at
  * commit time instead of one bench column late (the round-8 trap was
  * found by a warm sf1 column). Same sweep standalone at any SF:
  * `runMain graft.Tool check`.
  */
class PlanInvariantsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("all declared queries satisfy the physical-plan denylist") {
    // static plans only: AQE would wrap the tree in query stages (and at
    // runtime only ever improves on the static choice being audited)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          PlanInvariants.check(fn(spark, sf),
              PlanInvariants.allow.getOrElse(name, Set.empty))
            .map(v => s"$name: $v")
      }
      assert(bad.isEmpty, "\n" + bad.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("connected-components round arms keep their exchange counts") {
    // the round loop runs eagerly inside the cluster gates' builders, so
    // the sweep above never sees a round plan; pin both arms of
    // ConnectedComponents.roundFor on the static plan (AQE and
    // auto-broadcast off, so only the arm's own broadcast hints apply)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec, ShuffleExchangeExec}
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bcWas = spark.conf.getOption(bcKey)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(bcKey, "-1")
    try {
      val e = spark.range(1000).selectExpr("id + 1 AS u", "id div 3 AS v")
      def exchanges(broadcastMin: Boolean): (Int, Int, Int) = {
        val p = graft.operators.ConnectedComponents
          .roundFor(e, broadcastMin).queryExecution.executedPlan
        (p.collect { case _: ShuffleExchangeExec => 1 }.size,
          p.collect { case _: BroadcastExchangeExec => 1 }.size,
          p.collect { case _: ReusedExchangeExec => 1 }.size)
      }
      // (shuffle, broadcast, reused) exchanges
      assert(exchanges(broadcastMin = false) === ((4, 0, 2)),
        "shared-exchange arm")
      assert(exchanges(broadcastMin = true) === ((3, 2, 2)),
        "broadcast-min arm")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      bcWas.fold(spark.conf.unset(bcKey))(spark.conf.set(bcKey, _))
    }
  }

  test("allowlist names only declared queries (no stale exemptions)") {
    val stale = PlanInvariants.allow.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist entries without a query: $stale")
  }
}
