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

  test("a connected-components round has one shape: three shuffles, no broadcast") {
    // the round loop runs eagerly inside the cluster gates' builders, so
    // the sweep above never sees a round plan; pin
    // ConnectedComponents.roundFor on the static plan (AQE off) with
    // auto-broadcast at its default and disabled: the shape must not
    // depend on it
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec, ShuffleExchangeExec}
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val bcWas = spark.conf.getOption(bcKey)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = spark.range(1000).selectExpr("id + 1 AS u", "id div 3 AS v")
      // (shuffle, broadcast, reused) exchanges
      def exchanges(): (Int, Int, Int) = {
        val p = graft.operators.ConnectedComponents.roundFor(e).queryExecution.executedPlan
        (p.collect { case _: ShuffleExchangeExec => 1 }.size,
          p.collect { case _: BroadcastExchangeExec => 1 }.size,
          p.collect { case _: ReusedExchangeExec => 1 }.size)
      }
      spark.conf.unset(bcKey)
      assert(exchanges() === ((3, 0, 0)), "auto-broadcast at its default")
      spark.conf.set(bcKey, "-1")
      assert(exchanges() === ((3, 0, 0)), "auto-broadcast off")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      bcWas.fold(spark.conf.unset(bcKey))(spark.conf.set(bcKey, _))
    }
  }

  test("lambda-rescan flags a tokenizer inlined into the shingle lambda, " +
      "not the cached form") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // not a local relation, so the pushed filter stays in the plan
      val docs = spark.range(0, 40).select(col("id"),
        concat_ws(" ", lit("w"), col("id").cast("string"), lit("x")).as("text"))
      val reps = docs.join(spark.range(0, 20), Seq("id"), "left_semi")
      val sets = reps.select(col("id"), Text.tokens(col("text")).as("__toks"))
        .select(col("id"), Text.shinglesOfTokens(col("__toks"), 2).as("ws"))
      // the filter is pushed below both projections: the tokens are
      // inlined into the transform lambda, re-split once per shingle
      val pushed = sets.filter(size(col("ws")) > 0).select(col("id"))
      val hits = PlanInvariants.check(pushed)
      assert(hits.nonEmpty && hits.forall(_.startsWith(s"[${PlanInvariants.LambdaRescan}]")),
        hits)
      assert(PlanInvariants.check(pushed, Set(PlanInvariants.LambdaRescan)).isEmpty)
      // a cache built from the inlined form is flagged where it is scanned
      val inlined = pushed.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val hit = PlanInvariants.check(inlined.select(col("id")))
        assert(hit.exists(_.startsWith(s"[${PlanInvariants.LambdaRescan}]")), hit)
      } finally inlined.unpersist(blocking = true)
      // splitting the lambda's own element is per-element work, not a rescan
      val perWord = docs.select(transform(split(col("text"), " "),
        w => size(split(w, "x"))).as("n"))
      assert(PlanInvariants.check(perWord).isEmpty)
      // over a cached column the filter cannot reach the tokenizer
      val cached = sets.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val filtered = cached.filter(size(col("ws")) > 0).select(col("id"))
        assert(PlanInvariants.check(filtered).isEmpty)
        assert(filtered.count() === 20)
      } finally cached.unpersist(blocking = true)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("allowlist names only declared queries (no stale exemptions)") {
    val stale = PlanInvariants.allow.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist entries without a query: $stale")
  }
}
