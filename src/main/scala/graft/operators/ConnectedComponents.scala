package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an edge list — the missing piece
  * between near-dup PAIRS and near-dup CLUSTERS: production corpus dedup
  * keeps one representative per transitively-connected duplicate group,
  * which is a connected-components problem over the verified-pair graph.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public paper). Each round:
  *
  *   large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
  *   small-star(u): orient edges (big → small); connect every smaller
  *                  neighbor (and u itself) to m = min(N(u) ∪ {u})
  *
  * The edge set converges to disjoint stars whose centers are the component
  * minima, in O(log² n) rounds (O(log n) in practice on dedup graphs, whose
  * components are shallow).
  *
  * 100 TB posture:
  *  - Neighborhoods are NEVER materialized: each star op is a hash
  *    aggregate (min per node) plus an equi-join of the edge list against
  *    that O(#nodes) minimum table — no `collect_list`, so a celebrity node
  *    with 10⁸ neighbors costs a mergeable `min`, not an array build.
  *  - Only (node, label) pairs ever shuffle. Per round (r17): ONE
  *    shuffle of the bidirectional edge set (ReuseExchange serves both
  *    the min-aggregate and the join probe from it), one of the
  *    large-star output (again shared by aggregate and join), and one
  *    dedup exchange at the round's end — large-star's intermediate
  *    distinct is gone (duplicates are set-neutral for both star ops and
  *    bounded at one row per input edge; small-star's trailing distinct
  *    re-establishes set semantics every round).
  *    (Chaining TWO rounds into one action was tried and REJECTED in r17:
  *    a star op references its input through exchanges that differ by
  *    partial-aggregate placement, so across a round boundary nothing
  *    reuses and a chained round recomputes its predecessor — measured
  *    2.4× slower on the 1M-edge microbench. One materialized round per
  *    action is the floor.)
  *  - Convergence is detected with an O(1)-row signature per round
  *    (edge count + `bit_xor` of `xxhash64(u, v)` — order-independent,
  *    overflow-free) and then CONFIRMED exactly on the round where the
  *    signature says "fixed point": a single tagged-union symmetric-diff
  *    job (r17, replacing the two-sided `except` pair), so the
  *    probabilistic check can never return a wrong answer, only (with
  *    probability ~2⁻⁶⁴) one wasted extra round.
  *  - Each round's edge set is persisted and the previous round's released
  *    immediately; `checkpointEvery` additionally writes a reliable
  *    checkpoint of the edge RDD every N rounds (when the session
  *    has a checkpoint dir), truncating RDD lineage so a lost executor on
  *    a long-converging graph recomputes at most ~N rounds instead of the
  *    whole history.
  *
  * The reference has no graph layer; this is part of the training-data
  * superset (its InnerJoin/ReduceByKey primitives compose the same way —
  * thrill/api/join.hpp, thrill/api/reduce_by_key.hpp).
  */
object ConnectedComponents {

  /** (count, xor-of-hash) signature of an edge set — order-independent and
    * collision-safe enough to gate the single exact confirmation.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = Jobs.named(e.sparkSession.sparkContext, "cc:signature")(
      e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("x")).head())
    (r.getLong(0), r.getLong(1))
  }

  /** large-star: for each node u, every strictly-larger neighbor is
    * re-pointed at min(N(u) ∪ {u}). Output edges are (larger, smaller),
    * never self-loops.
    *
    * r17 (guide §2.4): NO trailing distinct — the output may carry
    * duplicate (u, v) rows (at most one per input edge, so volume stays
    * bounded by the round's input), and [[smallStar]]'s trailing
    * distinct re-establishes set semantics at the end of every round.
    * The separate dedup exchange this replaces shuffled the full edge
    * set once more per round; duplicates are set-neutral for both star
    * ops (min is idempotent, the joins key on the same rows).
    */
  /** Round-shape dispatch bound (r17): at or below this many edges the
    * per-node minimum table is BROADCAST into the star joins — the edge
    * set then never fully shuffles before the round's dedup (the only
    * full-edge exchange left in a round), which is the winning shape at
    * gate scale where every frame is broadcast-sized anyway. Above it,
    * one explicit hash exchange on the node key feeds both the
    * min-aggregate and the join probe (guide §2.4) — the winning shape
    * at scale, where the min table is O(#nodes) and must not be
    * collected. 200k edges bounds the broadcast relation at ~400k node
    * rows (~6 MB — the autoBroadcastJoinThreshold ballpark); measured
    * crossover: at 1M edges the broadcast arm's per-round driver
    * round-trip already loses to the shared exchange (24.0 vs 15.3 s
    * median on the chains+star microbench), while the sf0.1 cluster
    * gates (hundreds of edges) lose ~2× under the exchange arm. The
    * exact edge count is free each round: the convergence signature
    * already counts it.
    */
  private[graft] val BroadcastMinMaxEdges = 200L * 1000

  private def largeStar(e: DataFrame, broadcastMin: Boolean): DataFrame = {
    // Large arm: ONE explicit hash exchange on the node key feeds BOTH
    // the min-aggregate and the join probe (guide §2.4: repartition(k) +
    // groupBy(k)/join(k) share the exchange — the aggregate runs
    // exchange-free above it, the join sees both sides co-partitioned,
    // and ReuseExchange serves the two consumers from one shuffle). The
    // historical shape shuffled bidir twice per round (the agg's
    // partial-aggregate exchange and the join's plain exchange are
    // different subtrees, so nothing reused).
    val bidir0 = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val bidir = if (broadcastMin) bidir0 else bidir0.repartition(col("u"))
    val m = bidir.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    bidir.join(if (broadcastMin) broadcast(m) else m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** small-star: edges oriented (big → small); each node's smaller
    * neighbors (and the node itself) are pointed at the minimum.
    */
  private def smallStar(e: DataFrame, broadcastMin: Boolean): DataFrame = {
    // same shape dispatch as [[largeStar]]
    val or0 = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val or = if (broadcastMin) or0 else or0.repartition(col("u"))
    val m = or.groupBy("u").agg(min(col("v")).as("m"))
    val fromNbrs = or.join(if (broadcastMin) broadcast(m) else m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val fromSelf = m.select(col("u"), col("m").as("v"))
    fromNbrs.union(fromSelf).distinct()
  }

  /** Plan-evidence hook (r17): the ONE-ROUND plan for a given edge frame
    * and shape arm, exactly as the convergence loop builds it — lets
    * PlanInvariantsSpec pin the exchange counts and the plans/r17 dumps
    * show the round shape (the loop runs eagerly inside query builders,
    * so gate-level explains never contain it).
    */
  private[graft] def roundFor(e: DataFrame, broadcastMin: Boolean): DataFrame =
    smallStar(largeStar(e, broadcastMin), broadcastMin)

  /** Component labels for every node that appears in `edges`:
    * (id, component) with component = the minimum node id of the connected
    * component. Nodes with no edges do not appear (callers `coalesce` to
    * the node's own id — see `Dedup.dupClusters`). Ids may be any orderable
    * Spark type; both columns must share it.
    */
  def labels(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 25, checkpointEvery: Int = 0): DataFrame =
    labelsWithRounds(edges, srcCol, dstCol, maxIter, checkpointEvery)._1

  /** As [[labels]], also returning the number of large-star/small-star
    * rounds run before the fixed point was CONFIRMED — production
    * observability for convergence: deep adversarial graphs converge in
    * O(log² n) rounds, so a job whose round count creeps toward `maxIter`
    * should alert before it starts failing. The same count is published
    * through the named driver accumulator `graft.cc.rounds` (visible to
    * Spark UI/metrics scrapers without changing call sites).
    */
  def labelsWithRounds(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 25,
      checkpointEvery: Int = 0): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // Each round MUST cut logical-plan lineage, not just cache data: a
    // star op references its input ~4× (bidir union + min-table join), so
    // a plan chained over k rounds has O(16^k) tree nodes — analysis cost
    // explodes long before the data does. Materializing to a persisted
    // RDD[Row] and re-wrapping with createDataFrame makes every round a
    // leaf scan (the DataFrame analog of the reference's per-stage DIA
    // materialization), and gives an explicit unpersist handle per round.
    // with AQE on, `df.rdd` runs the plan's exchanges as jobs right here
    def materialize(df: DataFrame) = {
      val rdd = Jobs.named(spark.sparkContext, "cc:materialize")(df.rdd)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (rdd, spark.createDataFrame(rdd, df.schema))
    }
    var (eRdd, e) = materialize(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var sig = signature(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // the signature's exact edge count picks this round's shape —
      // broadcast-min under BroadcastMinMaxEdges, shared-exchange above
      val bcast = sig._1 <= BroadcastMinMaxEdges
      val (nRdd, next) = materialize(smallStar(largeStar(e, bcast), bcast))
      // reliable checkpoint every N rounds: marked BEFORE the signature
      // action so the persisted blocks (not a recompute) feed the write
      if (checkpointEvery > 0 && (it + 1) % checkpointEvery == 0 &&
          spark.sparkContext.getCheckpointDir.isDefined)
        nRdd.checkpoint()
      val nsig = signature(next)
      if (nsig == sig) {
        // exact confirmation: both sides are distinct sets (each round
        // ends in smallStar's dedup), so ONE tagged-union symmetric-diff
        // job replaces the historical two-sided `except` pair (r17); it
        // runs only on the (normally unique) signature-match round.
        converged = Jobs.named(spark.sparkContext, "cc:confirm")(next
          .select(col("u"), col("v"), lit(1L).as("__t"))
          .unionByName(e.select(col("u"), col("v"), lit(-1L).as("__t")))
          .groupBy(col("u"), col("v")).agg(sum(col("__t")).as("__s"))
          .filter(col("__s") =!= 0L)
          .isEmpty)
      }
      eRdd.unpersist(blocking = false)
      eRdd = nRdd; e = next; sig = nsig; it += 1
    }
    if (!converged) {
      eRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents: no fixed point within $maxIter rounds " +
          "(bound is O(log² n) — raise maxIter for astronomically deep graphs)")
    }
    val roundsAcc = spark.sparkContext.longAccumulator("graft.cc.rounds")
    roundsAcc.add(it.toLong)
    // At the fixed point the edge set is disjoint stars (child → root):
    // every child labels itself with its root, every root with itself.
    Release.afterNextAction(spark, eRdd)
    (e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct(), it)
  }
}
