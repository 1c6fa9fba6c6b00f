package graft.operators

import org.apache.spark.sql.{DataFrame, GraftRowShim}
import org.apache.spark.sql.catalyst.expressions.{UnsafeRow, XXH64}
import org.apache.spark.sql.expressions.Window
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
  *  - Neighborhoods are NEVER materialized as values: each star op is a
  *    window minimum over the edges partitioned by node (`min(v) over
  *    (partition by u)`), so a celebrity node's neighbors stream through
  *    one task's spillable window buffer, never into an array.
  *  - A round has ONE physical shape at every size, with no join and no
  *    broadcast: one shuffle of the bidirectional edges on the node key
  *    (large-star's window), one of the oriented large-star output
  *    (small-star's window) and the round's trailing `distinct`. Only
  *    (node, node) pairs ever shuffle. Duplicates out of large-star are
  *    set-neutral for small-star, whose `distinct` re-establishes set
  *    semantics every round.
  *  - Each round runs one job of its own: it fills the round's cache from
  *    the plan's binary rows and, in the same pass, folds every partition
  *    to (row count, xor of a 64-bit hash of the row bytes) — the round's
  *    order-independent signature (Thrill's several-actions-in-one-pass).
  *    The round where the signature says "fixed point" is CONFIRMED
  *    exactly by one tagged-union symmetric-diff job, so the probabilistic
  *    check can never return a wrong answer, only (with probability
  *    ~2⁻⁶⁴) one wasted extra round.
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

  private val byNode = Window.partitionBy("u")

  /** large-star: for each node u, every strictly-larger neighbor is
    * re-pointed at min(N(u) ∪ {u}). Output edges are (larger, smaller),
    * never self-loops, and may repeat (at most one row per input edge).
    */
  private def largeStar(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u"), col("v"), min(col("v")).over(byNode).as("m"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("m"), col("u")).as("v"))

  /** small-star: edges oriented (big → small); each node's smaller
    * neighbors (and the node itself) are pointed at the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), min(col("v")).over(byNode).as("m"))
      .selectExpr("stack(2, v, m, u, m) AS (u, v)")
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Plan-evidence hook: the ONE-ROUND plan for a given edge frame,
    * exactly as the convergence loop builds it — lets PlanInvariantsSpec
    * pin its exchange counts and ConnectedComponentsSpec check it against
    * a local model (the loop runs eagerly inside query builders, so
    * gate-level explains never contain it).
    */
  private[graft] def roundFor(e: DataFrame): DataFrame = smallStar(largeStar(e))

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
    val sc = spark.sparkContext
    // Each round MUST cut logical-plan lineage, not just cache data: a
    // round plan references its input twice (large-star's bidirectional
    // union), so a plan chained over k rounds has O(2^k) leaves. The
    // round's binary rows are persisted and re-wrapped as a leaf scan
    // (the DataFrame analog of the reference's per-stage DIA
    // materialization), with an explicit unpersist handle per round.
    // Building the rows runs the plan's exchanges as jobs (AQE); the one
    // `cc:round` job then fills the cache and signs the edge set.
    def materialize(df: DataFrame, checkpoint: Boolean) = {
      val rows = Jobs.named(sc, "cc:materialize")(Positional.rowsOf(df))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // marked BEFORE the job, so the persisted blocks feed the write
      if (checkpoint) rows.checkpoint()
      // rowsOf yields UnsafeRows, whose writer zeroes unused bytes, so
      // equal edges of one schema hash equal
      val sig = Jobs.named(sc, "cc:round")(rows.mapPartitions { it =>
        var (n, x) = (0L, 0L)
        it.foreach { case r: UnsafeRow =>
          n += 1; x ^= XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        }
        Iterator((n, x))
      }.collect()).foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 ^ b._2))
      (rows, GraftRowShim.createFrame(spark, rows, df.schema), sig)
    }
    var (eRows, e, sig) = materialize(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u") =!= col("v")).distinct(), checkpoint = false)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val (nRows, next, nsig) = materialize(roundFor(e), checkpointEvery > 0 &&
        (it + 1) % checkpointEvery == 0 && sc.getCheckpointDir.isDefined)
      if (nsig == sig) {
        // exact confirmation: both sides are distinct sets (each round
        // ends in smallStar's dedup), so ONE tagged-union symmetric-diff
        // job decides; it runs only on the (normally unique)
        // signature-match round.
        converged = Jobs.named(sc, "cc:confirm")(next
          .select(col("u"), col("v"), lit(1L).as("__t"))
          .unionByName(e.select(col("u"), col("v"), lit(-1L).as("__t")))
          .groupBy(col("u"), col("v")).agg(sum(col("__t")).as("__s"))
          .filter(col("__s") =!= 0L)
          .isEmpty)
      }
      eRows.unpersist(blocking = false)
      eRows = nRows; e = next; sig = nsig; it += 1
    }
    if (!converged) {
      eRows.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents: no fixed point within $maxIter rounds " +
          "(bound is O(log² n) — raise maxIter for astronomically deep graphs)")
    }
    val roundsAcc = sc.longAccumulator("graft.cc.rounds")
    roundsAcc.add(it.toLong)
    // At the fixed point the edge set is disjoint stars (child → root):
    // every child labels itself with its root, every root with itself.
    Release.hold(spark, eRows)
    (e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct(), it)
  }
}
