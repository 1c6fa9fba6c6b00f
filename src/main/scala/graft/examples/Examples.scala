package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's acceptance workloads (SURVEY.md §7 step 7), re-expressed
  * Spark-first. These are the pipelines thrill ships as examples and tests
  * (tests/examples, the *_test.cpp files); here each is a declarative plan that
  * Catalyst can optimize, asserted against in-memory reference computations
  * in ExamplesSpec.
  */
object Examples {

  /** PageRank (examples/page_rank/page_rank.hpp:80-206). The reference
    * builds it from ReduceToIndex + InnerJoin; the Spark-native form is an
    * iterated join-aggregate on (src,dst) edges. Dangling nodes contribute
    * their rank uniformly (standard formulation). `iters` fixed like the
    * reference's iterative loop.
    *
    * Scale notes: `edges` is hash-partitioned on src once and reused every
    * iteration (persist); ranks are the only iterating state. At 1000
    * executors the per-iteration cost is one shuffle of the rank table.
    */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().persist()
    val n = nodes.count().toDouble
    val degrees = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = edges.join(degrees, "src").persist()
    // localCheckpoint each iteration: caches the state AND truncates the
    // plan/lineage, so the per-iteration dangling-mass action doesn't
    // recompute all prior rounds (quadratic) and the logical plan doesn't
    // nest `iters` deep (AQE's plan stringification OOMs past ~10 rounds).
    // On a real cluster prefer reliable checkpoint(dir) — localCheckpoint
    // is not fault-tolerant to executor loss.
    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    for (_ <- 0 until iters) {
      val contribs = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("contrib"))
      // dangling mass stays IN the plan as a broadcast one-row aggregate —
      // a driver-side .head() here would add a second full job per round
      val dangling = ranks
        .join(degrees, ranks("node") === degrees("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      val summed = contribs.groupBy("node").agg(sum("contrib").as("c"))
      ranks = nodes.join(summed, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) * col("dm") / lit(n) +
            lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    // the last checkpoint holds the ranks; nothing reads the caches now
    nodes.unpersist(); adj.unpersist()
    ranks
  }

  /** K-Means / Lloyd's algorithm (examples/k-means/k-means.hpp). Points are
    * (id, vec) rows; centroids broadcast each iteration (k is small), the
    * assignment is a single scan, the centroid update one aggregation.
    *
    * Deterministic by construction (unlike the reference's random init,
    * k-means.hpp uses Sample): initial centroids are the k lowest-id
    * points, so runs — and the DuckDB oracle — reproduce exactly. Clusters
    * that lose all members keep their previous centroid, and the centroid
    * array keeps its 0..k-1 order so tie-breaking favors the lowest id.
    */
  def kMeans(points: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 10): DataFrame = {
    var centroids: Array[(Int, Seq[Double])] = points
      .orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](0).map(_.toDouble))
      }
    val assignUdf = (cents: Array[(Int, Seq[Double])]) => udf { (v: Seq[Float]) =>
      var best = -1; var bestD = Double.MaxValue
      cents.foreach { case (cid, c) =>
        var d = 0.0; var i = 0
        val dim = math.min(c.length, v.length)
        while (i < dim) { val t = c(i) - v(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = cid }
      }
      best
    }
    for (_ <- 0 until iters) {
      val assigned = points.withColumn("cluster", assignUdf(centroids)(col(vecCol)))
      val dim = centroids.head._2.length
      val cols = col("cluster") +:
        (0 until dim).map(i => element_at(col(vecCol), i + 1).cast("double").as(s"x$i"))
      val sums = assigned
        .select(cols: _*)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i => sum(col(s"x$i")).as(s"s$i")): _*)
        .collect()
      val updated = sums.map { r =>
        val cid = r.getInt(0); val n = r.getLong(1).toDouble
        cid -> (0 until dim).map(i => r.getDouble(2 + i) / n)
      }.toMap
      centroids = centroids.map { case (cid, c) =>
        (cid, updated.getOrElse(cid, c))
      }
    }
    val finalAssign = points.withColumn("cluster", assignUdf(centroids)(col(vecCol)))
    finalAssign.select(col(idCol), col("cluster"))
  }

  /** Triangle counting (examples/triangles/triangles.hpp:49-69): two
    * self-joins on an oriented edge list (src < dst) — exactly the
    * reference's InnerJoin composition; Catalyst plans the join order.
    */
  def countTriangles(edges: DataFrame): Long = {
    val e = edges.filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct().persist()
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b"), col("dst").as("c"))
    val ac = e.select(col("src").as("a"), col("dst").as("c"))
    val n = ab.join(bc, "b").join(ac, Seq("a", "c")).count()
    e.unpersist()
    n
  }

  /** TeraSort shape (examples/terasort/terasort.cpp:186-199): global sort
    * of (key, payload) records ≡ sample-based range partition + external
    * sort — Spark's orderBy (SURVEY.md §3.2).
    */
  def teraSort(records: DataFrame, keyCol: String): DataFrame =
    records.orderBy(col(keyCol))

  /** Suffix array by prefix doubling (examples/suffix_sorting/
    * prefix_doubling.hpp): round k sorts (rank[i], rank[i+k]) pairs and
    * re-ranks densely; ranks double their discriminating prefix each round
    * until all are distinct. Every step is distributed: the pair join is a
    * shuffle on the shifted index, the dense re-rank is orderBy +
    * Positional.zipWithIndex + a change-indicator prefix sum (no
    * single-task global window). Out-of-range positions rank -1, so a
    * shorter suffix sorts before any suffix it prefixes — standard suffix
    * order.
    *
    * Returns (pos, suffix): `pos` is the suffix's position in sorted
    * order, `suffix` its start index.
    */
  def suffixArray(text: String, spark: SparkSession,
      numSlices: Int = 4): DataFrame = {
    import spark.implicits._
    val n = text.length.toLong
    require(n > 0, "empty text")
    import spark.implicits._
    var ranks = spark.createDataset(
        text.zipWithIndex.map { case (c, i) => (i.toLong, c.toLong) })
      .toDF("i", "r").repartition(numSlices).localCheckpoint()
    var k = 1L
    var done = false
    while (!done && k < 2 * n) {
      val shifted = ranks.select((col("i") - k).as("i"), col("r").as("r2"))
      // explicit numSlices range partitions: the default
      // spark.sql.shuffle.partitions would schedule mostly-empty tasks on
      // a per-round working set this small
      val sorted = ranks.join(shifted, Seq("i"), "left")
        .na.fill(-1L, Seq("r2"))
        .repartitionByRange(numSlices, col("r"), col("r2"))
        .sortWithinPartitions(col("r"), col("r2"))
        .as[(Long, Long, Long)].rdd
      sorted.cache()
      // dense re-rank in two passes (≡ net.ExPrefixSum of per-partition
      // key-change counts + the partition-boundary comparisons): pass 1
      // ships O(#partitions) (first, last, changes) triples to the driver,
      // pass 2 assigns ranks partition-locally from the folded offsets.
      val meta = sorted.mapPartitionsWithIndex { (pid, it) =>
        var first: (Long, Long) = null
        var last: (Long, Long) = null
        var changes = 0L
        it.foreach { case (_, r, r2) =>
          val key = (r, r2)
          if (first == null) first = key
          else if (key != last) changes += 1
          last = key
        }
        Iterator((pid, first, last, changes))
      }.collect().sortBy(_._1).filter(_._2 != null)
      val offsets = new scala.collection.mutable.HashMap[Int, Long]
      var acc = 0L
      var prevLast: (Long, Long) = null
      meta.foreach { case (pid, first, last, changes) =>
        if (prevLast != null && first != prevLast) acc += 1
        offsets(pid) = acc
        acc += changes
        prevLast = last
      }
      done = acc == n - 1 // all n ranks distinct — no extra job needed
      val bc = spark.sparkContext.broadcast(offsets.toMap)
      val ranked = sorted.mapPartitionsWithIndex { (pid, it) =>
        var rank = bc.value.getOrElse(pid, 0L)
        var last: (Long, Long) = null
        it.map { case (i, r, r2) =>
          val key = (r, r2)
          if (last != null && key != last) rank += 1
          last = key
          (i, rank)
        }
      }.toDF("i", "r").localCheckpoint()
      sorted.unpersist(false)
      ranks = ranked
      k *= 2
    }
    ranks.select(col("r").as("pos"), col("i").as("suffix"))
  }

  /** Minibatch SGD for logistic loss
    * (examples/stochastic_gradient_descent/): like
    * [[logisticRegression]] but each step's gradient comes from a
    * deterministic 1/m rotating slice of the data ((id + step) % m == 0)
    * instead of the full batch — reproducible across engines and runs,
    * where the reference's random minibatch is not. One filtered
    * aggregation per step.
    */
  def sgdLogistic(points: DataFrame, idCol: String, featureCols: Seq[String],
      labelCol: String, steps: Int, lr: Double, m: Int = 10): Array[Double] = {
    val d = featureCols.length
    var w = new Array[Double](d + 1)
    for (t <- 0 until steps) {
      val batch = points.filter((col(idCol) + t) % m === 0)
      val z = featureCols.zipWithIndex.foldLeft(lit(w(0))) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c).cast("double")
      }
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val err = p - col(labelCol).cast("double")
      val gradCols = sum(err).as("g0") +:
        featureCols.zipWithIndex.map { case (c, j) =>
          sum(err * col(c).cast("double")).as(s"g${j + 1}")
        }
      val aggCols = count(lit(1)).as("bn") +: gradCols
      val row = batch.agg(aggCols.head, aggCols.tail: _*).head()
      // an empty slice contributes no gradient (sums come back null)
      if (row.getLong(0) > 0L) {
        val bn = row.getLong(0).toDouble
        w = w.indices.map(j => w(j) - lr * row.getDouble(j + 1) / bn).toArray
      }
    }
    w
  }

  /** BFS from a single source (examples/bfs/bfs.cpp): level-synchronous
    * frontier expansion, the reference's per-level loop. Each round joins
    * the frontier with the edge list, anti-joins already-visited nodes,
    * and appends the new level; terminates when the frontier empties (one
    * driver-side isEmpty per round ≡ the reference's AllReduce on frontier
    * size). localCheckpoint truncates the growing lineage per round, same
    * contract as pageRank.
    */
  /** `broadcastFrontier` hints both per-level joins to broadcast the
    * frontier/visited side — right when the graph's active state fits an
    * executor (the common BFS regime); leave false for graphs whose
    * visited set outgrows broadcast limits, where the joins fall back to
    * shuffles.
    */
  def bfs(edges: DataFrame, source: Long, maxIter: Int = 50,
      broadcastFrontier: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def hint(df: DataFrame): DataFrame =
      if (broadcastFrontier) broadcast(df) else df
    // Round-cost tuning (halved the measured per-level fixed cost):
    // 1. the anti-join runs BEFORE distinct, so with a broadcast frontier
    //    both joins fuse into the map stage of the single distinct
    //    shuffle (one stage per level, and the early filter also shrinks
    //    the shuffle when the joins are too big to broadcast);
    // 2. the per-level plan is SHAPE-IDENTICAL (level literal and dist
    //    column attached once after the loop), so whole-stage codegen
    //    compiles one class and cache-hits every later level.
    var levels = List(Seq(source).toDF("node").localCheckpoint())
    var visited = levels.head
    var frontier = levels.head
    var level = 0L
    var done = false
    while (!done && level < maxIter) {
      level += 1
      val next = hint(frontier).join(edges, frontier("node") === edges("src"))
        .select(edges("dst").as("node"))
        .join(hint(visited), Seq("node"), "left_anti")
        .distinct()
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        levels = next :: levels
        visited = visited.union(next).localCheckpoint()
        frontier = next
      }
    }
    levels.reverse.zipWithIndex
      .map { case (df, l) => df.withColumn("dist", lit(l.toLong)) }
      .reduce(_ union _)
  }

  /** Logistic regression via full-batch gradient descent
    * (examples/logistic_regression/): the reference's loop is a per-point
    * gradient map + AllReduce sum + driver weight update — here one
    * aggregation per iteration with the weight vector broadcast in the
    * expression. Returns the final weights (bias-first).
    */
  def logisticRegression(points: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int, lr: Double): Array[Double] = {
    val d = featureCols.length
    var w = new Array[Double](d + 1) // bias + features, zero-init
    val n = points.count().toDouble
    for (_ <- 0 until iters) {
      val z = featureCols.zipWithIndex.foldLeft(lit(w(0))) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c).cast("double")
      }
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val err = p - col(labelCol).cast("double")
      val gradCols = sum(err).as("g0") +:
        featureCols.zipWithIndex.map { case (c, j) =>
          sum(err * col(c).cast("double")).as(s"g${j + 1}")
        }
      val row = points.agg(gradCols.head, gradCols.tail: _*).head()
      w = w.indices.map(j => w(j) - lr * row.getDouble(j) / n).toArray
    }
    w
  }
}
