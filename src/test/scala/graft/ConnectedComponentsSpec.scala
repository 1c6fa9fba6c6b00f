package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Connected components vs a local union-find oracle — chains (multi-hop
  * propagation), random multi-component graphs (convergence + labeling),
  * and degenerate inputs (empty, self-loops, duplicate edges).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    touched.map(v => v -> {
      // root via full path (parent chains always decrease to the min)
      var r = v.toInt; while (parent(r) != r) r = parent(r); r.toLong
    }).toMap
  }

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.labels(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("chain graph collapses to one component rooted at the minimum") {
    val edges = (0L until 9L).map(i => (i + 1, i)) // 9-8-...-1-0 reversed order
    val got = ccMap(edges)
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("random graphs match a local union-find oracle") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(n, edges)
      assert(ccMap(edges) == expected)
    }
  }

  /** One large-star∘small-star round over a local edge set (Kiveris et
    * al.): the model `roundFor` must reproduce exactly.
    */
  private def modelRound(e: Set[(Long, Long)]): Set[(Long, Long)] = {
    def mins(es: Iterable[(Long, Long)]) =
      es.groupBy(_._1).map { case (u, ns) => u -> ns.map(_._2).min }
    val bidir = e.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val m1 = mins(bidir)
    val large = bidir.collect { case (u, v) if v > u => (v, math.min(m1(u), u)) }
    val or = large.map { case (u, v) => (math.max(u, v), math.min(u, v)) }.filter(p => p._1 != p._2)
    val m2 = mins(or)
    or.flatMap { case (u, v) => Seq((v, m2(u)), (u, m2(u))) }.filter(p => p._1 != p._2).toSet
  }

  test("roundFor equals a local large-star/small-star model on every round") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextLong(250), rnd.nextLong(250)))
      .filter { case (a, b) => a != b }.distinct
    var cur = edges.toSet
    var rounds = 0
    var fixed = false
    while (!fixed) {
      val got = ConnectedComponents.roundFor(cur.toSeq.toDF("u", "v"))
        .as[(Long, Long)].collect()
      rounds += 1
      assert(got.length === got.distinct.length, s"duplicate edges in round $rounds")
      assert(got.toSet === modelRound(cur), s"round $rounds diverges from the model")
      fixed = got.toSet == cur
      cur = got.toSet
      assert(rounds <= 25, "no fixed point within 25 rounds")
    }
    assert(rounds >= 3, s"graph converged in $rounds rounds — fixture " +
      "no longer exercises multi-round contraction")
  }

  test("labels over String and Int ids match union-find") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    val expected = unionFind(150, edges)
    val ints = ConnectedComponents.labels(edges.map(p => (p._1.toInt, p._2.toInt))
      .toDF("src", "dst")).as[(Int, Int)].collect().toMap
    assert(ints.map { case (k, c) => k.toLong -> c.toLong } === expected)
    // zero-padded names order like their numbers, so the component
    // minimum is the same node; ids of different lengths exercise the
    // variable-length part of the row bytes the round signature hashes
    def name(i: Long) = if (i % 2 == 0) f"n$i%04d" else f"n$i%04d-odd"
    val strs = ConnectedComponents.labels(edges.map(p => (name(p._1), name(p._2)))
      .toDF("src", "dst")).as[(String, String)].collect().toMap
    assert(strs === expected.map { case (k, c) => name(k) -> name(c) })
  }

  test("checkpointEvery bounds lineage on a deep-chain graph") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    val hadDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      // a 2048-node path is the deep-convergence adversary: multi-hop
      // label propagation over many star rounds
      val edges = (0L until 2047L).map(i => (i + 1, i))
      val (lab, rounds) = ConnectedComponents.labelsWithRounds(
        edges.toDF("src", "dst"), maxIter = 25, checkpointEvery = 2)
      val got = lab.as[(Long, Long)].collect().toMap
      assert(got === (0L to 2047L).map(_ -> 0L).toMap)
      assert(rounds >= 2, s"path graph converged in $rounds rounds — " +
        "fixture no longer exercises the checkpoint path")
      // a reliable checkpoint actually landed on disk
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no checkpoint files were written")
    } finally {
      hadDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

  test("self-loops and duplicate edges are harmless; empty input is empty") {
    val got = ccMap(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    assert(ccMap(Seq.empty).isEmpty)
    assert(ccMap(Seq((7L, 7L))).isEmpty) // only self-loops → no labeled nodes
  }

  test("star already at fixed point returns unchanged labels") {
    val got = ccMap(Seq((5L, 0L), (3L, 0L), (9L, 0L)))
    assert(got == Map(0L -> 0L, 3L -> 0L, 5L -> 0L, 9L -> 0L))
  }

  test("labelsWithRounds reports convergence rounds: star is cheap, deep " +
      "chain pays log rounds") {
    val (starLabels, starRounds) = ConnectedComponents.labelsWithRounds(
      Seq((5L, 0L), (3L, 0L), (9L, 0L)).toDF("src", "dst"))
    assert(starLabels.as[(Long, Long)].collect().toMap ===
      Map(0L -> 0L, 3L -> 0L, 5L -> 0L, 9L -> 0L))
    val chain = (0L until 63L).map(i => (i + 1, i))
    val (chainLabels, chainRounds) = ConnectedComponents.labelsWithRounds(
      chain.toDF("src", "dst"))
    assert(chainLabels.as[(Long, Long)].collect().toMap ===
      (0L to 63L).map(_ -> 0L).toMap)
    // a 64-node path needs multi-round star contraction; a 3-leaf star
    // needs only the fixed-point confirmation round — the count must
    // separate the two shapes, and both must respect the O(log² n) bound
    assert(chainRounds > starRounds,
      s"chain=$chainRounds star=$starRounds")
    assert(chainRounds <= 25)
  }

  test("dupClusters groups transitively and keeps singletons as themselves") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),   // exact dup of 0
      (2L, "alpha beta gamma delta epsilon zeta eta"), // near-dup of 0/1
      (3L, "totally different content entirely here now"),
      (4L, "another unrelated document body text")
    ).toDF("doc_id", "text")
    val got = graft.functions.Dedup
      .dupClusters(docs, "doc_id", "text", threshold = 0.6)
      .as[(Long, Long)].collect().toMap
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(3L) == 3L && got(4L) == 4L)
  }
}
