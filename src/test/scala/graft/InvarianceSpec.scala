package graft

import graft.dia.DIA
import graft.dia.DIA.PairDIAOps
import graft.operators.Positional

/** Partition-count invariance — the reference's core correctness idea
  * (RunLocalTests runs every job over a matrix of 1..8 simulated workers,
  * thrill/api/context.cpp:303-349, asserting identical results). Spark
  * analog: the same operator over the same data must produce identical
  * results at any partition count, including partitions that are empty —
  * the cases that break naive positional/boundary logic.
  */
class InvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val partitionCounts = Seq(1, 3, 13)

  private def dia(xs: Seq[Int], parts: Int): DIA[Int] =
    new DIA(spark.createDataset(xs).repartition(parts))

  test("round-5 operators invariant across partition counts") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(21)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val left = Seq.tabulate(200)(i => (rnd.nextInt(4).toLong,
      rnd.nextInt(400).toLong, i.toLong))
    val right = Seq.tabulate(90)(i => (rnd.nextInt(4).toLong,
      rnd.nextInt(400).toLong, 1000L + i))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val weights = Seq.tabulate(250)(i => (i.toLong, (i % 9) * 50 + 1))
    var ccWant: Map[Long, Long] = null
    var asofWant: Map[Long, Option[Long]] = null
    var wsWant: Set[Long] = null
    for (p <- partitionCounts) {
      val cc = graft.operators.ConnectedComponents
        .labels(edges.toDF("src", "dst").repartition(p))
        .as[(Long, Long)].collect().toMap
      val asof = graft.operators.TemporalJoins.asofJoinBackward(
          left.toDF("k", "lt", "lid").repartition(p),
          right.toDF("k", "rt", "rid").repartition(p), Seq("k"), "lt", "rt")
        .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
      val ws = graft.functions.Corpus.weightedSample(
          weights.toDF("doc_id", "w").repartition(p), "doc_id", col("w"),
          k = 30, seed = 5L)
        .select($"doc_id").as[Long].collect().toSet
      if (p == partitionCounts.head) { ccWant = cc; asofWant = asof; wsWant = ws }
      else {
        assert(cc === ccWant, s"parts=$p cc")
        assert(asof === asofWant, s"parts=$p asof")
        assert(ws === wsWant, s"parts=$p weightedSample")
      }
    }
  }

  test("round-5-late operators invariant across partition counts") {
    import org.apache.spark.sql.functions._
    // docs with planted near-dups and shared vocabulary so every operator
    // has non-trivial work (pairs, unseen bigrams, multi-term hits)
    val docsSeq = Seq.tabulate(60) { i =>
      val base = (1 to 15).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")
      (i.toLong, if (i % 10 == 5) base.replace("w3", "zz") else base)
    }
    var jWant: Set[(Long, Long, Long, Long)] = null
    var lmWant: Map[Long, (Long, Long, Long)] = null
    var sWant: Seq[(Long, Long, Long)] = null
    for (p <- partitionCounts) {
      val df = docsSeq.toDF("doc_id", "text").repartition(p)
      val j = graft.functions.Dedup.jaccardJoinExact(df, "doc_id", "text", 70)
        .select($"id_a", $"id_b", $"inter_n", $"union_n")
        .as[(Long, Long, Long, Long)].collect().toSet
      val model = graft.functions.Corpus.bigramLm(
        df.filter($"doc_id" % 2 === 0), "text")
      val lm = graft.functions.Corpus.bigramLmScore(df, "doc_id", "text", model)
        .select($"doc_id", $"n_bigrams", $"n_unseen", $"score_u")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val s = graft.functions.Corpus.searchTopK(df, "doc_id", "text",
          Seq("w1", "w5", "zz"), k = 8)
        .select($"doc_id", $"n_hit_terms", $"score_u")
        .as[(Long, Long, Long)].collect().toSeq
      if (p == partitionCounts.head) { jWant = j; lmWant = lm; sWant = s }
      else {
        assert(j === jWant, s"parts=$p jaccardJoinExact")
        assert(lm === lmWant, s"parts=$p bigramLmScore")
        assert(s === sWant, s"parts=$p searchTopK")
      }
    }
  }

  test("reduceByKey invariant across partition counts") {
    val xs = (1 to 5000).map(i => i * 31 % 977)
    val want = xs.groupBy(_ % 41).values.map(_.sum).toSeq.sorted
    for (p <- partitionCounts) {
      val got = dia(xs, p).reduceByKey(_ % 41)(_ + _).allGather().sorted
      assert(got === want, s"parts=$p")
    }
  }

  test("sort + prefixSum invariant across partition counts") {
    val xs = (1 to 3000).map(i => (i * 131) % 613)
    val wantSorted = xs.sorted
    val wantScan = wantSorted.scanLeft(0)(_ + _).tail
    for (p <- partitionCounts) {
      val sorted = dia(xs, p).sortBy(identity)
      assert(sorted.allGather() === wantSorted, s"parts=$p sort")
      assert(sorted.prefixSum(_ + _).allGather() === wantScan, s"parts=$p scan")
    }
  }

  test("zipWithIndex + window invariant across partition counts") {
    val xs = (1 to 500).toSeq
    for (p <- partitionCounts) {
      val sorted = dia(xs, p).sortBy(identity)
      val idx = sorted.zipWithIndex((v, i) => (i, v)).allGather()
      assert(idx === xs.indices.map(i => (i.toLong, xs(i))), s"parts=$p index")
      val w = sorted.window(3) { (first, buf) => (first, buf.sum) }.allGather()
      assert(w === (0 to 497).map(i => (i.toLong, xs(i) + xs(i + 1) + xs(i + 2))),
        s"parts=$p window")
    }
  }

  test("ops on empty and single-element inputs at any partition count") {
    for (p <- partitionCounts) {
      val empty = dia(Nil, p)
      assert(empty.size === 0L, s"parts=$p size")
      assert(empty.sortBy(identity).allGather() === Nil)
      assert(empty.prefixSum(_ + _).allGather() === Nil)
      assert(empty.zipWithIndex((v, i) => (i, v)).allGather() === Nil)
      assert(empty.window(3)((i, b) => (i, b.sum)).allGather() === Nil)
      assert(empty.reduceByKey(_ % 2)(_ + _).allGather() === Nil)

      val one = dia(Seq(42), p)
      assert(one.sortBy(identity).allGather() === Seq(42))
      assert(one.prefixSum(_ + _).allGather() === Seq(42))
      assert(one.window(3)((i, b) => (i, b.sum)).allGather() === Nil) // k > n
      assert(one.windowDisjoint(3)((i, b) => (i, b.sum)).allGather() ===
        Seq((0L, 42)), s"parts=$p disjoint partial tail")
    }
  }

  test("window element ORDER survives blocks straddling partition boundaries") {
    // values equal their index, so each block must come out ascending;
    // sums would hide an order bug — assert the sequence itself
    for (p <- partitionCounts) {
      val d = new DIA(spark.createDataset((0L until 100L).toSeq).repartition(p))
        .sortBy(identity)
      val tumbling = d.windowDisjoint(7) { (b, w) => (b, w.mkString(",")) }
        .allGather().sortBy(_._1)
      tumbling.foreach { case (b, s) =>
        val want = (b * 7 until math.min((b + 1) * 7, 100L)).mkString(",")
        assert(s === want, s"parts=$p block=$b")
      }
      val e = new DIA(spark.createDataset((0L until 90L).toSeq).repartition(p))
        .sortBy(identity)
      val zw = d.zipWindow(e, 5, 3) { (xs, ys) => (xs.head / 5, xs.mkString(","), ys.mkString(",")) }
        .allGather().sortBy(_._1)
      zw.foreach { case (b, xs, ys) =>
        assert(xs === (b * 5 until (b + 1) * 5).mkString(","), s"parts=$p xs block=$b")
        assert(ys === (b * 3 until (b + 1) * 3).mkString(","), s"parts=$p ys block=$b")
      }
    }
  }

  test("zip of unequal inputs truncates identically at any partition count") {
    for (p <- partitionCounts) {
      val a = dia((1 to 100).toSeq, p).sortBy(identity)
      val b = dia((1 to 60).map(_ * 10), p).sortBy(identity)
      val got = a.zip(b)((x, y) => (x, y)).allGather()
      assert(got === (1 to 60).map(i => (i, i * 10)), s"parts=$p")
    }
  }

  test("zip/zipWindow lineages shuffle once per side; concat shuffles zero") {
    // scale-posture guard: count ShuffledRDDs in the RDD lineage. A
    // regression back to join+sortByKey (extra shuffle + sample pass)
    // shows up as a higher count.
    def shuffles[T](d: DIA[T]): Int =
      d.ds.rdd.toDebugString.linesIterator.count(_.contains("ShuffledRDD"))
    val a = dia((1 to 500).toSeq, 4)
    val b = dia((1 to 300).toSeq, 3)
    assert(shuffles(a.zip(b)((x, y) => x + y)) === 2, "zip: one per side")
    assert(shuffles(a.zipPad(b, 0, 0)((x, y) => x + y)) === 2, "zipPad")
    assert(shuffles(a.zipWindow(b, 5, 3)((xs, ys) => xs.sum + ys.sum)) === 2,
      "zipWindow: one per side")
    assert(shuffles(a.zipAll(Seq(b))(_.sum)) === 2, "zipAll: one per input")
    val c = dia((1 to 200).toSeq, 5)
    assert(shuffles(a.zip3(b, c)((x, y, z) => x + y + z)) === 3, "zip3: one per input")
    assert(shuffles(a.zipWindow3(b, c, 5, 3, 2)((xs, ys, zs) => xs.sum + ys.sum + zs.sum)) === 3,
      "zipWindow3: one per input")
    assert(shuffles(a.zipWindowAll(Seq(b, c, a), Seq(5, 3, 2, 4))(_.map(_.sum).sum)) === 4,
      "zipWindowAll: one per input")
    assert(shuffles(a.concat(b)) === 0, "concat: zero shuffles")
  }

  test("Positional zip and rebalance lineages shuffle once per input") {
    // the DataFrame ops share DIA's aligned scatter: a regression to
    // index joins or repartitionByRange shows as SQL exchanges instead
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.toDebugString.linesIterator.count(_.contains("ShuffledRDD"))
    val a = spark.range(0, 500, 1, 4).toDF("x")
    val b = spark.range(0, 300, 1, 3).toDF("y")
    val c = spark.range(0, 200, 1, 5).toDF("z")
    assert(shuffles(Positional.zipByIndex(a, b)) === 2, "zipByIndex cut: one per input")
    assert(shuffles(Positional.zipByIndex(a, b, pad = true)) === 2, "zipByIndex pad")
    assert(shuffles(Positional.zipAllByIndex(Seq(a, b, c), cut = true)) === 3,
      "zipAllByIndex: one per input")
    assert(shuffles(Positional.rebalance(a, 3)) === 1, "rebalance: one")
  }

  test("Positional DataFrame ops match a Seq model at any partition count") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    // range-partitioned and sorted: partition order is value order
    def ordered(xs: Seq[Long], name: String, p: Int): DataFrame =
      xs.toDF(name).repartitionByRange(p, col(name)).sortWithinPartitions(name)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    def byFirst(df: DataFrame): Seq[Seq[Any]] = rows(df).sortBy(_.head.asInstanceOf[Long])
    /** (idx, value of each input), cut to the shortest or padded with null */
    def zipModel(cols: Seq[Seq[Long]], pad: Boolean): Seq[Seq[Any]] = {
      val n = if (pad) cols.map(_.size).max else cols.map(_.size).min
      (0 until n).map(i => i.toLong +: cols.map(c => if (i < c.size) c(i) else null))
    }
    val xs = (0L until 40L).map(_ * 3)
    val ys = (0L until 25L).map(_ * 7 + 1)
    val zs = (0L until 31L).map(_ * 5 + 2)
    val none = Seq.empty[Long]
    for (p <- Seq(1, 3, 7)) {
      val (x, y, z, e) =
        (ordered(xs, "x", p), ordered(ys, "y", p), ordered(zs, "z", p), ordered(none, "e", p))
      assert(byFirst(Positional.zipByIndex(x, y)) === zipModel(Seq(xs, ys), pad = false),
        s"parts=$p zipByIndex cut")
      assert(byFirst(Positional.zipByIndex(x, y, pad = true)) === zipModel(Seq(xs, ys), pad = true),
        s"parts=$p zipByIndex pad")
      assert(byFirst(Positional.zipByIndex(e, x, pad = true)) === zipModel(Seq(none, xs), pad = true),
        s"parts=$p zipByIndex pad, empty side")
      assert(rows(Positional.zipByIndex(x, e)).isEmpty, s"parts=$p zipByIndex cut, empty side")
      assert(byFirst(Positional.zipAllByIndex(Seq(x, y, z), cut = true)) ===
        zipModel(Seq(xs, ys, zs), pad = false), s"parts=$p zipAllByIndex")
      val cat = Positional.concatOrdered(
        Seq(ordered(xs, "v", p), ordered(none, "v", p), ordered(ys, "v", p)), "pos")
      assert(rows(cat).sortBy(_(1).asInstanceOf[Long]) ===
        (xs ++ ys).zipWithIndex.map { case (v, i) => Seq(v, i.toLong) }, s"parts=$p concatOrdered")
      assert(rows(Positional.prefixSumLong(x, "x", "s")) ===
        xs.zip(xs.scanLeft(0L)(_ + _).tail).map { case (v, s) => Seq(v, s) },
        s"parts=$p prefixSumLong")
      assert(rows(Positional.prefixSumLong(e, "e", "s")).isEmpty, s"parts=$p prefixSumLong empty")
      val reb = Positional.rebalance(x, 4)
      assert(reb.rdd.getNumPartitions === 4, s"parts=$p rebalance partitions")
      assert(rows(reb) === xs.map(Seq(_)), s"parts=$p rebalance")
      assert(rows(Positional.rebalance(e, 4)).isEmpty, s"parts=$p rebalance empty")
    }
  }

  test("mergeSortedNoResort equals mergeSorted across partitionings (dup keys incl.)") {
    import org.apache.spark.sql.functions.col
    // duplicate-heavy keys exercise runs that touch at equal boundary keys
    val xs = (0 until 4000).map(i => ((i * 31) % 97).toLong -> i.toLong)
    for (p <- partitionCounts) {
      val a = spark.createDataset(xs.filter(_._2 % 2 == 0)).toDF("k", "id")
        .repartition(p).orderBy(col("k"), col("id"))
      val b = spark.createDataset(xs.filter(_._2 % 2 == 1)).toDF("k", "id")
        .repartition(p + 1).orderBy(col("k"), col("id"))
      val got = graft.operators.Positional
        .mergeSortedNoResort(Seq(a, b), Seq("k", "id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === xs.sorted, s"parts=$p")
    }
  }

  test("suffixArray invariant across slice counts") {
    val text = (0 until 400)
      .map(i => ('a' + ((i.toLong * i * i % 100003) % 26).toInt).toChar).mkString
    val want = text.indices.sortBy(text.substring(_)).map(_.toLong)
    for (p <- Seq(1, 3, 7)) {
      val got = graft.examples.Examples.suffixArray(text, spark, numSlices = p)
        .orderBy("pos").collect().map(_.getLong(1)).toSeq
      assert(got === want, s"numSlices=$p")
    }
  }

  test("selectRanks invariant across partition counts") {
    val xs = (0 until 5000).map(i => (i * 2654435761L) % 997)
    val want = {
      val sorted = xs.sorted
      Seq(0L, 1234L, 2500L, 4999L).map(r => (r, sorted(r.toInt)))
    }
    for (p <- partitionCounts) {
      val df = spark.createDataset(xs).toDF("v").repartition(p)
      val got = graft.operators.Selection
        .selectRanks(df, "v", Seq(0L, 1234L, 2500L, 4999L))
      assert(got === want, s"parts=$p")
    }
  }

  test("bfs invariant across edge partitioning (and to the broadcast hint)") {
    val n = 120L
    val base = (0L until n).flatMap(i => Seq((i, (2 * i) % n), (i, (2 * i + 1) % n)))
    // in-memory reference BFS
    val ref = scala.collection.mutable.Map(0L -> 0L)
    var level = 0L
    var f = Seq(0L)
    val adj = base.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    while (f.nonEmpty) {
      level += 1
      f = f.flatMap(u => adj.getOrElse(u, Nil)).distinct.filterNot(ref.contains)
      f.foreach(v => ref(v) = level)
    }
    for ((p, hint) <- Seq((1, false), (5, true), (13, false))) {
      val edges = spark.createDataset(base).toDF("src", "dst").repartition(p)
      val got = graft.examples.Examples.bfs(edges, 0L, broadcastFrontier = hint)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === ref.toMap, s"parts=$p hint=$hint")
    }
  }

  test("reducePair and exact sample size invariant across partition counts") {
    val xs = (1 to 2000).map(i => (i % 13, 1L))
    for (p <- partitionCounts) {
      val d = new DIA(spark.createDataset(xs).repartition(p))
      val got = d.reducePair(_ + _).allGather().toSet
      assert(got === (0 until 13).map(k => (k, xs.count(_._1 == k).toLong)).toSet,
        s"parts=$p")
      assert(dia((1 to 999).toSeq, p).sample(100).size === 100L, s"parts=$p sample")
    }
  }
}
