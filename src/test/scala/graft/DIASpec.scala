package graft

import graft.dia.DIA
import org.apache.spark.sql.Encoder

class DIASpec extends SparkSpec {
  import spark.implicits._

  test("generate + map + filter + size") {
    val d = DIA.generate(spark, 100L)(i => i).map(_ * 2).filter(_ % 4 == 0)
    assert(d.size === 50L)
  }

  test("flatMap + reduceByKey == scala groupBy (wordcount)") {
    val lines = Seq("a b a", "b c a", "c c c")
    val got = DIA.equalToDIA(spark, lines)
      .flatMap(_.split(" ").toSeq)
      .map(w => (w, 1L))
      .reduceByKey(_._1) { (a, b) => (a._1, a._2 + b._2) }
      .allGather().toMap
    val want = lines.flatMap(_.split(" ")).groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
    assert(got === want)
  }

  test("groupByKey mapGroups (non-associative: median)") {
    val d = DIA.equalToDIA(spark, Seq((1, 5.0), (1, 1.0), (1, 3.0), (2, 2.0), (2, 4.0)))
    val got = d.groupByKey(_._1) { (k, it) =>
      val v = it.map(_._2).toArray.sorted
      (k, if (v.length % 2 == 1) v(v.length / 2) else (v(v.length / 2 - 1) + v(v.length / 2)) / 2)
    }.allGather().toMap
    assert(got === Map(1 -> 3.0, 2 -> 3.0))
  }

  test("union is bag union") {
    val a = DIA.generate(spark, 10L)(identity)
    val b = DIA.generate(spark, 5L)(identity)
    assert(a.union(b).size === 15L)
  }

  test("innerJoin with duplicate keys = cartesian per key") {
    val a = DIA.equalToDIA(spark, Seq((1, "x"), (1, "y"), (2, "z")))
    val b = DIA.equalToDIA(spark, Seq((1, 10), (3, 30)))
    val got = a.innerJoin(b, (p: (Int, String)) => p._1, (q: (Int, Int)) => q._1) {
      (p, q) => (p._2, q._2)
    }.allGather().sorted
    assert(got === Seq(("x", 10), ("y", 10)))
  }

  test("sortBy across partitions == scala sorted") {
    val xs = new scala.util.Random(7).shuffle((1L to 500L).toVector)
    val got = new DIA(spark.createDataset(xs).repartition(5)).sortBy(identity).allGather()
    assert(got === (1L to 500L).toVector)
  }

  test("sortStableBy keeps encounter order within equal keys") {
    val xs = (0L until 60L).map(i => (i % 3, i))
    val got = DIA.equalToDIA(spark, xs).sortStableBy(_._1).allGather()
    val want = xs.sortBy(_._1) // scala sortBy is stable
    assert(got === want)
  }

  test("zipWithIndex assigns dense indices in order") {
    val d = DIA.equalToDIA(spark, (10L until 60L).toSeq)
    val got = d.zipWithIndex { (v, i) => (i, v) }.allGather().sortBy(_._1)
    assert(got === (0L until 50L).map(i => (i, i + 10L)))
  }

  test("zip truncates to shorter input (CutTag)") {
    val a = DIA.equalToDIA(spark, (0L until 10L).toSeq)
    val b = DIA.equalToDIA(spark, (100L until 105L).toSeq)
    val got = a.zip(b) { (x, y) => x + y }.allGather()
    assert(got === Seq(100L, 102L, 104L, 106L, 108L))
  }

  test("zipPad pads the shorter side (PadTag), either side") {
    val a = DIA.equalToDIA(spark, (0L until 10L).toSeq)
    val b = DIA.equalToDIA(spark, (100L until 105L).toSeq)
    val got = a.zipPad(b, -1L, -1L) { (x, y) => (x, y) }.allGather()
    assert(got === (0L until 5L).map(i => (i, 100L + i)) ++
      (5L until 10L).map(i => (i, -1L)))
    val rev = b.zipPad(a, -1L, -1L) { (x, y) => (x, y) }.allGather()
    assert(rev === (0L until 5L).map(i => (100L + i, i)) ++
      (5L until 10L).map(i => (-1L, i)))
  }

  test("zipAll zips k inputs, truncating to the shortest") {
    val a = DIA.equalToDIA(spark, (0L until 10L).toSeq)
    val b = DIA.equalToDIA(spark, (0L until 8L).map(_ * 10))
    val c = DIA.equalToDIA(spark, (0L until 9L).map(_ * 100))
    val got = a.zipAll(Seq(b, c))(_.sum).allGather()
    assert(got === (0L until 8L).map(i => i * 111))
  }

  test("zip family equals a Seq model on empty, sub-block and ragged inputs") {
    // order-preserving input over exactly `p` slices (empty ones included)
    def dia[X: Encoder](xs: Seq[X], p: Int): DIA[X] = new DIA(spark.createDataset(
      spark.sparkContext.parallelize(xs, p)(implicitly[Encoder[X]].clsTag)))
    // the block edges of window w: empty, one row, one short of a block,
    // exactly one block, two blocks and a ragged row
    def sizes(w: Int): Seq[Int] = Seq(0, 1, w - 1, w, 2 * w + 1)
    def full[X](xs: Seq[X], w: Int): Seq[Seq[X]] = xs.grouped(w).filter(_.size == w).toSeq
    def cut[X](cols: Seq[Seq[X]]): Seq[Seq[X]] =
      (0 until cols.map(_.size).min).map(i => cols.map(_(i)))
    val (wa, wb, wc) = (3, 2, 4)
    def longs(w: Int, c: Int, base: Long) = (0 until sizes(w)(c)).map(base + _)
    for (p <- Seq(1, 3, 7)) {
      // binary: every ordered pair of edge sizes, so zipPad pads either side
      for (i <- 0 until 5; j <- 0 until 5) {
        val (ta, tb) = (longs(wa, i, 0L), longs(wb, j, 1000L))
        val (a, b) = (dia(ta, p), dia(tb, p))
        val ctx = s"p=$p sizes=${ta.size}/${tb.size}"
        assert(a.zip(b)((x, y) => (x, y)).allGather() === ta.zip(tb), s"zip $ctx")
        assert(a.zipPad(b, -1L, -2L)((x, y) => (x, y)).allGather() ===
          ta.zipAll(tb, -1L, -2L), s"zipPad $ctx")
        assert(a.zipWindow(b, wa, wb)((xs, ys) => (xs, ys)).allGather() ===
          full(ta, wa).zip(full(tb, wb)), s"zipWindow $ctx")
      }
      // ternary: each input runs through every edge size once
      for (i <- 0 until 5) {
        val (ta, tb, tc) = (longs(wa, i, 0L), longs(wb, (i + 1) % 5, 1000L),
          longs(wc, (i + 3) % 5, 2000L))
        val (sb, dc) = (tb.map(_.toString), tc.map(_ * 0.5))
        val (a, b, c) = (dia(ta, p), dia(tb, p), dia(tc, p))
        val (hb, hc) = (dia(sb, p), dia(dc, p))
        val ctx = s"p=$p sizes=${ta.size}/${tb.size}/${tc.size}"
        assert(a.zipLocal(a.map(_ + 1))((x, y) => (x, y)).allGather() ===
          ta.map(x => (x, x + 1)), s"zipLocal $ctx")
        assert(a.zip3(hb, hc)((x, y, z) => (x, y, z)).allGather() ===
          cut(Seq(ta, sb, dc)).map(r => (r(0), r(1), r(2))), s"zip3 $ctx")
        assert(a.zipAll(Seq(b, c))(identity).allGather() === cut(Seq(ta, tb, tc)),
          s"zipAll $ctx")
        assert(a.zipWindow3(hb, hc, wa, wb, wc)((xs, ys, zs) => (xs, ys, zs)).allGather() ===
          cut(Seq(full(ta, wa), full(sb, wb), full(dc, wc))).map(r => (r(0), r(1), r(2))),
          s"zipWindow3 $ctx")
        assert(a.zipWindowAll(Seq(b, c), Seq(wa, wb, wc))(identity).allGather() ===
          cut(Seq(full(ta, wa), full(tb, wb), full(tc, wc))), s"zipWindowAll $ctx")
      }
    }
  }

  test("zipLocal zero-shuffle zip; rejects misaligned inputs") {
    val a = DIA.generate(spark, 100L, numSlices = 4)(identity)
    val got = a.zipLocal(a.map(_ * 2))((x, y) => x + y).allGather().sorted
    assert(got === (0L until 100L).map(_ * 3))
    // misaligned per-partition sizes must fail loudly, not misalign
    val b = DIA.generate(spark, 99L, numSlices = 4)(identity)
    val e = intercept[org.apache.spark.SparkException] {
      a.zipLocal(b)((x, y) => x + y).allGather()
    }
    assert(e.getMessage.contains("zipLocal") ||
      Option(e.getCause).exists(_.getMessage.contains("zipLocal")))
  }

  test("zipLocal lineage contains no shuffle (NoRebalance contract)") {
    val a = DIA.generate(spark, 1000L, numSlices = 4)(identity)
    val z = a.zipLocal(a.map(_ + 1))((x, y) => x + y)
    assert(!z.ds.rdd.toDebugString.contains("ShuffledRDD"),
      s"zipLocal must be zero-shuffle:\n${z.ds.rdd.toDebugString}")
  }

  test("zip3 mixed-type inputs, cut to shortest") {
    val a = DIA.equalToDIA(spark, (0L until 5L).toSeq)
    val b = DIA.equalToDIA(spark, (0 until 7).map(_.toString))
    val c = DIA.equalToDIA(spark, (0 until 6).map(_ * 1.5))
    val got = a.zip3(b, c)((x, y, z) => (x, y, z)).allGather().sortBy(_._1)
    assert(got === (0 until 5).map(i => (i.toLong, i.toString, i * 1.5)))
  }

  test("windowPartial emits trailing suffixes (incl. n < k-1 case)") {
    val xs = (0L until 10L).toSeq
    val got = DIA.equalToDIA(spark, xs)
      .windowPartial(4)((i, w) => (i, w.toList))((i, w) => (i, w.toList))
      .allGather().sortBy(_._1)
    val full = (0L to 6L).map(i => (i, (i until i + 4).toList))
    val partial = (7L to 9L).map(i => (i, (i until 10L).toList))
    assert(got === full ++ partial)
    // n < k-1: reference drains from rank 0 over all n elements
    val tiny = DIA.equalToDIA(spark, Seq(1L, 2L))
      .windowPartial(5)((i, w) => (i, w.toList))((i, w) => (i, w.toList))
      .allGather().sortBy(_._1)
    assert(tiny === Seq((0L, List(1L, 2L)), (1L, List(2L))))
  }

  test("zipWindowAll matches per-block composition") {
    val a = DIA.equalToDIA(spark, (0L until 6L).toSeq)   // blocks of 2 -> 3
    val b = DIA.equalToDIA(spark, (0L until 12L).toSeq)  // blocks of 3 -> 4
    val got = a.zipWindowAll(Seq(b), Seq(2, 3)) { seqs =>
      (seqs.head.head / 2, seqs.head.sum * 100 + seqs(1).sum)
    }.allGather().sortBy(_._1)
    val want = (0L until 3L).map { j =>
      val sa = (2 * j) + (2 * j + 1)
      val sb = (3 * j) + (3 * j + 1) + (3 * j + 2)
      (j, sa * 100 + sb)
    }
    assert(got === want)
  }

  test("zipWindow3 mixed-type inputs, per-input block sizes, cut to shortest") {
    val a = DIA.equalToDIA(spark, (0L until 7L).toSeq)            // w=2 -> 3 blocks
    val b = DIA.equalToDIA(spark, (0 until 9).map(_.toString))    // w=3 -> 3 blocks
    val c = DIA.equalToDIA(spark, (0 until 17).map(_ * 0.5))      // w=4 -> 4 blocks
    val got = a.zipWindow3(b, c, 2, 3, 4) { (xs, ys, zs) =>
      (xs.head / 2, xs.sum, ys.mkString(","), zs.sum)
    }.allGather().sortBy(_._1)
    val want = (0L until 3L).map { j =>
      (j, 4 * j + 1,
        (3 * j until 3 * j + 3).map(_.toString).mkString(","),
        (4 * j until 4 * j + 4).map(_ * 0.5).sum)
    }
    assert(got === want)
  }

  test("prefixSum matches scanLeft") {
    val xs = (1L to 100L).toSeq
    val got = DIA.equalToDIA(spark, xs).prefixSum(_ + _).allGather()
    assert(got === xs.scanLeft(0L)(_ + _).tail)
  }

  test("window k=3 matches sliding") {
    val xs = (0L until 50L).toSeq
    val got = DIA.equalToDIA(spark, xs).window(3) { (i, w) => (i, w.sum) }
      .allGather().sortBy(_._1)
    val want = xs.sliding(3).zipWithIndex.map { case (w, i) => (i.toLong, w.sum) }.toSeq
    assert(got === want)
  }

  test("window k spanning several partitions pulls boundaries from multiple predecessors") {
    // 50 slices of ~20 rows, k=75: every partition's k-1 predecessor rows
    // come from ~4 preceding partitions — exercises the peer-to-peer
    // boundary shuffle's multi-source path end-to-end
    val n = 1000L
    val k = 75
    val got = DIA.generate(spark, n, numSlices = 50)(identity)
      .window(k)((i, w) => (i, w.sum)).allGather().sortBy(_._1)
    val want = (0L to n - k).map(i => (i, (i until i + k).sum))
    assert(got === want)
    // same shape through the partial emitter: trailing suffixes too
    val gotP = DIA.generate(spark, 100L, numSlices = 16)(identity)
      .windowPartial(30)((i, w) => (i, w.sum))((i, w) => (i, w.sum))
      .allGather().sortBy(_._1)
    val wantP = (0L until 100L).map(i =>
      (i, (i until math.min(i + 30, 100L)).sum))
    assert(gotP === wantP)
  }

  test("windowDisjoint k=10 covers blocks incl. partial tail") {
    val xs = (0L until 25L).toSeq
    val got = DIA.equalToDIA(spark, xs).windowDisjoint(10) { (b, w) => (b, w.sum, w.size) }
      .allGather().sortBy(_._1)
    assert(got === Seq((0L, 45L, 10), (1L, 145L, 10), (2L, 110L, 5)))
  }

  test("merge of sorted DIAs is globally sorted without re-sorting") {
    // duplicate-heavy keys, different sizes, pre-sorted inputs
    val xs = (0L until 500L).map(i => (i * 31) % 97).sorted
    val ys = (0L until 801L).map(i => (i * 17) % 97).sorted
    val a = DIA.equalToDIA(spark, xs)
    val b = DIA.equalToDIA(spark, ys)
    val got = a.merge(b)(identity).allGather()
    assert(got === (xs ++ ys).sorted)
  }

  test("k-ary merge equals the sorted union at any partitioning") {
    // four sorted inputs with duplicate-heavy overlapping keys and very
    // different sizes, re-merged at several partition counts
    val ins = Seq(500, 801, 3, 1200).zipWithIndex.map { case (n, j) =>
      (0L until n.toLong).map(i => (i * (13 + j)) % 89).sorted
    }
    val want = ins.flatten.sorted
    for (p <- Seq(1, 3, 13)) {
      val dias = ins.map(xs =>
        new DIA(spark.createDataset(xs).repartition(p))
          .sortBy(identity))
      val got = dias.head.merge(dias.tail)(identity).allGather()
      assert(got === want, s"k-ary merge diverged at $p partitions")
    }
  }

  test("concat preserves this-then-other order") {
    val a = DIA.equalToDIA(spark, (0L until 5L).toSeq)
    val b = DIA.equalToDIA(spark, (5L until 10L).toSeq)
    assert(a.concat(b).allGather() === (0L until 10L).toSeq)
  }

  test("reduceToIndex pads with neutral and is index-ordered") {
    val d = DIA.equalToDIA(spark, Seq((1L, 10L), (1L, 5L), (3L, 7L)))
    val got = d.reduceToIndex(_._1, 5L, (0L, 0L)) { (a, b) => (a._1, a._2 + b._2) }
      .allGather().map(_._2)
    assert(got === Seq(0L, 15L, 0L, 7L, 0L))
  }

  test("groupToIndex with iterator fn") {
    val d = DIA.equalToDIA(spark, Seq((0L, 1), (0L, 2), (2L, 9)))
    val got = d.groupToIndex(_._1, 3L, -1) { (_, it) => it.map(_._2).max }.allGather()
    assert(got === Seq(2, -1, 9))
  }

  test("sample returns exactly k distinct source elements") {
    val d = DIA.generate(spark, 1000L)(identity)
    val s = d.sample(37).allGather()
    assert(s.size === 37)
    assert(s.distinct.size === 37)
    assert(s.forall(x => x >= 0 && x < 1000))
  }

  test("sample is roughly uniform across the range") {
    val s = DIA.generate(spark, 10000L)(identity).sample(2000, seed = 9L).allGather()
    val below = s.count(_ < 5000)
    assert(below > 850 && below < 1150, s"got $below in lower half")
  }

  test("hypergeometric split: exact edges, conservation, unbiased mean") {
    import graft.operators.Hypergeometric
    val rng = new scala.util.Random(7L)
    // degenerate edges are exact
    assert(Hypergeometric.draw(rng, 10, 0, 5) === 0L)
    assert(Hypergeometric.draw(rng, 10, 10, 5) === 5L)
    assert(Hypergeometric.draw(rng, 10, 5, 10) === 5L)
    // near-saturated draw: 9 of 10 drawn, 9 marked -> support is {8, 9}
    val ns = Hypergeometric.draw(rng, 10, 9, 9)
    assert(ns === 8L || ns === 9L)
    // split conserves k and respects block capacities
    val sizes = Array(1000L, 10L, 0L, 500000L, 37L)
    val alloc = Hypergeometric.split(rng, sizes, 2000L)
    assert(alloc.sum === 2000L)
    alloc.zip(sizes).foreach { case (a, n) => assert(a >= 0 && a <= n) }
    // unbiased: mean of Hypergeometric(100, 50, 10) is 5
    val draws = Seq.fill(4000)(Hypergeometric.draw(rng, 100, 50, 10))
    val mean = draws.sum.toDouble / draws.size
    assert(mean > 4.8 && mean < 5.2, s"mean $mean")
    assert(draws.forall(x => x >= 0 && x <= 10))
    // huge populations don't underflow: pmf(0) ~ e^-14000 here, but the
    // mode-outward walk still returns a value near n*K/N = 10^5
    val big = Hypergeometric.draw(rng, 2000000L, 1000000L, 200000L)
    assert(big > 99000L && big < 101000L, s"got $big")
  }

  test("sample k=10^6 runs with O(#partitions) driver allocation") {
    // 2M rows, half sampled: the driver holds a 64-long allocation vector
    // (pre-r5 it built a 10^6-entry SortedSet of global indices)
    val d = DIA.generate(spark, 2000000L)(identity)
    val s = d.sample(1000000, seed = 3L)
    assert(s.size === 1000000L)
    // distinctness without collecting to the test driver
    assert(s.map(x => (x, 1L)).reduceByKey(_._1)((a, b) => (a._1, a._2 + b._2))
      .filter(_._2 > 1L).size === 0L)
  }

  test("exPrefixSum matches scanLeft (exclusive)") {
    val xs = (1L to 100L).toSeq
    val got = DIA.equalToDIA(spark, xs).exPrefixSum(0L)(_ + _).allGather()
    assert(got === xs.scanLeft(0L)(_ + _).init)
  }

  test("zipWindow blocks of (2,3) over full blocks only") {
    val a = DIA.equalToDIA(spark, (0L until 7L).toSeq)  // 3 full blocks of 2
    val b = DIA.equalToDIA(spark, (0L until 11L).toSeq) // 3 full blocks of 3
    val got = a.zipWindow(b, 2, 3) { (xs, ys) => xs.sum * 100 + ys.sum }
      .allGather()
    assert(got === Seq(1L * 100 + 3, 5L * 100 + 12, 9L * 100 + 21))
  }

  test("reducePair reduces values per key") {
    import graft.dia.DIA.PairDIAOps
    val d = DIA.equalToDIA(spark, Seq(("a", 1L), ("b", 2L), ("a", 3L)))
    assert(d.reducePair(_ + _).allGather().sorted === Seq(("a", 4L), ("b", 2L)))
  }

  test("writeLinesOne produces a single part file; gzip lines readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-one").toString
    DIA.equalToDIA(spark, (1 to 50).map(i => s"line$i")).writeLinesOne(s"$dir/one")
    val parts = new java.io.File(s"$dir/one").listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1)
    // transparent compression (thrill/vfs/gzip_filter.cpp analog: codec inference)
    spark.createDataset(Seq("gz1", "gz2")).write
      .option("compression", "gzip").text(s"$dir/gz")
    assert(DIA.readLines(spark, s"$dir/gz").allGather().sorted === Seq("gz1", "gz2"))
  }

  test("bernoulliSample size is plausible") {
    val n = DIA.generate(spark, 10000L)(identity).bernoulliSample(0.1).size
    assert(n > 700 && n < 1300, s"got $n")
  }

  test("actions: sum/min/max/allReduce/size/hyperloglog") {
    val d = DIA.equalToDIA(spark, (1L to 100L).toSeq)
    assert(d.sum === 5050L)
    assert(d.min === 1L)
    assert(d.max === 100L)
    assert(d.allReduce(_ + _) === 5050L)
    assert(d.size === 100L)
    val hll = DIA.generate(spark, 10000L)(i => i % 1000).hyperloglog()
    assert(hll > 900 && hll < 1100, s"got $hll")
  }

  test("writeLines/readLines and writeBinary/readBinary roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dia").toString
    DIA.equalToDIA(spark, Seq("alpha", "beta", "gamma")).writeLines(s"$dir/lines")
    assert(DIA.readLines(spark, s"$dir/lines").allGather().sorted === Seq("alpha", "beta", "gamma"))
    DIA.equalToDIA(spark, Seq((1L, "a"), (2L, "b"))).writeBinary(s"$dir/bin")
    assert(DIA.readBinary[(Long, String)](spark, s"$dir/bin").allGather().sorted === Seq((1L, "a"), (2L, "b")))
  }

  test("rebalance keeps order and evens partitions") {
    val d = DIA.equalToDIA(spark, (0L until 100L).toSeq).rebalance(4)
    assert(d.allGather() === (0L until 100L).toSeq)
    val sizes = d.ds.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length === 4)
    assert(sizes.forall(s => s >= 20 && s <= 30), sizes.mkString(","))
  }

  test("partition-count invariance: same results at 1 and 7 partitions") {
    val xs = new scala.util.Random(3).shuffle((0L until 300L).toVector).map(i => (i % 13, i))
    def run(parts: Int): Seq[(Long, Long)] =
      new DIA(spark.createDataset(xs).repartition(parts))
        .reduceByKey(_._1) { (a, b) => (a._1, math.max(a._2, b._2)) }
        .allGather().sortBy(_._1)
    assert(run(1) === run(7))
  }
}
