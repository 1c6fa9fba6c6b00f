package graft

import org.apache.spark.sql.functions._

import graft.operators.Positional

class PositionalSpec extends SparkSpec {
  import spark.implicits._

  private def longsDf(xs: Seq[Long]) =
    spark.createDataset(xs).toDF("v")

  test("zipWithIndex over sorted data is row_number-1") {
    val df = longsDf(Seq(30L, 10L, 20L, 50L, 40L)).orderBy("v")
    val got = Positional.zipWithIndex(df, "idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(got === Seq((10L, 0L), (20L, 1L), (30L, 2L), (40L, 3L), (50L, 4L)))
  }

  test("zipWithIndex reads a shuffled input's rows once") {
    // the accumulator counts rows on the repartition's reduce side; the
    // metadata pass caches them, so the output action reads the cache
    val seen = spark.sparkContext.longAccumulator("zip-with-index-rows")
    val counted = udf { (v: Long) => seen.add(1); v }.asNondeterministic()
    val df = spark.range(0, 1000).repartition(4).select(counted($"id").as("v"))
    val got = Positional.zipWithIndex(df, "idx").collect().map(_.getLong(1)).sorted
    assert(got.toSeq === (0L until 1000L))
    assert(seen.value === 1000L)
  }

  test("prefixSumLong matches scanLeft across many partitions") {
    val xs = (1L to 1000L).map(i => i % 17)
    val df = spark.createDataset(xs.indices.map(i => (i.toLong, xs(i)))).toDF("i", "v")
      .repartitionByRange(9, col("i")).sortWithinPartitions("i")
    val got = Positional.prefixSumLong(df, "v", "run")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).map(_._2)
    assert(got.toSeq === xs.scanLeft(0L)(_ + _).tail)
  }

  test("slidingSumLong k=4 matches brute force incl. partition boundaries") {
    val xs = (0L until 500L).map(i => (i * 7) % 23)
    val df = spark.createDataset(xs.indices.map(i => (i.toLong, xs(i)))).toDF("i", "v")
      .repartitionByRange(11, col("i")).sortWithinPartitions("i")
    val got = Positional.slidingSumLong(df, "v", 4, "w")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).map(_._2)
    val want = xs.indices.map { i =>
      xs.slice(math.max(0, i - 3), i + 1).sum
    }
    assert(got.toSeq === want)
  }

  test("concatOrdered computes global positions from input sizes") {
    val a = longsDf(Seq(1L, 2L, 3L))
    val b = longsDf(Seq(10L, 20L))
    val got = Positional.concatOrdered(Seq(a, b), "pos")
      .collect().map(r => (r.getLong(1), r.getLong(0))).sortBy(_._1).map(_._2)
    assert(got.toSeq === Seq(1L, 2L, 3L, 10L, 20L))
  }

  test("mergeSorted of sorted inputs is globally sorted") {
    val a = longsDf(Seq(1L, 3L, 5L, 7L))
    val b = longsDf(Seq(2L, 4L, 6L, 8L))
    val got = Positional.mergeSorted(Seq(a, b), Seq("v")).collect().map(_.getLong(0))
    assert(got.toSeq === (1L to 8L).toSeq)
  }

  test("RunMerge.mergeRuns sorts any concatenation of sorted runs (incl. overlapping)") {
    // overlapping runs — the shape a shuffle that interleaved mapper blocks
    // would produce; run detection + k-way merge must still emit sorted
    val it = Iterator(1L, 3L, 5L, 2L, 4L, 6L, 0L, 7L)
    val got = graft.operators.RunMerge.mergeRuns(it, Ordering.Long).toSeq
    assert(got === Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("RunMerge spills past the row budget and stays correct") {
    // 20k elements, budget 64 rows → ~all runs spill to the temp file;
    // output must still be the exact sorted sequence
    val xs = scala.util.Random.shuffle((0L until 20000L).toVector)
    // feed as concatenated sorted runs of uneven sizes
    val runs = xs.grouped(977).map(_.sorted).reduce(_ ++ _)
    val got = graft.operators.RunMerge.mergeRuns(
      runs.iterator, Ordering.Long, budgetRows = 64).toVector
    assert(got === (0L until 20000L).toVector)
  }

  test("RunMerge.mergeRuns == sort for ARBITRARY input, random budgets") {
    // run detection splits any sequence into sorted runs, so the k-way
    // merge must equal a full sort on any input whatsoever — the property
    // that makes the operator safe under any shuffle block order
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val xs = Vector.fill(rnd.nextInt(2000))(rnd.nextLong() % 1000)
      val budget = 1 + rnd.nextInt(128)
      val got = graft.operators.RunMerge
        .mergeRuns(xs.iterator, Ordering.Long, budgetRows = budget).toVector
      assert(got === xs.sorted, s"trial $trial budget $budget n=${xs.size}")
    }
  }

  test("mergeSortedNoResort with tiny spill budget on a skewed key space") {
    // keys saturate at 100 → RangePartitioner concentrates ~everything in
    // one partition; budgetRows=64 forces the spill path end-to-end
    val n = 20000L
    val mkRows = (parity: Long) => (0L until n).filter(_ % 2 == parity)
      .map(i => (math.min(i, 100L), i))
    val a = spark.createDataset(mkRows(0)).toDF("k", "id")
      .orderBy("k", "id").cache()
    val b = spark.createDataset(mkRows(1)).toDF("k", "id")
      .orderBy("k", "id").cache()
    val got = Positional
      .mergeSortedNoResort(Seq(a, b), Seq("k", "id"), budgetRows = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (mkRows(0) ++ mkRows(1)).sorted
    assert(got.toSeq === want)
    a.unpersist(); b.unpersist()
  }

  test("zipByIndex cut vs pad") {
    val a = longsDf(Seq(1L, 2L, 3L)).withColumnRenamed("v", "x")
    val b = longsDf(Seq(10L, 20L)).withColumnRenamed("v", "y")
    val cut = Positional.zipByIndex(a, b, "idx").count()
    val pad = Positional.zipByIndex(a, b, "idx", pad = true).count()
    assert(cut === 2L)
    assert(pad === 3L)
  }

  test("zipAllByIndex: 4 heterogeneous inputs, cut + equal-size + guards") {
    val a = spark.createDataset((0L until 10L)).toDF("a")
      .repartitionByRange(3, col("a")).sortWithinPartitions("a")
    val b = spark.createDataset((0 until 8).map(i => i / 2.0)).toDF("b")
      .coalesce(1).orderBy("b")
    val c = spark.createDataset((0 until 9).map(i => "s" + i)).toDF("c")
      .coalesce(1).orderBy("c")
    val e = spark.createDataset((0 until 12).map(i => (i % 7).toLong)).toDF("e")
      .coalesce(1)
    // cut: truncates to the shortest (8)
    val got = Positional.zipAllByIndex(Seq(a, b, c, e), cut = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(got.length === 8)
    assert(got.head === ((0L, 0L, 0.0, "s0", 0L)))
    assert(got(7) === ((7L, 7L, 3.5, "s7", 0L)))
    // equal sizes without cut works
    val eq = Positional.zipAllByIndex(
      Seq(a.limit(5), b.limit(5), c.limit(5))).collect()
    assert(eq.length === 5)
    // unequal sizes without cut fails loudly
    val ex = intercept[IllegalArgumentException] {
      Positional.zipAllByIndex(Seq(a, b))
    }
    assert(ex.getMessage.contains("unequal sizes"))
    // column-name collision fails loudly
    val ex2 = intercept[IllegalArgumentException] {
      Positional.zipAllByIndex(Seq(a, a), cut = true)
    }
    assert(ex2.getMessage.contains("disjoint"))
  }

  test("rebalance preserves order") {
    val df = longsDf((0L until 200L).toSeq)
    val got = Positional.rebalance(df, 5).collect().map(_.getLong(0))
    assert(got.toSeq === (0L until 200L).toSeq)
  }

  test("rebalance rejects a partition count below one") {
    for (n <- Seq(0, -1)) {
      val ex = intercept[IllegalArgumentException](Positional.rebalance(longsDf(Seq(1L, 2L)), n))
      assert(ex.getMessage.contains("must be positive"), s"numPartitions=$n")
    }
  }

  test("row ops keep every column type, nulls and nesting included") {
    // the kernels move Catalyst's binary rows: strings, decimals, dates,
    // arrays, maps and structs must come out as they went in
    val rows = (0 until 30).map { i =>
      (i.toLong, if (i % 4 == 0) None else Some(s"s$i"), i / 3.0, BigDecimal(i) / 7,
        java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"), Seq.tabulate(i % 3)(_ * i),
        Map(s"k$i" -> i), (i, s"n$i"), if (i % 5 == 0) None else Some(i))
    }
    val cols = Seq("k", "s", "d", "m", "dt", "arr", "mp", "st", "o")
    val df = rows.toDF(cols: _*).repartitionByRange(4, col("k")).sortWithinPartitions("k")
    def plain(d: org.apache.spark.sql.DataFrame, cs: Seq[String]): Seq[Seq[Any]] =
      d.select(cs.map(col): _*).collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val want = plain(df, cols)
    assert(plain(Positional.rebalance(df, 3), cols) === want, "rebalance")
    assert(plain(Positional.prefixSumLong(df, "k", "run"), cols) === want, "prefixSumLong")
    assert(plain(Positional.slidingSumLong(df, "k", 2, "w"), cols) === want, "slidingSumLong")
    assert(plain(Positional.concatOrdered(Seq(df, df), "pos").filter($"pos" < 30), cols) === want,
      "concatOrdered")
    val other = longsDf((0L until 40L).toSeq).toDF("v")
    for (pad <- Seq(false, true)) {
      val z = Positional.zipByIndex(df, other, pad = pad)
      assert(z.schema.head.name === "idx" && !z.schema.head.nullable, s"pad=$pad idx")
      assert(plain(z.filter($"k".isNotNull), cols) === want, s"pad=$pad zipByIndex")
      assert(z.filter($"k".isNull).count() === (if (pad) 10 else 0), s"pad=$pad padded rows")
    }
    val all = Positional.zipAllByIndex(Seq(df, other), cut = true)
    assert(plain(all, cols) === want, "zipAllByIndex")
  }
}
